package graft

/** The engine's scale knobs — every volume bound a 100 TB caller may
  * need to tune, unified in one table with the facade parameter that
  * exposes it. Each knob is a defaulted, `require`-guarded parameter on
  * its facade method(s); nothing here needs a fork to change.
  *
  * RegistrySpec machine-checks the table two ways: the table rows of
  * the README "Scale knobs" section must equal [[markdown]]'s lines,
  * and a compile-time block passes every knob BY NAME to its facade
  * method — a knob that loses its parameter breaks the build, not just
  * the docs.
  *
  * Deliberately FIXED constants (formats, not knobs — changing them
  * invalidates stored state or the DuckDB oracle parity):
  *  - MinHash signature/banding: 16 hashes × 4 bands, owned by
  *    [[ops.Dedup]] alone (its band derivation and Jaccard verify serve
  *    q26/q83, the band index and the streaming gate).
  *  - HLL register count: 4096 (stored sketches from [[Graft.distinctSketch]]
  *    must merge byte-compatibly across runs).
  *  - LSH sub-bucket bands/bits: 4 × 16 (internal to the oversized
  *    bucket guard; engaged only above maxClusterSize/maxBucketSize).
  */
object Knobs {

  final case class Knob(name: String, facades: String, default: String,
                        bounds: String)

  val all: Seq[Knob] = Seq(
    Knob("maxShingleDf", "jaccardNearDupPairs, jaccardSweep, lshRecall, containmentPairs",
      ops.Dedup.MaxShingleDf.toString,
      "inverted-index fan-out per shingle: pairs ≤ df·Σocc, hot shingles excluded from candidates"),
    Knob("maxPassageDf", "dupSpans",
      ops.Dedup.MaxPassageDf.toString,
      "12-gram window occurrences admitted to diagonal pairing (match rows ≤ cap·Σocc)"),
    Knob("maxBasketSize", "basketLift",
      ops.Analytics.MaxBasketSize.toString,
      "per-basket item-pair explosion (pairs per basket ≤ cap²)"),
    Knob("maxClusterSize", "semDedup",
      ops.Similarity.DefaultMaxClusterSize.toString,
      "within-k-means-cluster pair join; bigger clusters sub-bucket by centroid sign bits"),
    Knob("maxBucketSize", "knnGraph, embedClusters",
      ops.Similarity.DefaultMaxBucketSize.toString,
      "per-LSH-bucket pair join; bigger buckets sub-bucket by centroid sign bits"),
    Knob("nPlanes", "knnGraph, embedClusters, semanticDecontam",
      "8",
      "LSH bucket bits — bucket population ≈ N/2^nPlanes, grow ∝ log₂N"),
    Knob("width", "topTerms (64), windowedHeavyHitters (8), cmsFrequencies (4096)",
      "64 / 8 / 4096",
      "frequency-sketch state per group: MG counters (exact above N/(width+1)) / CMS row cells (overshoot ≤ e·N/width)"),
    Knob("maxBatch", "bpeMergesBatched",
      "16",
      "disjoint merges learned per BPE recount round (jobs ∝ rounds, not merges)"),
    Knob("bloomBits", "bloomDecontaminate",
      ops.Decontam.DefaultBloomBits.toString,
      "Bloom pre-filter bitmap bits: broadcast state = m/8 bytes regardless of eval cardinality, fp ≈ (1−e^(−k·n/m))^k"),
    Knob("bloomHashes", "bloomDecontaminate",
      ops.Decontam.DefaultBloomHashes.toString,
      "Bloom hash count k: pre-filter probe joins per shingle"))

  /** The README "Scale knobs" table body, generated so docs can't drift. */
  def markdown: String =
    ("| knob | facade methods | default | what it bounds |" ::
      "|------|----------------|---------|----------------|" ::
      all.map(k => s"| `${k.name}` | ${k.facades} | ${k.default} | ${k.bounds} |").toList)
      .mkString("\n")
}
