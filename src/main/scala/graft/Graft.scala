package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Public library facade — the engine's operators over YOUR DataFrames,
  * not just the registry's test tables. Every method is a thin alias of
  * the factored pipeline the oracle-checked registry queries run, so the
  * semantics a user gets here are exactly the semantics the DuckDB gate
  * verifies every round.
  *
  * Input conventions: document frames carry `(doc_id: long, text:
  * string)` (extra columns pass through where noted); edge frames carry
  * `(i: long, j: long)`. Build sessions via [[Sessions.local]] or add
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` so the
  * native expressions (graft_md5long64 / graft_minhash / graft_simhash48
  * / graft_dot_f64) resolve.
  */
object Graft {

  /** Verified MinHash-LSH near-duplicate pairs (i, j, jaccard) with
    * exact Jaccard ≥ 0.8 over 5-gram shingles — the 100 TB dedup path
    * (bucketed candidates, never all-pairs). */
  def nearDupPairs(docs: DataFrame): DataFrame =
    ops.Dedup.minhashPairsOf(ops.Dedup.hashedShinglesOf(docs))

  /** Exact n-gram Jaccard near-dup pairs via the df-capped inverted
    * index; `maxShingleDf` guards the quadratic hot-shingle blowup,
    * verification always uses full shingle sets. */
  def jaccardNearDupPairs(docs: DataFrame,
                          maxShingleDf: Long = ops.Dedup.MaxShingleDf,
                          minJaccard: Double = 0.8): DataFrame =
    ops.Dedup.neardupJaccard(ops.Dedup.hashedShinglesOf(docs), maxShingleDf, minJaccard)

  /** Cross-source duplication matrix of a (doc_id, source, text)
    * corpus: verified near-dup pairs rolled up to (source_a, source_b)
    * with pair counts and mean similarity in exact micro-units — the
    * provenance audit (mirror detection, scraper loops) run before
    * fixing survivor policy. Triangular: sources sorted within each
    * pair. */
  def sourceOverlap(docs: DataFrame): DataFrame =
    ops.Dedup.sourceOverlapOf(
      ops.Dedup.minhashPairsOf(ops.Dedup.hashedShinglesOf(docs)),
      docs.select(col("doc_id"), col("source")))

  /** LSH candidate-generation quality funnel on a (doc_id, text)
    * corpus: ONE row — exact-Jaccard truth-pair count, LSH band
    * candidate count, their intersection, recall and precision. The
    * eval to run on an affordable sample before trusting banded MinHash
    * where exact pairing is unaffordable (recall measures the
    * 1−(1−s⁴)⁴ banding curve on real data). */
  def lshRecall(docs: DataFrame,
                maxShingleDf: Long = ops.Dedup.MaxShingleDf,
                minJaccard: Double = 0.8): DataFrame =
    ops.Dedup.lshRecallOf(ops.Dedup.hashedShinglesOf(docs), maxShingleDf, minJaccard)

  /** PQ-compressed approximate nearest neighbors over any (vec_id,
    * v: array<double>) frame: trains 8×16 per-subspace codebooks
    * (seeded), encodes every vector to 8 codes (32× compression), and
    * ranks probes (vec_id < probeMax) by asymmetric distance — m table
    * lookups per stored vector, the stored vector never touched.
    * Returns (query_id, neighbor_id, adc, rk). */
  def pqTopK(vectors: DataFrame, probeMax: Long = 10L, topK: Int = 5): DataFrame =
    ops.Quantize.pqTopK(vectors, probeMax, topK)

  /** [[pqTopK]] under the FROZEN deterministic quantizer (fixed-point
    * hash-bucket means instead of seeded KMeans) — bit-exact
    * replayability in exchange for a slightly coarser codebook; the
    * variant q230's DuckDB oracle gates end to end. */
  def pqTopKFrozen(vectors: DataFrame, probeMax: Long = 10L, topK: Int = 5): DataFrame =
    ops.Quantize.pqAdcFrozen(vectors, probeMax, topK)

  /** IVF-PQ search (the FAISS `IVFx,PQy` layout, Jégou et al. 2011
    * §IV): frozen per-label coarse lists, PQ codes of the RESIDUAL
    * v − centroid(list), probes scan only their `nProbe` nearest
    * posting lists ranked by asymmetric distance. `emb` carries
    * (vec_id, v: array<double>, label). Returns (query_id,
    * neighbor_id, adc, rk). */
  def ivfPqSearch(emb: DataFrame, probeMax: Long = 10L,
                  nProbe: Int = 2, topK: Int = 5): DataFrame =
    ops.Quantize.ivfPqSearch(emb, probeMax, nProbe, topK)

  /** The frozen coarse-quantizer table (list_id, centroid) from
    * (label, v: array<double>) rows — store once per quantizer release;
    * [[ivfPqSearch]], [[ivfPqEncodeStream]] and [[ivfPqStreamAlerts]]
    * probe it. */
  def coarseLists(emb: DataFrame): DataFrame =
    ops.Quantize.coarseListsOf(emb)

  /** The frozen 1-row PQ codebook (m × k × subDim nested array, ~8 KB)
    * over (vec_id, v: array<double>) rows — for IVF-PQ, fit it on the
    * RESIDUALS the stored index encodes. */
  def frozenPqCodebook(vectors: DataFrame): DataFrame =
    ops.Quantize.frozenPqCodebook(vectors)

  /** Incremental IVF-PQ code-table maintenance under frozen quantizers:
    * removed/changed rows anti-join out, added/changed vectors re-list
    * and re-encode from their new embedding (map-only), unchanged rows
    * pass through. `delta` carries (vec_id, status, v). Work ∝ |delta|;
    * exact vs a full re-encode (q233's oracle gate). */
  def refreshIvfPqCodes(codes: DataFrame, delta: DataFrame,
                        centroids: DataFrame, cbRow: DataFrame): DataFrame =
    ops.Quantize.refreshIvfPqCodes(codes, delta, centroids, cbRow)

  /** Persist the frozen IVF-PQ index under `path` as its three
    * production tables: `centroids/` (k rows), `codebook/` (1 row) and
    * `codes/` (vec_id, list_id, codes — the only corpus-sized piece),
    * codes partitioned by list_id so a served query scans only its
    * probed posting lists. Input is (vec_id, v: array<double>, label).
    * Raw vectors are NOT stored; [[refreshIvfPqCodes]] maintains
    * `codes/` under a delta feed with the quantizers frozen. */
  def writeAnnIndex(emb: DataFrame, path: String): Unit =
    ops.Quantize.writeAnnIndex(emb, path)

  /** Re-open a [[writeAnnIndex]] artifact: (centroids, codebook row,
    * codes) — the pieces [[annSearchStored]] serves from. The
    * generation's manifest locates and types every piece, so opening
    * starts no Spark job; a generation without one is read by schema
    * inference. */
  def readAnnIndex(s: org.apache.spark.sql.SparkSession, path: String): (DataFrame, DataFrame, DataFrame) =
    ops.Quantize.readAnnIndex(s, path)

  /** Serve IVF-PQ top-k from a STORED index over (query_id, qv) query
    * rows: quantizer tables broadcast, the codes scan prunes to probed
    * lists; bit-equal to the inline q231 gate (AnnIndexSpec). */
  def annSearchStored(index: (DataFrame, DataFrame, DataFrame),
                      queries: DataFrame, nProbe: Int, topK: Int): DataFrame =
    ops.Quantize.annSearchStored(index, queries, nProbe, topK)

  /** Refresh a stored [[writeAnnIndex]] artifact through a
    * (vec_id, status, v) change feed into a NEW generation at
    * `outPath`: only the code table moves, work beyond the copy ∝
    * |delta|. The quantizers are frozen (a retrain is a release, not a
    * refresh), so the new manifest references the base's `centroids/`
    * and `codebook/` instead of copying them: the base generation must
    * outlive it, and `outPath` may be neither `path` nor any root the
    * base references. Refreshed == gen-2 codes re-derived from scratch
    * under the same quantizers (AnnIndexSpec). */
  def refreshStoredAnnIndex(s: org.apache.spark.sql.SparkSession, path: String,
                            delta: DataFrame, outPath: String): Unit =
    ops.Quantize.refreshStoredAnnIndex(s, path, delta, outPath)

  /** Streaming IVF-PQ ingest: incoming (vec_id, v) rows → the stored
    * index grain (vec_id, list_id, codes) under frozen quantizers.
    * Stateless map-only — append mode, no state store; identical rows
    * to the batch encode. */
  def ivfPqEncodeStream(incoming: DataFrame, centroids: DataFrame,
                        cbRow: DataFrame): DataFrame =
    streaming.Streaming.ivfPqEncodeStream(incoming, centroids, cbRow)

  /** Streaming semantic-collision gate: alert (vec_id, neighbor_id,
    * adc) when an incoming vector's ADC to any standing vector in its
    * own coarse list is ≤ maxAdc — SemDeDup's streaming dual over
    * 10-byte codes. */
  def ivfPqStreamAlerts(incoming: DataFrame, centroids: DataFrame,
                        cbRow: DataFrame, standingCodes: DataFrame,
                        maxAdc: Double): DataFrame =
    streaming.Streaming.ivfPqStreamAlerts(incoming, centroids, cbRow, standingCodes, maxAdc)

  /** Directional shingle-containment pairs: (i, j, c_ij, c_ji) where
    * c_ij = |shingles(i) ∩ shingles(j)| / |shingles(i)|, kept when
    * either direction ≥ `minContainment` — catches a short doc quoted
    * whole inside a long one, which symmetric Jaccard structurally
    * misses. Same df-capped inverted-index candidates as
    * [[jaccardNearDupPairs]]. */
  def containmentPairs(docs: DataFrame,
                       maxShingleDf: Long = ops.Dedup.MaxShingleDf,
                       minContainment: Double = ops.Dedup.MinContainment): DataFrame =
    ops.Dedup.containmentPairs(ops.Dedup.hashedShinglesOf(docs), maxShingleDf, minContainment)

  /** Min-label connected components over an undirected (i, j) edge
    * list: (id, label) with label = min reachable id. The edge pipeline
    * is checkpointed once; an edge set of at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes (Spark's own bound
    * for holding a relation whole in one process) is then closed on the
    * driver by union-find and returned as a local relation. A larger
    * one — or any, with the threshold at `-1` — runs the distributed
    * min-label propagation loop, where high-diameter graphs converge in
    * O(log n) rounds via path doubling. Both paths return the same rows
    * and schema. Checkpoints are executor-local unless the session
    * sets `spark.graft.reliableCheckpoint=true` (with
    * `SparkContext.setCheckpointDir`) for cluster runs where the
    * checkpointed lineage must survive executor loss ([[ops.Barrier]]). */
  def connectedComponents(edges: DataFrame): DataFrame =
    ops.Components.connectedComponents(edges)

  /** Incrementally maintain a [[connectedComponents]] labeling when a
    * batch of docs arrives: `comps` is the standing (doc_id, component)
    * table, `newPairs` the (i, j) near-dup pairs the batch introduces
    * (cross vs standing + within batch). Standing components contract
    * to their labels, closure runs only on the contracted graph
    * (∝ |newPairs|), then one equi-join relabels — never a closure
    * re-run over the standing graph. q208 proves the result equals a
    * full rebuild. */
  def refreshComponents(comps: DataFrame, newPairs: DataFrame): DataFrame =
    ops.Components.refreshComponents(comps, newPairs)

  /** The removal half of [[refreshComponents]]' growth-only contract:
    * retire `removed` doc ids from the standing labeling. Components
    * containing a removed doc re-close over their remaining members'
    * pairs (re-derived from `remainingDocs`' hashed shingles — LSH
    * banding is per-doc, so the subset pair graph is exactly the
    * induced standing subgraph); untouched components pass through by
    * anti-join. Work ∝ affected components, never corpus. q218 proves
    * the result equals a full rebuild over the corpus minus the
    * removed docs — including removed min-id labels (relabel) and
    * removed cut vertices (split). */
  def retireComponents(comps: DataFrame, removed: DataFrame,
                       remainingDocs: DataFrame): DataFrame =
    ops.Components.retireComponents(comps, removed, remainingDocs)

  /** The deduplicated corpus: drops every near-dup that is not its
    * component's min doc_id. All non-key columns pass through. The
    * pair closure is [[connectedComponents]]: on the driver when the
    * pair set fits under `spark.sql.autoBroadcastJoinThreshold`, by the
    * propagation loop otherwise (or with the threshold at `-1`). The
    * drop set is duplication-bounded but not bounded by construction,
    * so the anti-join is plain — AQE broadcasts it when small. */
  def dedup(docs: DataFrame): DataFrame = {
    val dropped = ops.Components
      .connectedComponents(nearDupPairs(docs).select(col("i"), col("j")))
      .filter(col("id") =!= col("label"))
      .select(col("id"))
    docs.join(dropped, docs("doc_id") === dropped("id"), "left_anti")
  }

  /** Per-document quality statistics (token counts, TTR, stopword
    * ratio, composite quality score); requires (doc_id, lang, text). */
  def textQuality(docs: DataFrame): DataFrame = {
    // textStats reads (doc_id, lang, text); synthesize lang if absent
    val withLang =
      if (docs.columns.contains("lang")) docs
      else docs.withColumn("lang", lit("und"))
    ops.TextAnalysis.statsOf(withLang)
  }

  /** Greedy token-budget packing: (shard, bin, n_docs, sum_tokens) with
    * `shards`-way parallelism and deterministic membership. */
  def packTokens(docs: DataFrame, budget: Long): DataFrame =
    ops.Packing.pack(ops.Packing.shardedTokens(docs), budget)

  /** Deterministic stratified sample over (doc_id, lang, …): keep each
    * row iff md5(salt+doc_id) mod 10⁴ falls under its language's rate —
    * reproducible membership, no seeded-sampler partition dependence. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double): DataFrame =
    ops.Sampling.stratifiedOf(docs, rates, defaultRate)

  /** Per-source mixture report over (source, text, …): doc/token counts,
    * token share, and the uniform-mix resampling factor. */
  def mixtureReport(docs: DataFrame): DataFrame =
    ops.Packing.mixtureReportOf(docs)

  /** Exact cosine top-k: `vectors` and `queries` carry (vec_id, v:
    * array<double>); queries broadcast, candidates stream. Returns
    * (query_id, neighbor_id, sim, rk). For unbounded query sides use
    * the LSH/IVF registry paths instead. */
  def annTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame =
    ops.Similarity.annTopKOf(vectors, queries, k)

  /** Backward as-of join: probe(key, ts, …) picks up `asof_value` from
    * the most recent ref(key, ts, value) row at or before its ts. */
  def asOfBackward(probe: DataFrame, ref: DataFrame): DataFrame =
    ops.AsOf.asOfBackward(probe, ref)

  /** Incremental dedup: each `incoming` doc's best near-dup match among
    * the `existing` corpus (the daily-increment workflow — never
    * re-dedup the standing corpus). Returns (incoming_id, best_match,
    * best_jaccard); incoming docs with no band collision never join. */
  def incrementalNearDups(existing: DataFrame, incoming: DataFrame): DataFrame =
    ops.Dedup.incrementalPairsOf(
      ops.Dedup.hashedShinglesOf(existing), ops.Dedup.hashedShinglesOf(incoming))

  /** SimHash-banded near-dup pairs (i, j, hamming ≤ 3) — exact by
    * pigeonhole over 4×12-bit bands of the 48-bit shingle fingerprint. */
  def simhashNearDupPairs(docs: DataFrame): DataFrame =
    ops.Dedup.simhashPairsOf(docs)

  /** Sliding-window chunking over (doc_id, text): (doc_id, chunk_id,
    * n_words, chunk_md5) with `window`-word windows at `stride`. */
  def chunkDocs(docs: DataFrame, window: Int = 32, stride: Int = 24): DataFrame =
    ops.TextAnalysis.chunksOf(docs, window, stride)

  /** Streaming first-seen dedup over (doc_id, content_hash) rows. */
  def dedupStream(docs: Dataset[streaming.Streaming.Doc]): Dataset[streaming.Streaming.Doc] =
    streaming.Streaming.dedupStream(docs)

  /** Single-pass long-format column profile: (col_name, n_rows, n_nulls,
    * n_distinct, min_v, max_v) per profiled column — exact distincts via
    * one Expand-planned aggregation, no per-column rescans. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    ops.Profile.profile(df, cols)

  /** Per-group corpus checksum manifest (n_docs, xsum, hsum_hi/hsum_lo)
    * — the reproducibility stamp published next to every shard: all
    * statistics are layout-independent AND exactly invertible, so
    * [[refreshCorpusChecksum]] maintains them under removals. Contract
    * is the TRIPLE count/xor/sum (XOR alone cancels on duplicate
    * pairs); the exact hash sum is published as two int64-safe BIGINT
    * limbs (hi·2^32 + lo), never a >int64 decimal. */
  def corpusChecksum(docs: DataFrame, group: Column): DataFrame =
    ops.Profile.corpusChecksum(docs, group)

  /** Incremental checksum-manifest refresh from a before/after-image
    * feed (doc_id, status, source, text_old, text_new): exact under
    * adds, changes, AND removes; empty groups drop; a below-zero count
    * raise_errors (q235's oracle gates refresh == rebuild). */
  def refreshCorpusChecksum(state: DataFrame, delta: DataFrame): DataFrame =
    ops.Profile.refreshCorpusChecksum(state, delta)

  /** Z-order write layout: range-partition + sort by the Morton code of
    * (x, y) so parquet zone maps prune scans on EITHER dimension. Write
    * the result with `.write.parquet(...)`. */
  def zorderBy(df: DataFrame, x: org.apache.spark.sql.Column,
               y: org.apache.spark.sql.Column, partitions: Int): DataFrame =
    ops.ZOrder.zorderBy(df, x, y, partitions)

  /** Exact top-k heavy hitters at sketch cost: Misra-Gries candidates →
    * exact recount. Exact whenever the k-th count exceeds N/(width+1);
    * `terms` is a one-column string frame. */
  def topTerms(terms: DataFrame, k: Int, width: Int = 64): DataFrame =
    ops.HeavyHitters.topTerms(terms, k, width)

  /** Gopher/C4-style quality gate over (doc_id, text): per-doc metrics
    * (word count, mean word length, stopword / repetition / diversity
    * ratios), one boolean per rule for filter ablations, and the
    * combined `keep`. Pure row-local expressions — scan-speed at any
    * corpus size. */
  def qualityRules(docs: DataFrame,
                   minWords: Int = ops.Quality.DefaultMinWords,
                   wlenRange: (Double, Double) = ops.Quality.DefaultWlenRange,
                   maxStopFrac: Double = ops.Quality.DefaultMaxStopFrac,
                   maxTopFrac: Double = ops.Quality.DefaultMaxTopFrac,
                   minDistinctRatio: Double = ops.Quality.DefaultMinDistinctRatio): DataFrame =
    ops.Quality.rulesOf(docs, minWords, wlenRange, maxStopFrac, maxTopFrac,
      minDistinctRatio)

  /** PII scrub of `column`: emails → `<EMAIL>`, digit runs → `<NUM>`,
    * with an `n_redacted` audit count (matches counted BEFORE
    * replacement). Row-local regexp, global-by-default. */
  def scrubPii(df: DataFrame, column: String): DataFrame =
    ops.Quality.scrubbed(df, column)

  /** Benchmark decontamination: per `corpus` doc (doc_id, text), the
    * fraction of its 5-gram shingles appearing anywhere in `evalSet`,
    * flagged at ≥ `minFrac`. Docs under 5 tokens carry no shingles and
    * are absent from the report (same domain rule as the dedup family)
    * — re-join on doc_id with a left join if every corpus row must
    * survive. The eval side reduces to distinct shingle hashes and
    * broadcasts — the corpus side never shuffles. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    minFrac: Double = 0.1): DataFrame =
    ops.Decontam.decontaminate(corpus, evalSet, minFrac)

  /** [[decontaminate]]'s form for eval suites too large to broadcast
    * exactly: a `bloomBits`-bit Bloom bitmap pre-filter (broadcast
    * state = m/8 bytes REGARDLESS of eval cardinality; fp ≈
    * (1 − e^(−k·n/m))^k) followed by an exact verification equi-join
    * over only the surviving candidates — the report is bit-identical
    * to the exact path (no false negatives; false positives die in the
    * verify join; q213 hash-gates this against q101's exact oracle).
    * The corpus side never shuffles until the verify join, whose grain
    * is true hits + fp·|corpus shingles|, not the corpus. */
  def bloomDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                         minFrac: Double = 0.1,
                         bloomBits: Long = ops.Decontam.DefaultBloomBits,
                         bloomHashes: Int = ops.Decontam.DefaultBloomHashes): DataFrame =
    ops.Decontam.bloomDecontaminate(corpus, evalSet, minFrac, bloomBits, bloomHashes)

  /** The decontamination index of an eval suite: (bitmap, shingles) —
    * the format-stamped (word, bits, m_bits, k_hashes) Bloom words and
    * the (h) table of distinct shingle hashes they derive from; the
    * pieces [[writeBloomIndex]] persists and [[readBloomIndex]] opens.
    * `bloomBits`/`bloomHashes` are the index FORMAT — stamped into the
    * bitmap itself, and verified at refresh/probe time (a mismatch
    * raises instead of silently corrupting the index). */
  def bloomEvalIndex(evalSet: DataFrame,
                     bloomBits: Long = ops.Decontam.DefaultBloomBits,
                     bloomHashes: Int = ops.Decontam.DefaultBloomHashes): (DataFrame, DataFrame) =
    ops.Decontam.bloomEvalIndex(evalSet, bloomBits, bloomHashes)

  /** Incremental [[bloomEvalIndex]] refresh from ADDED eval docs only
    * (work ∝ delta; equal to a rebuild, the bitmap byte-identical —
    * bit_or is idempotent). Add-only: eval-doc removals need a rebuild,
    * though a stale bit only costs a false positive the exact verify
    * join removes — never a wrong answer. */
  def refreshBloomIndex(index: (DataFrame, DataFrame), deltaEval: DataFrame,
                        bloomBits: Long = ops.Decontam.DefaultBloomBits,
                        bloomHashes: Int = ops.Decontam.DefaultBloomHashes): (DataFrame, DataFrame) =
    ops.Decontam.refreshBloomIndex(index, deltaEval, bloomBits, bloomHashes)

  /** Persist the [[bloomEvalIndex]] pair at `path`: shingles/
    * (hash-partitioned) + bitmap/. No raw eval text in the artifact;
    * the eval suite is shingled once. The [[writeAnnIndex]] discipline
    * for the contamination family. */
  def writeBloomIndex(evalSet: DataFrame, path: String,
                      bloomBits: Long = ops.Decontam.DefaultBloomBits,
                      bloomHashes: Int = ops.Decontam.DefaultBloomHashes): Unit =
    ops.Decontam.writeBloomIndex(evalSet, path, bloomBits, bloomHashes)

  /** Re-open a [[writeBloomIndex]] artifact: (bitmap, shingles) — the
    * pieces [[bloomDecontaminateStored]] serves from, opened from the
    * generation's manifest without a Spark job. */
  def readBloomIndex(s: org.apache.spark.sql.SparkSession, path: String): (DataFrame, DataFrame) =
    ops.Decontam.readBloomIndex(s, path)

  /** Serve the contamination report from a [[bloomEvalIndex]] pair,
    * stored or built — bit-identical to the inline
    * [[bloomDecontaminate]]; new corpora never re-shingle the eval
    * suite. */
  def bloomDecontaminateStored(corpus: DataFrame, index: (DataFrame, DataFrame),
                               minFrac: Double = 0.1,
                               bloomBits: Long = ops.Decontam.DefaultBloomBits,
                               bloomHashes: Int = ops.Decontam.DefaultBloomHashes): DataFrame =
    ops.Decontam.bloomDecontaminateStored(corpus, index, minFrac, bloomBits, bloomHashes)

  /** [[refreshBloomIndex]] applied to a stored [[writeBloomIndex]]
    * artifact, into a NEW, self-contained generation at `outPath`
    * (never `path`). */
  def refreshStoredBloomIndex(s: org.apache.spark.sql.SparkSession, path: String,
                              deltaEval: DataFrame, outPath: String,
                              bloomBits: Long = ops.Decontam.DefaultBloomBits,
                              bloomHashes: Int = ops.Decontam.DefaultBloomHashes): Unit =
    ops.Decontam.refreshStoredBloomIndex(s, path, deltaEval, outPath, bloomBits, bloomHashes)

  /** Contamination span SPLITTING (q222) — the GPT-3 appendix-C
    * alternative to [[decontaminate]]'s whole-doc drop flag: remove a
    * `pad`-word window around every eval-set 5-gram collision, split
    * each doc at the removals, keep pieces of ≥ `minWords` words →
    * (doc_id, piece_id, n_words, piece_text). Eval reduces to its
    * distinct shingle hashes and broadcasts; the only corpus shuffle
    * is the per-doc collision-position list. */
  def decontamSpans(corpus: DataFrame, evalSet: DataFrame,
                    pad: Int = 2, minWords: Int = 3): DataFrame =
    ops.Decontam.decontamSpans(corpus, evalSet, pad, minWords)

  /** The DISTINCT 5-gram hash index of an eval set — store it next to
    * the [[decontamSpans]] pieces table; [[refreshDecontamSpans]] needs
    * it to re-cut against E₁ ∪ Δ without re-reading old eval text. */
  def evalShingleHashes(evalSet: DataFrame): DataFrame =
    ops.Decontam.evalShingleHashes(evalSet)

  /** Incremental [[decontamSpans]] maintenance when NEW eval documents
    * land (additions only — removals would have to regrow cut text and
    * are a rebuild): re-cuts from the ORIGINAL corpus text exactly the
    * docs that collide with the delta's 5-grams, carries every other
    * stored piece row through untouched. Work ∝ |affected docs|;
    * bit-equal to a from-scratch rebuild against E₁ ∪ Δ (q232's
    * oracle gate). */
  def refreshDecontamSpans(corpus: DataFrame, pieces: DataFrame,
                           evalHashes: DataFrame, deltaEval: DataFrame,
                           pad: Int = 2, minWords: Int = 3): DataFrame =
    ops.Decontam.refreshDecontamSpans(corpus, pieces, evalHashes, deltaEval, pad, minWords)

  /** Symmetric per-vector int8 quantization of (vec_id, embedding):
    * (vec_id, v, scale, codes) with codes[i] = round(v[i]/scale·127).
    * Dequantize as codes[i]·scale/127 (max error scale/254). */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    ops.Quantize.int8Of(embeddings)

  /** SemDeDup: semantic dedup in embedding space — k-means clusters,
    * then within each cluster drop any vector whose cosine to a
    * lower-id member is ≥ `tau`. Returns (vec_id, cluster, kept).
    * Input: (vec_id, v: array<double>).
    *
    * Choose k ≈ N/⟨target cluster size⟩ (SemDeDup's own regime — the
    * paper runs 50k clusters for ~100M embeddings): clusters bound the
    * pair search only when k scales with the corpus. Clusters that
    * still exceed `maxClusterSize` are guarded in-engine: exact
    * duplicates collapse to one representative first, and the rest are
    * sub-bucketed by banded centroid-relative sign bits — exact-dup
    * recall survives structurally, near-dup recall inside an oversized
    * cluster becomes banded-approximate. Zero-norm vectors have no
    * cosine and are kept as singletons.
    *
    * Determinism caveat: the k-means fit sums floats across
    * partitions, so despite the fixed seed the cluster assignment —
    * and hence WHICH near-dups share a cluster — can vary with
    * partitioning/parallelism. Within a fitted model the survivor
    * policy is deterministic (lowest id per ε-ball wins). */
  def semDedup(vectors: DataFrame, k: Int = 16, tau: Double = 0.999,
               maxClusterSize: Int = ops.Similarity.DefaultMaxClusterSize): DataFrame =
    ops.Similarity.semDedupOf(vectors, k, tau, maxClusterSize)

  /** Latest-wins changelog compaction (CDC upsert / SCD type 1): keep,
    * per distinct `keys` value, the row sorting first under `version`
    * (pass descending columns for newest-wins). `version` must totally
    * order each key group. */
  def upsertLatest(changelog: DataFrame, keys: Seq[String],
                   version: Seq[org.apache.spark.sql.Column]): DataFrame =
    ops.Merge.upsertLatest(changelog, keys, version)

  /** Snapshot delta between two ingest generations: per `key`, status
    * added / removed / changed / unchanged by comparing the non-null
    * `fp` fingerprint column, new-side payload carried through (old
    * side's value on removed rows for shared columns). The old side
    * only needs its stored (key, fingerprint) manifest — delta
    * detection is O(|manifest| + |new corpus|), the old corpus is
    * never rescanned. */
  def snapshotDelta(oldSnap: DataFrame, newSnap: DataFrame,
                    key: String, fp: String): DataFrame =
    ops.Merge.snapshotDeltaOf(oldSnap, newSnap, key, fp)

  /** Ordered conversion funnel over (user_id, event_type, t) rows: per
    * user the first qualifying time of each stage (each strictly after
    * the previous and within `windowUs`), plus the furthest stage
    * reached. Rows with a null user_id belong to no user's funnel and
    * are dropped. One aggregate + co-partitioned equi-join per stage. */
  def funnel(events: DataFrame, stages: Seq[String], windowUs: Long): DataFrame =
    ops.Analytics.funnelOf(events, stages, windowUs)

  /** Exact-moment z-score outliers: rows whose `valueCol` (≤2 decimal
    * places, |value| up to ~10^8 — the DECIMAL(18,2)² accumulator
    * bound) deviate > `z` standard deviations from their `groupCol`
    * group mean, with a bit-stable `zscore` appended — moments come
    * from exact DECIMAL sums, so results are partitioning-independent. */
  def outliers(df: DataFrame, groupCol: String, valueCol: String,
               z: Double = 2.0): DataFrame =
    ops.Analytics.outliersOf(df, groupCol, valueCol, z)

  /** Blocked fuzzy record linkage: record pairs whose `value` columns are
    * within `maxDist` edit distance inside the same `block` — candidates
    * are generated at DISTINCT-value level (never a record self-join),
    * then broadcast back onto the records. */
  def fuzzyPairs(records: DataFrame, id: org.apache.spark.sql.Column,
                 block: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column,
                 maxDist: Int): DataFrame =
    ops.Linkage.fuzzyPairs(records, id, block, value, maxDist)

  /** C4-style boilerplate share over (doc_id, text): per doc, how many
    * of its non-overlapping `width`-word segments recur anywhere in the
    * corpus → (doc_id, n_seg, n_dup, dup_frac). Segment grain is a
    * 60-bit hash; counting is a map-side-combined aggregation. */
  def boilerplateShare(docs: DataFrame, width: Int = 8): DataFrame =
    ops.Dedup.boilerplateShare(docs, width)

  /** Corpus-level duplicated-segment REWRITE (q221) — the removal step
    * behind [[boilerplateShare]]'s report: `width`-word segments
    * occurring more than once corpus-wide are dropped from all but
    * their keeper occurrence, and each doc is re-assembled from its
    * survivors plus its short tail → (doc_id, n_seg, n_removed,
    * clean_text). Segment text never shuffles — only (doc_id, k, hash)
    * triples and surviving-position int lists move.
    *
    * Keeper policy: by default the first (min doc_id, position)
    * occurrence. Pass `qualityCol` naming a [0,1] double column on
    * `docs` to keep the occurrence in the HIGHEST-quality document
    * instead (q228; production keeps the best copy, not the oldest) —
    * quality is quantized at 1e-6, ties fall back to (doc_id,
    * position), out-of-range values raise_error, and the election
    * stays one window-free hash-grain aggregate. */
  def segmentDedup(docs: DataFrame, width: Int = 8,
                   qualityCol: Option[String] = None): DataFrame =
    ops.Dedup.segmentDedup(docs, width, qualityCol)

  /** STORED segment-occurrence index (h, n) over the standing corpus —
    * persist once, probe with [[segmentDedupStream]], maintain with
    * [[refreshSegmentIndex]]. Vocabulary-sized: one row per distinct
    * `width`-word segment. */
  def segmentIndex(standing: DataFrame, width: Int = 8): DataFrame =
    ops.Dedup.segmentIndex(standing, width)

  /** Incremental [[segmentIndex]] maintenance from a change feed
    * (q224): added docs increment, removed docs decrement, zero rows
    * drop — the one stored artifact whose REMOVALS are exact (counts
    * subtract where HLL registers and Bloom bits cannot). A count
    * driven below zero raise_errors: the removed feed named docs the
    * index never counted. Work ∝ delta. */
  def refreshSegmentIndex(index: DataFrame, added: DataFrame,
                          removed: DataFrame, width: Int = 8): DataFrame =
    ops.Dedup.refreshSegmentIndex(index, added, removed, width)

  /** Segment-dedup ingest gate: flag incoming docs' segments already
    * present in the standing corpus as (doc_id, k, h) alerts —
    * stateless, append-mode-safe (row-local segmenting + stream-static
    * left-semi probe of the stored [[segmentIndex]]). */
  def segmentDedupStream(incoming: DataFrame, segmentIndex: DataFrame,
                         width: Int = 8): DataFrame =
    streaming.Streaming.segmentDedupStream(incoming, segmentIndex, width)

  /** Content-defined chunking duplicate report (q223) — the
    * shift-robust dual of [[segmentDedup]]'s fixed grid: chunk
    * boundaries cut before words whose 60-bit hash ≡ 0 (mod
    * `divisor`), so an insertion perturbs only its own chunk and every
    * other chunk still matches its corpus-wide copies →
    * (doc_id, k, start, n_words, n_occ) at chunk grain. Chunking is
    * row-local; counting is one hash-grain aggregate. */
  def cdcChunks(docs: DataFrame, divisor: Int = 8): DataFrame =
    ops.Dedup.cdcChunks(docs, divisor)

  /** The CDC rewrite (q225): [[segmentDedup]]'s keeper election over
    * [[cdcChunks]]' shift-robust chunk hashes — a shared passage is
    * deduplicated even when its copies sit at different word offsets,
    * the case the fixed grid structurally misses →
    * (doc_id, n_chunks, n_removed, clean_text). `qualityCol` selects
    * the best-quality keeper policy exactly as on [[segmentDedup]]
    * (q229). */
  def cdcDedup(docs: DataFrame, divisor: Int = 8,
               qualityCol: Option[String] = None): DataFrame =
    ops.Dedup.cdcDedup(docs, divisor, qualityCol)

  /** k-anonymity audit over (nat, seg) quasi-identifier rows: per-cell
    * counts with sub-k cells generalized to (nat, '*') and re-flagged
    * at the merged grain. Runs at cell grain after one scan. */
  def kAnonymity(rows: DataFrame, k: Int = ops.Quality.DefaultK): DataFrame =
    ops.Quality.kAnonymity(rows, k)

  /** Equi-width histograms of `cols` in long format: (col_name, bucket,
    * b_lo, b_hi, n) — two narrow passes (global min/max, then one
    * map-side-combined bucket count). */
  def histogram(df: DataFrame, cols: Seq[String], buckets: Int = 16): DataFrame =
    ops.Profile.histogram(df, cols, buckets)

  /** Materialized-view refresh: merge a STORED per-key (keys…, cnt, s)
    * aggregate state with a freshly aggregated delta batch — COUNT and
    * DECIMAL-SUM are algebraic, so the refresh never rescans base data.
    * Publishes (keys…, n_orders, sum_price, avg_price). */
  def mergeAggState(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    ops.Merge.mergeStates(base, delta, keys)

  /** Winsorize `valueCol` into its `groupCol` group's [pLo, pHi]
    * percentile band: appends the clamped `v_wins` and a `clipped`
    * audit flag. Cut table broadcast back; rows stay unshuffled. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame =
    ops.Quantiles.winsorized(df, groupCol, valueCol, pLo, pHi)

  /** First-order transition matrix over per-`key` sequences ordered by
    * `order` (a total order per key): (src, dst, n, p) with p
    * row-normalized from exact counts. One shuffle on key. */
  def transitions(df: DataFrame, key: org.apache.spark.sql.Column,
                  order: Seq[org.apache.spark.sql.Column],
                  state: org.apache.spark.sql.Column): DataFrame =
    ops.Analytics.transitionsOf(df, key, order, state)

  /** Cross-document duplicate passages: every `width`-word sliding
    * window occurring in more than one document, as (h, n_occ, n_docs,
    * first_doc). At the default stride 1 any shared span ≥ `width`
    * words is caught at any alignment; stride s > 1 is s× cheaper but
    * only catches duplicates whose alignments agree mod s. One
    * hash-grain aggregation; no doc-doc pairing. */
  def dupPassages(docs: DataFrame, width: Int = 12, stride: Int = 1): DataFrame =
    ops.Dedup.dupPassages(docs, width, stride)

  /** BM25 (k1=1.2, b=0.75) top-`k` ranking of (doc_id, text) for the
    * OR-query `terms`, in exact cross-engine fixed point (milli-unit
    * int64 scores). */
  def bm25Rank(docs: DataFrame, terms: Seq[String], k: Int = 50): DataFrame =
    ops.TextAnalysis.bm25Of(docs, terms, k)

  /** Johnson–Lindenstrauss ±1 projection of (vec_id, embedding:
    * array<float>) to 8 exact int64 sketch dims (p0..p7) — row-local,
    * shuffle-free. */
  def jlProject(vectors: DataFrame): DataFrame =
    ops.Similarity.jlProjectOf(vectors)

  /** Temperature-rebalanced (τ = ½) subsample of `docs`: keeps each
    * stratum ∝ √n targeting half the corpus, membership a pure md5
    * function of `id` — deterministic across engines and reruns. */
  def temperatureSample(docs: DataFrame, strata: String,
                        id: org.apache.spark.sql.Column): DataFrame =
    ops.Sampling.temperatureSample(docs, strata, id)

  /** Robust median/MAD outliers of `valueCol` within `groupCol` at
    * |robust_z| > z — the heavy-tail-safe twin of [[outliers]]. Groups
    * with MAD = 0 (majority-constant data: no robust scale) flag
    * nothing rather than dividing by zero. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  z: Double = 3.0): DataFrame =
    ops.Analytics.madOutliersOf(df, groupCol, valueCol, z)

  /** ABC/Pareto classification of `key` by summed `measure`:
    * (key, revenue, cum_share, abc) with A ≤ 80%, B ≤ 95% running
    * share. */
  def abcClassify(df: DataFrame, key: org.apache.spark.sql.Column,
                  measure: org.apache.spark.sql.Column): DataFrame =
    ops.Analytics.abcOf(df, key, measure)

  /** Leave-one-out smoothed target encoding + frequency encoding of the
    * categorical `cat` against numeric `target` (≤2 decimal places):
    * appends `loo_enc` and `freq_enc`. Category stats broadcast back;
    * the scan never shuffles. */
  def targetEncode(df: DataFrame, cat: String, target: String,
                   smoothing: Int = 10): DataFrame =
    ops.Encoding.targetEncodeLoo(df, cat, target, smoothing)

  /** Triangles (a, b, c) of an (i, j) edge frame with i < j per row —
    * each emitted once; pairs well with [[connectedComponents]] for
    * cluster-density audits. */
  def triangles(edges: DataFrame): DataFrame =
    ops.Components.triangles(edges)

  /** Longest duplicated word span per doc pair at 12-gram grain:
    * (i, j, max_run, span_words) — the suffix-array passage-dedup
    * report (Lee et al. 2022) via diagonal runs of shared windows; hot
    * windows above `maxPassageDf` occurrences are excluded from
    * pairing (the df-cap guard bounding match rows at
    * Σ n_occ² ≤ cap · Σ n_occ — raise it for boilerplate-heavy
    * corpora at a quadratic candidate cost). */
  def dupSpans(docs: DataFrame,
               maxPassageDf: Long = ops.Dedup.MaxPassageDf): DataFrame =
    ops.Dedup.dupSpansOf(docs, maxPassageDf)

  /** Fixed-point integer PageRank over a directed (src, dst) edge frame:
    * (node, rank) in micro-units after `iters` damped rounds (d = 0.85,
    * start 1,000,000 per node). All-int64 arithmetic — partition- and
    * order-independent, so ranks are bit-stable across cluster layouts.
    * Per iteration: one src-grain join, one dst-grain aggregation. */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame =
    ops.Components.pageRankInt(edges, iters)

  /** Market-basket lift: item pairs co-occurring in ≥ `minSupport`
    * baskets as (item_a, item_b, n_both, lift) — the pair join runs
    * within basket groups only, never all item pairs. Baskets with more
    * than `maxBasketSize` distinct items are excluded from pair
    * generation (frequencies and totals stay exact) — the C(n,2)
    * row-local fan-out needs that guard at scale. */
  def basketLift(df: DataFrame, basket: org.apache.spark.sql.Column,
                 item: org.apache.spark.sql.Column, minSupport: Long = 3L,
                 maxBasketSize: Int = ops.Analytics.MaxBasketSize): DataFrame =
    ops.Analytics.basketLiftOf(df, basket, item, minSupport, maxBasketSize)

  /** Pairwise Jaccard overlap of distinct 5-gram shingle sets between
    * the groups of `groupCol` (docs carry text + groupCol): the
    * cross-source contamination matrix, at 60-bit hash grain. */
  def shingleOverlap(docs: DataFrame, groupCol: String): DataFrame =
    ops.TextAnalysis.shingleOverlapOf(docs, groupCol)

  /** Gopher-style per-doc repetition signals over (doc_id, text):
    * (dup2_frac, dup10_frac, top2_share) — duplicate n-gram fractions
    * and the top 2-gram's share. Row-local, zero shuffle; docs under
    * 10 tokens are excluded. */
  def repetitionSignals(docs: DataFrame): DataFrame =
    ops.TextAnalysis.repetitionSignalsOf(docs)

  /** Quality-aware [[dedup]]: one survivor per near-dup component — the
    * max-(quality, −doc_id) member rather than the min id, so clusters
    * keep their cleanest copy. All non-key columns pass through. */
  def dedupByQuality(docs: DataFrame): DataFrame =
    ops.Components.bestSurvivors(docs,
      nearDupPairs(docs).select(col("i"), col("j")))

  /** Per-doc out-of-vocabulary rate against the corpus's own
    * top-`vocabSize` tokens (ties by token string): (doc_id, n_tokens,
    * n_oov, oov_rate) — the vocab-coverage / tokenizer-prep audit. */
  def oovRate(docs: DataFrame, vocabSize: Int = 50000): DataFrame =
    ops.TextAnalysis.oovRateOf(docs, vocabSize)

  /** Leakage-safe train/eval split: a deterministic md5 bucket of each
    * doc's near-dup COMPONENT, so transitive near-copies always land on
    * the same side (per-doc hashing can't guarantee that). Appends
    * (grp, split); `trainPermille`/1000 of groups go to train. */
  def leakageSafeSplit(docs: DataFrame, trainPermille: Int = 800): DataFrame =
    ops.Components.leakageSafeSplitOf(docs,
      nearDupPairs(docs).select(col("i"), col("j")), trainPermille)

  /** Per-doc novelty share: the fraction of a doc's distinct 5-gram
    * shingles whose corpus-wide first occurrence (min doc_id) is this
    * doc — exact dups of earlier docs score 0. One corpus scan. */
  def novelty(docs: DataFrame): DataFrame =
    ops.Dedup.noveltyOf(docs)

  /** Bigram-LM cross-entropy quality score (the CCNet/KenLM perplexity
    * proxy): trains Laplace-smoothed bigram counts on the corpus itself
    * and appends (n_bigrams, xent) — higher xent = less language-like.
    * Deterministic across partitionings (integer micro-nat sums). */
  def lmQuality(docs: DataFrame): DataFrame =
    ops.Quality.lmQualityOf(docs)

  /** Character-entropy gibberish filter: per-doc Shannon entropy in
    * bits/char, computed row-locally (no shuffle) with integer
    * micro-bit arithmetic — low = repetitive filler, high = random
    * blobs (base64/hex). Thresholds are integer micro-bits; returns
    * (doc_id, n_chars_counted, entropy_bits, verdict). */
  def charEntropy(docs: DataFrame,
                  lowMicroBits: Long = ops.Quality.DefaultLowEntropyMicroBits,
                  highMicroBits: Long = ops.Quality.DefaultHighEntropyMicroBits): DataFrame =
    ops.Quality.charEntropyOf(docs, lowMicroBits, highMicroBits)

  /** Keyed consistent pseudonymization over an event stream
    * (event_id, ts, user_id, event_type): user_id becomes a stable
    * salted-md5 token (NULL → 'anon'), and `user_seq` — the user's
    * event rank by (ts, event_id) — demonstrates that sequence
    * analytics still line up post-pseudonymization. Keep `pepper`
    * secret and rotated per release; the default is for tests. */
  def pseudonymize(events: DataFrame, pepper: String = "graft-pepper"): DataFrame =
    ops.Quality.pseudonymizeOf(events, pepper)

  /** Per-source doc cap (the domain-cap curation discipline): at most
    * `k` docs kept per source, selected by deterministic salted-md5
    * order — an unbiased within-source sample. Returns (doc_id, source,
    * kept); sort-free via a bounded k-th-smallest threshold aggregate. */
  def sourceCap(docs: DataFrame, k: Int): DataFrame =
    ops.Curate.sourceCapOf(docs, k)

  /** Curriculum phase assignment: exact global NTILE of `scored` over
    * (quality DESC, doc_id) into `phases` blocks, computed with the
    * scalable-global-rank pattern (range repartition + per-partition
    * rank + broadcast prefix offsets), never a one-partition window. */
  def curriculum(scored: DataFrame, phases: Int = 4): DataFrame =
    ops.Curate.curriculumOf(scored, phases)

  /** Intra-doc code-switch detection: per doc, the language-marker hit
    * count, dominant language and its share of all marker evidence, and
    * a mixed flag (dominant share < 80%) — the multilingual-curation
    * filter for docs a per-language split should drop or segment. */
  def codeSwitch(docs: DataFrame): DataFrame =
    ops.TextAnalysis.codeSwitchOf(docs.sparkSession, docs)

  /** Per-group unigram/trigram type-token ratios — the diversity-
    * collapse diagnostic for template-generated or spam sources.
    * Returns (source, n_tokens, n_types, ttr_uni, n_trigrams,
    * n_tri_types, ttr_tri) per distinct `group` value. */
  def ngramDiversity(docs: DataFrame, group: Column): DataFrame =
    ops.TextAnalysis.ngramDiversityOf(docs, group)

  /** DSIR-style importance selection (hashed-n-gram log-likelihood
    * ratio vs a target distribution, NeurIPS 2023): appends (n_feats,
    * weight, selected) keeping the `topN` docs whose unigram+bigram
    * bucket profile best matches the rows where `isTarget` holds.
    * Bucket table and top-N threshold broadcast; one corpus scan. */
  def dsirSelect(docs: DataFrame, isTarget: Column,
                 buckets: Int = 256, topN: Int = 100): DataFrame =
    ops.Curate.dsirSelectOf(docs, isTarget, buckets, topN)

  /** Benchmark-integrity containment report (the reverse of
    * [[decontaminate]]): per EVAL doc, the fraction of its 5-gram
    * shingles found anywhere in `corpus` — containment near 1.0 means
    * the benchmark item is memorizable verbatim. The corpus side is
    * filtered by the broadcast eval-shingle set, never shuffled. */
  def evalContainment(evalSet: DataFrame, corpus: DataFrame,
                      dirtyFrac: Double = 0.2): DataFrame =
    ops.Decontam.containmentOf(evalSet, corpus, dirtyFrac)

  /** Semantic decontamination: flags corpus vectors whose cosine to any
    * eval-set vector reaches `minSim` (paraphrased leakage the n-gram
    * decontaminators can't see). Both frames carry (vec_id,
    * v: array<double>); candidates come from shared LSH buckets, the
    * eval side broadcasts, the corpus never shuffles. Returns (vec_id,
    * eval_id, sim) — the best eval match per flagged vector.
    * `nPlanes` sizes the LSH bucket key (bits ∝ log₂N, the [[knnGraph]]
    * contract — more planes = fewer candidates, lower recall). */
  def semanticDecontam(corpus: DataFrame, evalSet: DataFrame,
                       minSim: Double = 0.9, nPlanes: Int = 8): DataFrame =
    ops.Similarity.semanticDecontamOf(
      ops.Similarity.bucketized(corpus, nPlanes),
      ops.Similarity.bucketized(evalSet, nPlanes), minSim)

  /** k-NN graph over (vec_id, v: array<double>): for every vector its
    * top-`k` same-LSH-bucket neighbors by exact cosine — (query_id,
    * neighbor_id, sim, rk). Both sides are the full corpus (unlike the
    * bounded-probe exact search), so candidates come from a bucket
    * equi-join; vectors alone in their bucket have no neighbors
    * (multi-probe or fewer hyperplane bits densifies). Zero-norm
    * vectors are excluded.
    *
    * Scale knobs: `nPlanes` hyperplane sign bits form the bucket key —
    * bucket population ≈ N/2^nPlanes, so grow nPlanes ∝ log₂N (8 bits
    * suit ~10⁶ vectors; ~10⁹ want ~16+). Whatever skew remains,
    * `maxBucketSize` is the in-engine guard: any bucket above it is
    * sub-bucketed by banded centroid-relative sign bits before the
    * pair join, bounding pair volume at the price of some near-dup
    * recall (exact-duplicate recall is structural). */
  def knnGraph(vectors: DataFrame, k: Int = 10, nPlanes: Int = 8,
               maxBucketSize: Int = ops.Similarity.DefaultMaxBucketSize): DataFrame =
    ops.Similarity.knnGraphOf(vectors, k, nPlanes, maxBucketSize)

  /** Embedding near-dup clusters: same-LSH-bucket pairs at cosine ≥
    * `minSim` → connected components — every vector gets (vec_id,
    * cluster), cluster = min member id, singletons their own id. The
    * transitive, ML-free twin of [[semDedup]]: A≈B≈C cluster together
    * even when cos(A,C) misses the bar. Scale knobs `nPlanes` /
    * `maxBucketSize`: see [[knnGraph]] — same guarded candidate
    * generator, same bits-∝-log₂N contract. */
  def embedClusters(vectors: DataFrame, minSim: Double = 0.9, nPlanes: Int = 8,
                    maxBucketSize: Int = ops.Similarity.DefaultMaxBucketSize): DataFrame =
    ops.Similarity.embedClustersOf(vectors, minSim, nPlanes, maxBucketSize)

  /** Incrementally maintain an IVF assignment table under a FROZEN
    * coarse quantizer: `assignments` is the stored (vec_id, v, list_id)
    * table, `delta` a (vec_id, status, v) change feed, `centroids` the
    * (list_id, centroid) quantizer. Removed/changed rows anti-join out;
    * added/changed vectors are re-assigned from their new embedding by
    * a shuffle-free row-local argmin — work ∝ |delta|. q209 proves the
    * refresh equals a from-scratch rebuild. */
  def refreshIvfAssignments(assignments: DataFrame, delta: DataFrame,
                            centroids: DataFrame): DataFrame =
    ops.Similarity.refreshIvfAssignments(assignments, delta, centroids)

  /** Priority sampling (Duffield–Lund–Thorup): k docs weighted by
    * `weight`, WITHOUT replacement, each row carrying the estimator
    * max(w, τ) whose sum is unbiased for any subset's true weight
    * total. Deterministic md5 randomness, one IEEE division — replayed
    * bit-exactly by the q210 oracle. Row-local priorities + partial
    * top-(k+1): the corpus is scanned once and never shuffled. */
  def prioritySample(docs: DataFrame, weight: Column, k: Int = 100,
                     salt: String = "prio"): DataFrame =
    ops.Sampling.prioritySampleOf(docs, weight, k, salt)

  /** [[prioritySample]] per stratum: k docs per stratum without
    * replacement, per-stratum τ estimators (the mixture-construction
    * form). One shuffle on the stratum key; the rank filter is pushed
    * to per-partition partial top-(k+1) by InferWindowGroupLimit, so no
    * stratum's full population buffers in one task. */
  def stratPrioritySample(docs: DataFrame, strata: String, weight: Column,
                          k: Int = 100, salt: String = "sprio"): DataFrame =
    ops.Sampling.stratPrioritySampleOf(docs, strata, weight, k, salt)

  /** Per-label centroid sufficient statistics as STORED exact state:
    * (label, pos, s_micro, n) int64 fixed-point sums (q79's recipe) —
    * the buildable/refreshable/finalizable triple with
    * [[refreshCentroidState]] and [[centroidsFromState]]. */
  def centroidState(vectors: DataFrame): DataFrame =
    ops.Similarity.centroidState(vectors)

  /** Refresh a stored [[centroidState]] from a before/after-image
    * change feed (vec_id, status, label, v_old, v_new): exact int64
    * subtraction removes exactly what was added, so the refreshed state
    * is bit-equal to a from-scratch rebuild (q211's gate). Work ∝
    * |delta|·dim, then one join at the |labels|·dim state grain. */
  def refreshCentroidState(state: DataFrame, delta: DataFrame): DataFrame =
    ops.Similarity.refreshCentroidState(state, delta)

  /** Finalize a [[centroidState]] to (label, pos, n, mu) centroids. */
  def centroidsFromState(state: DataFrame): DataFrame =
    ops.Similarity.centroidsFromState(state)

  /** Exact distributed ROC-AUC of a (score, y ∈ {0,1}) frame with
    * average-rank tie handling (the Mann–Whitney identity — the value
    * sklearn's roc_auc_score reports): one row (n, n_pos, n_neg, auc);
    * auc is null when either class is empty. Integer rank sums at
    * distinct-score grain; the global cumulative uses the scalable
    * range-partition prefix pattern, never a one-partition window. */
  def auc(scored: DataFrame): DataFrame =
    ops.Eval.aucOf(scored)

  /** Precision/recall operating-point table of a (score, y ∈ {0,1})
    * frame: one row per distinct score t — (score, tp, fp, fn,
    * precision, recall) for the gate "predict positive iff score ≥ t".
    * Same scalable prefix machinery as [[auc]]. */
  def prCurve(scored: DataFrame): DataFrame =
    ops.Eval.prCurveOf(scored)

  /** Calibration (reliability) table of a (score ∈ [0,1], y ∈ {0,1})
    * frame over `bins` equal-width buckets: (bin, n, pos, mean_score,
    * frac_pos) — well-calibrated means mean_score ≈ frac_pos. One
    * bin-grain aggregation; exact nano-unit integer score sums. */
  def calibration(scored: DataFrame, bins: Int = 10): DataFrame =
    ops.Eval.calibrationOf(scored, bins)

  /** Poisson-bootstrap confidence interval for the mean of `money` (a
    * 2-decimal value column) keyed by unique `id`: one row (n, mean,
    * ci_lo, ci_hi) — none for an empty `df` — the brackets being the 2nd-smallest/2nd-largest of
    * `replicates` md5-deterministic Poisson(1)-weighted replicate means
    * (≈ the 94% interval at the default 32). Row-local weights — no
    * per-replicate sampling pass; shuffle is `replicates` rows per
    * partition regardless of data size. */
  def bootstrapCi(df: DataFrame, id: Column, money: Column,
                  replicates: Int = 32): DataFrame =
    ops.Eval.bootstrapMeanOf(
      df.select(id.as("id"), round(money * 100).cast("long").as("cents")),
      replicates)

  /** Approximate distinct `value` count per `group` via a 4 KB
    * HyperLogLog sketch (~1.6% standard error): (group, est_distinct).
    * COUNT(DISTINCT) without shuffling the key space — the profile pass
    * for vocabularies/users/shingles whose domain is billions wide;
    * partitioning-independent by register-max merge. */
  def approxDistinct(df: DataFrame, group: Column, value: Column): DataFrame =
    ops.HeavyHitters.approxDistinct(df, group, value)

  /** Chi-square test of independence between categorical columns `a`
    * and `b`: one row (n, dof, chi2_micro, chi2) — the association /
    * crawl-mix-drift audit. Per-cell contributions are exact-integer
    * micro-units summed as int64, so the statistic is partitioning-
    * independent. */
  def chi2Independence(df: DataFrame, a: String, b: String): DataFrame =
    ops.Profile.chi2Of(df, a, b)

  /** Local clustering coefficient per node of an (i, j) edge frame
    * (i < j): (node, deg, tri, coeff = 2·tri/(deg·(deg−1))) — hub vs
    * clique-member density audit over near-dup graphs; triangles via
    * the degree-oriented [[triangles]] machinery. */
  def clusteringCoeff(edges: DataFrame): DataFrame =
    ops.Components.clusteringCoeffOf(edges)

  /** 64-bit perceptual difference-hash of each (doc_id, text) payload's
    * decoded content profile: (doc_id, h). Row-local, shuffle-free; h
    * feeds exact-group dedup (group by h) or q70-style banded Hamming
    * matching. With a real codec the profile is the downsampled image
    * signal; here it reads the deterministic fake decode. */
  def phash(docs: DataFrame): DataFrame =
    ops.Multimodal.dhashOf(docs)

  /** Sliced ROC-AUC of a (g, score, y ∈ {0,1}) frame: one exact
    * Mann–Whitney AUC row per distinct `g` — the per-language /
    * per-source fairness and QA eval. Giant slices still distribute
    * (the cumulative range-partitions on (g, score), never one
    * partition per group). */
  def aucBy(scored: DataFrame): DataFrame =
    ops.Eval.aucByOf(scored)

  /** MRR and NDCG@`k` per query of a (qid, doc_id, rk) ranking against
    * a (qid, doc_id) relevance set — (qid, n_rel, first_rel, mrr,
    * dcg_micro, idcg_micro, ndcg). Discounts are hardcoded integer
    * micro-units (no log in the plan); ndcg is null for queries with
    * no relevant docs, mrr 0 when none rank in the top k. k ≤ 10. */
  def rankingMetrics(ranked: DataFrame, rel: DataFrame, k: Int = 10): DataFrame =
    ops.Eval.rankingMetricsOf(ranked, rel, k)

  /** Learn `n` byte-pair-encoding merges from a (doc_id, text) corpus
    * (Sennrich et al. 2016): the merge table (step, left, right,
    * pair_count) a subword tokenizer ships. Statistics run at word-TYPE
    * grain (one corpus pass builds the word-count table; every round
    * then touches |vocabulary| rows); argmax tie-breaks totally, so the
    * learned table is a pure function of the corpus. May return fewer
    * than `n` rows if no pair occurs twice. Sequential: one merge per
    * recount round — [[bpeMergesBatched]] at maxBatch = 1. */
  def bpeMerges(docs: DataFrame, n: Int = 10): DataFrame =
    ops.Bpe.trainMerges(docs, n, maxBatch = 1)

  /** Batched twin of [[bpeMerges]] for REAL vocabulary sizes: the
    * sequential trainer costs one Spark job + driver argmax per merge
    * (50k merges → 50k jobs — its documented ceiling); this one learns
    * up to `maxBatch` pairwise symbol-disjoint merges per recount
    * round (longest rank-order prefix rule), so the job count falls
    * toward n/maxBatch on Zipf-shaped pair heads while the learned
    * table matches sequential training on non-interacting batches
    * (see the ops.Bpe scaladoc for the exactness contract; both
    * methods run the one trainer, and maxBatch = 1 IS [[bpeMerges]]). */
  def bpeMergesBatched(docs: DataFrame, n: Int, maxBatch: Int = 16): DataFrame =
    ops.Bpe.trainMerges(docs, n, maxBatch)

  /** Leakage-safe k-fold CV assignment: [[leakageSafeSplit]] generalized
    * to folds — fold = md5(near-dup component) % k, so transitive
    * near-copies always share a fold and no CV round trains on a
    * near-copy of its held-out docs. Appends (grp, fold ∈ [0, k)). */
  def cvFolds(docs: DataFrame, k: Int = 5): DataFrame =
    ops.Components.cvFoldsOf(docs,
      nearDupPairs(docs).select(col("i"), col("j")), k)

  /** Persistable HLL sketch state per `group`: (group, sketch: binary).
    * Store it (per day/partition); later [[mergeDistinctSketches]]
    * unions states into estimates without rescanning base data —
    * register-max union is associative/commutative/idempotent, so the
    * merged estimate equals a direct pass over the unioned inputs
    * exactly. Null values excluded. */
  def distinctSketch(df: DataFrame, group: Column, value: Column): DataFrame =
    ops.HeavyHitters.distinctSketch(df, group, value)

  /** Union stored [[distinctSketch]] states: (group, est_distinct) —
    * the refresh side of sketch-state distinct counting. */
  def mergeDistinctSketches(state: DataFrame, group: Column,
                            sketch: Column): DataFrame =
    ops.HeavyHitters.mergeDistinctSketches(state, group, sketch)

  /** Point-frequency estimates for a bounded probe set from one
    * Count-Min pass over `values` (4·width longs of state, constant):
    * (probes..., est_freq) with est_freq ≥ the true count always and
    * overshoot ≤ e·N/width w.h.p. — the point-query complement of
    * [[topTerms]]' exact top-k. */
  def cmsFrequencies(values: DataFrame, value: Column,
                     probes: DataFrame, probe: Column,
                     width: Int = ops.HeavyHitters.DefaultCmsWidth): DataFrame =
    ops.HeavyHitters.cmsFrequencies(values, value, probes, probe, width)

  /** Incremental [[distinctSketch]] state maintenance: sketch only the
    * `delta` rows (work ∝ |delta|), register-max union with the
    * standing state at state grain — byte-identical to a from-scratch
    * rebuild over base ∪ delta (idempotent: re-observed values move
    * nothing). HLL registers only grow; deletions need a rebuild (the
    * standard sketch contract — q211's exact int64 state is the
    * subtractable alternative). */
  def refreshDistinctSketch(state: DataFrame, delta: DataFrame,
                            group: Column, value: Column): DataFrame =
    ops.HeavyHitters.refreshDistinctSketch(state, delta, group, value)

  /** Pairwise overlap-estimate matrix between groups from per-group HLL
    * sketches only (inclusion–exclusion over register-max unions): one
    * linear scan, shuffle = |groups| 4 KB sketches, pair grain =
    * |groups|² — the screening pass that decides which group pairs
    * deserve [[sourceOverlap]]'s exact pair-graph treatment. Returns
    * (group_a, group_b, est_a, est_b, est_union, est_inter,
    * jaccard_est, overlap_est). */
  def sketchOverlap(df: DataFrame, group: Column, value: Column): DataFrame =
    ops.HeavyHitters.sketchOverlap(df, group, value)

  /** Batched BM25 retrieval: `docs` (doc_id, text) × a QUERY TABLE
    * (query_id, terms: array<string>) → (query_id, rk, doc_id,
    * score_milli, n_hit), each query's top-k block from ONE corpus pass
    * (q129's exact fixed-point Okapi kernel — a single-query probe and
    * a batched run can never disagree on a score). Postings build once
    * over the union of query terms and fan out to queries via broadcast;
    * the top-k window sees candidate docs only. The lexical sibling of
    * [[annTopK]], and the eval-harness / leakage-screen shape. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame =
    ops.Retrieval.bm25TopK(docs, queries, k)

  /** Persist the full BM25 inverted index (postings repartitioned by
    * term / per-term dfs / 1-row corpus stats; raw text NOT stored) —
    * the retrieval-sufficient statistic a 100 TB corpus tokenizes ONCE.
    * The [[writeAnnIndex]] discipline for the lexical family. */
  def writeBm25Index(docs: DataFrame, path: String): Unit =
    ops.Retrieval.writeBm25Index(docs, path)

  /** Re-open a [[writeBm25Index]] artifact: (postings, df, stats) —
    * the pieces [[bm25SearchStored]] serves from, opened from the
    * generation's manifest without a Spark job; postings and df span
    * every segment the manifest lists. */
  def readBm25Index(s: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame) =
    ops.Retrieval.readBm25Index(s, path)

  /** Serve BM25 top-k from the stored index — bit-identical to the
    * inline [[bm25TopK]] over the same corpus; new query batches never
    * re-tokenize the corpus. */
  def bm25SearchStored(index: (DataFrame, DataFrame, DataFrame),
                       queries: DataFrame, k: Int): DataFrame =
    ops.Retrieval.bm25SearchStored(index, queries, k)

  /** Refresh a stored [[writeBm25Index]] artifact with ADDED docs into
    * a NEW generation at `outPath`: only the delta is tokenized —
    * postings append, per-term dfs merge additively, stats merge
    * exactly through the stored (n, sum_dl). The new generation writes
    * only the delta's segment and references its base's segments: the
    * base must outlive it, and `outPath` may be neither `path` nor any
    * segment root of its chain. Refreshed == rebuilt piece for piece; a
    * delta doc_id already indexed fails loudly (ADD-only;
    * retire-then-add updates). */
  def refreshStoredBm25Index(s: org.apache.spark.sql.SparkSession, path: String,
                             deltaDocs: DataFrame, outPath: String): Unit =
    ops.Retrieval.refreshStoredBm25Index(s, path, deltaDocs, outPath)

  /** Reciprocal-rank fusion of a lexical and a semantic top-k list:
    * each leg contributes `1000000 div (rrfK + rank)` milli-points,
    * docs missing from a leg contribute 0 from it, fused order is
    * (rrf_milli desc, doc_id). All-integer, engine-order independent.
    * Legs arrive k-bounded, so fusion cost is |queries|×2k — in
    * production both come from stored indexes ([[bm25SearchStored]] /
    * [[annSearchStored]]) and the corpus is never touched. */
  def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int, rrfK: Int = 60): DataFrame =
    ops.Retrieval.rrfFuse(lex, sem, k, rrfK)

  /** Hybrid retrieval: [[bm25TopK]] over `queries.terms` RRF-fused with
    * the exact-cosine leg over `queries.qv` (queries carry query_id,
    * terms, qv). Each leg retrieves top-`kRetrieve`, the fused result is
    * top-`k` per query. The semantic leg here is the EXACT baseline;
    * swap in the IVF/PQ serve paths at corpus scale and fuse the same
    * way. */
  def hybridTopK(docs: DataFrame, vectors: DataFrame, queries: DataFrame,
                 k: Int, kRetrieve: Int): DataFrame =
    ops.Retrieval.hybridTopK(docs, vectors, queries, k, kRetrieve)

  /** Temperature-flattened domain-mixture plan (p ∝ n^(1/2), the
    * multilingual-sampling temperature): (source, n_tokens) + a token
    * budget → per-domain micro-weights, exact integer token quotas
    * (never over-allocating — the published sum_ok invariant), an
    * epoch-capped quota (≤ [[ops.Mixture.MaxEpochs]]·n), and the
    * implied epochs_milli repeat factor. */
  def temperatureMixturePlan(tokenCounts: DataFrame, budget: Column): DataFrame =
    ops.Mixture.temperatureMixturePlan(tokenCounts, budget)

  /** Streaming twin of [[chatStats]]: incremental per-conversation
    * shape state via mapGroupsWithState — one fixed-size record per
    * OPEN conversation (never the turns), re-emitted in update mode;
    * converges to the batch battery once a conversation stops. Turns
    * must arrive in nondecreasing rn order per conversation across
    * micro-batches. */
  def chatShapeStream(turns: org.apache.spark.sql.Dataset[streaming.Streaming.ChatTurn])
      : org.apache.spark.sql.Dataset[streaming.Streaming.ChatShape] =
    streaming.Streaming.chatShapeStream(turns)

  /** Streaming ingest near-dup gate: each arriving (doc_id, text)
    * micro-batch MinHash-banded row-locally and matched against the
    * standing corpus via a stream-static band join, candidates verified
    * with exact Jaccard ≥ `minJaccard` — (incoming_id, existing_id,
    * jaccard) duplicate alerts in append mode, no watermark or
    * streaming state (a first-matching-band filter replaces the batch
    * path's distinct()). Same signatures/banding as [[nearDupPairs]] /
    * [[incrementalNearDups]]; works identically on a batch frame.
    * This form builds the [[nearDupBandIndex]] pair from the standing
    * corpus every micro-batch and serves it like
    * [[nearDupServeStored]] — at scale, persist the pair once with
    * [[writeBandIndex]] and serve from [[readBandIndex]] instead. */
  def nearDupStream(incoming: DataFrame, standing: DataFrame,
                    minJaccard: Double = 0.8): DataFrame =
    streaming.Streaming.nearDupStream(incoming, standing, minJaccard)

  /** The standing-corpus near-dup index: (bands, docs) — bands
    * ((doc_id, b, bkey), one probe row per (doc, band)) and docs
    * ((doc_id, hs, bkeys), the shingle state once per doc); the pieces
    * [[writeBandIndex]] persists and [[readBandIndex]] opens. */
  def nearDupBandIndex(standing: DataFrame): (DataFrame, DataFrame) =
    streaming.Streaming.standingBandIndex(standing)

  /** Incrementally refresh a [[nearDupBandIndex]] pair from a
    * [[snapshotDelta]] change feed ((doc_id, status, text) rows):
    * removed/changed docs anti-joined out of both pieces, added/changed
    * docs re-shingled from their new text, unchanged rows untouched —
    * work ∝ |delta|, never a full-corpus rebuild. */
  def refreshBandIndex(index: (DataFrame, DataFrame), delta: DataFrame): (DataFrame, DataFrame) =
    streaming.Streaming.refreshBandIndex(index, delta)

  /** Persist the [[nearDupBandIndex]] pair at `path`: docs/ +
    * bands/ (partitioned by band key). No raw text in the artifact;
    * the corpus is shingled once. The [[writeAnnIndex]] discipline for
    * the LSH family. */
  def writeBandIndex(standing: DataFrame, path: String): Unit =
    streaming.Streaming.writeBandIndex(standing, path)

  /** Re-open a [[writeBandIndex]] artifact: (bands, docs) — the pieces
    * [[nearDupServeStored]] serves from, opened from the generation's
    * manifest without a Spark job. */
  def readBandIndex(s: org.apache.spark.sql.SparkSession, path: String): (DataFrame, DataFrame) =
    streaming.Streaming.readBandIndex(s, path)

  /** [[nearDupStream]] served from a [[nearDupBandIndex]] pair, stored
    * or built — only LSH-colliding candidates ever fetch their shingle
    * state from docs. */
  def nearDupServeStored(incoming: DataFrame, index: (DataFrame, DataFrame),
                         minJaccard: Double = 0.8): DataFrame =
    streaming.Streaming.nearDupServeStored(incoming, index, minJaccard)

  /** [[refreshBandIndex]] applied to a stored [[writeBandIndex]]
    * artifact, into a NEW, self-contained generation at `outPath`
    * (never `path`). */
  def refreshStoredBandIndex(s: org.apache.spark.sql.SparkSession, path: String,
                             delta: DataFrame, outPath: String): Unit =
    streaming.Streaming.refreshStoredBandIndex(s, path, delta, outPath)

  /** Streaming ingest decontamination gate: Bloom pre-filter + exact
    * stream-static verify, emitting one (doc_id, n_shingles, h) alert
    * per verified contaminated shingle — stateless, append-mode-safe
    * (per-doc rollup left to the consumer; the alert multiset equals
    * the batch report's n_hit exactly). Convenience form building the
    * [[bloomEvalIndex]] pair from `evalSet` every micro-batch; at scale
    * persist the pair with [[writeBloomIndex]] and gate through
    * [[decontamStreamIndexed]]. */
  def decontamStream(incoming: DataFrame, evalSet: DataFrame,
                     bloomBits: Long = ops.Decontam.DefaultBloomBits,
                     bloomHashes: Int = ops.Decontam.DefaultBloomHashes): DataFrame =
    streaming.Streaming.decontamStream(incoming, evalSet, bloomBits, bloomHashes)

  /** [[decontamStream]] over a [[bloomEvalIndex]] pair, stored
    * ([[readBloomIndex]]) or built, so the standing eval suite is never
    * re-shingled per micro-batch; `bloomBits`/`bloomHashes` must match
    * the index build. */
  def decontamStreamIndexed(incoming: DataFrame, index: (DataFrame, DataFrame),
                            bloomBits: Long = ops.Decontam.DefaultBloomBits,
                            bloomHashes: Int = ops.Decontam.DefaultBloomHashes): DataFrame =
    streaming.Streaming.decontamStreamIndexed(incoming, index, bloomBits, bloomHashes)

  /** Windowed heavy hitters over a (ts, user_id) event frame: per
    * tumbling hour, the users with frequency strictly above
    * N_hour/(width+1) and their EXACT counts — two-pass (Misra-Gries
    * candidate sketch, O(width) state per window even in streaming;
    * exact recount of candidates only), deterministic for any
    * partitioning by the MG set contract. Threshold compares by integer
    * cross-multiplication. */
  def windowedHeavyHitters(events: DataFrame, width: Int = 8): DataFrame =
    streaming.Streaming.hourlyTopUsers(events, width)

  /** Encode a (doc_id, text) corpus with a shipped BPE merge table (the
    * apply side of [[bpeMerges]]: collect its (left, right) pairs in
    * step order): per doc (doc_id, n_words, n_tokens, n_chars,
    * micro_chars_per_token) where the ratio is n_chars·10⁶ DIV n_tokens
    * (exact integer) — the token-accounting input packing and budget
    * math consume. Row-local (zero shuffle): the whole fold runs in
    * the compiled codegen'd `graft_bpe_counts` Catalyst expression
    * (the session must have [[GraftExtensions]] registered for
    * `call_function` to resolve it; the chained-HOF formulation
    * survives only as BpeSpec's bit-equivalence witness). Merge
    * symbols must not contain space or tab; text is processed by
    * Unicode code point. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    ops.Bpe.bpeEncodeOf(docs, merges)

  /** Sink-side twin of [[shardManifest]]: write the corpus as
    * token-balanced `shard=N` parquet partitions (repartitioned on the
    * shard id first, so each shard lands as few files, not one file per
    * upstream task × shard). Input carries (doc_id, n_tokens) plus
    * payload columns. */
  def writeTokenShards(encoded: DataFrame, targetTokens: Long, path: String): Unit =
    ops.Bpe.writeTokenShards(encoded, targetTokens, path)

  /** Per-group tokenizer fertility over an encoded frame carrying
    * (g, n_words, n_tokens, n_chars): tokens-per-word and
    * chars-per-token in exact micro-units per group — the multilingual
    * tokenizer-fairness audit (a 2× fertility language pays 2× context
    * budget per word). */
  def tokenizerFertility(encoded: DataFrame): DataFrame =
    ops.Bpe.fertilityOf(encoded)

  /** Token-grain data recipe over a (source, n_tokens) frame:
    * √-temperature target shares, a total budget of Σ tokens allocated
    * across sources, and the milli-epoch repeat factor each source
    * needs — all exact int64 after the one milli-quantized √ (the q132
    * discipline at token grain). */
  def tokenBudget(bySource: DataFrame): DataFrame =
    ops.Bpe.tokenBudgetOf(bySource)

  /** Token-balanced contiguous shard manifest over a tokenized frame
    * carrying (doc_id, n_tokens): docs in doc_id order fill shards of
    * ~`targetTokens` each (a straddling doc belongs wholly to the shard
    * its first token lands in). Global running sum rides the scalable
    * prefix (range repartition + broadcast offsets), never a
    * one-partition window. */
  def shardManifest(encoded: DataFrame, targetTokens: Long): DataFrame =
    ops.Bpe.shardManifestOf(encoded, targetTokens)

  /** Jaccard threshold-sweep histogram over all df-capped candidate
    * pairs of a (doc_id, text) corpus: 0.05-wide similarity bins with
    * pair counts — the table a dedup threshold is tuned from, one
    * candidate pass for every τ. */
  def jaccardSweep(docs: DataFrame,
                   maxShingleDf: Long = ops.Dedup.MaxShingleDf): DataFrame =
    ops.Dedup.jaccardSweepOf(ops.Dedup.hashedShinglesOf(docs), maxShingleDf)

  /** Power-of-two length-bucket report over a tokenized frame carrying
    * `n_tokens` (e.g. [[bpeEncode]] output): per bucket (16…2048; 0 =
    * oversize) — doc count, token sum, padding waste (pad-token FLOPs a
    * padded batch burns), exact-integer micro utilization. The report
    * that decides whether length-grouped batching pays. */
  def lengthBuckets(encoded: DataFrame): DataFrame =
    ops.Bpe.lengthBucketsOf(encoded)

  /** Per-conversation SFT shape validation of a turn frame: one row per
    * conversation with turn counts per role, boundary roles,
    * alternation-break and empty-content counts, and the aggregate
    * `valid` flag (opens with `user`, closes with `assistant`, strictly
    * alternating, no empty turns). `order` must be a total order within
    * each conversation. One shuffle on the conversation key;
    * conversation-bounded windows. */
  def chatStats(turns: DataFrame, convId: Column, order: Seq[Column],
                role: Column, content: Column): DataFrame =
    ops.Chat.chatStatsOf(turns, convId, order, role, content)

  /** Chat-template loss-mask spans: per turn, the half-open character
    * span [span_start, span_end) the rendered `<|role|>content` turn
    * occupies in the concatenated conversation string, plus the `loss`
    * flag (true for assistant turns). The conversation string is never
    * materialized — spans at turn grain are what a tokenizer-side
    * masker consumes. */
  def chatSpans(turns: DataFrame, convId: Column, order: Seq[Column],
                role: Column, content: Column): DataFrame =
    ops.Chat.chatSpansOf(turns, convId, order, role, content)
}
