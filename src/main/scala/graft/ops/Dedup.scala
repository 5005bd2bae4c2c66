package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Deduplication operators over the `documents` table — the LLM-training-
  * data-pipeline family (builder prompt north star; no analog in the
  * reference, which never dedups — its nearest idiom is the
  * distinct/groupBy pair at MLP.ipynb:53-54,520).
  *
  * Scale design (100 TB):
  *  - Exact dedup is a hash-groupBy: map-side partial min/count then one
  *    shuffle keyed by the 128-bit content hash. Shuffle volume is one
  *    small row per DISTINCT document, never per input row.
  *  - Near-dup NEVER does all-pairs. Candidate generation is an
  *    inverted-index equi-join (q25) or MinHash band buckets (q26): a
  *    pair is compared only if it shares a shingle / lands in the same
  *    LSH band bucket. With b bands of r rows, a pair of true Jaccard s
  *    collides with probability 1-(1-s^r)^b — at b=4, r=4 that is >0.999
  *    for s≥0.95 and <0.01 for s≤0.25, so candidate count stays ~linear
  *    in corpus size for non-pathological corpora.
  *  - Shingle width is 5 words: measured on this corpus's 31-word
  *    vocabulary, 3-gram shingles average ~45 docs/shingle and the
  *    inverted index explodes to 1.27M candidate pairs at sf0.1 where
  *    5-grams give 13.5k (94× less) while every planted near-dup pair
  *    (Jaccard ≥ 0.8) is still found. Hot shingles are additionally
  *    capped by doc-frequency ([[MaxShingleDf]]): stop-shingles are
  *    removed from candidate generation (never verification), the
  *    inverted-index analog of stopword removal, killing the O(df²)
  *    blowup a boilerplate shingle causes; AQE skew-join handles what
  *    remains below the cap.
  *  - MinHash signatures hash each shingle with md5 ONCE, then derive
  *    the k=16 hash family via universal hashing (a_j·h + b_j) mod p,
  *    p=2^31-1 — 16× fewer digest computations than k independent md5s,
  *    and every product stays < 2^62 so the arithmetic is exact int64 on
  *    both engines. All constants are md5-derived ([[Hashes]]) and
  *    inlined identically into the DuckDB oracle, so the gate checks the
  *    FULL pipeline — signatures, banding, candidate set — not just the
  *    final filter.
  */
object Dedup {

  import Hashes._

  /** Universal-hash family modulus: the Mersenne prime 2^31-1. */
  private[graft] val P = 2147483647L

  /** k=16 (a_j, b_j) universal-hash constants, md5-derived so they are
    * reproducible, with a_j ∈ [1, p-1] and b_j ∈ [0, p-1]. */
  private[graft] val MinhashAB: Seq[(Long, Long)] = (0 until 16).map { j =>
    def h(tag: String): Long =
      java.lang.Long.parseLong(md5Hex(s"$tag$j").substring(0, 15), 16)
    (h("mh_a") % (P - 1) + 1, h("mh_b") % P)
  }

  /** Word 5-gram shingling, Spark side: 0-based `get`, position order
    * identical to the oracle's 1-based `range(1, len(w)-3)`. */
  private def shingles5(w: Column): Column =
    array_distinct(transform(sequence(lit(0), size(w) - 5), i =>
      concat_ws(" ", get(w, i), get(w, i + 1), get(w, i + 2), get(w, i + 3), get(w, i + 4))))

  /** (doc_id, text) → (doc_id, sh: distinct 5-gram shingles); <5-token
    * rows dropped (Spark `sequence` counts DOWN for start>stop). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), shingles5(col("w")).as("sh"))

  private def docShingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(s, dir))

  /** documents → (doc_id, hs: 60-bit md5 hashes of the distinct 5-gram
    * shingles), materialized behind a by-doc_id aggregation barrier.
    * Three deliberate scale choices, measured at sf0.1 (16.1 s → 1.1 s
    * for q25's full pipeline):
    *  1. Everything downstream (explode, self-join, signatures, verify
    *     intersections) operates on 8-byte hashes, never ~30-byte shingle
    *     strings — shuffle volume and join-key compares shrink ~4×, and
    *     the candidate join becomes a long-key hash join.
    *  2. The trailing groupBy(doc_id).agg(first(hs)) is a no-op on the
    *     data (doc_id is unique) but a load-bearing plan barrier: without
    *     it, Catalyst's InferFiltersFromGenerate/-Constraints clone the
    *     ENTIRE shingling+hashing expression into inferred `size(..)>0` /
    *     `isnotnull(..)` filters below the explode (alias substitution
    *     pushes them through any Project or even an Exchange), so the
    *     most expensive expression in the query evaluates 3× per row.
    *     Filters cannot transpose through an aggregate on a non-grouping
    *     column, so behind the barrier the plan stays evaluate-once.
    *  3. The barrier's exchange is also the materialization point all
    *     2-4 downstream consumers reuse (Spark ReuseExchange) — the
    *     library-safe alternative to cache(), one compact row per doc.
    * Hash collisions (60-bit) first matter near ~2^30 distinct shingles;
    * the oracle hashes identically, so semantics stay mirrored anyway. */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame =
    hashedShinglesRowLocal(docs)
      .groupBy(col("doc_id")).agg(first(col("hs")).as("hs"))

  /** [[hashedShinglesOf]] WITHOUT the aggregation barrier — one fully
    * row-local projection per doc. For STREAMING frames (a groupBy is
    * not allowed pre-watermark in append mode); batch callers should
    * keep the barriered form, whose plan-dedup rationale is above. */
  private[graft] def hashedShinglesRowLocal(docs: DataFrame): DataFrame =
    shinglesOf(docs)
      .select(col("doc_id"), transform(col("sh"), sh => hexLong(sh)).as("hs"))

  private def docHashedShingles(s: SparkSession, dir: String): DataFrame =
    hashedShinglesOf(Tables.documents(s, dir))

  /** Oracle twin of [[docShingles]] — shared CTE text (reused by
    * [[Decontam]] so the contamination oracle replays the exact same
    * shingling). */
  private[graft] val oracleDocs: String = oracleDocsOver("documents")

  /** [[oracleDocs]] over an arbitrary relation (a table name or a
    * parenthesized subquery) exposing (doc_id, text) — lets retirement /
    * partial-corpus oracles replay the exact same shingling over a
    * filtered corpus instead of string-patching the CTE. */
  private[graft] def oracleDocsOver(rel: String): String =
    s"""docs AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-3),
       |      i -> concat(w[i],' ',w[i+1],' ',w[i+2],' ',w[i+3],' ',w[i+4]))) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $rel)
       |  WHERE len(w) >= 5)""".stripMargin

  /** Oracle twin of [[docHashedShingles]] (requires [[oracleDocs]]). */
  private[graft] val oracleHashed: String =
    """hashed AS (
      |  SELECT doc_id, list_transform(sh,
      |    s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS hs
      |  FROM docs)""".stripMargin

  /** Exact dedup: group by full-content hash, keep the smallest doc_id.
    * Emitting the md5 itself makes the oracle verify hash parity row by
    * row, not just group counts. */
  val q24DedupExact: Q = Q.sql(
    "q24_dedup_exact",
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Canonical text for formatting-insensitive exact dedup: strip
    * non-ASCII, casefold, strip everything outside [a-z0-9 ], collapse
    * whitespace runs, trim. Row-local (codegen'd lower/regexp_replace/
    * trim — no shuffle, no UDF).
    *
    * Cross-engine parity: non-ASCII is removed BEFORE lower() — Java
    * and DuckDB disagree on some non-ASCII case mappings (U+0130 and
    * U+212A fold INTO [a-z] plus combining marks), so lowercasing first
    * could hash-diverge on a non-ASCII corpus even though every later
    * regex is ASCII-safe. After the strip the input is pure printable
    * ASCII, where lower() and the character classes agree exactly.
    * (Astral codepoints: Java replaces 2 UTF-16 units, RE2 1 codepoint
    * — both become spaces the `' +'` collapse then equalizes.) */
  private[graft] def canonicalText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(regexp_replace(c, "[^\\x20-\\x7E]", " ")),
        "[^a-z0-9 ]", " "), " +", " "))

  /** q216: exact dedup MODULO FORMATTING — q24 catches only byte-equal
    * copies, but real mirrors differ in case, punctuation, and
    * whitespace (markdown vs plain-text renders of one page). Group by
    * md5 of the canonical text instead: same scale shape as q24 (one
    * map-side-combined hash aggregate, shuffle ∝ distinct canonical
    * docs), the normalization chain fused into the scan projection.
    * The oracle replays the identical chain, so the gate checks the
    * canonicalization semantics, not just the grouping. */
  val q216DedupCanonical: Q = Q.sql(
    "q216_dedup_canonical",
    """SELECT md5(trim(regexp_replace(
      |         regexp_replace(lower(regexp_replace(text, '[^\x20-\x7E]', ' ', 'g')),
      |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
      |         AS canon_hash,
      |       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keep_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(md5(canonicalText(col("text"))).as("canon_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Doc-frequency cap for the inverted-index candidate join: a shingle
    * occurring in more than this many documents is dropped from CANDIDATE
    * GENERATION (never from verification). A df-f shingle alone yields
    * O(f²) candidate pairs — one boilerplate 5-gram in 1% of a 10B-doc
    * corpus is 10^16 pairs, the classic inverted-index quadratic blowup.
    * Observed real df at sf0.1 maxes at 4, so 256 is a pure pathological-
    * data guard; the stop-set cardinality is bounded by
    * total_occurrences/maxDf, so it always fits a broadcast. */
  private[graft] val MaxShingleDf = 256L

  /** Inverted-index Jaccard near-dup, factored for testability: docs =
    * (doc_id, hs distinct shingle hashes). Candidates come from the
    * df-capped inverted index; verification computes the intersection
    * from the FULL arrays (array_intersect), so the cap never distorts a
    * reported Jaccard — it can only miss pairs whose every shared shingle
    * is hot, which at maxDf=256 requires boilerplate-only overlap. */
  private[graft] def jaccardCandidates(docs: DataFrame, maxDf: Long): DataFrame = {
    val sh = docs.select(col("doc_id"), explode(col("hs")).as("h"))
    // df via groupBy, NOT a window over PARTITION BY h: the window form
    // saves a shuffle locally but lands a hot shingle's ENTIRE posting
    // list in one window task — exactly the skew this cap exists to kill.
    // The groupBy has map-side partial aggregation (the hot key ships one
    // partial count per mapper, not its postings), and the broadcast
    // anti-join then drops hot postings BEFORE the candidate shuffle, so
    // no stage ever materializes a hot posting list. Stop-set cardinality
    // ≤ total_occurrences/maxDf → always broadcastable.
    val stop = sh.groupBy(col("h")).count()
      .filter(col("count") > maxDf).select(col("h"))
    val cold = sh.join(broadcast(stop), Seq("h"), "left_anti")
    cold.as("a")
      .join(cold.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** Unsorted (i, j, jaccard) verified pairs — the engine stage; q25
    * sorts, [[q197LshRecall]] counts. */
  private[graft] def neardupJaccardPairs(docs: DataFrame, maxDf: Long,
                                         minJaccard: Double): DataFrame =
    jaccardCandidates(docs, maxDf)
      .join(docs.select(col("doc_id").as("i"), col("hs").as("hi")), "i")
      .join(docs.select(col("doc_id").as("j"), col("hs").as("hj")), "j")
      .select(col("i"), col("j"), jaccardOf(col("hi"), col("hj")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  private[graft] def neardupJaccard(docs: DataFrame, maxDf: Long, minJaccard: Double): DataFrame =
    neardupJaccardPairs(docs, maxDf, minJaccard)
      .orderBy(col("i"), col("j"))

  /** Exact n-gram Jaccard near-dup via inverted-index candidate
    * generation: explode hashed 5-gram shingles, equi-join on the hash
    * (only pairs sharing ≥1 cold shingle are scored; see [[MaxShingleDf]]),
    * then verify Jaccard ≥ 0.8 from full-array intersections. The Jaccard
    * division takes identical integer operands on both engines →
    * bit-identical doubles. */
  val q25NeardupJaccard: Q = Q.sql(
    "q25_neardup_jaccard",
    s"""WITH $oracleDocs,
       |$oracleHashed,
       |sh AS (SELECT doc_id, unnest(hs) AS h FROM hashed),
       |stop AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
       |         WHERE df > $MaxShingleDf),
       |cold AS (SELECT doc_id, h FROM sh ANTI JOIN stop USING (h)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT i, j,
       |    len(list_intersect(hi.hs, hj.hs)) AS inter,
       |    len(hi.hs) AS na, len(hj.hs) AS nb
       |  FROM cand JOIN hashed hi ON hi.doc_id = i JOIN hashed hj ON hj.doc_id = j)
       |SELECT i, j, CAST(inter AS DOUBLE)/(na + nb - inter) AS jaccard
       |FROM scored
       |WHERE CAST(inter AS DOUBLE)/(na + nb - inter) >= 0.8
       |ORDER BY i, j""".stripMargin
  ) { (s, dir) =>
    neardupJaccard(docHashedShingles(s, dir), MaxShingleDf, 0.8)
  }

  /** Similarity histogram over ALL inverted-index candidate pairs:
    * verified Jaccard bucketed into 0.05-wide bins — the decision table
    * for choosing a dedup threshold (how many pairs does τ = 0.7 vs 0.8
    * admit?) from ONE candidate pass instead of re-running the pipeline
    * per τ. Bucket = min(floor(j·20), 19): both engines floor the
    * identical IEEE double (exact-int operands, ×20 exact), so bin
    * edges cannot drift. Scale contract is q25's (df-capped candidates,
    * full-array verification); the histogram adds one |bins|-row
    * aggregate. */
  private[graft] def jaccardSweepOf(docs: DataFrame, maxDf: Long): DataFrame =
    neardupJaccardPairs(docs, maxDf, 0.0)
      .select(least(floor(col("jaccard") * 20).cast("long"), lit(19L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("lo", round(col("bucket") * lit(0.05), 2))

  /** q201: the threshold-sweep histogram on the documents corpus. */
  val q201JaccardSweep: Q = Q.sql(
    "q201_jaccard_sweep",
    s"""WITH $oracleDocs,
       |$oracleHashed,
       |sh AS (SELECT doc_id, unnest(hs) AS h FROM hashed),
       |stop AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
       |         WHERE df > $MaxShingleDf),
       |cold AS (SELECT doc_id, h FROM sh ANTI JOIN stop USING (h)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT CAST(len(list_intersect(hi.hs, hj.hs)) AS DOUBLE)
       |    / (len(hi.hs) + len(hj.hs) - len(list_intersect(hi.hs, hj.hs))) AS jac
       |  FROM cand JOIN hashed hi ON hi.doc_id = i JOIN hashed hj ON hj.doc_id = j)
       |SELECT least(CAST(floor(jac * 20) AS BIGINT), 19) AS bucket,
       |  COUNT(*) AS n_pairs,
       |  round(least(CAST(floor(jac * 20) AS BIGINT), 19) * 0.05e0, 2) AS lo
       |FROM scored
       |GROUP BY least(CAST(floor(jac * 20) AS BIGINT), 19)
       |ORDER BY bucket""".stripMargin
  ) { (s, dir) =>
    jaccardSweepOf(docHashedShingles(s, dir), MaxShingleDf)
      .orderBy(col("bucket"))
  }

  /** Cross-source duplication matrix: verified near-dup pairs rolled up
    * to (source_a, source_b) grain with pair counts and the mean
    * similarity in exact micro-units — the provenance audit that tells
    * a curation pass WHICH feeds copy from which (mirror detection,
    * double-licensed corpora, scraper loops) before it decides survivor
    * policy. Sources are emitted in sorted order per pair so the matrix
    * is triangular regardless of doc-id order. Adds one small-side
    * lookup join per pair end plus a |sources|² aggregate on top of the
    * q26 pair pipeline — pairs are the scale driver, and they are
    * already band-bounded. */
  private[graft] def sourceOverlapOf(pairs: DataFrame, docSources: DataFrame): DataFrame =
    pairs
      .join(docSources.select(col("doc_id").as("i"), col("source").as("src_i")), "i")
      .join(docSources.select(col("doc_id").as("j"), col("source").as("src_j")), "j")
      .select(
        least(col("src_i"), col("src_j")).as("source_a"),
        greatest(col("src_i"), col("src_j")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 1e6).cast("long")).as("__graft_jsum"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        expr("__graft_jsum DIV n_pairs").as("mean_jaccard_micro"))

  /** q204: the matrix over the MinHash near-dup pairs and the documents
    * table's source column. (lazy: the oracle text splices
    * [[oracleMinhashPairsBody]], declared further down the object —
    * a strict val here would read null at class-init.) */
  lazy val q204SourceOverlap: Q = Q.sql(
    "q204_source_overlap",
    s"""WITH np AS (
       |  ${oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |tagged AS (
       |  SELECT least(di.source, dj.source) AS source_a,
       |         greatest(di.source, dj.source) AS source_b,
       |         CAST(round(np.jaccard * 1e6) AS BIGINT) AS j6
       |  FROM np
       |  JOIN documents di ON di.doc_id = np.i
       |  JOIN documents dj ON dj.doc_id = np.j)
       |SELECT source_a, source_b, COUNT(*) AS n_pairs,
       |  CAST(SUM(j6) AS BIGINT) // COUNT(*) AS mean_jaccard_micro
       |FROM tagged GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin
  ) { (s, dir) =>
    sourceOverlapOf(minhashPairs(s, dir),
      Tables.documents(s, dir).select(col("doc_id"), col("source")))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Default directional-containment threshold: a doc whose shingles are
    * ≥90% covered by another doc is (mostly) a subset of it. */
  private[graft] val MinContainment = 0.9

  /** Directional shingle containment, factored for the facade: for each
    * candidate pair, C(i→j) = |hi∩hj|/|hi| and C(j→i) = |hi∩hj|/|hj|;
    * pairs kept when either direction reaches `minC`. The
    * subset-duplication detector symmetric Jaccard structurally misses:
    * a short doc quoted whole inside a long one has J ≈ |A|/|B| (tiny,
    * below any useful Jaccard bar) but containment 1.0 — the
    * quote/excerpt/boilerplate-wrapper case a curation pass wants to
    * drop or attribute. Candidates ride the same df-capped inverted
    * index as q25 (identical scale guarantees: hot shingles never
    * generate pairs, verification uses full arrays); both divisions
    * take identical integer operands on both engines → bit-identical
    * doubles. */
  private[graft] def containmentPairs(docs: DataFrame, maxDf: Long, minC: Double): DataFrame =
    jaccardCandidates(docs, maxDf)
      .join(docs.select(col("doc_id").as("i"), col("hs").as("hi")), "i")
      .join(docs.select(col("doc_id").as("j"), col("hs").as("hj")), "j")
      .withColumn("inter", size(array_intersect(col("hi"), col("hj"))))
      .select(col("i"), col("j"),
        (col("inter").cast("double") / size(col("hi"))).as("c_ij"),
        (col("inter").cast("double") / size(col("hj"))).as("c_ji"))
      .filter(greatest(col("c_ij"), col("c_ji")) >= minC)

  val q172Containment: Q = Q.sql(
    "q172_containment",
    s"""WITH $oracleDocs,
       |$oracleHashed,
       |sh AS (SELECT doc_id, unnest(hs) AS h FROM hashed),
       |stop AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
       |         WHERE df > $MaxShingleDf),
       |cold AS (SELECT doc_id, h FROM sh ANTI JOIN stop USING (h)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT i, j,
       |    len(list_intersect(hi.hs, hj.hs)) AS inter,
       |    len(hi.hs) AS na, len(hj.hs) AS nb
       |  FROM cand JOIN hashed hi ON hi.doc_id = i JOIN hashed hj ON hj.doc_id = j)
       |SELECT i, j,
       |  CAST(inter AS DOUBLE)/na AS c_ij,
       |  CAST(inter AS DOUBLE)/nb AS c_ji
       |FROM scored
       |WHERE greatest(CAST(inter AS DOUBLE)/na, CAST(inter AS DOUBLE)/nb)
       |      >= $MinContainment
       |ORDER BY i, j""".stripMargin
  ) { (s, dir) =>
    containmentPairs(docHashedShingles(s, dir), MaxShingleDf, MinContainment)
      .orderBy(col("i"), col("j"))
  }

  /** Shared sigs → bands → candidate-pairs CTE text (reused by the q26
    * body, the q83 incremental match and the q197 recall funnel). */
  private[graft] val oracleSigsBandsPairs: String = {
    val aList = MinhashAB.map(_._1).mkString("[", ", ", "]")
    val bList = MinhashAB.map(_._2).mkString("[", ", ", "]")
    s"""sigs AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 16), j ->
       |      list_min(list_transform(hs, h ->
       |        ($aList[j+1] * (h % $P) + $bList[j+1]) % $P))) AS sig
       |  FROM hashed),
       |bands AS (
       |  SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS b)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS i, c.doc_id AS j
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id)""".stripMargin
  }

  /** Oracle body for the full MinHash-LSH pair pipeline, WITHOUT the
    * trailing ORDER BY — shared by q26 and (as a nested-WITH subquery) by
    * the connected-components oracle in [[Components]]. */
  private[graft] val oracleMinhashPairsBody: String =
    oracleMinhashPairsBodyOver("documents")

  /** [[oracleMinhashPairsBody]] over an arbitrary (doc_id, text)
    * relation — banding is per-doc, so the pair set over a filtered
    * corpus is exactly the induced subgraph of the full-corpus pairs. */
  private[graft] def oracleMinhashPairsBodyOver(rel: String): String = {
    s"""WITH ${oracleDocsOver(rel)},
       |$oracleHashed,
       |$oracleSigsBandsPairs
       |SELECT p.i, p.j,
       |  CAST(len(list_intersect(da.hs, dc.hs)) AS DOUBLE)
       |    / (len(da.hs) + len(dc.hs) - len(list_intersect(da.hs, dc.hs))) AS jaccard
       |FROM pairs p JOIN hashed da ON da.doc_id = p.i JOIN hashed dc ON dc.doc_id = p.j
       |WHERE CAST(len(list_intersect(da.hs, dc.hs)) AS DOUBLE)
       |    / (len(da.hs) + len(dc.hs) - len(list_intersect(da.hs, dc.hs))) >= 0.8""".stripMargin
  }

  /** The MinHash-LSH pair pipeline as a reusable stage: (i, j, jaccard)
    * for every verified near-dup pair. Unordered — callers sort or feed
    * the pairs onward (q26 orders; [[Components]] consumes). */
  private[graft] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsOf(docHashedShingles(s, dir))

  // ---- the band format ------------------------------------------------
  // 16 min-hashes, 4 bands of 4: every MinHash path (batch self-join,
  // two-sided incremental join, stored band index, streaming gate,
  // skew probe) derives its keys and verifies its candidates HERE. The
  // key strings are stored state (band index docs/ and bands/) and
  // mirror the oracle's `bands` CTE, so they must never change.

  /** (doc_id, hs) → (doc_id, hs, sig): one native pass per document
    * ([[graft.expressions.MinHashSig]]) computes all 16 mins in a
    * single loop over hs — MinHashSigSpec asserts it equals the
    * composed-HOF form. */
  private def signed(docs: DataFrame): DataFrame = {
    val aLit = array(MinhashAB.map(ab => lit(ab._1)): _*)
    val bLit = array(MinhashAB.map(ab => lit(ab._2)): _*)
    docs.select(col("doc_id"), col("hs"),
      call_function("graft_minhash", col("hs"), aLit, bLit, lit(P)).as("sig"))
  }

  /** The 4 band keys of a signature: slots 4b+1..4b+4 joined by ','.
    * Written out per band, not as a lambda over the slots: Catalyst
    * inlines a once-referenced producer into a lambda body, which would
    * re-run the signature per band. */
  private def bandKeys(sig: Column): Column =
    array((0 until 4).map(b =>
      concat_ws(",", slice(sig, b * 4 + 1, 4).cast("array<string>"))): _*)

  /** (doc_id, hs) → (doc_id, hs, bkeys): the doc-grain band format, the
    * stored band index's docs/ piece. */
  private[graft] def bandKeysOf(docs: DataFrame): DataFrame =
    signed(docs).select(col("doc_id"), col("hs"), bandKeys(col("sig")).as("bkeys"))

  /** [[bandKeysOf]] exploded to one row per band: (doc_id, hs, bkeys, b,
    * bkey). The generator reads the key expression, not the `bkeys`
    * column: over a column, Catalyst infers a size(bkeys) > 0 filter and
    * pushes it, signature and shingling included, below the
    * projections. Callers that keep only (doc_id, b, bkey) prune the
    * rest before any exchange. */
  private[graft] def bandRowsOf(docs: DataFrame): DataFrame =
    signed(docs).select(col("doc_id"), col("hs"), bandKeys(col("sig")).as("bkeys"),
      posexplode(bandKeys(col("sig"))).as(Seq("b", "bkey")))

  /** Exact Jaccard of two distinct-hash arrays — the verify of every
    * near-dup candidate (band and inverted-index paths alike). Integer
    * operands, one IEEE division: bit-equal to the oracle's. */
  private[graft] def jaccardOf(x: Column, y: Column): Column = {
    val inter = size(array_intersect(x, y))
    inter.cast("double") / (size(x) + size(y) - inter)
  }

  /** Batch band join: distinct (i, j) over `a` × `c` (both (doc_id, hs))
    * sharing a band bucket and passing `keep` (over `a.doc_id` /
    * `c.doc_id`). The exchange carries doc_id, b, bkey only. */
  private def bandCollisions(a: DataFrame, c: DataFrame, keep: Column): DataFrame = {
    def keys(d: DataFrame) = bandRowsOf(d).select(col("doc_id"), col("b"), col("bkey"))
    keys(a).as("a").join(keys(c).as("c"),
        col("a.b") === col("c.b") && col("a.bkey") === col("c.bkey") && keep)
      .select(col("a.doc_id").as("i"), col("c.doc_id").as("j"))
      .distinct()
  }

  /** Batch verify: (i, j) candidates with i from `left`, j from `right`
    * → (i, j, jaccard) with jaccard ≥ 0.8. */
  private def verified(cand: DataFrame, left: DataFrame, right: DataFrame): DataFrame =
    cand
      .join(left.as("l"), col("i") === col("l.doc_id"))
      .join(right.as("r"), col("j") === col("r.doc_id"))
      .select(col("i"), col("j"), jaccardOf(col("l.hs"), col("r.hs")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)

  /** Stream-static verify over (incoming_id, existing_id, b, nhs,
    * nbkeys, ehs, ebkeys) band-join rows → (incoming_id, existing_id,
    * jaccard ≥ `minJaccard`). An append-mode stream cannot `distinct()`
    * without state, so a pair colliding in k bands is kept once by
    * keeping only the row whose band is the FIRST slot where the two key
    * arrays agree (array_position is 1-based, b 0-based). */
  private[graft] def firstBandVerified(cand: DataFrame, minJaccard: Double): DataFrame = {
    val firstMatch = array_position(
      zip_with(col("nbkeys"), col("ebkeys"), (x, y) => x === y), true)
    cand
      .filter(col("b") + 1 === firstMatch)
      .select(col("incoming_id"), col("existing_id"),
        jaccardOf(col("nhs"), col("ehs")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Distinct LSH candidate pairs (i < j) of a (doc_id, hs) set — the
    * pre-verification band-bucket join shared by [[minhashPairsOf]] and
    * the recall funnel [[q197LshRecall]]. */
  private[graft] def lshCandidatePairs(docs: DataFrame): DataFrame =
    bandCollisions(docs, docs, col("a.doc_id") < col("c.doc_id"))

  /** Generic form over any (doc_id, hs) hashed-shingle set. */
  private[graft] def minhashPairsOf(docs: DataFrame): DataFrame =
    verified(lshCandidatePairs(docs), docs, docs)

  /** MinHash + LSH banding near-dup — the 100 TB path (see object doc).
    * 16 universal-hash min-hashes per doc, banded 4×4; docs sharing a
    * band bucket become candidates; candidates verified with exact
    * Jaccard ≥ 0.8. */
  val q26NeardupMinhash: Q = Q.sql(
    "q26_neardup_minhash",
    oracleMinhashPairsBody + "\nORDER BY i, j"
  ) { (s, dir) => minhashPairs(s, dir).orderBy(col("i"), col("j")) }

  /** LSH candidate-generation quality funnel, factored for the facade:
    * truth = the inverted-index exact-Jaccard pairs ≥ `minJaccard`
    * (q25's path), cand = the pre-verification LSH band pairs (q26's
    * candidate stage). One full outer join at pair grain, then ONE
    * grouping-free aggregate emits the funnel row: truth/candidate/hit
    * counts and recall / precision (each a division of two exact int64
    * counts in IEEE double — bit-identical cross-engine). */
  private[graft] def lshRecallOf(docs: DataFrame, maxDf: Long,
                                 minJaccard: Double): DataFrame = {
    // the hashed-shingle frame fans into BOTH pair generators (inverted
    // index + verification arrays on the truth side, signatures on the
    // candidate side — 6+ references): checkpoint it once, the
    // triangles()/pageRankInt discipline
    val d = Barrier.pin(docs)
    val truth = neardupJaccardPairs(d, maxDf, minJaccard)
      .select(col("i"), col("j"), lit(1L).as("t"))
    val cand = lshCandidatePairs(d)
      .select(col("i"), col("j"), lit(1L).as("c"))
    truth.join(cand, Seq("i", "j"), "full")
      .agg(
        sum(col("t")).as("n_truth"),
        sum(col("c")).as("n_cand"),
        sum(col("t") * col("c")).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth").cast("double")).as("recall"),
        (col("n_hit").cast("double") / col("n_cand").cast("double")).as("precision"))
  }

  /** q197: how good is the 4×4-band MinHash candidate generator against
    * exact-Jaccard ground truth on this corpus? The eval a pipeline
    * runs before trusting LSH at a scale where exact pairing is
    * unaffordable: recall = P(true near-dup survives banding) — the
    * theoretical 1−(1−s⁴)⁴ curve measured for real — and precision =
    * the verification workload that candidate volume implies. Both pair
    * generators are the df-capped / banded scale paths; the funnel adds
    * one pair-grain join and a single-row aggregate on top. */
  val q197LshRecall: Q = Q.sql(
    "q197_lsh_recall",
    s"""WITH $oracleDocs,
       |$oracleHashed,
       |$oracleSigsBandsPairs,
       |sh AS (SELECT doc_id, unnest(hs) AS h FROM hashed),
       |stop AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
       |         WHERE df > $MaxShingleDf),
       |cold AS (SELECT doc_id, h FROM sh ANTI JOIN stop USING (h)),
       |jcand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id),
       |truth AS (
       |  SELECT i, j, 1 AS t
       |  FROM (SELECT i, j,
       |          len(list_intersect(hi.hs, hj.hs)) AS inter,
       |          len(hi.hs) AS na, len(hj.hs) AS nb
       |        FROM jcand JOIN hashed hi ON hi.doc_id = i
       |          JOIN hashed hj ON hj.doc_id = j)
       |  WHERE CAST(inter AS DOUBLE)/(na + nb - inter) >= 0.8),
       |cand AS (SELECT i, j, 1 AS c FROM pairs),
       |funnel AS (
       |  SELECT CAST(SUM(t) AS BIGINT) AS n_truth,
       |    CAST(SUM(c) AS BIGINT) AS n_cand,
       |    CAST(SUM(t * c) AS BIGINT) AS n_hit
       |  FROM truth FULL JOIN cand USING (i, j))
       |SELECT n_truth, n_cand, n_hit,
       |  CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall,
       |  CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) AS precision
       |FROM funnel""".stripMargin
  ) { (s, dir) =>
    lshRecallOf(docHashedShingles(s, dir), MaxShingleDf, 0.8)
  }

  /** Incremental near-dup: match an INCOMING batch against an EXISTING
    * corpus — the daily-increment workflow (a production pipeline never
    * re-dedups the whole corpus; it checks the new 1 TB against the
    * standing 100 TB's band index). Same signatures/banding as q26, but
    * the candidate join is existing-bands ⋈ incoming-bands instead of a
    * self-join — shuffle is keyed on band buckets, the standing side's
    * bands would in production be a materialized (bucketed) table, and
    * incoming docs with no band collision never join anything. Modeled
    * here by splitting `documents` on doc_id parity (even = existing,
    * odd = incoming); output = incoming docs that near-dup something
    * standing, with their best match. */
  val q83IncrementalNeardup: Q = Q.sql(
    "q83_incremental_neardup",
    s"""WITH $oracleDocs,
       |$oracleHashed,
       |$oracleSigsBandsPairs,
       |cand AS (
       |  SELECT DISTINCT e.doc_id AS i, n.doc_id AS j
       |  FROM bands e JOIN bands n ON e.b = n.b AND e.bkey = n.bkey
       |  WHERE e.doc_id % 2 = 0 AND n.doc_id % 2 = 1),
       |scored AS (
       |  SELECT c.j AS incoming_id, c.i AS existing_id,
       |    CAST(len(list_intersect(de.hs, dn.hs)) AS DOUBLE)
       |      / (len(de.hs) + len(dn.hs) - len(list_intersect(de.hs, dn.hs))) AS jaccard
       |  FROM cand c JOIN hashed de ON de.doc_id = c.i JOIN hashed dn ON dn.doc_id = c.j
       |  WHERE CAST(len(list_intersect(de.hs, dn.hs)) AS DOUBLE)
       |      / (len(de.hs) + len(dn.hs) - len(list_intersect(de.hs, dn.hs))) >= 0.8)
       |SELECT incoming_id, existing_id AS best_match, jaccard AS best_jaccard
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY incoming_id
       |    ORDER BY jaccard DESC, existing_id) AS rn
       |  FROM scored)
       |WHERE rn = 1
       |ORDER BY incoming_id""".stripMargin
  ) { (s, dir) =>
    val docs = docHashedShingles(s, dir)
    incrementalPairsOf(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
      .orderBy(col("incoming_id"))
  }

  /** ALL verified cross pairs (i = existing doc, j = incoming doc,
    * jaccard ≥ 0.8) between two hashed-shingle sets — the two-sided
    * band join [[incrementalPairsOf]] tops with a best-match window.
    * [[Components.refreshComponents]] consumes the FULL pair set:
    * every cross edge matters for the transitive closure, not just
    * each incoming doc's best one. */
  private[graft] def crossVerifiedPairs(existing: DataFrame, incoming: DataFrame): DataFrame =
    verified(bandCollisions(existing, incoming, lit(true)), existing, incoming)

  /** Generic two-sided near-dup match over hashed-shingle sets: each
    * incoming doc's best verified match (jaccard ≥ 0.8) among the
    * existing docs, deterministic (jaccard desc, id) tiebreak. */
  private[graft] def incrementalPairsOf(existing: DataFrame, incoming: DataFrame): DataFrame = {
    crossVerifiedPairs(existing, incoming)
      .select(col("j").as("incoming_id"), col("i").as("existing_id"), col("jaccard"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("incoming_id"))
          .orderBy(col("jaccard").desc, col("existing_id"))))
      .filter(col("rn") === 1)
      .select(col("incoming_id"), col("existing_id").as("best_match"),
        col("jaccard").as("best_jaccard"))
  }

  /** Document fingerprinting: min-hash sketch of the shingle set — the
    * single smallest hash plus the 3 smallest concatenated (a winnowing-
    * style sketch). Equal fp3 ⇒ near-certain duplicate; grouping by fp
    * is the O(n) pre-cluster a 100 TB dedup pass runs before any pairwise
    * work. Row-local (no shuffle until the final order). */
  val q33Fingerprint: Q = Q.sql(
    "q33_fingerprint",
    s"""WITH $oracleDocs
       |SELECT doc_id,
       |  list_min(h) AS fp,
       |  array_to_string(list_sort(h)[1:3], ',') AS fp3
       |FROM (
       |  SELECT doc_id, list_transform(sh,
       |    s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS h
       |  FROM docs)
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    docShingles(s, dir)
      .select(col("doc_id"), transform(col("sh"), sh => hexLong(sh)).as("h"))
      .select(
        col("doc_id"),
        array_min(col("h")).as("fp"),
        concat_ws(",", slice(array_sort(col("h")), 1, 3).cast("array<string>")).as("fp3"))
      .orderBy(col("doc_id"))
  }

  /** SimHash (32-bit, from 48-bit md5 token hashes): bit b of the
    * fingerprint is the sign of Σ_tokens (±1 by bit b of H(token)).
    * Near-dup docs differ in few bits (Hamming), so grouping by simhash
    * (or by its bands) buckets near-dups without any join — row-local
    * compute, one fingerprint per document. Bit arithmetic sticks to
    * shiftright/%/pow that both engines evaluate exactly on <2^48 ints. */
  val q34Simhash: Q = Q.sql(
    "q34_simhash",
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(range(0, 32), b ->
      |    CASE WHEN list_sum(list_transform(th, h ->
      |             CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
      |FROM (
      |  SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
      |    t -> CAST(concat('0x', substr(md5(t), 1, 12)) AS BIGINT)) AS th
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // SQL-expression form: shiftright needs a non-literal bit index (the
    // lambda variable b), which the Scala DSL's shiftright(Column, Int)
    // signature can't express.
    Tables.documents(s, dir)
      .selectExpr(
        "doc_id",
        "transform(array_distinct(split(text, ' ')), " +
          "t -> cast(conv(substring(md5(t), 1, 12), 16, 10) as long)) AS th")
      .selectExpr(
        "doc_id",
        """aggregate(sequence(0, 31), 0L, (acc, b) -> acc +
          |  CASE WHEN aggregate(th, 0, (a, h) ->
          |         a + CASE WHEN shiftright(h, b) % 2 = 1 THEN 1 ELSE -1 END) > 0
          |       THEN CAST(pow(2, b) AS BIGINT) ELSE 0L END) AS simhash""".stripMargin)
      .orderBy(col("doc_id"))
  }

  /** 48-bit SHINGLE SimHash (doc_id, sim): bit b is the sign of
    * Σ_shingles ±1 by bit b of the 60-bit shingle hash. Shingle-based
    * (vs q34's token-set simhash) because sequences discriminate where a
    * 31-word vocabulary's token SETS collide: measured at sf0.01, token
    * simhash puts 33% of docs in one band bucket and 496 random pairs at
    * Hamming 0; shingle simhash maxes band df at 4 with only true
    * near-dups below distance 4. Reuses [[docHashedShingles]]'s
    * materialized arrays (ReuseExchange with q25/q26 when composed). */
  private[graft] def simhash48(s: SparkSession, dir: String): DataFrame =
    docHashedShingles(s, dir)
      .select(col("doc_id"),
        call_function("graft_simhash48", col("hs")).as("sim"))

  /** SimHash-banded near-dup pairs — the third full near-dup path beside
    * exact-Jaccard (q25) and MinHash-LSH (q26). 4 bands × 12 bits: by
    * pigeonhole, ANY pair within Hamming distance 3 agrees on at least
    * one whole band, so the band equi-join finds every such pair exactly
    * (no probabilistic recall like MinHash). Candidates flow through the
    * same df-capped inverted index as q25 ([[jaccardCandidates]] — a
    * band code is just a shingle-hash of the fingerprint space); the cap
    * only bites on degenerate fingerprint mass (observed band df ≤ 4).
    * Verification is a 1-row-per-doc join + bit_count(xor) — exact
    * integer ops both engines share. */
  val q70SimhashNeardup: Q = Q.sql(
    "q70_simhash_neardup",
    s"""WITH $oracleDocs,
       |$oracleHashed,
       |sim AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 48), b ->
       |      CASE WHEN list_sum(list_transform(hs, h ->
       |               CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END)) > 0
       |           THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sim
       |  FROM hashed),
       |bands AS (
       |  SELECT doc_id, unnest(list_transform(range(0, 4),
       |    b -> b * 4096 + (sim >> (12*b)) % 4096)) AS h
       |  FROM sim),
       |stop AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM bands GROUP BY h)
       |         WHERE df > $MaxShingleDf),
       |cold AS (SELECT doc_id, h FROM bands ANTI JOIN stop USING (h)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id)
       |SELECT i, j, bit_count(xor(si.sim, sj.sim)) AS hamming
       |FROM cand JOIN sim si ON si.doc_id = i JOIN sim sj ON sj.doc_id = j
       |WHERE bit_count(xor(si.sim, sj.sim)) <= 3
       |ORDER BY i, j""".stripMargin
  ) { (s, dir) =>
    val sim = simhash48(s, dir)
    val bands = sim.select(col("doc_id"),
      array((0 until 4).map(b =>
        lit(b * 4096L) + shiftright(col("sim"), 12 * b) % 4096): _*).as("hs"))
    jaccardCandidates(bands, MaxShingleDf)
      .join(sim.select(col("doc_id").as("i"), col("sim").as("si")), "i")
      .join(sim.select(col("doc_id").as("j"), col("sim").as("sj")), "j")
      .withColumn("hamming", expr("bit_count(si ^ sj)"))
      .filter(col("hamming") <= 3)
      .select(col("i"), col("j"), col("hamming"))
      .orderBy(col("i"), col("j"))
  }

  /** C4-style boilerplate detection: per-doc share of 8-word segments
    * that recur anywhere else in the corpus (the repeated-span filter a
    * web-crawl pipeline applies before training; C4 removes any
    * three-sentence span occurring more than once — here at fixed-width
    * word-segment grain, since the synthetic corpus has no sentence
    * boundaries).
    *
    * Scale (100 TB): segments are NON-overlapping (n/8 per doc, not n),
    * and every downstream row carries only the 60-bit md5 of the
    * segment, never its text. The occurrence count is a hash-grain
    * aggregation with map-side combine — the shuffle moves one row per
    * DISTINCT segment per mapper, and the count table it produces is
    * vocabulary-sized. The join back to (doc, segment) reuses the same
    * hash partitioning, and a corpus-wide hot segment (the exact
    * boilerplate this operator exists to find) skews ONE join key —
    * AQE's skew-join split handles it, and no stage ever pairs
    * documents with each other (contrast q25's candidate self-join,
    * which needs the df cap for the same pathology). */
  val q109Boilerplate: Q = Q.sql(
    "q109_boilerplate",
    """WITH segs AS (
      |  SELECT doc_id, unnest(list_transform(range(0, len(w)//8),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[8*k+1:8*k+8], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 8),
      |occ AS (SELECT h, COUNT(*) AS n FROM segs GROUP BY h)
      |SELECT s.doc_id, COUNT(*) AS n_seg,
      |  CAST(SUM(CASE WHEN o.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(SUM(CASE WHEN o.n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
      |FROM segs s JOIN occ o USING (h)
      |GROUP BY s.doc_id
      |ORDER BY s.doc_id""".stripMargin
  ) { (s, dir) =>
    boilerplateShare(Tables.documents(s, dir), 8).orderBy(col("doc_id"))
  }

  /** (doc_id, text) → (doc_id, n_seg, n_dup, dup_frac) over
    * non-overlapping `width`-word segments; duplicate segments WITHIN a
    * doc count as recurrences too (each occurrence sees the global
    * count). Exposed for the facade and [[q109Boilerplate]]. */
  private[graft] def boilerplateShare(docs: DataFrame, width: Int): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= width)
      .select(col("doc_id"),
        explode(transform(expr(s"sequence(0, size(w) div $width - 1)"), k =>
          hexLong(concat_ws(" ",
            (0 until width).map(o => get(col("w"), k * width + o)): _*)))).as("h"))
    val occ = segs.groupBy(col("h")).agg(count(lit(1)).as("n"))
    segs.join(occ, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_seg"))
  }

  /** (doc_id, text) → one row per non-overlapping `width`-word segment:
    * (doc_id, k, h) with k the segment ordinal and h the 60-bit hash of
    * the segment text — fully row-local (streaming-safe), shared by
    * [[segmentDedup]], [[segmentIndex]], and the streaming gate. */
  private[graft] def segRowsOf(docs: DataFrame, width: Int,
                               carry: Seq[String] = Nil): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    val cs = carry.map(col)
    docs.select(col("doc_id") +: cs :+ split(col("text"), " ").as("w"): _*)
      .filter(size(col("w")) >= width)
      .select(col("doc_id") +: cs :+ posexplode(transform(
        expr(s"sequence(0, size(w) div $width - 1)"), k =>
          hexLong(concat_ws(" ", (0 until width).map(o => get(col("w"), k * width + o)): _*)))): _*)
      .select(col("doc_id") +: cs :+ col("pos").as("k") :+ col("col").as("h"): _*)
  }

  /** 1e-6-quantized, order-INVERTED quality key for best-quality keeper
    * election: argmax(quality) through the SAME MIN aggregate the
    * default (min doc_id, position) election uses — invq = 10^6 −
    * floor(q·10^6), so a higher-quality doc sorts first and the packed
    * (doc_id, position) key breaks exact-quantile ties. floor, not
    * round (floor has no half-even/half-up convention to drift between
    * engines); q outside [0,1] raise_errors — a silent clamp would
    * elect a wrong keeper and the oracle, sharing the key, couldn't
    * catch it. */
  private def invQualityKey(qc: String): Column =
    when(col(qc).isNull || col(qc) < 0.0 || col(qc) > 1.0, raise_error(lit(
        "quality must be in [0,1] — the inverted keeper key would mis-order"))
        .cast("long"))
      .otherwise(lit(1000000L) - floor(col(qc) * 1000000.0).cast("long"))

  /** Corpus-level duplicated-segment REWRITE — the removal step behind
    * [[q109Boilerplate]]'s report (the line-dedup stage of the public
    * web-corpus pipelines — CCNet's per-shard line hashing, RefinedWeb /
    * Dolma's corpus-level duplicate-line removal — at fixed 8-word
    * segment grain, since this corpus has no line structure): every
    * `width`-word segment whose content occurs more than once ANYWHERE
    * in the corpus is dropped from all but its first occurrence (min
    * (doc_id, position) — C4 keeps one occurrence of a repeated span,
    * and a deterministic keeper makes the rewrite reproducible), and
    * each document is re-assembled from its surviving segments plus its
    * (< width)-word tail.
    *
    * Scale (100 TB): the shuffled rows are (doc_id, k, h) triples —
    * segment TEXT never moves; the occurrence table is one map-side-
    * combined aggregate at segment-hash grain whose keeper is a packed
    * `doc_id·10^6 + k` MIN (no window, no struct ordering), and the
    * rebuild joins each doc's surviving-position LIST (ints) back to
    * the original row, slicing the text row-locally. A corpus-wide hot
    * segment skews one GROUP BY key (absorbed by partial aggregation)
    * and one join key (AQE skew split) — no doc-doc pairing anywhere.
    * The packed keeper key requires k < 10^6 (docs under ~8M words at
    * width 8) and doc_id in [0, 9.2e12) (else doc_id·10^6 + k
    * overflows long / a negative doc_id mis-orders the MIN) — both
    * enforced, not assumed. */
  private[graft] def segmentDedup(docs: DataFrame, width: Int = 8,
                                  qualityCol: Option[String] = None): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    val base = docs.select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
    val segs = segRowsOf(docs, width, carry = qualityCol.toSeq)
      // the packed key carries its OWN validity guard: computing it for
      // an oversized doc — or a doc_id outside [0, 9.2e12), where
      // doc_id·10^6 + k overflows long or a negative doc_id mis-orders
      // the MIN — fails loudly (raise_error inside the expression that
      // is actually consumed; a standalone assert column would be
      // pruned away)
      .withColumn("pk", when(col("k") >= 1000000L, raise_error(lit(
          "segmentDedup: doc exceeds 10^6 segments — widen the packed keeper key"))
          .cast("long"))
        .when(col("doc_id") < 0L || col("doc_id") >= 9200000000000L, raise_error(lit(
          "segmentDedup: doc_id outside [0, 9.2e12) — the packed keeper key would overflow/mis-order"))
          .cast("long"))
        .otherwise(col("doc_id") * 1000000L + col("k")))
    // keeper election: default = packed-long MIN (the r11 shape);
    // quality-aware = MIN over (invq, pk) — still one map-side-combined
    // aggregate at hash grain, still window-free (the struct only adds
    // 8 bytes of agg state per distinct segment), keeper = occurrence
    // in the HIGHEST-quality doc, ties to the packed (doc_id, position)
    val survivors = qualityCol match {
      case None =>
        val occ = segs.groupBy(col("h")).agg(
          count(lit(1)).as("n"),
          min(col("pk")).as("keymin"))
        segs.join(occ, "h")
          .filter(col("n") === 1 || col("pk") === col("keymin"))
      case Some(qc) =>
        val keyed = segs.withColumn("__graft_invq", invQualityKey(qc))
        val occ = keyed.groupBy(col("h")).agg(
          count(lit(1)).as("n"),
          min(struct(col("__graft_invq").as("invq"), col("pk").as("pk"))).as("keymin"))
        keyed.join(occ, "h")
          .filter(col("n") === 1 ||
            (col("__graft_invq") === col("keymin.invq") && col("pk") === col("keymin.pk")))
    }
    val kept = survivors
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("k"))).as("ks"))
    base.join(kept, Seq("doc_id"), "left")
      .withColumn("ks2", coalesce(col("ks"), expr("cast(array() as array<int>)")))
      .select(col("doc_id"),
        expr(s"size(w) div $width").as("n_seg"),
        (expr(s"size(w) div $width") - size(col("ks2")).cast("long")).as("n_removed"),
        expr(s"""array_join(concat(
                |  flatten(transform(ks2, k -> slice(w, k * $width + 1, $width))),
                |  slice(w, (size(w) div $width) * $width + 1, size(w) % $width)), ' ')"""
          .stripMargin).as("clean_text"))
  }

  /** q221: the segment-dedup rewrite, oracle-gated end to end — the
    * DuckDB twin replays hashing, the packed-min keeper election, and
    * the slice-based reassembly, so the compare breaks on a wrong
    * keeper, a dropped survivor, or a mis-sliced tail, not just on
    * counts. Docs shorter than one segment pass through untouched
    * (n_seg = 0, clean_text = the rebuilt full text). */
  val q221SegmentDedup: Q = Q.sql(
    "q221_segment_dedup",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |segs AS (
      |  SELECT doc_id,
      |    unnest(range(0, len(w) // 8)) AS k,
      |    unnest(list_transform(range(0, len(w) // 8),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[8*k+1:8*k+8], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM t WHERE len(w) >= 8),
      |occ AS (
      |  SELECT h, COUNT(*) AS n, MIN(doc_id * 1000000 + k) AS keymin
      |  FROM segs GROUP BY h),
      |kept AS (
      |  SELECT s.doc_id, list_sort(list(s.k)) AS ks
      |  FROM segs s JOIN occ o USING (h)
      |  WHERE o.n = 1 OR s.doc_id * 1000000 + s.k = o.keymin
      |  GROUP BY s.doc_id)
      |SELECT t.doc_id,
      |  CAST(len(w) // 8 AS BIGINT) AS n_seg,
      |  CAST(len(w) // 8 - COALESCE(len(ks), 0) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(
      |    flatten(list_transform(COALESCE(ks, []), k -> w[8*k+1:8*k+8]))
      |      || w[(len(w) // 8) * 8 + 1 : len(w)], ' '), '') AS clean_text
      |FROM t LEFT JOIN kept USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    segmentDedup(Tables.documents(s, dir), 8).orderBy(col("doc_id"))
  }

  /** STORED segment-occurrence index for the [[segmentDedup]] family:
    * (h, n) — corpus-wide occurrence count per distinct `width`-word
    * segment hash. Unlike the HLL registers ("only grow") and the band
    * index (adds/changes only), counts support FULL change-feed
    * maintenance: adds increment, removals decrement, rows at zero
    * drop out — see [[refreshSegmentIndex]]. Vocabulary-sized (one row
    * per distinct segment), built by one map-side-combined aggregate. */
  private[graft] def segmentIndex(standing: DataFrame, width: Int = 8): DataFrame =
    segRowsOf(standing, width).groupBy(col("h")).agg(count(lit(1)).as("n"))

  /** Incremental [[segmentIndex]] maintenance from a change feed —
    * `added` and `removed` are (doc_id, text) frames of docs entering /
    * leaving the corpus (a q205 snapshotDelta's added+changed-new and
    * removed+changed-old sides). Work ∝ delta: only the delta docs are
    * re-segmented; the merge is one full-outer join at segment-hash
    * grain against the vocabulary-sized index.
    *
    * CONTRACT: `removed` must be docs whose segments the index actually
    * counted (the stored corpus's own rows, not arbitrary text) — a
    * count driven below zero proves feed corruption and raise_errors
    * instead of silently storing a poisoned index (the q218 fail-loud
    * discipline; contrast the HLL state, whose removals need a rebuild
    * by design). q224 gates refresh-vs-rebuild in DuckDB on a feed
    * that both adds AND removes docs. */
  private[graft] def refreshSegmentIndex(index: DataFrame, added: DataFrame,
                                         removed: DataFrame, width: Int = 8): DataFrame = {
    val deltaN = segRowsOf(added, width).select(col("h"), lit(1L).as("d"))
      .unionByName(segRowsOf(removed, width).select(col("h"), lit(-1L).as("d")))
      .groupBy(col("h")).agg(sum(col("d")).as("dn"))
    index.select(col("h"), col("n"))
      .join(deltaN, Seq("h"), "full_outer")
      .select(col("h"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
      .select(col("h"), when(col("n") < 0L, raise_error(concat(
          lit("refreshSegmentIndex: count below zero for segment hash "),
          col("h").cast("string"),
          lit(" — the removed feed contains docs the index never counted")))
          .cast("long"))
        .otherwise(col("n")).as("n"))
      .filter(col("n") > 0L)
  }

  /** q224: counted-index refresh vs full rebuild — generation 2 ADDS
    * the doc_id % 7 == 0 docs and REMOVES the % 5 == 0 survivors; the
    * engine refreshes gen-1's stored index from the delta only, the
    * oracle rebuilds segment counts over gen-2 from scratch. The
    * compare breaks on a missed decrement, a lingering zero-count row,
    * or a double-counted add. */
  val q224SegmentIndexRefresh: Q = Q.sql(
    "q224_segment_index_refresh",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE doc_id % 7 = 0 OR doc_id % 5 != 0),
      |segs AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(0, len(w) // 8),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[8*k+1:8*k+8], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM t WHERE len(w) >= 8)
      |SELECT h, COUNT(*) AS n FROM segs GROUP BY h
      |ORDER BY h""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val gen1 = docs.filter(col("doc_id") % 7 =!= 0)
    val added = docs.filter(col("doc_id") % 7 === 0)
    val removed = gen1.filter(col("doc_id") % 5 === 0)
    refreshSegmentIndex(segmentIndex(gen1, 8), added, removed, 8)
      .orderBy(col("h"))
  }

  /** The (doc_id, k, start, n_words, h) chunk rows behind [[cdcChunks]]
    * and [[cdcDedup]] — boundary scan + slice hashing, fully row-local. */
  private[graft] def cdcChunkRows(docs: DataFrame, divisor: Int,
                                  carry: Seq[String] = Nil): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val cs = carry.map(col)
    docs
      .select(col("doc_id") +: cs :+ split(col("text"), " ").as("w"): _*)
      // cut positions: word hash ≡ 0 (mod divisor); guarded for 1-word
      // docs (Spark sequence() counts DOWN for start > stop)
      .withColumn("b", expr(
        s"""concat(array(0),
           |  if(size(w) < 2, cast(array() as array<int>),
           |     filter(sequence(1, size(w) - 1),
           |            i -> graft_md5long64(element_at(w, i + 1)) % $divisor = 0)),
           |  array(size(w)))""".stripMargin))
      .select(col("doc_id") +: cs :+ posexplode(expr(
        s"""transform(sequence(0, size(b) - 2), k -> named_struct(
           |  'start', b[k],
           |  'nw', b[k + 1] - b[k],
           |  'h', graft_md5long64(array_join(slice(w, b[k] + 1, b[k + 1] - b[k]), ' '))))"""
          .stripMargin)): _*)
      .select(col("doc_id") +: cs :+ col("pos").cast("long").as("k") :+
        col("col.start").cast("long").as("start") :+
        col("col.nw").cast("long").as("n_words") :+ col("col.h").as("h"): _*)
  }

  /** Content-defined chunking (CDC) duplicate report — the SHIFT-ROBUST
    * dual of [[segmentDedup]]'s fixed grid (the rsync/LBFS boundary
    * trick: cut where content, not position, says so). A fixed 8-word
    * grid loses every alignment downstream of a single inserted word;
    * CDC cuts BEFORE each word whose 60-bit hash ≡ 0 (mod `divisor`),
    * so boundaries — and therefore chunk contents — are functions of
    * the words alone: an edit only perturbs its own chunk, and every
    * other chunk still matches its copies corpus-wide (CdcSpec proves
    * it by prepending a word and watching all but the first chunk
    * survive).
    *
    * Output is chunk grain: (doc_id, k, start, n_words, n_occ) — k the
    * doc's chunk ordinal, start its word offset, n_occ the corpus-wide
    * occurrence count of the chunk's content. Expected chunk length is
    * `divisor` words (geometric); a downstream rewrite is [[segmentDedup]]'s
    * election over these hashes instead of the grid's.
    *
    * Scale (100 TB): chunking is ONE row-local projection (boundary
    * scan + slice hashing, no shuffle); the occurrence count is the
    * same map-side-combined hash-grain aggregate as q109/q221 — the
    * shuffle moves (doc_id, k, start, nw, h) ints, never chunk text; a
    * corpus-wide hot chunk (boilerplate) skews one GROUP BY / join key,
    * absorbed by partial agg + AQE. */
  private[graft] def cdcChunks(docs: DataFrame, divisor: Int = 8): DataFrame = {
    val chunks = cdcChunkRows(docs, divisor)
    val occ = chunks.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
    chunks.join(occ, "h")
      .select(col("doc_id"), col("k"), col("start"), col("n_words"), col("n_occ"))
  }

  /** q223: the CDC chunk report, oracle-gated — the DuckDB twin replays
    * the boundary rule, the slice hashing, and the corpus-wide count,
    * so the compare breaks on a shifted boundary, a mis-sliced chunk,
    * or a wrong occurrence count. */
  val q223CdcChunks: Q = Q.sql(
    "q223_cdc_chunks",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |c AS (
      |  SELECT doc_id, w,
      |    [0] || list_filter(range(1, len(w)),
      |      i -> CAST(concat('0x', substr(md5(w[i+1]), 1, 15)) AS BIGINT) % 8 = 0)
      |        || [len(w)] AS b
      |  FROM t),
      |ch AS (
      |  SELECT doc_id,
      |    unnest(range(0, len(b) - 1)) AS k,
      |    unnest(list_transform(range(0, len(b) - 1), k -> b[k+1])) AS start,
      |    unnest(list_transform(range(0, len(b) - 1), k -> b[k+2] - b[k+1])) AS n_words,
      |    unnest(list_transform(range(0, len(b) - 1),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[b[k+1]+1 : b[k+2]], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM c),
      |occ AS (SELECT h, COUNT(*) AS n_occ FROM ch GROUP BY h)
      |SELECT ch.doc_id, k, start, n_words, n_occ
      |FROM ch JOIN occ USING (h)
      |ORDER BY doc_id, k""".stripMargin
  ) { (s, dir) =>
    cdcChunks(Tables.documents(s, dir), 8).orderBy(col("doc_id"), col("k"))
  }

  /** The CDC REWRITE — [[segmentDedup]]'s keeper election run over
    * [[cdcChunks]]' shift-robust chunk hashes instead of the fixed
    * grid: every chunk whose content occurs more than once corpus-wide
    * is dropped from all but its first (min doc_id, ordinal)
    * occurrence, and each document is re-assembled from its surviving
    * chunks (chunks tile the doc, so the rebuild is a row-local slice
    * concatenation). Because boundaries are content-defined, a shared
    * passage is deduplicated even when the two copies sit at different
    * word offsets — the case the grid rewrite structurally misses.
    *
    * Scale: identical shape to [[segmentDedup]] — hash-grain count +
    * packed-MIN election (guards: ordinal, start offset, AND chunk
    * word count each under 10^6; doc_id in [0, 9.2e12) — every packing
    * bound raise_errors rather than corrupting silently), surviving
    * (start, nw) spans packed into one int64 each so the map-back list
    * is primitive-typed, and chunk text never shuffles. */
  private[graft] def cdcDedup(docs: DataFrame, divisor: Int = 8,
                              qualityCol: Option[String] = None): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("b", expr(
        s"""concat(array(0),
           |  if(size(w) < 2, cast(array() as array<int>),
           |     filter(sequence(1, size(w) - 1),
           |            i -> graft_md5long64(element_at(w, i + 1)) % $divisor = 0)),
           |  array(size(w)))""".stripMargin))
    val chunks = cdcChunkRows(docs, divisor, carry = qualityCol.toSeq)
      .withColumn("pk", when(col("k") >= 1000000L || col("start") >= 1000000L,
          raise_error(lit("cdcDedup: doc exceeds 10^6 chunks/words — widen the packed keys"))
            .cast("long"))
        .when(col("doc_id") < 0L || col("doc_id") >= 9200000000000L, raise_error(lit(
          "cdcDedup: doc_id outside [0, 9.2e12) — the packed keeper key would overflow/mis-order"))
          .cast("long"))
        .otherwise(col("doc_id") * 1000000L + col("k")))
      // surviving spans travel as ONE packed long: start·10^6 + n_words.
      // n_words needs its own bound — a single ≥10^6-word chunk (a 1M+-
      // word doc whose words never hit a cut boundary) would pack
      // ambiguously and unpack to a wrong (start, n_words); the start
      // guard above does NOT imply this one (start is the chunk's
      // offset, n_words its length). The q225 oracle packs identically,
      // so only this guard — not the compare — can catch it.
      .withColumn("sp", when(col("n_words") >= 1000000L, raise_error(lit(
          "cdcDedup: chunk exceeds 10^6 words — widen the packed span key"))
          .cast("long"))
        .otherwise(col("start") * 1000000L + col("n_words")))
    // same election split as segmentDedup: default packed-long MIN;
    // quality-aware (invq, pk) struct MIN — window-free either way
    val survivors = qualityCol match {
      case None =>
        val occ = chunks.groupBy(col("h")).agg(
          count(lit(1)).as("n"), min(col("pk")).as("keymin"))
        chunks.join(occ, "h")
          .filter(col("n") === 1 || col("pk") === col("keymin"))
      case Some(qc) =>
        val keyed = chunks.withColumn("__graft_invq", invQualityKey(qc))
        val occ = keyed.groupBy(col("h")).agg(
          count(lit(1)).as("n"),
          min(struct(col("__graft_invq").as("invq"), col("pk").as("pk"))).as("keymin"))
        keyed.join(occ, "h")
          .filter(col("n") === 1 ||
            (col("__graft_invq") === col("keymin.invq") && col("pk") === col("keymin.pk")))
    }
    val kept = survivors
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("sp"))).as("sps"))
    base.join(kept, Seq("doc_id"), "left")
      .withColumn("sps2", coalesce(col("sps"), expr("cast(array() as array<bigint>)")))
      .select(col("doc_id"),
        (size(col("b")) - 1).cast("long").as("n_chunks"),
        ((size(col("b")) - 1).cast("long") - size(col("sps2"))).as("n_removed"),
        expr(s"""array_join(flatten(transform(sps2,
                |  p -> slice(w, cast(p div 1000000 as int) + 1, cast(p % 1000000 as int)))), ' ')"""
          .stripMargin).as("clean_text"))
  }

  /** q225: the CDC rewrite, oracle-gated — the DuckDB twin replays the
    * boundary rule, packed-key election, span packing, and slice
    * reassembly, so the compare breaks on a wrong keeper, a lost
    * survivor, or a span unpacked at the wrong offset. NOTE: the oracle
    * packs spans with the SAME start·10^6 + n_words encoding, so a
    * ≥10^6-word chunk would corrupt both sides identically — that case
    * is excluded by [[cdcDedup]]'s raise_error guard, not the compare. */
  val q225CdcDedup: Q = Q.sql(
    "q225_cdc_dedup",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |c AS (
      |  SELECT doc_id, w,
      |    [0] || list_filter(range(1, len(w)),
      |      i -> CAST(concat('0x', substr(md5(w[i+1]), 1, 15)) AS BIGINT) % 8 = 0)
      |        || [len(w)] AS b
      |  FROM t),
      |ch AS (
      |  SELECT doc_id,
      |    unnest(range(0, len(b) - 1)) AS k,
      |    unnest(list_transform(range(0, len(b) - 1),
      |      k -> b[k+1] * 1000000 + (b[k+2] - b[k+1]))) AS sp,
      |    unnest(list_transform(range(0, len(b) - 1),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[b[k+1]+1 : b[k+2]], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM c),
      |occ AS (
      |  SELECT h, COUNT(*) AS n, MIN(doc_id * 1000000 + k) AS keymin
      |  FROM ch GROUP BY h),
      |kept AS (
      |  SELECT ch.doc_id, list_sort(list(ch.sp)) AS sps
      |  FROM ch JOIN occ USING (h)
      |  WHERE occ.n = 1 OR ch.doc_id * 1000000 + ch.k = occ.keymin
      |  GROUP BY ch.doc_id)
      |SELECT c.doc_id,
      |  CAST(len(b) - 1 AS BIGINT) AS n_chunks,
      |  CAST(len(b) - 1 - COALESCE(len(sps), 0) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(
      |    flatten(list_transform(COALESCE(sps, []),
      |      p -> w[p // 1000000 + 1 : p // 1000000 + p % 1000000])), ' '), '') AS clean_text
      |FROM c LEFT JOIN kept USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    cdcDedup(Tables.documents(s, dir), 8).orderBy(col("doc_id"))
  }

  /** Deterministic [0,1] quality for the best-quality election gates:
    * type-token ratio (distinct words / words) — an exact small-int
    * division both engines compute to the identical double. Production
    * callers pass their own score (q99's battery, a model score…); the
    * gate only needs SOME replayable quality that varies across docs. */
  private def ttrQuality(docs: DataFrame): DataFrame =
    docs.withColumn("quality",
      size(array_distinct(split(col("text"), " "))).cast("double") /
        size(split(col("text"), " ")).cast("double"))

  /** q228: [[segmentDedup]]'s QUALITY-AWARE keeper election oracle-gated
    * (VERDICT r11 item 5) — in production you keep a repeated span in
    * the HIGHEST-quality document, not the lowest-id one. The keeper is
    * argmax(quality) with (doc_id, position) packed-key tiebreak,
    * elected by the same window-free hash-grain MIN as q221, over the
    * inverted 1e-6-quantized key ([[invQualityKey]]). The oracle
    * replays quantization, inversion, election, and reassembly via a
    * rank window (oracle clarity; the ENGINE stays aggregate-only). */
  val q228SegmentDedupBest: Q = Q.sql(
    "q228_segment_dedup_best",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |q AS (
      |  SELECT doc_id, w,
      |    1000000 - CAST(floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
      |      * 1000000.0) AS BIGINT) AS invq
      |  FROM t),
      |segs AS (
      |  SELECT doc_id, invq,
      |    unnest(range(0, len(w) // 8)) AS k,
      |    unnest(list_transform(range(0, len(w) // 8),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[8*k+1:8*k+8], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM q WHERE len(w) >= 8),
      |rk AS (
      |  SELECT doc_id, k,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY invq, doc_id * 1000000 + k) AS rn,
      |    COUNT(*) OVER (PARTITION BY h) AS n
      |  FROM segs),
      |kept AS (
      |  SELECT doc_id, list_sort(list(k)) AS ks
      |  FROM rk WHERE n = 1 OR rn = 1 GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(len(w) // 8 AS BIGINT) AS n_seg,
      |  CAST(len(w) // 8 - COALESCE(len(ks), 0) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(
      |    flatten(list_transform(COALESCE(ks, []), k -> w[8*k+1:8*k+8]))
      |      || w[(len(w) // 8) * 8 + 1 : len(w)], ' '), '') AS clean_text
      |FROM t LEFT JOIN kept USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    segmentDedup(ttrQuality(Tables.documents(s, dir)), 8,
      qualityCol = Some("quality")).orderBy(col("doc_id"))
  }

  /** q229: the quality-aware election on the CDC (shift-robust) grain —
    * q225's rewrite with q228's keeper policy, completing the knob
    * across the span-grain family. */
  val q229CdcDedupBest: Q = Q.sql(
    "q229_cdc_dedup_best",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |qd AS (
      |  SELECT doc_id, w,
      |    1000000 - CAST(floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
      |      * 1000000.0) AS BIGINT) AS invq
      |  FROM t),
      |c AS (
      |  SELECT doc_id, w, invq,
      |    [0] || list_filter(range(1, len(w)),
      |      i -> CAST(concat('0x', substr(md5(w[i+1]), 1, 15)) AS BIGINT) % 8 = 0)
      |        || [len(w)] AS b
      |  FROM qd),
      |ch AS (
      |  SELECT doc_id, invq,
      |    unnest(range(0, len(b) - 1)) AS k,
      |    unnest(list_transform(range(0, len(b) - 1),
      |      k -> b[k+1] * 1000000 + (b[k+2] - b[k+1]))) AS sp,
      |    unnest(list_transform(range(0, len(b) - 1),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[b[k+1]+1 : b[k+2]], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM c),
      |rk AS (
      |  SELECT doc_id, sp,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY invq, doc_id * 1000000 + k) AS rn,
      |    COUNT(*) OVER (PARTITION BY h) AS n
      |  FROM ch),
      |kept AS (
      |  SELECT doc_id, list_sort(list(sp)) AS sps
      |  FROM rk WHERE n = 1 OR rn = 1 GROUP BY doc_id)
      |SELECT c.doc_id,
      |  CAST(len(b) - 1 AS BIGINT) AS n_chunks,
      |  CAST(len(b) - 1 - COALESCE(len(sps), 0) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(
      |    flatten(list_transform(COALESCE(sps, []),
      |      p -> w[p // 1000000 + 1 : p // 1000000 + p % 1000000])), ' '), '') AS clean_text
      |FROM c LEFT JOIN kept USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    cdcDedup(ttrQuality(Tables.documents(s, dir)), 8,
      qualityCol = Some("quality")).orderBy(col("doc_id"))
  }

  /** Cross-document duplicate-passage detection — the passage-grain dual
    * of [[q109Boilerplate]]'s doc-grain view, and the span-level exact
    * dedup step of a training-data pipeline (find the shared spans, then
    * decide which occurrences to cut; cf. the suffix-array passage dedup
    * literature — here at fixed sliding-window grain, which a distributed
    * engine can do with one aggregation instead of a global suffix sort).
    *
    * Windows are EVERY 12-word 12-gram (stride 1), so any shared span of
    * ≥ 12 words is caught at ANY alignment — a wider stride s only finds
    * duplicates whose alignments coincide mod s (see [[dupPassages]]),
    * which is why stride 1 is the registry contract. Each doc
    * contributes ~n windows, each carried downstream only as its 60-bit
    * md5 — the same per-word row count the shingle explodes (q25/q101)
    * already budget for.
    *
    * Scale (100 TB): one map-side-combined aggregation at window-hash
    * grain — shuffle rows per DISTINCT window per mapper, output only
    * hashes recurring in >1 doc (rare by construction). No doc-doc
    * pairing anywhere; a corpus-wide hot passage skews one GROUP BY key,
    * which partial aggregation absorbs before the exchange. */
  val q128DupPassages: Q = Q.sql(
    "q128_dup_passages",
    """WITH segs AS (
      |  SELECT doc_id, unnest(list_transform(range(0, len(w) - 11),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[k+1:k+12], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 12)
      |SELECT h, COUNT(*) AS n_occ,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS first_doc
      |FROM segs GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
      |ORDER BY h""".stripMargin
  ) { (s, dir) =>
    dupPassages(Tables.documents(s, dir), width = 12, stride = 1)
      .orderBy(col("h"))
  }

  /** (doc_id, text) → (h, n_occ, n_docs, first_doc) for every
    * `width`-word sliding window (stride `stride`) whose hash occurs in
    * more than one document. Stride 1 guarantees any shared span ≥
    * `width` words is found at any alignment; stride s > 1 cuts the
    * row count s× but only catches duplicates whose span alignments
    * agree mod s (fine for shared prefixes / whole-doc copies; wrong
    * tool for arbitrary-offset quotes). Exposed for the facade and
    * [[q128DupPassages]]. */
  private[graft] def dupPassages(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    // stride is interpolated into the window sequence: 0 would be an
    // integer div-by-zero inside the plan, width < 1 nonsense windows
    require(width >= 1 && stride >= 1,
      s"dupPassages needs width >= 1 and stride >= 1, got width=$width stride=$stride")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= width)
      .select(col("doc_id"),
        explode(transform(expr(s"sequence(0, (size(w) - $width) div $stride)"), k =>
          hexLong(concat_ws(" ",
            (0 until width).map(o => get(col("w"), k * stride + o)): _*)))).as("h"))
      .groupBy(col("h"))
      .agg(
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
  }

  /** Near-dup pair DIFF — the audit view a human (or survivor-selection
    * policy) reads to see WHY a pair matched: per verified q26 pair, the
    * distinct-word set sizes, the shared count, and each side's unique
    * count. only_i = |W_i| − |W_i ∩ W_j| needs no set-difference op —
    * the intersection size (already computed for the Jaccard) determines
    * everything.
    *
    * Scale: the pair list is duplication-bounded (≪ corpus), so it
    * BROADCASTS into two joins against the corpus scan — the big side
    * never shuffles; word-set sizing is row-local. */
  val q154NeardupDiff: Q = Q.sql(
    "q154_neardup_diff",
    s"""WITH np AS (
       |  ${oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |wsets AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents)
       |SELECT np.i, np.j,
       |  CAST(len(wi.ws) AS BIGINT) AS n_i,
       |  CAST(len(wj.ws) AS BIGINT) AS n_j,
       |  CAST(len(list_intersect(wi.ws, wj.ws)) AS BIGINT) AS shared,
       |  CAST(len(wi.ws) - len(list_intersect(wi.ws, wj.ws)) AS BIGINT) AS only_i,
       |  CAST(len(wj.ws) - len(list_intersect(wi.ws, wj.ws)) AS BIGINT) AS only_j
       |FROM np
       |JOIN wsets wi ON wi.doc_id = np.i
       |JOIN wsets wj ON wj.doc_id = np.j
       |ORDER BY np.i, np.j""".stripMargin
  ) { (s, dir) =>
    // r15 (guide §2.3/§2.4, the r14-deferred item): the pair frame is
    // CHECKPOINTED (∝ verified duplicates, ≪ corpus) so the endpoint id
    // set can bound the word-set pass; the word-set frame is built
    // behind a LEFT-SEMI join on the pair endpoints and checkpointed
    // once, feeding BOTH the wi and wj join sides. Before: each side
    // re-derived the full-corpus tokenize + array_distinct (wsets
    // referenced twice on different keys — no shareable exchange), so
    // the corpus paid two extra text passes; now the tokenize work is
    // pair-endpoint-bounded and runs once. Both joins are INNER on the
    // pair's ids, so restricting wsets to exactly those ids cannot
    // change a row (result-invariant by construction; the oracle
    // replays the unrestricted SQL and must still hash-match).
    // Measured cost at sf0.1: ~+0.2 s — the pair checkpoint's job
    // barrier outweighs the saved tokenize at a scale where the corpus
    // fits in page cache; the trade exists FOR the 100 TB shape, where
    // two full-corpus tokenize passes dwarf one duplication-bounded
    // materialization (accepted deliberately, OPTIMIZATION_r15.md).
    val docs = Tables.documents(s, dir)
    // (the pair pipeline itself evaluates exactly once inside this
    // materialization, so no extra shingle checkpoint is needed here —
    // measured net-negative at sf0.1: the block write/read of the
    // corpus-sized shingle arrays cost more than the ReuseExchange-
    // covered re-reference it saved)
    val pairs = Barrier.pin(minhashPairs(s, dir).select(col("i"), col("j")))
    val ids = pairs.select(col("i").as("doc_id"))
      .union(pairs.select(col("j").as("doc_id"))).distinct()
    val wsets = Barrier.pin(
      docs
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws")))
    val shared = size(array_intersect(col("wi"), col("wj")))
    pairs
      .join(wsets.select(col("doc_id").as("i"), col("ws").as("wi")), "i")
      .join(wsets.select(col("doc_id").as("j"), col("ws").as("wj")), "j")
      .select(col("i"), col("j"),
        size(col("wi")).cast("long").as("n_i"),
        size(col("wj")).cast("long").as("n_j"),
        shared.cast("long").as("shared"),
        (size(col("wi")) - shared).cast("long").as("only_i"),
        (size(col("wj")) - shared).cast("long").as("only_j"))
      .orderBy(col("i"), col("j"))
  }

  /** Per-doc novelty share — the data-valuation metric a curation run
    * uses to find docs that add nothing: the fraction of a doc's
    * DISTINCT 5-gram shingles whose corpus-wide FIRST occurrence (min
    * doc_id) is this doc. Exact duplicates of earlier docs score 0;
    * boilerplate-heavy docs score low; the q25/q109 family flags who a
    * doc copies, this says how much of it is copied from anyone.
    *
    * Scale: one corpus scan — the (h, doc_id) pair aggregate creates
    * the reusable exchange both consumers (first-occurrence table and
    * the scoring join) hang off (the q164 ReuseExchange discipline:
    * non-nullable keys, reference-keeping no-ops). The first-occurrence
    * table is vocabulary-grain and stays hash-joined, never broadcast. */
  val q168Novelty: Q = Q.sql(
    "q168_novelty",
    s"""WITH $oracleDocs,
       |$oracleHashed,
       |pairs AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM hashed),
       |first AS (SELECT h, MIN(doc_id) AS first_doc FROM pairs GROUP BY h),
       |agg AS (
       |  SELECT p.doc_id, COUNT(*) AS n_shingles,
       |    CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_first
       |  FROM pairs p JOIN first f ON f.h = p.h GROUP BY 1)
       |SELECT doc_id, n_shingles, n_first,
       |  CAST((2000000 * n_first + n_shingles) // (2 * n_shingles) AS BIGINT) / 1e6 AS novelty
       |FROM agg ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    noveltyOf(Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** Generic form over (doc_id, text): (doc_id, n_shingles, n_first,
    * novelty); docs shorter than 5 tokens are absent (no shingles). */
  private[graft] def noveltyOf(docs: DataFrame): DataFrame = {
    val pairs = hashedShinglesOf(docs)
      .select(col("doc_id"), explode(col("hs")).as("h0"))
      .select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        coalesce(col("h0"), lit(0L)).as("h"))
      .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("occ"))
    // min(when(occ >= 1, …)) ≡ min(doc_id) but references occ, keeping
    // this branch's partial aggregate identical to the join branch's so
    // the pairs exchange is reused (one corpus scan)
    val firstDoc = pairs.groupBy(col("h"))
      .agg(min(when(col("occ") >= 1, col("doc_id"))).as("first_doc"))
    pairs.join(firstDoc, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_first"))
      .select(col("doc_id"), col("n_shingles"), col("n_first"),
        // exact int64 half-up (the q161 6-dp-tie discipline)
        (expr("(2000000 * n_first + n_shingles) DIV (2 * n_shingles)") / 1e6)
          .as("novelty"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm) at word grain: every 5-word k-gram gets its
    * md5-derived 60-bit hash, and each window of `WinnowWindow` = 4
    * consecutive k-gram hashes selects its MINIMUM as a fingerprint.
    * Guarantee: any shared word run of ≥ k + w − 1 = 8 words shares at
    * least one fingerprint, while only ~2/(w+1) of k-grams are kept —
    * the density/recall trade the paper proves optimal for local
    * fingerprinting. Complements the fixed-stride q128 (every dup
    * caught at full grain) with a sub-sampled index 2.5× smaller that
    * still catches every ≥8-word overlap.
    *
    * Scale: one corpus scan → per-doc window-min (a SORT within doc
    * partitions — bounded by doc length, no cross-doc data movement) →
    * one fingerprint-grain aggregate for cross-doc sharing. Fingerprint
    * selection drops ~60% of k-gram rows BEFORE the only cross-doc
    * shuffle, which is the point of winnowing at 100 TB: the shared
    * index shrinks by the density factor with a proven recall floor. */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kg = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), (size(col("w")) - 4).as("nk"),
        posexplode(transform(expr("sequence(0, size(w) - 5)"), k =>
          hexLong(concat_ws(" ",
            (0 until 5).map(o => get(col("w"), k + o)): _*)))))
      .withColumnRenamed("col", "h")
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
    kg.withColumn("wmin", min(col("h")).over(win))
      .filter(col("pos") <= col("nk") - 4)
      .select(col("doc_id"), col("nk"), col("wmin")).distinct()
  }

  val q176Winnow: Q = Q.sql(
    "q176_winnow",
    """WITH kg AS (
      |  SELECT doc_id, len(w) - 4 AS nk,
      |    unnest(range(0, len(w) - 4)) AS pos,
      |    unnest(list_transform(range(0, len(w) - 4),
      |      k -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[k+1:k+5], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 5),
      |fp AS (
      |  SELECT DISTINCT doc_id, nk, wmin FROM (
      |    SELECT doc_id, nk, pos, MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |    FROM kg) WHERE pos <= nk - 4),
      |occ AS (SELECT wmin, COUNT(*) AS nd FROM fp GROUP BY wmin)
      |SELECT f.doc_id, f.nk AS n_kgrams, COUNT(*) AS n_fp,
      |  CAST(SUM(CASE WHEN o.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp
      |FROM fp f JOIN occ o USING (wmin)
      |GROUP BY f.doc_id, f.nk
      |ORDER BY f.doc_id""".stripMargin
  ) { (s, dir) =>
    val fp = winnowFingerprints(Tables.documents(s, dir))
    val occ = fp.groupBy(col("wmin")).agg(count(lit(1)).as("nd"))
    fp.join(occ, "wmin")
      .groupBy(col("doc_id"), col("nk"))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_fp"))
      .select(col("doc_id"), col("nk").as("n_kgrams"), col("n_fp"), col("n_shared_fp"))
      .orderBy(col("doc_id"))
  }

  /** Hot-passage df cap for [[q177DupSpans]]: window hashes occurring
    * more than this many times total are excluded from pairing (their
    * recurrence is already reported at hash grain by q128) — the same
    * guard class as MaxShingleDf/MaxBasketSize, bounding match rows at
    * Σ n_occ² ≤ cap · Σ n_occ. */
  val MaxPassageDf = 8L

  /** Longest duplicated span per doc pair — what suffix-array passage
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes LMs
    * Better") reports, computed at sliding 12-gram grain instead of a
    * global suffix sort: matched (pos_i, pos_j) window pairs lie on
    * diagonals d = pos_i − pos_j, and a run of R consecutive matches on
    * one diagonal certifies a shared span of exactly R + 11 words. The
    * run detection is the gaps-and-islands idiom (pos − ROW_NUMBER over
    * the (i, j, d) diagonal), which both engines evaluate identically
    * because pos is unique within a diagonal.
    *
    * Scale: window hashes above [[MaxPassageDf]] total occurrences are
    * excluded before the self-join (hot boilerplate pairs every pair of
    * carriers — the q25 hot-shingle class of blow-up), so match rows
    * are df-bounded; the islands window sorts within (i, j, d) pair
    * partitions — near-dup-bounded, never corpus-grain. */
  val q177DupSpans: Q = Q.sql(
    "q177_dup_spans",
    s"""WITH seg AS (
       |  SELECT doc_id, unnest(range(0, len(w) - 11)) AS pos,
       |    unnest(list_transform(range(0, len(w) - 11),
       |      k -> CAST(concat('0x', substr(md5(
       |             array_to_string(w[k+1:k+12], ' ')), 1, 15)) AS BIGINT))) AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= 12),
       |elig AS (
       |  SELECT h FROM (
       |    SELECT h, COUNT(DISTINCT doc_id) AS nd, COUNT(*) AS no
       |    FROM seg GROUP BY h)
       |  WHERE nd >= 2 AND no <= ${MaxPassageDf}),
       |m AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, a.pos - b.pos AS d, a.pos AS apos
       |  FROM seg a JOIN seg b USING (h) JOIN elig USING (h)
       |  WHERE a.doc_id < b.doc_id),
       |r AS (
       |  SELECT i, j, d, apos,
       |    apos - ROW_NUMBER() OVER (PARTITION BY i, j, d ORDER BY apos) AS grp
       |  FROM m),
       |runs AS (SELECT i, j, COUNT(*) AS rl FROM r GROUP BY i, j, d, grp)
       |SELECT i, j, MAX(rl) AS max_run, CAST(MAX(rl) + 11 AS BIGINT) AS span_words
       |FROM runs GROUP BY i, j ORDER BY i, j""".stripMargin
  ) { (s, dir) =>
    dupSpansOf(Tables.documents(s, dir)).orderBy(col("i"), col("j"))
  }

  /** (doc_id, text) → (i, j, max_run, span_words) per doc pair sharing
    * at least one df-capped 12-gram window; span_words = longest shared
    * word span (≥ 12) certified by a consecutive diagonal run. Exposed
    * for the facade and [[q177DupSpans]]. */
  private[graft] def dupSpansOf(docs: DataFrame,
                                maxPassageDf: Long = MaxPassageDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPassageDf >= 2, s"maxPassageDf must be >= 2, got $maxPassageDf")
    val seg = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 12)
      .select(col("doc_id"),
        posexplode(transform(expr("sequence(0, size(w) - 12)"), k =>
          hexLong(concat_ws(" ",
            (0 until 12).map(o => get(col("w"), k + o)): _*)))))
      .withColumnRenamed("col", "h")
    val elig = seg.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("no"))
      .filter(col("nd") >= 2 && col("no") <= maxPassageDf)
      .select(col("h"))
    // filter ONCE, self-join the identical frame: with elig joined
    // after the self-join the optimizer pushes it into one side only,
    // de-syncing the subtrees and costing a third full seg evaluation
    // (scan + md5) — this shape keeps both sides byte-identical so
    // ReuseExchange serves them from one exchange
    val eseg = seg.join(elig, "h")
    val m = eseg.as("a")
      .join(eseg.as("b"), "h")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        (col("a.pos") - col("b.pos")).as("d"), col("a.pos").as("apos"))
    val runs = m
      .withColumn("grp", col("apos") - row_number().over(
        Window.partitionBy(col("i"), col("j"), col("d")).orderBy(col("apos"))))
      .groupBy(col("i"), col("j"), col("d"), col("grp"))
      .agg(count(lit(1)).as("rl"))
    runs.groupBy(col("i"), col("j"))
      .agg(max(col("rl")).as("max_run"))
      .select(col("i"), col("j"), col("max_run"),
        (col("max_run") + 11L).as("span_words"))
  }

  val all: Seq[Q] = Seq(
    q24DedupExact, q216DedupCanonical, q25NeardupJaccard, q26NeardupMinhash, q33Fingerprint, q34Simhash,
    q70SimhashNeardup, q83IncrementalNeardup, q109Boilerplate, q221SegmentDedup,
    q223CdcChunks, q224SegmentIndexRefresh, q225CdcDedup, q228SegmentDedupBest,
    q229CdcDedupBest, q128DupPassages,
    q154NeardupDiff, q168Novelty, q172Containment, q176Winnow, q177DupSpans,
    q197LshRecall, q201JaccardSweep, q204SourceOverlap)
}
