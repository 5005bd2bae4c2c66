package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Benchmark decontamination — flag training documents whose n-grams
  * overlap a held-out evaluation set, the standard pre-training hygiene
  * step (no analog in the reference; the eval split here is the
  * deterministic `doc_id % 20 = 0` subset standing in for an external
  * benchmark table).
  *
  * Scale design: the eval side reduces to its DISTINCT shingle hashes —
  * proportional to the benchmark suite (MBs), not the corpus — so the
  * membership probe is a broadcast join against the corpus's exploded
  * shingles: no shuffle of the 100 TB side, contamination counting is a
  * partial+final aggregate keyed by doc_id. Shingling and 60-bit hashing
  * are shared with the dedup family ([[Dedup.hashedShinglesOf]]), so one
  * materialized shingle pass can feed dedup AND decontamination in a real
  * pipeline run; the positional span probes cut their 5-grams with the
  * same [[Dedup.wordWindows]], so a corpus window and an eval shingle
  * hash alike by construction, not by a second spelling of the format.
  */
object Decontam {

  /** Contamination report of `corpus` against `evalSet` (both carry
    * (doc_id, text)): per corpus doc, its distinct-shingle count, how
    * many of those shingles appear anywhere in the eval set, the
    * contaminated fraction, and the ≥ `minFrac` drop flag. Unordered —
    * callers add their own sort. */
  private[graft] def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                                   minFrac: Double = 0.1): DataFrame =
    decontaminateHashed(
      Dedup.hashedShinglesOf(corpus), Dedup.hashedShinglesOf(evalSet), minFrac)

  /** [[decontaminate]] over pre-hashed shingle frames (doc_id, hs) —
    * the composition entry point for pipelines that already hold hashed
    * shingles (q143 builds them once for dedup and decontamination from
    * the same helper). NOTE an instructive Catalyst limit, verified on
    * q143's executed plan: splitting one hashed frame by `doc_id % 20`
    * does NOT yield a shared shingle exchange — doc_id is the grouping
    * key, so the filters transpose BELOW the aggregation barrier and
    * the two consumers' subtrees diverge again (no ReusedExchange).
    * Within one job the corpus is still shingled per consumer; a real
    * pipeline that needs the pass shared materializes the hashed frame
    * (checkpoint / table), exactly what [[graft.Graft.decontaminate]]
    * callers can do with their own frames. */
  private[graft] def decontaminateHashed(corpusHashed: DataFrame, evalHashed: DataFrame,
                                         minFrac: Double = 0.1): DataFrame = {
    val evalShingles = distinctShingles(evalHashed).withColumn("hit", lit(1L))
    corpusHashed
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
      .join(broadcast(evalShingles), Seq("h"), "left")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_shingles")).as("frac"),
        (col("n_hit").cast("double") / col("n_shingles") >= minFrac).as("contaminated"))
  }

  /** Per-document contamination report: distinct 5-gram shingles, how
    * many appear anywhere in the eval set, the contaminated fraction,
    * and the drop flag (frac ≥ 0.1). Docs under 5 tokens carry no
    * shingles and are excluded (same domain rule as q25/q26). The
    * oracle replays the identical shingling + hashing CTEs, so the gate
    * checks the full pipeline, not just the counting. */
  val q101Decontaminate: Q = Q.sql(
    "q101_decontaminate",
    s"""WITH
       |${Dedup.oracleDocs},
       |${Dedup.oracleHashed},
       |ev AS (SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE doc_id % 20 = 0),
       |corp AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, unnest(hs) AS h
       |  FROM hashed WHERE doc_id % 20 != 0),
       |agg AS (
       |  SELECT corp.doc_id, corp.n_shingles,
       |    CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM corp LEFT JOIN ev ON corp.h = ev.h
       |  GROUP BY corp.doc_id, corp.n_shingles)
       |SELECT doc_id, n_shingles, n_hit,
       |  CAST(n_hit AS DOUBLE) / n_shingles AS frac,
       |  CAST(n_hit AS DOUBLE) / n_shingles >= 0.1 AS contaminated
       |FROM agg
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    decontaminate(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
      .orderBy(col("doc_id"))
  }

  /** The REVERSE probe of [[decontaminate]] — the GPT-3-appendix-style
    * benchmark-integrity report: score each EVAL doc by the fraction of
    * ITS shingles that occur anywhere in the training corpus. q101 says
    * which train docs to drop; this says which benchmark items are
    * already compromised (a containment near 1.0 means the benchmark
    * item is memorizable verbatim and its score is meaningless).
    *
    * Scale: the corpus side is never shuffled by content — its exploded
    * shingles are FILTERED by the broadcast eval-shingle set first
    * (semi-join), so the only aggregation runs over corpus∩eval hits,
    * bounded by the eval suite's size, not the corpus's. */
  private[graft] def containmentOf(evalSet: DataFrame, corpus: DataFrame,
                                   dirtyFrac: Double = 0.2): DataFrame =
    containmentHashed(Dedup.hashedShinglesOf(evalSet),
      Dedup.hashedShinglesOf(corpus), dirtyFrac)

  private[graft] def containmentHashed(evalHashed: DataFrame, corpusHashed: DataFrame,
                                       dirtyFrac: Double): DataFrame = {
    val evalShingles = distinctShingles(evalHashed)
    val hits = corpusHashed.select(explode(col("hs")).as("h"))
      .join(broadcast(evalShingles), Seq("h"), "left_semi")
      .distinct().withColumn("hit", lit(1L))
    evalHashed
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
      .join(broadcast(hits), Seq("h"), "left")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_in_corpus"))
      .select(col("doc_id"), col("n_shingles"), col("n_in_corpus"),
        (col("n_in_corpus").cast("double") / col("n_shingles")).as("containment"),
        (col("n_in_corpus").cast("double") / col("n_shingles") >= dirtyFrac)
          .as("compromised"))
  }

  /** Benchmark containment report at 5-gram grain, dirty threshold 0.2;
    * the eval split is the q101 convention (doc_id % 20 = 0). */
  val q163EvalContainment: Q = Q.sql(
    "q163_eval_containment",
    s"""WITH
       |${Dedup.oracleDocs},
       |${Dedup.oracleHashed},
       |hits AS (
       |  SELECT DISTINCT ev.h FROM
       |    (SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE doc_id % 20 = 0) ev
       |  JOIN (SELECT unnest(hs) AS h FROM hashed WHERE doc_id % 20 != 0) c ON c.h = ev.h),
       |evd AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, unnest(hs) AS h
       |  FROM hashed WHERE doc_id % 20 = 0),
       |agg AS (
       |  SELECT evd.doc_id, evd.n_shingles,
       |    CAST(SUM(CASE WHEN hits.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_corpus
       |  FROM evd LEFT JOIN hits ON hits.h = evd.h
       |  GROUP BY 1, 2)
       |SELECT doc_id, n_shingles, n_in_corpus,
       |  CAST(n_in_corpus AS DOUBLE) / n_shingles AS containment,
       |  CAST(n_in_corpus AS DOUBLE) / n_shingles >= 0.2 AS compromised
       |FROM agg ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    containmentOf(
      docs.filter(col("doc_id") % 20 === 0),
      docs.filter(col("doc_id") % 20 =!= 0))
      .orderBy(col("doc_id"))
  }

  /** Default Bloom bitmap size in bits (2^22 = 512 KiB of bitmap,
    * 65 536 bitmap rows). With k = 3 hashes this holds ~300k eval
    * shingles at ≲1.5% false-positive rate; size m ∝ the eval suite
    * (fp ≈ (1 − e^(−k·n/m))^k), never the corpus. */
  val DefaultBloomBits: Long = 1L << 22

  /** Default Bloom hash count (k). */
  val DefaultBloomHashes: Int = 3

  /** Bloom bitmap over `evalHashed`'s distinct shingle hashes, as
    * (word: long, bits: long) rows — at most `mBits`/64 of them,
    * independent of the eval set's cardinality. Bit positions are k
    * seeded xxhash64 mixes of the 60-bit shingle hash mod m; words
    * OR-combine via `bit_or`, which is associative/commutative, so the
    * bitmap is partition-order-invariant by construction (no float, no
    * first(), no ordering anywhere). */
  private[graft] def bloomBitmap(evalHashed: DataFrame, mBits: Long,
                                 kHashes: Int): DataFrame =
    bloomBitmapFromShingles(distinctShingles(evalHashed), mBits, kHashes)

  /** [[bloomBitmap]] from an already-DISTINCT shingle-hash table (h) —
    * the grain the stored index keeps, so the write path derives the
    * bitmap from exactly the shingle table it persists. */
  private[graft] def bloomBitmapFromShingles(shingles: DataFrame, mBits: Long,
                                             kHashes: Int): DataFrame = {
    val idxs = (0 until kHashes).map(j =>
      pmod(xxhash64(col("h"), lit(j)), lit(mBits)))
    shingles
      .select(explode(array(idxs: _*)).as("idx"))
      .select(shiftright(col("idx"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(idx & 63 AS INT))").as("mask"))
      .groupBy(col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
  }

  /** [[decontaminateHashed]]'s 100 TB form for eval suites too large to
    * broadcast EXACTLY: a fixed-size Bloom bitmap pre-filter, then an
    * exact verification join over only the surviving candidates. The
    * final report is bit-identical to the exact path — Bloom filters
    * have no false negatives, so every true hit survives the
    * pre-filter, and the verify join removes every false positive
    * (q213 hash-gates this against q101's exact oracle; BloomSpec
    * additionally pins equality under a deliberately fp-heavy 1 Ki-bit
    * bitmap).
    *
    * Why this beats the exact broadcast at scale: [[decontaminateHashed]]
    * ships the eval set's DISTINCT shingle hashes to every executor —
    * ~8 B/shingle, fine for MB-scale suites but a multi-GB broadcast
    * once the "eval set" is itself corpus-sized (e.g. decontaminating
    * against an entire held-out dump). Here the broadcast state is
    * `mBits`/8 bytes REGARDLESS of eval cardinality (the `bloomBits`
    * knob; fp ≈ (1 − e^(−k·n/m))^k), the pre-filter is k broadcast
    * hash joins against a ≤ mBits/64-row bitmap — map-side, inside
    * whole-stage codegen, no shuffle of the corpus — and the only
    * shuffle grain left is the verify equi-join over true hits +
    * fp·|corpus shingles| candidate rows vs the eval shingles: work ∝
    * overlap + fp-noise, never ∝ corpus. The verify join carries NO
    * broadcast hint — its eval side is presumed big (that's the
    * operator's premise); AQE still picks broadcast when it measures
    * small (same rationale as the q72/q73 map-backs). */
  private[graft] def bloomDecontaminateHashed(corpusHashed: DataFrame,
                                              evalHashed: DataFrame,
                                              minFrac: Double,
                                              mBits: Long,
                                              kHashes: Int): DataFrame =
    bloomDecontaminateCore(corpusHashed, distinctShingles(evalHashed),
      bloomBitmap(evalHashed, mBits, kHashes), minFrac, mBits, kHashes)

  /** The shared decontamination kernel over an already-DISTINCT eval
    * shingle table — the grain both the inline path
    * ([[bloomDecontaminateHashed]]) and the index pair
    * ([[bloomEvalIndex]], stored or not) feed, so serve-from-stored is
    * the same plan as inline by construction. Correctness only needs
    * `bitmap` to be a SUPERSET of the eval shingles' bits (no false
    * negatives); extra bits — from a stale index whose eval docs were
    * since removed, or any over-wide build — cost only false positives
    * the exact verify join removes (BloomSpec proves it through a
    * whole-corpus superset bitmap). `mBits`/`kHashes` must match the
    * bitmap's build parameters — they are the index format. */
  private[graft] def bloomDecontaminateCore(corpusHashed: DataFrame,
                                            evalShingles: DataFrame,
                                            bitmap: DataFrame,
                                            minFrac: Double,
                                            mBits: Long,
                                            kHashes: Int): DataFrame = {
    require(mBits >= 1024 && mBits <= (1L << 31),
      s"bloomBits must be in [1024, 2^31], got $mBits")
    require(kHashes >= 1 && kHashes <= 8,
      s"bloomHashes must be in [1, 8], got $kHashes")
    // pre-filter: k broadcast joins, one per hash — each a map-side
    // BroadcastHashJoin probing the ≤ mBits/64-row bitmap; a left-join
    // miss means the word holds no eval bits at all (bits_j null → no hit)
    // exact verification: only candidate shingles reach the equi-join
    val verified = bloomFilterCandidates(
        corpusHashed.select(col("doc_id"), explode(col("hs")).as("h")),
        bitmap, mBits, kHashes)
      .join(evalShingles, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    // non-candidates are DEFINITE misses (no false negatives): docs with
    // zero verified hits re-enter the report via the left join, n_hit = 0
    corpusHashed
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"))
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles"))
          .as("frac"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles")
          >= minFrac).as("contaminated"))
  }

  /** [[bloomDecontaminateHashed]] from raw (doc_id, text) frames. */
  private[graft] def bloomDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                                        minFrac: Double = 0.1,
                                        mBits: Long = DefaultBloomBits,
                                        kHashes: Int = DefaultBloomHashes): DataFrame =
    bloomDecontaminateHashed(
      Dedup.hashedShinglesOf(corpus), Dedup.hashedShinglesOf(evalSet),
      minFrac, mBits, kHashes)

  /** Gate a STORED index's persisted (m_bits, k_hashes) format columns
    * against the caller's parameters: any row with a mismatch raises at
    * execution time (folded into `bits` itself so column pruning can
    * never elide the check — the HLL register-count precedent). A raw
    * (word, bits) bitmap without format columns passes through — that
    * is the trusted INTERNAL form ([[bloomBitmap]] built and consumed
    * inside one expression); everything persisted goes through
    * [[bloomEvalIndex]], which stamps the format. */
  private def formatGated(index: DataFrame, mBits: Long, kHashes: Int): DataFrame =
    if (!index.columns.contains("m_bits")) index.select(col("word"), col("bits"))
    else index.select(col("word"),
      when(col("m_bits") === mBits && col("k_hashes") === kHashes, col("bits"))
        .otherwise(raise_error(concat(
          lit("bloom index format mismatch: stored (m_bits="),
          col("m_bits").cast("string"), lit(", k_hashes="),
          col("k_hashes").cast("string"),
          lit(s") vs caller (m_bits=$mBits, k_hashes=$kHashes); " +
            "a mismatched probe/refresh would corrupt the no-false-negative invariant"))
        ).cast("long")).as("bits"))

  /** The shared probe: keep only the rows of `df` (which must carry the
    * 60-bit shingle hash as `h`) whose k Bloom positions are ALL set in
    * `bitmap` — k broadcast hash joins against the ≤ mBits/64-row word
    * table, map-side, inside whole-stage codegen; rows from words the
    * bitmap never touched miss the left join (bits null → no hit).
    * Emits `df`'s own columns. Row-local + broadcast-only ⇒ usable
    * unchanged on a STREAMING frame (the [[graft.streaming.Streaming]]
    * ingest gate), append-mode-safe — no aggregation, no watermark. */
  private[graft] def bloomFilterCandidates(df: DataFrame, rawBitmap: DataFrame,
                                           mBits: Long, kHashes: Int): DataFrame = {
    val bitmap = formatGated(rawBitmap, mBits, kHashes)
    val cols = df.columns.map(col).toSeq
    val probed = (0 until kHashes).foldLeft(df) {
      case (d, j) =>
        d.withColumn(s"__graft_i$j", pmod(xxhash64(col("h"), lit(j)), lit(mBits)))
          .withColumn(s"__graft_w$j", shiftright(col(s"__graft_i$j"), 6))
          .withColumn(s"__graft_m$j",
            expr(s"shiftleft(CAST(1 AS BIGINT), CAST(__graft_i$j & 63 AS INT))"))
          .join(broadcast(bitmap.select(col("word").as(s"__graft_w$j"),
            col("bits").as(s"__graft_b$j"))), Seq(s"__graft_w$j"), "left")
    }
    val candidate = (0 until kHashes)
      .map(j => coalesce(col(s"__graft_b$j").bitwiseAND(col(s"__graft_m$j")),
        lit(0L)) =!= 0L)
      .reduce(_ && _)
    probed.filter(candidate).select(cols: _*)
  }

  /** The decontamination index of an eval suite — the one value the
    * Bloom family builds, refreshes ([[refreshBloomIndex]]), serves
    * ([[bloomDecontaminateStored]], the streaming gate) and persists
    * ([[writeBloomIndex]] / [[readBloomIndex]]): (bitmap, shingles),
    * where shingles is the suite's DISTINCT shingle-hash table (h) and
    * bitmap its format-stamped (word, bits, m_bits, k_hashes) Bloom
    * words, derived from that table. The build parameters travel WITH
    * the bitmap (16 bytes on ≤ mBits/64 rows): refresh and probe verify
    * them instead of trusting the caller to remember the format. */
  private[graft] def bloomEvalIndex(evalSet: DataFrame,
                                    mBits: Long = DefaultBloomBits,
                                    kHashes: Int = DefaultBloomHashes): (DataFrame, DataFrame) = {
    requireBloomParams(mBits, kHashes)
    val shingles = evalShingleHashes(evalSet)
    (stamped(bloomBitmapFromShingles(shingles, mBits, kHashes), mBits, kHashes), shingles)
  }

  private def requireBloomParams(mBits: Long, kHashes: Int): Unit = {
    require(mBits >= 1024 && mBits <= (1L << 31),
      s"bloomBits must be in [1024, 2^31], got $mBits")
    require(kHashes >= 1 && kHashes <= 8,
      s"bloomHashes must be in [1, 8], got $kHashes")
  }

  private def stamped(bits: DataFrame, mBits: Long, kHashes: Int): DataFrame =
    bits.select(col("word"), col("bits"), lit(mBits).as("m_bits"), lit(kHashes).as("k_hashes"))

  /** Incremental [[bloomEvalIndex]] maintenance with ADDED eval docs —
    * work ∝ |delta|: the delta is shingled alone into one distinct hash
    * frame, whose novel hashes one anti-join probe of the standing
    * shingle table appends (bucket-pruned when shingles/ is a bucketed
    * table at scale) and whose words the bitmap ORs in at word grain
    * (≤ mBits/64 rows). bit_or is associative / commutative /
    * idempotent, so the refreshed pair equals a rebuild over
    * base ∪ delta, the bitmap BYTE-IDENTICAL — re-observed shingles
    * move nothing (BloomSpec, StoredIndexSpec). Bits only turn ON:
    * REMOVING an eval doc needs a rebuild from the surviving suite (the
    * HLL-register contract, stated not hidden) — though a STALE bit is
    * only a false positive the exact verify join removes anyway, so a
    * too-big index degrades cost, never correctness. A standing bitmap
    * whose (m_bits, k_hashes) disagree with `mBits`/`kHashes` raises at
    * execution — a mismatched kHashes would OR wrong bit positions into
    * a bitmap whose no-false-negative invariant downstream relies on. */
  private[graft] def refreshBloomIndex(index: (DataFrame, DataFrame), deltaEval: DataFrame,
                                       mBits: Long = DefaultBloomBits,
                                       kHashes: Int = DefaultBloomHashes): (DataFrame, DataFrame) = {
    val (bitmap, shingles) = index
    require(bitmap.columns.contains("m_bits") && bitmap.columns.contains("k_hashes"),
      "stored bloom index lacks its (m_bits, k_hashes) format columns — " +
        "build indexes via bloomEvalIndex, or rebuild")
    requireBloomParams(mBits, kHashes)
    // the delta is shingled once: its distinct hashes feed both the
    // novel-shingle append and the bitmap's delta words
    val deltaH = evalShingleHashes(deltaEval)
    (stamped(formatGated(bitmap, mBits, kHashes)
        .unionByName(bloomBitmapFromShingles(deltaH, mBits, kHashes))
        .groupBy(col("word"))
        .agg(expr("bit_or(bits)").as("bits")), mBits, kHashes),
      shingles.unionByName(deltaH.join(shingles, Seq("h"), "left_anti")))
  }

  /** Persist the [[bloomEvalIndex]] pair — the
    * [[graft.Graft.writeAnnIndex]] / writeBm25Index discipline for the
    * contamination family: shingles/ (h — hash-partitioned: the
    * exact-verify side, which at "eval set = a whole held-out dump"
    * scale is itself big, so no single-file funnel) and bitmap/ (≤
    * mBits/64 rows by construction, written at its groupBy's own
    * parallelism). Raw eval TEXT is never stored: the index is the
    * decontamination-sufficient statistic, and shingle hashes don't
    * invert. The eval suite is shingled ONCE — the bitmap derives from
    * the shingle table as persisted, so the two pieces can never
    * disagree. */
  def writeBloomIndex(evalSet: DataFrame, path: String,
                      mBits: Long = DefaultBloomBits,
                      kHashes: Int = DefaultBloomHashes): Unit = {
    StoredIndex.write(evalSet.sparkSession, path, "bloom") { w =>
      w.put("shingles", bloomEvalIndex(evalSet, mBits, kHashes)._2.repartition(col("h")))
      w.put("bitmap", stamped(bloomBitmapFromShingles(w.stored("shingles"), mBits, kHashes), mBits, kHashes))
    }
  }

  /** Re-open a [[writeBloomIndex]] artifact: (bitmap, shingles), located
    * and typed by the generation's manifest ([[StoredIndex]]). */
  def readBloomIndex(s: SparkSession, path: String): (DataFrame, DataFrame) =
    bloomPieces(s, StoredIndex.load(s, path, "bloom"))

  private def bloomPieces(s: SparkSession, g: StoredIndex.Generation): (DataFrame, DataFrame) =
    (g.frame(s, "bitmap"), g.frame(s, "shingles"))

  /** Serve the q213 contamination report from a [[bloomEvalIndex]]
    * pair, stored or built — bit-identical to the inline
    * [[bloomDecontaminate]] over the same eval suite (StoredIndexSpec
    * proves it): the bitmap pre-filter and the exact verify join read
    * the index pieces, the corpus is shingled fresh, and a new corpus
    * never re-shingles the eval suite.
    * `mBits`/`kHashes` must match the index build — the stored format
    * columns raise on mismatch. */
  def bloomDecontaminateStored(corpus: DataFrame,
                               index: (DataFrame, DataFrame),
                               minFrac: Double = 0.1,
                               mBits: Long = DefaultBloomBits,
                               kHashes: Int = DefaultBloomHashes): DataFrame =
    bloomDecontaminateCore(Dedup.hashedShinglesOf(corpus),
      index._2, index._1, minFrac, mBits, kHashes)

  /** [[refreshBloomIndex]] applied to a STORED [[writeBloomIndex]]
    * artifact with ADDED eval docs. Writes a NEW, self-contained
    * generation at `outPath` (artifacts are immutable generations —
    * reading and overwriting the same parquet path in one job is
    * unsafe), which may not be `path`. */
  def refreshStoredBloomIndex(s: SparkSession, path: String,
                              deltaEval: DataFrame, outPath: String,
                              mBits: Long = DefaultBloomBits,
                              kHashes: Int = DefaultBloomHashes): Unit = {
    StoredIndex.refresh("refreshStoredBloomIndex", s, path, "bloom", outPath) { (base, w) =>
      val (bitmap, shingles) = refreshBloomIndex(bloomPieces(s, base), deltaEval, mBits, kHashes)
      w.put("shingles", shingles.repartition(col("h")))
      w.put("bitmap", bitmap)
    }
  }

  /** Shared oracle body for q213 AND q238: the exact left-join
    * contamination report over the doc_id % 20 eval split — the engine
    * must reproduce it bit-for-bit whatever machinery (inline Bloom, or
    * a stored-index round-trip) sits in between. */
  private val exactDecontamReportSql: String =
    s"""WITH
       |${Dedup.oracleDocs},
       |${Dedup.oracleHashed},
       |ev AS (SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE doc_id % 20 = 0),
       |corp AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, unnest(hs) AS h
       |  FROM hashed WHERE doc_id % 20 != 0),
       |agg AS (
       |  SELECT corp.doc_id, corp.n_shingles,
       |    CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM corp LEFT JOIN ev ON corp.h = ev.h
       |  GROUP BY corp.doc_id, corp.n_shingles)
       |SELECT doc_id, n_shingles, n_hit,
       |  CAST(n_hit AS DOUBLE) / n_shingles AS frac,
       |  CAST(n_hit AS DOUBLE) / n_shingles >= 0.1 AS contaminated
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  /** q213: the Bloom-pre-filtered decontamination path, hash-gated
    * against the SAME exact oracle as q101 — DuckDB computes the exact
    * left-join answer; the engine must reproduce it bit-for-bit through
    * bitmap build → k-probe pre-filter → exact verify, proving the
    * Bloom stage admits every true hit and the verify stage removes
    * every false positive. Same eval split convention as q101
    * (doc_id % 20 = 0). */
  val q213BloomDecontam: Q = Q.sql(
    "q213_bloom_decontam", exactDecontamReportSql
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    bloomDecontaminate(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
      .orderBy(col("doc_id"))
  }

  /** q238: the STORED-index serve path oracle-gated end to end — the
    * engine WRITES the [[writeBloomIndex]] artifact (shingles/ +
    * format-stamped bitmap/ parquet on disk), re-OPENS it cold, and
    * serves the contamination report from the stored pieces; the oracle
    * is the same exact left-join report as q101/q213. A match proves
    * the whole round-trip — shingle once, persist, probe the persisted
    * bitmap, verify against the persisted shingle table — loses nothing
    * to parquet encoding, partitioning, or the format-stamp plumbing:
    * the artifact IS the decontamination-sufficient statistic. (The
    * 100 TB claim this gates: an eval-suite release is indexed once and
    * every future corpus serves from the artifact.) Fixture path is
    * FIXED (target/fixtures/q238_bloom_idx) — same single-Verify-at-a-
    * time caveat as q58/q59. */
  val q238StoredDecontamServe: Q = Q.sql(
    "q238_stored_decontam_serve", exactDecontamReportSql
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val path = "target/fixtures/q238_bloom_idx"
    writeBloomIndex(docs.filter(col("doc_id") % 20 === 0), path)
    bloomDecontaminateStored(
      docs.filter(col("doc_id") % 20 =!= 0), readBloomIndex(s, path))
      .orderBy(col("doc_id"))
  }

  /** Contamination SPAN SPLITTING — the surgical alternative to
    * q101's whole-document drop flag (the GPT-3 appendix-C discipline:
    * rather than discarding a contaminated document, remove a window
    * around each eval-set collision and keep the large clean pieces;
    * here the window is `pad` words on each side of every colliding
    * 5-gram, and surviving pieces shorter than `minWords` are dropped
    * as low-value fragments).
    *
    * Output is PIECE-grain: (doc_id, piece_id, n_words, piece_text),
    * piece_id numbering the surviving pieces of a doc left to right. A
    * clean document emerges as its own single piece; a document
    * contaminated end to end emits nothing.
    *
    * Scale (100 TB): the eval side reduces to its distinct shingle
    * hashes (benchmark-sized) and BROADCASTS — the corpus side never
    * shuffles for the probe; collision POSITIONS come from the same
    * per-word gram explode the shingle family already budgets for, and
    * the collision-list aggregate moves only (doc_id, position) ints,
    * rows ∝ collisions. The map-back join of those lists onto the
    * corpus is AQE-decided: at realistic contamination rates the hit
    * side broadcasts; a pathologically contaminated corpus degrades to
    * one doc-grain shuffle, never a widening. The cut itself is ONE
    * row-local projection: the surviving pieces are the gaps between
    * consecutive collision windows (gap pairing over the SORTED
    * position list — O(|collisions|) per row), each sliced straight
    * out of the word array. NO sentinel character in the data path (an
    * earlier revision split on chr(1), which silently treated any
    * corpus word containing U+0001 as a piece boundary; index
    * arithmetic makes the cut content-blind), and no per-word mask (an
    * earlier index-mask form was quadratic once CollapseProject
    * inlined it — see the in-line note). */
  private[graft] def decontamSpans(corpus: DataFrame, evalSet: DataFrame,
                                   pad: Int = 2, minWords: Int = 3): DataFrame =
    decontamSpansHashed(corpus, evalShingleHashes(evalSet), pad, minWords)

  /** The DISTINCT 60-bit 5-gram hash set of an eval corpus — the stored
    * decontam index grain ([[refreshDecontamSpans]] keeps it alongside
    * the pieces table so a delta refresh never re-reads old eval text). */
  private[graft] def evalShingleHashes(evalSet: DataFrame): DataFrame =
    distinctShingles(Dedup.hashedShinglesOf(evalSet))

  /** The DISTINCT shingle hashes (h) of a hashed (doc_id, hs) frame —
    * the eval-side grain of every decontamination path. */
  private[graft] def distinctShingles(hashed: DataFrame): DataFrame =
    hashed.select(explode(col("hs")).as("h")).distinct()

  /** [[decontamSpans]] over a pre-hashed DISTINCT eval 5-gram set. */
  private[graft] def decontamSpansHashed(corpus: DataFrame, evalH: DataFrame,
                                         pad: Int = 2, minWords: Int = 3): DataFrame = {
    require(pad >= 0, s"pad must be >= 0, got $pad")
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    val base = corpus.select(col("doc_id"), split(col("text"), " ").as("w"))
    val hits = base
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), posexplode(Dedup.wordWindows(col("w"), 5, each = Hashes.hexLong)))
      .select(col("doc_id"), col("pos").as("j"), col("col").as("h"))
      .join(broadcast(evalH), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("j"))).as("s"))
    base.join(hits, Seq("doc_id"), "left")
      .withColumn("s2", coalesce(col("s"), expr("cast(array() as array<int>)")))
      // The clean pieces are the maximal word-index runs not covered by
      // any collision window [t-pad, t+4+pad]. Derived DIRECTLY from the
      // sorted collision positions by gap pairing — t ascending makes
      // both window starts and window ends ascending, so the k-th
      // candidate gap is [end(window k-1)+1, start(window k)-1], with
      // [0, …] before the first window and […, size-1] after the last;
      // overlapping/merging windows and windows clipping the doc edges
      // fall out as empty gaps, dropped by the same ≥ minWords filter.
      // O(|collisions|) per row, and ONE expression — an index-mask
      // formulation (cv/st/en in separate withColumns) measured 10×
      // slower at sf0.1: CollapseProject inlines each alias into every
      // reference and higher-order functions get no subexpression
      // elimination, so the mask was re-derived per reference.
      .withColumn("pieces", expr(
        s"""transform(
           |  filter(zip_with(
           |    concat(array(0), transform(s2, t -> t + ${pad + 5})),
           |    concat(transform(s2, t -> t - ${pad + 1}), array(size(w) - 1)),
           |    (s0, e0) -> named_struct('s', s0, 'e', e0)),
           |    g -> g.e - g.s + 1 >= $minWords),
           |  g -> named_struct('n', g.e - g.s + 1,
           |                    'txt', array_join(slice(w, g.s + 1, g.e - g.s + 1), ' ')))"""
          .stripMargin))
      .select(col("doc_id"), posexplode(col("pieces")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("piece_id"),
        col("col.n").cast("long").as("n_words"),
        col("col.txt").as("piece_text"))
  }

  /** q222: span splitting over the q101 corpus/eval convention
    * (doc_id % 20). The oracle replays the window mask, the
    * uncovered-run start/end derivation, the slice reassembly, and the
    * minWords filter, so the compare breaks on an off-by-one window
    * bound, a wrong piece boundary at consecutive removals, or a
    * mis-numbered surviving piece — not just on piece counts. */
  val q222DecontamSpans: Q = Q.sql(
    "q222_decontam_spans",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |ev AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(w) - 3),
      |    i -> CAST(concat('0x', substr(md5(
      |           array_to_string(w[i:i+4], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM t WHERE doc_id % 20 = 0 AND len(w) >= 5),
      |pos AS (
      |  SELECT doc_id,
      |    unnest(range(0, len(w) - 4)) AS j,
      |    unnest(list_transform(range(0, len(w) - 4),
      |      j -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[j+1:j+5], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM t WHERE doc_id % 20 != 0 AND len(w) >= 5),
      |hits AS (
      |  SELECT doc_id, list_sort(list(j)) AS s
      |  FROM pos JOIN ev USING (h) GROUP BY doc_id),
      |m AS (
      |  SELECT t.doc_id, w, COALESCE(s, []) AS s
      |  FROM t LEFT JOIN hits USING (doc_id) WHERE doc_id % 20 != 0),
      |c AS (
      |  SELECT doc_id, w,
      |    [len(list_filter(s, tt -> tt - 2 <= i - 1 AND i - 1 <= tt + 6)) > 0
      |     FOR i IN range(1, len(w) + 1)] AS cv
      |  FROM m),
      |r AS (
      |  SELECT doc_id, w,
      |    list_filter(range(0, len(w)), i -> NOT cv[i + 1] AND (i = 0 OR cv[i])) AS st,
      |    list_filter(range(0, len(w)), i -> NOT cv[i + 1] AND (i = len(w) - 1 OR cv[i + 2])) AS en
      |  FROM c),
      |p AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(range(0, len(st)),
      |      k -> {'n': en[k + 1] - st[k + 1] + 1,
      |            'txt': array_to_string(w[st[k + 1] + 1 : en[k + 1] + 1], ' ')}),
      |      x -> x.n >= 3) AS ps
      |  FROM r)
      |SELECT doc_id,
      |  unnest(range(1, len(ps) + 1)) AS piece_id,
      |  unnest(list_transform(ps, x -> CAST(x.n AS BIGINT))) AS n_words,
      |  unnest(list_transform(ps, x -> x.txt)) AS piece_text
      |FROM p
      |ORDER BY doc_id, piece_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    decontamSpans(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      pad = 2, minWords = 3)
      .orderBy(col("doc_id"), col("piece_id"))
  }

  /** Incremental [[decontamSpans]] maintenance under an eval-set DELTA —
    * the maintenance member the span-splitting family was missing
    * (q207/q208/q211/q224's discipline): when a NEW benchmark lands,
    * re-cut ONLY the documents it actually collides with.
    *
    * `pieces` is the stored (doc_id, piece_id, n_words, piece_text)
    * table built against eval set E₁, `evalH1` the stored DISTINCT
    * 5-gram hash index of E₁ ([[evalShingleHashes]]), `deltaEval` the
    * newly added eval documents. Affected docs = those with ≥1 original-
    * text 5-gram colliding with the DELTA's hashes; they are re-cut from
    * the ORIGINAL corpus text against E₁ ∪ Δ (re-cutting stored pieces
    * instead would miss collisions straddling an E₁ cut); every other
    * doc keeps its stored rows — EXACT, because a doc with zero Δ
    * collisions has an identical collision set under E₁ and E₁ ∪ Δ
    * (q232's oracle recomputes from scratch and hash-gates this).
    *
    * ADDITIONS-ONLY by construction: removing an eval doc would have to
    * REGROW text the stored pieces no longer carry — eval removals are a
    * rebuild, like the Bloom index (README refresh-semantics table).
    *
    * Scale: detection is one map-only corpus 5-gram pass probed against
    * the broadcast Δ hash set — rows ∝ Δ collisions after the semi-join,
    * distinct at the affected-doc grain; the expensive cut (window
    * pairing + slice reassembly + piece explode) runs on affected docs
    * only, and the untouched 99.9…% of the pieces table moves through an
    * anti-join that AQE broadcasts at realistic delta rates. Work ∝
    * |affected|, never ∝ |corpus|. */
  private[graft] def refreshDecontamSpans(corpus: DataFrame, pieces: DataFrame,
                                          evalH1: DataFrame, deltaEval: DataFrame,
                                          pad: Int = 2, minWords: Int = 3): DataFrame = {
    // checkpoint the delta hash set and the affected-doc set ONCE (r14):
    // dh fans into the detection probe AND the E₁ ∪ Δ re-cut union,
    // affected into the re-cut semi-join AND the pass-through anti-join
    // — each re-derived its aggregation per consumer otherwise. Both are
    // ∝ |delta| / |affected| by the refresh contract.
    val dh = Barrier.pin(evalShingleHashes(deltaEval))
    val affected0 = corpus.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(Dedup.wordWindows(col("w"), 5, each = Hashes.hexLong)).as("h"))
      .join(broadcast(dh), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val affected = Barrier.pin(affected0)
    val recut = decontamSpansHashed(
      corpus.join(affected, Seq("doc_id"), "left_semi"),
      evalH1.unionByName(dh).distinct(), pad, minWords)
    pieces.join(affected, Seq("doc_id"), "left_anti").unionByName(recut)
  }

  /** q232: [[refreshDecontamSpans]] oracle-gated. Convention extends
    * q222's: E₁ = docs with doc_id % 20 = 0, the delta benchmark Δ =
    * doc_id % 20 = 10, corpus = the rest. The ENGINE builds the stored
    * state against E₁ (inline here, as q208/q217 demo their standing
    * state; production reads the pieces parquet + hash index), then
    * refreshes through Δ; the ORACLE recomputes the full span cut
    * against E₁ ∪ Δ from scratch. A refresh that misses an affected
    * doc, re-cuts against the wrong hash union, or drops/duplicates an
    * untouched piece row breaks the hash. */
  val q232DecontamRefresh: Q = Q.sql(
    "q232_decontam_refresh",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |ev AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(w) - 3),
      |    i -> CAST(concat('0x', substr(md5(
      |           array_to_string(w[i:i+4], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM t WHERE doc_id % 20 IN (0, 10) AND len(w) >= 5),
      |pos AS (
      |  SELECT doc_id,
      |    unnest(range(0, len(w) - 4)) AS j,
      |    unnest(list_transform(range(0, len(w) - 4),
      |      j -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[j+1:j+5], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM t WHERE doc_id % 20 NOT IN (0, 10) AND len(w) >= 5),
      |hits AS (
      |  SELECT doc_id, list_sort(list(j)) AS s
      |  FROM pos JOIN ev USING (h) GROUP BY doc_id),
      |m AS (
      |  SELECT t.doc_id, w, COALESCE(s, []) AS s
      |  FROM t LEFT JOIN hits USING (doc_id) WHERE doc_id % 20 NOT IN (0, 10)),
      |c AS (
      |  SELECT doc_id, w,
      |    [len(list_filter(s, tt -> tt - 2 <= i - 1 AND i - 1 <= tt + 6)) > 0
      |     FOR i IN range(1, len(w) + 1)] AS cv
      |  FROM m),
      |r AS (
      |  SELECT doc_id, w,
      |    list_filter(range(0, len(w)), i -> NOT cv[i + 1] AND (i = 0 OR cv[i])) AS st,
      |    list_filter(range(0, len(w)), i -> NOT cv[i + 1] AND (i = len(w) - 1 OR cv[i + 2])) AS en
      |  FROM c),
      |p AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(range(0, len(st)),
      |      k -> {'n': en[k + 1] - st[k + 1] + 1,
      |            'txt': array_to_string(w[st[k + 1] + 1 : en[k + 1] + 1], ' ')}),
      |      x -> x.n >= 3) AS ps
      |  FROM r)
      |SELECT doc_id,
      |  unnest(range(1, len(ps) + 1)) AS piece_id,
      |  unnest(list_transform(ps, x -> CAST(x.n AS BIGINT))) AS n_words,
      |  unnest(list_transform(ps, x -> x.txt)) AS piece_text
      |FROM p
      |ORDER BY doc_id, piece_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0 && col("doc_id") % 20 =!= 10)
    val eval1 = docs.filter(col("doc_id") % 20 === 0)
    val delta = docs.filter(col("doc_id") % 20 === 10)
    // E₁'s hash set feeds the standing span cut AND the refresh's hash
    // union — checkpoint once (r14)
    val evalH1 = Barrier.pin(evalShingleHashes(eval1))
    val pieces1 = decontamSpansHashed(corpus, evalH1)
    refreshDecontamSpans(corpus, pieces1, evalH1, delta)
      .orderBy(col("doc_id"), col("piece_id"))
  }

  val all: Seq[Q] = Seq(q101Decontaminate, q163EvalContainment, q213BloomDecontam,
    q222DecontamSpans, q232DecontamRefresh, q238StoredDecontamServe)
}
