package graft.ops

import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** End-to-end corpus curation — the composition a 100 TB training-data
  * run actually executes: quality floor (composite score + length) ∧
  * near-dup survivorship, reported per language. Exists to prove the
  * stages COMPOSE as one lazy plan: [[TextAnalysis.textStats]] (row-local
  * scoring), [[Dedup.minhashPairs]] → [[Components.connectedComponents]]
  * (the pair graph + survivor labels), and an anti-join — no
  * materialization boundaries between modules, one job.
  *
  * Shape at scale: scoring is scan-speed; the dedup branch's state is
  * proportional to duplicated docs; the anti-join is plain (AQE
  * broadcasts the duplication-bounded drop set when small); the final
  * per-language rollup is a 5-row aggregate. The corpus is scanned twice
  * (once for scoring, once inside the shingle pipeline) — fundamental,
  * since dedup needs the pair graph closed before survivorship is known.
  *
  * Determinism: thresholds compare round(…,9) doubles built from exact
  * integer ratios (bit-identical in both engines); aggregate outputs are
  * integer counts/sums plus MIN/MAX of those doubles — order-independent,
  * no float summation anywhere (the determinism contract from `Q`'s
  * scaladoc).
  */
object Curate {

  private val MinQuality = 0.40
  private val MinWords = 20

  val q75CuratedCorpus: Q = Q.sql(
    "q75_curated_corpus",
    s"""WITH RECURSIVE
       |np AS (
       |  ${Dedup.oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |edges AS (SELECT i AS src, j AS dst FROM np UNION SELECT j, i FROM np),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |dropped AS (
       |  SELECT id FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |  WHERE id != component),
       |stats AS (
       |  ${TextAnalysis.oracleTextStats.replace("\n", "\n  ")}),
       |curated AS (
       |  SELECT s.* FROM stats s ANTI JOIN dropped ON s.doc_id = dropped.id
       |  WHERE s.quality >= $MinQuality AND s.n_words >= $MinWords)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS sum_words,
       |  MIN(quality) AS min_quality, MAX(quality) AS max_quality
       |FROM curated
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    // the hashed-shingle frame fans into BOTH minhashPairs consumers
    // (signatures + the two verification-array join sides) with an
    // isnotnull(doc_id) pushdown splitting the subtrees, so execution
    // re-shingled the corpus per consumer. Checkpoint it ONCE (r15 —
    // the q143/q197 discipline applied to the plain curation chain).
    // connectedComponents checkpoints its input eagerly, so the shingle
    // blocks are dead the moment it returns
    val dropped = Barrier.scoped { scope =>
      val hashed = scope.pin(Dedup.hashedShinglesOf(graft.Tables.documents(s, dir)))
      Components.connectedComponents(
          Dedup.minhashPairsOf(hashed).select(col("i"), col("j")))
        .filter(col("id") =!= col("label"))
        .select(col("id"))
    }
    TextAnalysis.textStats(s, dir)
      .filter(col("quality") >= MinQuality && col("n_words") >= MinWords)
      .join(dropped, col("doc_id") === col("id"), "left_anti")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("sum_words"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
      .orderBy(col("lang"))
  }

  /** The full training-mix manifest — q75's curation chain extended to
    * the complete pre-training data recipe, composed as ONE lazy plan:
    *
    *   quality floor ([[TextAnalysis.textStats]])
    *   ∧ near-dup survivorship ([[Dedup.minhashPairs]] →
    *     [[Components.connectedComponents]])
    *   ∧ benchmark decontamination ([[Decontam.decontaminate]] against
    *     the doc_id % 20 eval split)
    *   → τ=½ temperature rebalancing over the SURVIVING corpus
    *     ([[Sampling.temperatureThresholds]] — thresholds depend on the
    *     whole upstream chain, the real data dependency)
    *   → per-language manifest (eligible, sampled, sampled words).
    *
    * The oracle replays every stage — shingles, signatures, banding,
    * verified pairs, transitive closure, contamination fractions,
    * integer thresholds, md5 membership — so the gate checks the
    * COMPOSITION, not just each stage alone.
    *
    * Shape at scale: three corpus scans (scoring, ONE shingle pass,
    * sample filter). The hashed-shingle frame is checkpointed once and
    * fans into all four shingle consumers (dedup signatures +
    * verification arrays, decontamination corpus + eval sides) — their
    * pushed-down filters defeat ReuseExchange, so without the
    * materialization each consumer re-shingled the corpus (measured:
    * the checkpoint took the bench floor from 7.09s (r12) to 1.87s at
    * sf0.1, full-registry session). Everything that joins back to the corpus stays small —
    * thresholds are lang-grain (forced broadcast, bounded);
    * drop/contamination sets are duplication-bounded plain joins AQE
    * broadcasts when small. */
  val q143TrainingManifest: Q = Q.sql(
    "q143_training_manifest",
    s"""WITH RECURSIVE
       |np AS (
       |  ${Dedup.oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |edges AS (SELECT i AS src, j AS dst FROM np UNION SELECT j, i FROM np),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |dropped AS (
       |  SELECT id FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |  WHERE id != component),
       |${Dedup.oracleDocs},
       |${Dedup.oracleHashed},
       |ev AS (SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE doc_id % 20 = 0),
       |corp AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, unnest(hs) AS h
       |  FROM hashed WHERE doc_id % 20 != 0),
       |contaminated AS (
       |  SELECT corp.doc_id FROM corp LEFT JOIN ev ON corp.h = ev.h
       |  GROUP BY corp.doc_id, corp.n_shingles
       |  HAVING CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |           / corp.n_shingles >= 0.1),
       |stats AS (
       |  ${TextAnalysis.oracleTextStats.replace("\n", "\n  ")}),
       |eligible AS (
       |  SELECT s.doc_id, s.lang, s.n_words FROM stats s
       |  ANTI JOIN dropped ON s.doc_id = dropped.id
       |  ANTI JOIN contaminated c ON s.doc_id = c.doc_id
       |  WHERE s.quality >= $MinQuality AND s.n_words >= $MinWords
       |    AND s.doc_id % 20 != 0),
       |sstats AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000) AS BIGINT) AS w
       |  FROM eligible GROUP BY lang),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(n_docs) AS BIGINT) AS tn
       |        FROM sstats),
       |thr AS (
       |  SELECT lang, n_docs, w,
       |    LEAST(1000000, ((tn // 2) * w * 1000000) // (tw * n_docs)) AS thr_micro
       |  FROM sstats CROSS JOIN tot),
       |picked AS (
       |  SELECT e.lang, e.n_words,
       |    CASE WHEN CAST(concat('0x', substr(md5(concat('tmix:',
       |             CAST(e.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000
       |           < t.thr_micro THEN 1 ELSE 0 END AS pick
       |  FROM eligible e JOIN thr t ON e.lang = t.lang)
       |SELECT p.lang, t.n_docs, t.thr_micro,
       |  CAST(SUM(p.pick) AS BIGINT) AS n_sampled,
       |  CAST(SUM(CASE WHEN p.pick = 1 THEN p.n_words ELSE 0 END) AS BIGINT)
       |    AS sampled_words
       |FROM picked p JOIN thr t ON p.lang = t.lang
       |GROUP BY p.lang, t.n_docs, t.thr_micro
       |ORDER BY p.lang""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // the hashed-shingle frame fans into FOUR consumers (signatures +
    // verification arrays ×2 on the dedup side, corpus + eval sides of
    // decontamination) whose pushed-down filters defeat ReuseExchange —
    // execution re-shingled the corpus per consumer (the r12 bench's
    // 7.09s floor). Checkpoint it ONCE (q197's lshRecallOf discipline)
    // so every consumer reads the materialized (doc_id, hs) blocks.
    val hashed = Barrier.pin(Dedup.hashedShinglesOf(docs))
    val dropped = Components.connectedComponents(
        Dedup.minhashPairsOf(hashed).select(col("i"), col("j")))
      .filter(col("id") =!= col("label"))
      .select(col("id"))
    val contaminated = Decontam.decontaminateHashed(
        hashed.filter(col("doc_id") % 20 =!= 0),
        hashed.filter(col("doc_id") % 20 === 0))
      .filter(col("contaminated")).select(col("doc_id").as("cid"))
    val eligible = TextAnalysis.textStats(s, dir)
      .filter(col("quality") >= MinQuality && col("n_words") >= MinWords
        && col("doc_id") % 20 =!= 0)
      .join(dropped, col("doc_id") === col("id"), "left_anti")
      .join(contaminated, col("doc_id") === col("cid"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_words"))
    val thr = Sampling.temperatureThresholds(eligible, "lang")
    eligible
      .join(broadcast(thr.select(col("lang"), col("thr_micro"))), "lang")
      .withColumn("pick",
        (call_function("graft_md5long64",
          concat(lit("tmix:"), col("doc_id").cast("string"))) % 1000000
          < col("thr_micro")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        sum(col("pick")).as("n_sampled"),
        sum(when(col("pick") === 1, col("n_words")).otherwise(0L)).as("sampled_words"))
      .join(broadcast(thr.select(col("lang"), col("n_docs"), col("thr_micro"))), "lang")
      .select(col("lang"), col("n_docs"), col("thr_micro"),
        col("n_sampled"), col("sampled_words"))
      .orderBy(col("lang"))
  }

  /** Per-source doc cap — the web-curation domain-cap discipline (no
    * single domain may dominate the corpus; C4/RefinedWeb drop or
    * downsample hot domains): keep at most K docs per source, chosen by
    * a deterministic salted-md5 order (an unbiased within-source sample,
    * the 'strat:' idiom of q71), flag the rest.
    *
    * Scale: selection is the SORT-FREE threshold pattern — a
    * [[graft.functions.KthSmallest]] bounded aggregate computes each
    * source's K-th-smallest (hash, doc_id) cut point with O(K) state per
    * group and |sources|×K shuffle rows, then membership is a broadcast
    * join + row-local pair comparison. A row_number window here would
    * per-group sort the full corpus — a billion-doc hot domain makes
    * that a spill sort for a selection that needs one cut point. */
  val q162SourceCap: Q = Q.sql(
    "q162_source_cap",
    """WITH h AS (
      |  SELECT doc_id, source,
      |    CAST(concat('0x', substr(md5(concat('scap:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      |  FROM documents),
      |r AS (SELECT doc_id, source,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM h)
      |SELECT doc_id, source, rk <= 15 AS kept FROM r ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    sourceCapOf(Tables.documents(s, dir), 15).orderBy(col("doc_id"))
  }

  /** Generic form over any (doc_id, source, …) frame: (doc_id, source,
    * kept) with at most `k` kept per source. */
  private[graft] def sourceCapOf(docs: org.apache.spark.sql.DataFrame,
                                 k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hashed = docs.select(col("doc_id"), col("source"),
      call_function("graft_md5long64",
        concat(lit("scap:"), col("doc_id").cast("string"))).as("h"))
    val th = hashed.groupBy(col("source"))
      .agg(graft.functions.KthSmallest.udaf(k)(col("h"), col("doc_id")).as("th"))
    hashed.join(broadcast(th), Seq("source"))
      .select(col("doc_id"), col("source"),
        (col("h") < col("th._1") ||
          (col("h") === col("th._1") && col("doc_id") <= col("th._2"))).as("kept"))
  }

  /** DSIR-style importance selection (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * each doc by how much its hashed-n-gram distribution looks like a
    * TARGET distribution relative to the raw corpus, then keep the
    * top-N. Features are word unigrams + bigrams hashed into `buckets`
    * buckets; per-bucket importance is the Laplace-smoothed
    * log-likelihood ratio ln(p_target(b)/p_raw(b)); a doc's weight is
    * the sum of its features' ratios — exactly the paper's bag-of-
    * hashed-n-grams estimator, with the Gumbel-resampling step replaced
    * by a deterministic top-N (weight, doc_id) cut so the result is
    * reproducible and oracle-checkable.
    *
    * Scale: ONE corpus scan builds per-(doc, bucket) counts with
    * map-side combine; the bucket table (≤ `buckets` rows — fixed, not
    * corpus-proportional) and its 1-row totals broadcast; the top-N cut
    * is the [[graft.functions.KthSmallest]] sort-free threshold — O(N)
    * aggregator state, no global sort of the corpus.
    *
    * Determinism: bucket log-ratios round to integer micro-nats
    * row-locally from exact integer counts (the q161 discipline), so
    * per-doc weights are exact long sums — partition-order-independent
    * on a 1000-executor run. */
  val q164DsirSelect: Q = Q.sql(
    "q164_dsir_select",
    """WITH tok AS (
      |  SELECT doc_id, lang = 'en' AS is_t, string_split(text, ' ') AS w FROM documents),
      |feat AS (
      |  SELECT doc_id, is_t, unnest(w) AS f FROM tok
      |  UNION ALL
      |  SELECT doc_id, is_t, w[k+1] || ' ' || w[k+2] AS f
      |  FROM (SELECT doc_id, is_t, w, unnest(range(0, len(w) - 1)) AS k FROM tok)),
      |db AS (
      |  SELECT doc_id, is_t,
      |    CAST(concat('0x', substr(md5(concat('dsir:', f)), 1, 15)) AS BIGINT) % 256 AS b,
      |    COUNT(*) AS n_occ
      |  FROM feat GROUP BY 1, 2, 3),
      |bt AS (
      |  SELECT b, CAST(SUM(n_occ) AS BIGINT) AS cr,
      |    CAST(SUM(CASE WHEN is_t THEN n_occ ELSE 0 END) AS BIGINT) AS ct
      |  FROM db GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS r_tot, CAST(SUM(ct) AS BIGINT) AS t_tot FROM bt),
      |lr AS (
      |  SELECT b, CAST(round(ln(((ct + 1.0) / (t_tot + 256)) / ((cr + 1.0) / (r_tot + 256))) * 1e6) AS BIGINT) AS lr_micro
      |  FROM bt CROSS JOIN tot),
      |dw AS (
      |  SELECT d.doc_id, CAST(SUM(d.n_occ) AS BIGINT) AS n_feats,
      |    CAST(SUM(d.n_occ * lr.lr_micro) AS BIGINT) AS w_micro
      |  FROM db d JOIN lr ON lr.b = d.b GROUP BY 1),
      |rk AS (
      |  SELECT doc_id, n_feats, w_micro,
      |    ROW_NUMBER() OVER (ORDER BY w_micro DESC, doc_id) AS rk FROM dw)
      |SELECT doc_id, n_feats, round(w_micro / 1e6, 6) AS weight, rk <= 100 AS selected
      |FROM rk ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    dsirSelectOf(Tables.documents(s, dir), col("lang") === "en", 256, 100)
      .orderBy(col("doc_id"))
  }

  /** Generic form over any (doc_id, text, …) frame: appends (n_feats,
    * weight, selected) with at most `topN` selected, scored against the
    * rows where `isTarget` holds. */
  private[graft] def dsirSelectOf(docs: org.apache.spark.sql.DataFrame,
                                  isTarget: org.apache.spark.sql.Column,
                                  buckets: Int = 256,
                                  topN: Int = 100): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // unigrams ++ bigrams built in ONE projection (zip_with over the two
    // shifted slices), so the corpus parquet is scanned exactly once —
    // a union of two explode branches would scan it twice (PlanSpec-
    // guarded). slice(w,1,0) is empty for 1-token docs, so zip_with
    // degrades to no bigrams.
    val tok = docs.select(col("doc_id"), isTarget.as("is_t"),
      split(col("text"), " ").as("w"))
    val db = tok
      .select(col("doc_id"), col("is_t"),
        explode(concat(col("w"),
          zip_with(
            slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))),
            slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b)))).as("f"))
      .select(col("doc_id"), col("is_t"),
        // coalesce makes `b` non-nullable (it never is), so the dw⋈lr
        // inner join adds no isnotnull(b) pushdown — a pushed filter
        // would make this subtree differ from bt's and defeat
        // ReuseExchange, re-scanning the corpus (PlanSpec-guarded)
        coalesce(pmod(call_function("graft_md5long64", concat(lit("dsir:"), col("f"))),
          lit(buckets.toLong)), lit(0L)).as("b"))
      .groupBy(col("doc_id"), col("is_t"), col("b")).agg(count(lit(1)).as("n_occ"))
    val bt = db.groupBy(col("b")).agg(
      sum(col("n_occ")).as("cr"),
      sum(when(col("is_t"), col("n_occ")).otherwise(0L)).as("ct"))
    // corpus totals via a global window over the ≤`buckets`-row bucket
    // table — bounded single-partition work that keeps the plan LINEAR.
    // A separate totals aggregate re-derives the whole scan subtree
    // (ReuseExchange does not bridge the differing column prunings), so
    // the corpus would be scanned twice. PlanSpec asserts one scan.
    // pmod(b,1)=0 for every row: a one-partition window over ≤`buckets`
    // rows, written non-foldably so WindowExec doesn't warn about a
    // global window (it IS global, and bounded)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(pmod(col("b"), lit(1L)))
    val lr = bt
      .withColumn("r_tot", sum(col("cr")).over(wAll))
      .withColumn("t_tot", sum(col("ct")).over(wAll))
      .select(col("b"),
        round(log(((col("ct") + lit(1.0)) / (col("t_tot") + lit(buckets))) /
                  ((col("cr") + lit(1.0)) / (col("r_tot") + lit(buckets)))) * 1e6, 0)
          .cast("long").as("lr_micro"))
    val dw = db.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id")).agg(
        sum(col("n_occ")).as("n_feats"),
        sum(col("n_occ") * col("lr_micro")).as("w_micro"))
    val th = dw.agg(
      graft.functions.KthSmallest.udaf(topN)(-col("w_micro"), col("doc_id")).as("th"))
    dw.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_feats"),
        round(col("w_micro") / 1e6, 6).as("weight"),
        (-col("w_micro") < col("th._1") ||
          (-col("w_micro") === col("th._1") && col("doc_id") <= col("th._2")))
          .as("selected"))
  }

  /** Curriculum phase assignment — order the corpus cleanest-first (the
    * curriculum-learning discipline: early training sees the
    * highest-quality docs) and split it into `phases` contiguous blocks
    * by exact global NTILE over (quality DESC, doc_id).
    *
    * Scale: NTILE needs a GLOBAL rank, and the naive window
    * (`Window.orderBy` with no partition) funnels the whole corpus
    * through ONE partition — the canonical 100 TB scale-killer. This
    * uses the scalable-global-rank pattern instead: range-repartition on
    * the sort key (Spark's distributed sort machinery), rank WITHIN each
    * partition via an ordinary partitioned window, then add per-
    * partition row-count prefix offsets (a ≤|partitions|-row broadcast).
    * Every stage is parallel; the only driver-side values are the corpus
    * count and partition counts (scalars). Result is EXACTLY the
    * single-window answer: range partitions tile the sort order, so
    * offset + local rank = global rank. */
  val q166Curriculum: Q = Q.sql(
    "q166_curriculum",
    s"""WITH s AS (
       |  ${TextAnalysis.oracleTextStats.replace("\n", "\n  ")})
       |SELECT doc_id, quality,
       |  NTILE(4) OVER (ORDER BY quality DESC, doc_id) AS phase
       |FROM s ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    curriculumOf(TextAnalysis.textStats(s, dir), 4).orderBy(col("doc_id"))
  }

  /** Generic form over any frame carrying (doc_id, quality): returns
    * (doc_id, quality, phase) with phase ∈ 1..`phases` assigned by exact
    * NTILE over (quality DESC, doc_id). */
  private[graft] def curriculumOf(scored: org.apache.spark.sql.DataFrame,
                                  phases: Int): org.apache.spark.sql.DataFrame = {
    require(phases >= 1, s"phases must be >= 1, got $phases")
    import org.apache.spark.sql.expressions.Window
    // sort on quality DESC directly — repartitionByRange accepts sort
    // expressions, so no fixed-point key is needed (a ×1e9 long key
    // collapses sub-1e-9 differences and overflows past ~9.2e9; the
    // facade accepts arbitrary caller-scored frames)
    val keyed = scored.select(col("doc_id"), col("quality"))
    val ranged = keyed
      .repartitionByRange(col("quality").desc, col("doc_id").asc)
      .withColumn("pid", spark_partition_id())
    val local = Window.partitionBy(col("pid"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val withLocal = ranged.withColumn("lrk", row_number().over(local).cast("long"))
    // ≤|partitions| rows: per-partition counts → exclusive prefix offsets
    // one partition over ≤|partitions| rows; pmod(pid,1)=0 written
    // non-foldably so WindowExec doesn't warn about a global window
    val offsets = withLocal.groupBy(col("pid")).agg(count(lit(1)).as("pn"))
      .withColumn("off",
        coalesce(sum(col("pn")).over(
          Window.partitionBy(pmod(col("pid"), lit(1))).orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("pid"), col("off"))
    val n1 = keyed.agg(count(lit(1)).as("n"))
    val p = lit(phases.toLong)
    withLocal.join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(n1))
      .select(col("doc_id"), col("quality"), (col("off") + col("lrk")).as("r"),
        (col("n") % p).as("rem"), expr(s"n DIV ${phases.toLong}").as("base"))
      // NTILE arithmetic from the 1-based global rank r: the first n%P
      // tiles hold ceil(n/P) rows, the rest floor(n/P). Integral `div`,
      // not `/` (which is floating on longs).
      .select(col("doc_id"), col("quality"),
        expr("""CAST(CASE WHEN r <= rem * (base + 1)
               |  THEN (r - 1) DIV (base + 1) + 1
               |  ELSE rem + (r - rem * (base + 1) - 1) DIV base + 1
               |END AS BIGINT)""".stripMargin).as("phase"))
  }

  /** The SPAN-GRAIN curation capstone — q143's doc-grain composition
    * rebuilt from the round-11 span operators, as ONE lazy plan over
    * the q222 corpus/eval convention (doc_id % 20):
    *
    *   CDC dedup ([[Dedup.cdcDedup]] — shift-robust duplicated chunks
    *     cut from all but their keeper occurrence)
    *   → contamination span SPLITTING ([[Decontam.decontamSpans]] over
    *     the DEDUPED text — remove ±2 words around each eval 5-gram
    *     collision, keep ≥3-word pieces)
    *   → quality rule battery at PIECE grain ([[Quality.rulesOf]] with
    *     idCols=(doc_id, piece_id), minWords=10 — pieces are shorter
    *     than documents by construction)
    *   → per-SOURCE token accounting (q202's reporting grain): docs and
    *     words in, words surviving dedup, pieces and words surviving
    *     span splitting, pieces and words passing quality.
    *
    * The oracle replays every stage — CDC boundaries, keeper election,
    * span windows, run slicing, rule ratios, and all four rollups — so
    * the gate checks the COMPOSITION (e.g. spans probing DEDUPED text,
    * not raw text), not each stage alone. All outputs are exact integer
    * counts → partitioning-independent in both engines.
    *
    * Shape at scale: dedup shuffles (doc_id, k, ints) at chunk-hash
    * grain (q225's shape), the span probe broadcasts eval hashes and
    * shuffles only per-doc collision int lists (q222's shape), quality
    * is scan-speed row-local work, and the rollups are |sources|-row
    * aggregates. The corpus joins back to (doc_id, source) twice —
    * both plain long-key joins AQE can broadcast when the cleaned side
    * stays small, never a widening. */
  val q227SpanCuration: Q = Q.sql(
    "q227_span_curation",
    """WITH t0 AS (SELECT doc_id, text, source FROM documents),
      |corp0 AS (SELECT doc_id, string_split(text, ' ') AS w, source FROM t0 WHERE doc_id % 20 != 0),
      |c AS (
      |  SELECT doc_id, w,
      |    [0] || list_filter(range(1, len(w)),
      |      i -> CAST(concat('0x', substr(md5(w[i+1]), 1, 15)) AS BIGINT) % 8 = 0)
      |        || [len(w)] AS b
      |  FROM corp0),
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
      |  GROUP BY ch.doc_id),
      |cleaned AS (
      |  SELECT c.doc_id,
      |    COALESCE(array_to_string(
      |      flatten(list_transform(COALESCE(sps, []),
      |        p -> w[p // 1000000 + 1 : p // 1000000 + p % 1000000])), ' '), '') AS ctext
      |  FROM c LEFT JOIN kept USING (doc_id)),
      |cw AS (SELECT doc_id, string_split(ctext, ' ') AS w, ctext FROM cleaned),
      |ev AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(w) - 3),
      |    i -> CAST(concat('0x', substr(md5(
      |           array_to_string(w[i:i+4], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM (SELECT string_split(text, ' ') AS w FROM t0 WHERE doc_id % 20 = 0) WHERE len(w) >= 5),
      |pos AS (
      |  SELECT doc_id,
      |    unnest(range(0, len(w) - 4)) AS j,
      |    unnest(list_transform(range(0, len(w) - 4),
      |      j -> CAST(concat('0x', substr(md5(
      |             array_to_string(w[j+1:j+5], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM cw WHERE len(w) >= 5),
      |hits AS (
      |  SELECT doc_id, list_sort(list(j)) AS s
      |  FROM pos JOIN ev USING (h) GROUP BY doc_id),
      |m AS (
      |  SELECT cw.doc_id, w, COALESCE(s, []) AS s
      |  FROM cw LEFT JOIN hits USING (doc_id)),
      |cvs AS (
      |  SELECT doc_id, w,
      |    [len(list_filter(s, tt -> tt - 2 <= i - 1 AND i - 1 <= tt + 6)) > 0
      |     FOR i IN range(1, len(w) + 1)] AS cv
      |  FROM m),
      |runs AS (
      |  SELECT doc_id, w,
      |    list_filter(range(0, len(w)), i -> NOT cv[i + 1] AND (i = 0 OR cv[i])) AS st,
      |    list_filter(range(0, len(w)), i -> NOT cv[i + 1] AND (i = len(w) - 1 OR cv[i + 2])) AS en
      |  FROM cvs),
      |p AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(range(0, len(st)),
      |      k -> {'n': en[k + 1] - st[k + 1] + 1,
      |            'txt': array_to_string(w[st[k + 1] + 1 : en[k + 1] + 1], ' ')}),
      |      x -> x.n >= 3) AS ps
      |  FROM runs),
      |pieces AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(ps) + 1)) AS piece_id,
      |    unnest(list_transform(ps, x -> x.txt)) AS ptext
      |  FROM p),
      |pqm AS (
      |  SELECT doc_id, piece_id,
      |    CAST(len(pw) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(pw, x -> len(x))) AS BIGINT) AS wlen_sum,
      |    CAST(len(list_filter(pw, x -> x IN ('the', 'a'))) AS BIGINT) AS stop_n,
      |    CAST(list_max(list_transform(list_distinct(pw),
      |      d2 -> len(list_filter(pw, x -> x = d2)))) AS BIGINT) AS top_n,
      |    CAST(len(list_distinct(pw)) AS BIGINT) AS distinct_n
      |  FROM (SELECT doc_id, piece_id, string_split(ptext, ' ') AS pw FROM pieces)),
      |pq AS (
      |  SELECT doc_id, piece_id, n_words,
      |    n_words >= 10
      |      AND CAST(wlen_sum AS DOUBLE) / n_words >= 3.0
      |      AND CAST(wlen_sum AS DOUBLE) / n_words <= 8.0
      |      AND CAST(stop_n AS DOUBLE) / n_words <= 0.12
      |      AND CAST(top_n AS DOUBLE) / n_words <= 0.15
      |      AND CAST(distinct_n AS DOUBLE) / n_words >= 0.35 AS keep
      |  FROM pqm),
      |src_in AS (
      |  SELECT source, COUNT(*) AS n_docs_in,
      |    CAST(SUM(len(w)) AS BIGINT) AS words_in
      |  FROM corp0 GROUP BY source),
      |src_dedup AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN ctext = '' THEN 0 ELSE len(string_split(ctext, ' ')) END) AS BIGINT) AS words_dedup
      |  FROM cleaned JOIN corp0 USING (doc_id) GROUP BY source),
      |src_pieces AS (
      |  SELECT source,
      |    CAST(COUNT(*) AS BIGINT) AS n_pieces,
      |    CAST(SUM(n_words) AS BIGINT) AS words_spans,
      |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pieces_kept,
      |    CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT) AS words_final
      |  FROM pq JOIN corp0 USING (doc_id) GROUP BY source)
      |SELECT s.source, s.n_docs_in, s.words_in,
      |  COALESCE(d.words_dedup, 0) AS words_dedup,
      |  COALESCE(sp.n_pieces, 0) AS n_pieces,
      |  COALESCE(sp.words_spans, 0) AS words_spans,
      |  COALESCE(sp.n_pieces_kept, 0) AS n_pieces_kept,
      |  COALESCE(sp.words_final, 0) AS words_final
      |FROM src_in s
      |LEFT JOIN src_dedup d USING (source)
      |LEFT JOIN src_pieces sp USING (source)
      |ORDER BY s.source""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    spanCurationOf(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
      .orderBy(col("source"))
  }

  /** The q227 chain over caller frames: `corpus` carries (doc_id, text,
    * source), `evalSet` (doc_id, text). Returns the per-source funnel
    * manifest (source, n_docs_in, words_in, words_dedup, n_pieces,
    * words_spans, n_pieces_kept, words_final), unordered. */
  private[graft] def spanCurationOf(corpus: org.apache.spark.sql.DataFrame,
                                    evalSet: org.apache.spark.sql.DataFrame,
                                    divisor: Int = 8, pad: Int = 2,
                                    minPieceWords: Int = 3,
                                    minQualityWords: Int = 10): org.apache.spark.sql.DataFrame = {
    val cleaned = Dedup.cdcDedup(corpus.select(col("doc_id"), col("text")), divisor)
      .select(col("doc_id"), col("clean_text"))
    val pieces = Decontam.decontamSpans(
      cleaned.select(col("doc_id"), col("clean_text").as("text")),
      evalSet, pad = pad, minWords = minPieceWords)
    val pq = Quality.rulesOf(
      pieces.select(col("doc_id"), col("piece_id"), col("piece_text").as("text")),
      minWords = minQualityWords, idCols = Seq("doc_id", "piece_id"))
    val srcOf = corpus.select(col("doc_id"), col("source"))
    val srcIn = corpus.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs_in"),
      sum(size(split(col("text"), " ")).cast("long")).as("words_in"))
    val srcDedup = cleaned.join(srcOf, "doc_id").groupBy(col("source")).agg(
      sum(when(col("clean_text") === "", 0L)
        .otherwise(size(split(col("clean_text"), " ")).cast("long"))).as("words_dedup"))
    val srcPieces = pq.join(srcOf, "doc_id").groupBy(col("source")).agg(
      count(lit(1)).as("n_pieces"),
      sum(col("n_words")).as("words_spans"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_pieces_kept"),
      sum(when(col("keep"), col("n_words")).otherwise(0L)).as("words_final"))
    srcIn
      .join(srcDedup, Seq("source"), "left")
      .join(srcPieces, Seq("source"), "left")
      .select(col("source"), col("n_docs_in"), col("words_in"),
        coalesce(col("words_dedup"), lit(0L)).as("words_dedup"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("words_spans"), lit(0L)).as("words_spans"),
        coalesce(col("n_pieces_kept"), lit(0L)).as("n_pieces_kept"),
        coalesce(col("words_final"), lit(0L)).as("words_final"))
  }

  val all: Seq[Q] = Seq(q75CuratedCorpus, q143TrainingManifest, q162SourceCap,
    q164DsirSelect, q166Curriculum, q227SpanCuration)
}
