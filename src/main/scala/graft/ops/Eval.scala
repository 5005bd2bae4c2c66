package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q

/** Ranking-metric evaluation — exact distributed ROC-AUC and the
  * precision/recall curve over (score, label) frames: how a quality
  * classifier (the reference's model.eval.py territory, re-expressed at
  * corpus scale) is actually judged before its threshold gates a 100 TB
  * filter. The reference evaluates with sklearn's single-process
  * roc_auc_score / classification_report (model.eval.py); here both
  * metrics are exact integer rank statistics that distribute.
  *
  * Scale design:
  *  - Both metrics reduce the corpus to DISTINCT-SCORE grain first (one
  *    map-side-combined aggregation — ties MUST merge for the rank math
  *    anyway), so all downstream work is |distinct scores| ≤ |corpus|.
  *  - The cumulative-over-scores step is the scalable-global-rank
  *    pattern (q166's): range-repartition on the score, per-partition
  *    prefix via an ordinary partitioned window, then broadcast
  *    ≤|partitions|-row offsets — never a one-partition window.
  *  - All arithmetic is int64 until the single final division (two
  *    exact integers in IEEE double — correctly rounded, so the 9-dp
  *    rounded result is bit-identical cross-engine; the q161 family's
  *    discipline without its libm caveat, since no transcendental is
  *    involved).
  *
  * AUC uses the Mann–Whitney identity with average-rank tie handling:
  *   2·U = Σ_g (2·pos_g·neg_lt_g + pos_g·neg_g),  AUC = 2U / (2·P·N)
  * where g ranges over distinct scores and neg_lt_g counts negatives
  * strictly below g — the exact value sklearn's roc_auc_score computes.
  */
object Eval {

  /** Exclusive running sums of each `(value, out)` in `order`, appended
    * as the `out` columns — scalable: range repartition on the sort
    * key, local window prefixes, broadcast per-partition offsets.
    * Exactly the one-partition `sum(value) OVER (ORDER BY order ROWS
    * UNBOUNDED PRECEDING AND 1 PRECEDING)` without the one-partition
    * funnel; all requested prefixes ride ONE repartition (the local
    * windows and the offsets aggregation share the ranged exchange, so
    * ReuseExchange keeps it a single shuffle of the data). Values must
    * be int64-safe (counts). */
  private[graft] def withExclusivePrefix(df: DataFrame, order: Seq[Column],
                                         values: Seq[(Column, String)]): DataFrame = {
    val ranged = df.repartitionByRange(order: _*)
      .withColumn("__graft_pid", spark_partition_id())
    val local = Window.partitionBy(col("__graft_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = values.foldLeft(ranged) { case (acc, (value, out)) =>
      acc.withColumn(s"__graft_lpre_$out",
        coalesce(sum(value).over(local), lit(0L)))
    }
    // ≤|partitions| rows; pmod(pid,1)=0 keeps WindowExec from flagging a
    // global window (same trick as curriculumOf)
    val offsets = ranged.groupBy(col("__graft_pid"))
      .agg(sum(values.head._1).as(s"__graft_pn_${values.head._2}"),
        values.tail.map { case (value, out) => sum(value).as(s"__graft_pn_$out") }: _*)
    val offW = Window.partitionBy(pmod(col("__graft_pid"), lit(1)))
      .orderBy(col("__graft_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withOff = values.foldLeft(offsets) { case (acc, (_, out)) =>
      acc.withColumn(s"__graft_off_$out",
        coalesce(sum(col(s"__graft_pn_$out")).over(offW), lit(0L)))
    }.select(col("__graft_pid") +: values.map { case (_, out) =>
      col(s"__graft_off_$out")
    }: _*)
    val joined = withLocal.join(broadcast(withOff), Seq("__graft_pid"))
    values.foldLeft(joined) { case (acc, (_, out)) =>
      acc.withColumn(out, col(s"__graft_off_$out") + col(s"__graft_lpre_$out"))
    }.drop("__graft_pid" +: values.flatMap { case (_, out) =>
      Seq(s"__graft_lpre_$out", s"__graft_off_$out")
    }: _*)
  }

  /** Per-GROUP exclusive running sums: like [[withExclusivePrefix]] but
    * the cumulative restarts per distinct value of the `g` column (the
    * input frame's contract: a group column literally named "g") — the
    * sliced-eval building block. Range partitioning on (g, order) may
    * split a group across partitions (that IS the scalability: one
    * giant group still distributes); the per-(pid, g) offsets are
    * prefixed within each group by a window over ≤|partitions| rows per
    * group, never over data. */
  private[graft] def withGroupedExclusivePrefix(df: DataFrame, order: Seq[Column],
                                                values: Seq[(Column, String)]): DataFrame = {
    val ranged = df.repartitionByRange(col("g") +: order: _*)
      .withColumn("__graft_pid", spark_partition_id())
    val local = Window.partitionBy(col("__graft_pid"), col("g")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = values.foldLeft(ranged) { case (acc, (value, out)) =>
      acc.withColumn(s"__graft_lpre_$out",
        coalesce(sum(value).over(local), lit(0L)))
    }
    val offsets = ranged.groupBy(col("__graft_pid"), col("g"))
      .agg(sum(values.head._1).as(s"__graft_pn_${values.head._2}"),
        values.tail.map { case (value, out) => sum(value).as(s"__graft_pn_$out") }: _*)
    // per group, ≤|partitions| rows: exclusive prefix of partition sums
    val offW = Window.partitionBy(col("g")).orderBy(col("__graft_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withOff = values.foldLeft(offsets) { case (acc, (_, out)) =>
      acc.withColumn(s"__graft_off_$out",
        coalesce(sum(col(s"__graft_pn_$out")).over(offW), lit(0L)))
    }.select(col("__graft_pid") +: col("g") +: values.map { case (_, out) =>
      col(s"__graft_off_$out")
    }: _*)
    val joined = withLocal.join(withOff, Seq("__graft_pid", "g"))
    values.foldLeft(joined) { case (acc, (_, out)) =>
      acc.withColumn(out, col(s"__graft_off_$out") + col(s"__graft_lpre_$out"))
    }.drop("__graft_pid" +: values.flatMap { case (_, out) =>
      Seq(s"__graft_lpre_$out", s"__graft_off_$out")
    }: _*)
  }

  /** (score, cnt, pos, neg) at distinct-score grain from a (score, y)
    * frame — y ∈ {0, 1}; null scores/labels are out of the metric's
    * domain and dropped. */
  private def scoreGroups(scored: DataFrame): DataFrame =
    scored.filter(col("score").isNotNull && col("y").isNotNull)
      .groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("y").cast("long")).as("pos"))
      .withColumn("neg", col("cnt") - col("pos"))

  /** Exact ROC-AUC of `scored` (score: orderable numeric, y: 0/1) with
    * average-rank ties — one row (n, n_pos, n_neg, auc). AUC is null
    * for a single-class input (undefined, not 0). */
  private[graft] def aucOf(scored: DataFrame): DataFrame = {
    val g = scoreGroups(scored)
    val pre = withExclusivePrefix(g, Seq(col("score").asc),
      Seq(col("neg") -> "neg_lt"))
    pre.agg(
      sum(col("pos")).as("np"), sum(col("neg")).as("nn"),
      sum(lit(2L) * col("pos") * col("neg_lt") + col("pos") * col("neg")).as("num2"))
      .select(
        (col("np") + col("nn")).as("n"), col("np").as("n_pos"), col("nn").as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          round(col("num2").cast("double") / (lit(2L) * col("np") * col("nn")), 9))
          .as("auc"))
  }

  /** Sliced (per-group) exact ROC-AUC of a (g, score, y) frame — the
    * fairness/QA eval staple: one AUC row per distinct `g` (n, n_pos,
    * n_neg, auc), same Mann–Whitney machinery as [[aucOf]] with every
    * stage group-aware. A giant group still distributes: the grouped
    * prefix range-partitions on (g, score), so no group ever funnels
    * through one partition. */
  private[graft] def aucByOf(scored: DataFrame): DataFrame = {
    val g = scored.filter(col("score").isNotNull && col("y").isNotNull)
      .groupBy(col("g"), col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("y").cast("long")).as("pos"))
      .withColumn("neg", col("cnt") - col("pos"))
    val pre = withGroupedExclusivePrefix(g, Seq(col("score").asc),
      Seq(col("neg") -> "neg_lt"))
    pre.groupBy(col("g"))
      .agg(
        sum(col("pos")).as("np"), sum(col("neg")).as("nn"),
        sum(lit(2L) * col("pos") * col("neg_lt") + col("pos") * col("neg")).as("num2"))
      .select(col("g"),
        (col("np") + col("nn")).as("n"), col("np").as("n_pos"), col("nn").as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          round(col("num2").cast("double") / (lit(2L) * col("np") * col("nn")), 9))
          .as("auc"))
  }

  /** Per-language AUC of the quality score predicting whether a doc
    * contains the token "data" — a label that varies WITHIN every
    * language slice (lang-vs-quality itself is the q180 task; a sliced
    * eval needs intra-slice label variance to be non-degenerate). */
  val q189AucByLang: Q = Q.sql(
    "q189_auc_by_lang",
    s"""WITH sc AS (
       |  SELECT d.lang AS g, s.quality AS score,
       |    CASE WHEN d.text LIKE '%data%' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT doc_id, lang, text FROM documents) d
       |  JOIN (${TextAnalysis.oracleTextStats.replace("\n", "\n  ")}) s
       |    ON s.doc_id = d.doc_id),
       |grp AS (
       |  SELECT g, score, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) - sum(y) AS BIGINT) AS neg
       |  FROM sc GROUP BY g, score),
       |p AS (
       |  SELECT g, pos, neg,
       |    CAST(coalesce(sum(neg) OVER (PARTITION BY g ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS neg_lt
       |  FROM grp),
       |t AS (
       |  SELECT g, CAST(sum(pos) AS BIGINT) AS np, CAST(sum(neg) AS BIGINT) AS nn,
       |    CAST(sum(2 * pos * neg_lt + pos * neg) AS BIGINT) AS num2
       |  FROM p GROUP BY g)
       |SELECT g, np + nn AS n, np AS n_pos, nn AS n_neg,
       |  CASE WHEN np > 0 AND nn > 0
       |       THEN round(CAST(num2 AS DOUBLE) / (2 * np * nn), 9) END AS auc
       |FROM t ORDER BY g""".stripMargin
  ) { (s, dir) =>
    val docs = graft.Tables.documents(s, dir)
    val scored = TextAnalysis.statsOf(docs)
      .select(col("doc_id"), col("lang").as("g"), col("quality").as("score"))
      .join(docs.select(col("doc_id"),
        col("text").contains("data").cast("int").as("y")), Seq("doc_id"))
      .select(col("g"), col("score"), col("y"))
    aucByOf(scored).orderBy(col("g"))
  }

  /** Precision/recall curve of `scored` at every distinct-score
    * threshold t (predict positive iff score ≥ t), descending:
    * (score, tp, fp, fn, precision, recall). The operating-point table
    * a threshold gate is chosen from. */
  private[graft] def prCurveOf(scored: DataFrame): DataFrame = {
    val g = scoreGroups(scored)
    val totals = g.agg(coalesce(sum(col("pos")), lit(0L)).as("np"))
    val pre2 = withExclusivePrefix(g, Seq(col("score").desc),
      Seq(col("pos") -> "pos_gt", col("cnt") -> "cnt_gt"))
    pre2.crossJoin(broadcast(totals))
      .select(col("score"),
        (col("pos_gt") + col("pos")).as("tp"),
        (col("cnt_gt") + col("cnt") - col("pos_gt") - col("pos")).as("fp"),
        (col("np") - col("pos_gt") - col("pos")).as("fn"),
        col("np"))
      .select(col("score"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 9).as("precision"),
        when(col("np") > 0, round(col("tp").cast("double") / col("np"), 9))
          .as("recall"))
  }

  /** Calibration (reliability) table of a (score ∈ [0,1], y ∈ {0,1})
    * frame over `bins` equal-width score buckets: (bin, n, pos,
    * mean_score, frac_pos) — a well-calibrated scorer has mean_score ≈
    * frac_pos per bin. One map-side-combined aggregation at bin grain;
    * mean_score sums exact nano-unit integers (scores are 9-dp data, so
    * round(score·1e9) is lossless), both divisions are exact-int ÷
    * exact-int in IEEE double — bit-stable cross-engine. */
  private[graft] def calibrationOf(scored: DataFrame, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    scored.filter(col("score").isNotNull && col("y").isNotNull)
      .select(
        least(floor(col("score") * bins), lit(bins - 1)).cast("int").as("bin"),
        col("y").cast("long").as("y"),
        round(col("score") * 1e9).cast("long").as("s9"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"), sum(col("s9")).as("ss9"))
      .select(col("bin"), col("n"), col("pos"),
        round(col("ss9").cast("double") / (col("n") * 1e9), 9).as("mean_score"),
        round(col("pos").cast("double") / col("n"), 9).as("frac_pos"))
  }

  /** Cumulative-Poisson(1) thresholds in nano-units: u9 < t(k) ⇒ weight
    * k. Constants of e⁻¹/k! — hardcoded so BOTH engines compare the
    * same integers (no transcendental evaluated in either plan). */
  private[graft] val PoissonCumNano: Seq[Long] = Seq(
    367879441L, 735758882L, 919698603L, 981011843L,
    996340153L, 999405815L, 999916759L, 999989751L)

  private def poissonWeight(u9: Column): Column =
    PoissonCumNano.zipWithIndex.foldRight(lit(PoissonCumNano.length): Column) {
      case ((t, k), acc) => when(u9 < t, lit(k)).otherwise(acc)
    }

  /** Poisson bootstrap of a mean (the MapReduce-native bootstrap: per
    * replicate each row gets an independent Poisson(1) multiplicity, so
    * resampling is a row-local weight — no sampling pass per replicate,
    * no global state). `rows` carries (id: any castable-to-string unique
    * key, cents: int64 fixed-point values); returns one row (n, mean,
    * ci_lo, ci_hi) where the CI brackets are the 2nd-smallest /
    * 2nd-largest of the `b` replicate means (≈ the 94% interval at
    * b = 32) — or no row when `rows` is empty.
    *
    * Determinism: weights are a pure md5 function of (id, replicate) —
    * integer nano-unit uniform against integer thresholds, so
    * membership is bit-exact in both engines; replicate sums are int64.
    *
    * Scale: the explode is b× COMPUTE but the aggregation is
    * map-side-combined to ≤b rows per partition — shuffle volume is
    * b × |partitions| rows, independent of data size; the b-row ranking
    * window is constant-sized. */
  private[graft] def bootstrapMeanOf(rows: DataFrame, b: Int): DataFrame = {
    require(b >= 4, s"need at least 4 replicates for the 2nd/2nd-last CI, got $b")
    val px = rows.select(col("id").cast("string").as("id"), col("cents"))
    // ONE aggregate pass, no row expansion (r15, guide §2.3 "aggregate
    // before you shuffle"): the b replicates used to ride an explode —
    // b× the corpus materialized as rows, shuffled into a b-group
    // aggregate, then a window + two cross joins to pick the CI
    // brackets, with the point estimate re-scanning the input. Each
    // replicate's weight is a pure row-local function of (id, r), so
    // the b weighted sums fold into ONE grouping-free aggregate (2b+2
    // int64 buffers) over the un-expanded scan: identical md5 count,
    // zero Generate, one exchange (the 1-row partial-agg merge), and
    // the point estimate shares the same pass. The CI brackets are the
    // 2nd/2nd-last of the b replicate means — array_sort of a b-wide
    // array inside the single result row, replacing the window (same
    // values: the old (mean_r, r) tie-break only ordered EQUAL means).
    def wgt(r: Int): Column = poissonWeight(
      call_function("graft_md5long64",
        concat_ws(":", col("id"), lit(r.toString))) % 1000000000L)
    val aggs = Seq(count(lit(1)).as("n"), sum(col("cents")).as("s_cents")) ++
      (0 until b).flatMap { r =>
        val w = wgt(r)
        Seq(sum(w).as(s"nr_$r"), sum(w * col("cents")).as(s"sr_$r"))
      }
    val one = px.agg(aggs.head, aggs.tail: _*)
    val meanR = (0 until b).map(r =>
      round(col(s"sr_$r").cast("double") / (col(s"nr_$r") * 100.0), 6))
    val sortedMeans = array_sort(array(meanR: _*))
    // the grouping-free aggregate yields one row even on empty input;
    // an empty sample has no mean and no CI, so it yields no row
    one.filter(col("n") > 0).select(
      col("n"),
      round(col("s_cents").cast("double") / (col("n") * 100.0), 6).as("mean"),
      element_at(sortedMeans, 2).as("ci_lo"),
      element_at(sortedMeans, b - 1).as("ci_hi"))
  }

  /** The shared benchmark task both queries evaluate: the composite
    * quality score as a detector of English documents — exactly the
    * score→binary-gate shape a curation threshold is tuned on. */
  private def qualityVsEnglish(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textStats(s, dir)
      .select(col("quality").as("score"),
        when(col("lang") === "en", 1).otherwise(0).as("y"))

  private val oracleScored: String =
    s"""sc AS (
       |  SELECT quality AS score, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (${TextAnalysis.oracleTextStats.replace("\n", "\n  ")})),
       |g AS (
       |  SELECT score, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) - sum(y) AS BIGINT) AS neg
       |  FROM sc GROUP BY score)""".stripMargin

  /** Exact ROC-AUC of the quality score as an English-detector (the
    * synthetic corpus draws vocabulary uniformly, so the measured AUC is
    * near chance — the computation, not the classifier, is under
    * test). */
  val q180Auc: Q = Q.sql(
    "q180_auc",
    s"""WITH $oracleScored,
       |p AS (
       |  SELECT pos, neg,
       |    CAST(coalesce(sum(neg) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS neg_lt
       |  FROM g),
       |t AS (
       |  SELECT CAST(sum(pos) AS BIGINT) AS np, CAST(sum(neg) AS BIGINT) AS nn,
       |    CAST(sum(2 * pos * neg_lt + pos * neg) AS BIGINT) AS num2
       |  FROM p)
       |SELECT np + nn AS n, np AS n_pos, nn AS n_neg,
       |  CASE WHEN np > 0 AND nn > 0
       |       THEN round(CAST(num2 AS DOUBLE) / (2 * np * nn), 9) END AS auc
       |FROM t""".stripMargin
  ) { (s, dir) => aucOf(qualityVsEnglish(s, dir)) }

  /** The quality-threshold operating-point table for the same task —
    * every (threshold, tp, fp, fn, precision, recall) row a gate could
    * run at. */
  val q181PrCurve: Q = Q.sql(
    "q181_pr_curve",
    s"""WITH $oracleScored,
       |c AS (
       |  SELECT score,
       |    CAST(sum(pos) OVER w AS BIGINT) AS tp,
       |    CAST(sum(cnt - pos) OVER w AS BIGINT) AS fp,
       |    CAST((SELECT sum(pos) FROM g) - sum(pos) OVER w AS BIGINT) AS fn
       |  FROM g
       |  WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT score, tp, fp, fn,
       |  round(CAST(tp AS DOUBLE) / (tp + fp), 9) AS precision,
       |  round(CAST(tp AS DOUBLE) / (tp + fn), 9) AS recall
       |FROM c
       |ORDER BY score DESC""".stripMargin
  ) { (s, dir) =>
    prCurveOf(qualityVsEnglish(s, dir)).orderBy(col("score").desc)
  }

  /** Calibration of the quality score against the English label over 10
    * equal-width bins — the reliability diagram's data. */
  val q183Calibration: Q = Q.sql(
    "q183_calibration",
    s"""WITH $oracleScored,
       |b AS (
       |  SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, y,
       |    CAST(round(score * 1e9) AS BIGINT) AS s9
       |  FROM sc)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos,
       |  round(CAST(sum(s9) AS DOUBLE) / (count(*) * 1e9), 9) AS mean_score,
       |  round(CAST(sum(y) AS DOUBLE) / count(*), 9) AS frac_pos
       |FROM b GROUP BY bin
       |ORDER BY bin""".stripMargin
  ) { (s, dir) =>
    calibrationOf(qualityVsEnglish(s, dir), 10).orderBy(col("bin"))
  }

  private def oracleThresholdCase: String =
    ("CASE " + PoissonCumNano.zipWithIndex
      .map { case (t, k) => s"WHEN u9 < $t THEN $k" }
      .mkString(" ") + s" ELSE ${PoissonCumNano.length} END")

  /** Poisson-bootstrap CI for the mean order value: 32 deterministic
    * md5-keyed Poisson(1)-weighted replicates — the error bar a metric
    * pipeline reports next to every point estimate, computed without a
    * per-replicate sampling pass. */
  val q184BootstrapCi: Q = Q.sql(
    "q184_bootstrap_ci",
    s"""WITH px AS (
       |  SELECT o_orderkey AS id, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |rep AS (
       |  SELECT id, cents, r,
       |    CAST(concat('0x', substr(md5(concat(id, ':', r)), 1, 15)) AS BIGINT)
       |      % 1000000000 AS u9
       |  FROM px, (SELECT unnest(range(0, 32)) AS r)),
       |m AS (
       |  SELECT r,
       |    CAST(sum($oracleThresholdCase) AS BIGINT) AS nr,
       |    CAST(sum(($oracleThresholdCase) * cents) AS BIGINT) AS sr
       |  FROM rep GROUP BY r),
       |mm AS (
       |  SELECT round(CAST(sr AS DOUBLE) / (nr * 100.0), 6) AS mean_r,
       |    ROW_NUMBER() OVER (ORDER BY round(CAST(sr AS DOUBLE) / (nr * 100.0), 6), r) AS rn
       |  FROM m),
       |pt AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    round(CAST(sum(cents) AS DOUBLE) / (count(*) * 100.0), 6) AS mean
       |  FROM px)
       |SELECT pt.n, pt.mean,
       |  (SELECT mean_r FROM mm WHERE rn = 2) AS ci_lo,
       |  (SELECT mean_r FROM mm WHERE rn = 31) AS ci_hi
       |FROM pt""".stripMargin
  ) { (s, dir) =>
    bootstrapMeanOf(
      graft.Tables.orders(s, dir)
        .select(col("o_orderkey").as("id"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
      32)
      .orderBy(col("n"))
  }

  /** NDCG@10 position discounts in micro-units — round(10⁶/log₂(r+1))
    * for ranks 1..10, hardcoded (with their running sums for IDCG) so
    * both engines index the same integer table and no log appears in
    * either plan: the Poisson-threshold trick applied to IR eval. */
  private[graft] val NdcgDiscMicro: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)
  private[graft] val NdcgDiscCumMicro: Seq[Long] = Seq(
    1000000L, 1630930L, 2130930L, 2561607L, 2948460L,
    3304667L, 3638000L, 3953465L, 4254495L, 4543560L)

  /** Retrieval-ranking metrics per query: MRR and NDCG@`k` of a
    * (qid, doc_id, rk) ranking against a (qid, doc_id) relevance set —
    * (qid, n_rel, first_rel, mrr, dcg_micro, idcg_micro, ndcg). DCG
    * sums the hardcoded integer discounts of relevant hits; IDCG
    * indexes their running sum at min(n_rel, k); both divisions are
    * exact-int in IEEE double. NDCG is null when a query has no
    * relevant docs at all (undefined, not 0); MRR is 0 when none of
    * the top-k are relevant.
    *
    * Scale: the ranking side is top-k per query (≤ k·|queries| rows)
    * and the relevance side aggregates to |queries| rows — everything
    * here is query-grain after the inputs; the heavy lifting lives in
    * whatever ranker produced `ranked`. */
  private[graft] def rankingMetricsOf(ranked: DataFrame, rel: DataFrame,
                                      k: Int): DataFrame = {
    require(k >= 1 && k <= NdcgDiscMicro.length,
      s"k must be in [1, ${NdcgDiscMicro.length}], got $k")
    val nrel = rel.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    val hits = ranked.filter(col("rk") <= k)
      .join(rel.withColumn("rel", lit(1)), Seq("qid", "doc_id"), "left")
    val perQ = hits.groupBy(col("qid")).agg(
      min(when(col("rel") === 1, col("rk"))).as("first_rel"),
      coalesce(sum(when(col("rel") === 1,
        element_at(typedLit(NdcgDiscMicro), col("rk").cast("int")))), lit(0L))
        .as("dcg_micro"))
    perQ.join(broadcast(nrel), Seq("qid"), "full")
      .select(col("qid"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("first_rel"),
        coalesce(round(lit(1.0) / col("first_rel"), 9), lit(0.0)).as("mrr"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        // least() skips NULLs (least(NULL, 10) = 10 in BOTH engines), so
        // a no-relevance query must be gated explicitly, not coalesced after
        when(coalesce(col("n_rel"), lit(0L)) >= 1,
          element_at(typedLit(NdcgDiscCumMicro),
            least(col("n_rel"), lit(k.toLong)).cast("int")))
          .otherwise(lit(0L)).as("idcg_micro"))
      .withColumn("ndcg",
        when(col("idcg_micro") > 0,
          round(col("dcg_micro").cast("double") / col("idcg_micro"), 9)))
  }

  /** The probe queries for the registry instance: tiny fixed term sets
    * over the corpus vocabulary. */
  private val ProbeQueries: Seq[(Long, String)] = Seq(
    1L -> "hash", 1L -> "join", 2L -> "scan", 2L -> "batch",
    3L -> "merge", 3L -> "data")

  /** MRR/NDCG@10 of a match-count ranker (score = how many of the
    * query's terms the doc contains, ties by doc_id) against all-terms
    * containment as relevance — the eval harness every retrieval stack
    * (q120/q121/q129) is tuned with. The per-query top-10 window runs
    * over term-matched candidates only (the bounded-probe contract:
    * queries are a fixed benchmark set). */
  val q190RankEval: Q = Q.sql(
    "q190_rank_eval",
    s"""WITH qt AS (
       |  SELECT * FROM (VALUES ${ProbeQueries.map { case (q, t) => s"($q, '$t')" }
            .mkString(", ")}) AS v(qid, t)),
       |toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |  FROM documents),
       |m AS (
       |  SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS score
       |  FROM toks JOIN qt USING (t) GROUP BY qid, doc_id),
       |nt AS (SELECT qid, count(*) AS n_terms FROM qt GROUP BY qid),
       |ranked AS (
       |  SELECT qid, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
       |  FROM m),
       |rel AS (
       |  SELECT m.qid, m.doc_id FROM m JOIN nt ON nt.qid = m.qid
       |  WHERE m.score = nt.n_terms),
       |nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
       |hits AS (
       |  SELECT r.qid, r.rk, CASE WHEN rel.doc_id IS NOT NULL THEN 1 END AS rel
       |  FROM ranked r LEFT JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
       |  WHERE r.rk <= 10),
       |perq AS (
       |  SELECT qid,
       |    min(CASE WHEN rel = 1 THEN rk END) AS first_rel,
       |    CAST(coalesce(sum(CASE WHEN rel = 1 THEN
       |      (${NdcgDiscMicro.mkString("[", ", ", "]")})[rk] END), 0) AS BIGINT)
       |      AS dcg_micro
       |  FROM hits GROUP BY qid)
       |SELECT p.qid, coalesce(n.n_rel, 0) AS n_rel, p.first_rel,
       |  coalesce(round(1e0 / p.first_rel, 9), 0e0) AS mrr,
       |  p.dcg_micro,
       |  CAST(CASE WHEN coalesce(n.n_rel, 0) >= 1
       |       THEN (${NdcgDiscCumMicro.mkString("[", ", ", "]")})[least(n.n_rel, 10)]
       |       ELSE 0 END AS BIGINT) AS idcg_micro,
       |  CASE WHEN coalesce(n.n_rel, 0) > 0
       |       THEN round(CAST(p.dcg_micro AS DOUBLE) /
       |            (${NdcgDiscCumMicro.mkString("[", ", ", "]")})[least(n.n_rel, 10)], 9)
       |  END AS ndcg
       |FROM perq p LEFT JOIN nrel n ON n.qid = p.qid
       |ORDER BY p.qid""".stripMargin
  ) { (s, dir) =>
    val qt = s.createDataFrame(ProbeQueries).toDF("qid", "t")
    val toks = graft.Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
    val m = toks.join(broadcast(qt), Seq("t"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("score"))
    val nt = qt.groupBy(col("qid")).agg(count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    val ranked = m.withColumn("rk", row_number().over(w))
      .select(col("qid"), col("doc_id"), col("rk"))
    val rel = m.join(broadcast(nt), Seq("qid"))
      .filter(col("score") === col("n_terms"))
      .select(col("qid"), col("doc_id"))
    rankingMetricsOf(ranked, rel, 10).orderBy(col("qid"))
  }

  val all: Seq[Q] = Seq(q180Auc, q181PrCurve, q183Calibration, q184BootstrapCi,
    q189AucByLang, q190RankEval)
}
