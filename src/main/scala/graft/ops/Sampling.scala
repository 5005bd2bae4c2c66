package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Sampling / split operators (SURVEY.md §2.5 rows 32-35) — the family
  * every reference workload runs before every fit. Cross-engine
  * randomness is not reproducible (Spark's per-partition XORShift vs
  * DuckDB), so these are non-oracle entries; their contracts
  * (determinism across runs for a fixed seed+partitioning, split
  * disjointness/coverage, count windows) are asserted in SamplingSpec.
  *
  * Scale notes: `sample`/`randomSplit` are NARROW — per-partition
  * Bernoulli draws, no shuffle, no driver involvement; they run at scan
  * speed on any cluster. `orderBy(rand(seed)).limit(n)` (the reference's
  * exact-n undersample, MLP.ipynb:63) costs a full range-exchange sort
  * at scale and is kept for parity — Catalyst plans the limit as
  * TakeOrderedAndProject so only n rows survive per partition, but the
  * rand sort key still materializes for every row. Prefer fraction
  * sampling when exact n is not required.
  */
object Sampling {

  /** Seeded Bernoulli fraction sample (model.py:42 / sample(frac)). */
  val q40SampleFraction: Q = Q.noOracle("q40_sample_fraction") { (s, dir) =>
    Tables.documents(s, dir)
      .sample(withReplacement = false, fraction = 0.2, seed = 42)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Seeded randomSplit 80/20 (MLP.ipynb:79) — emits per-split counts;
    * SamplingSpec asserts disjointness and exact coverage. */
  val q41RandomSplit: Q = Q.noOracle("q41_random_split") { (s, dir) =>
    val Array(train, test) =
      Tables.documents(s, dir).randomSplit(Array(0.8, 0.2), seed = 42)
    train.select(lit("train").as("split"), col("doc_id"))
      .union(test.select(lit("test").as("split"), col("doc_id")))
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("split"))
  }

  /** Random-shuffle + limit undersample (MLP.ipynb:63), seeded. */
  val q42RandLimit: Q = Q.noOracle("q42_rand_limit") { (s, dir) =>
    Tables.documents(s, dir)
      .orderBy(rand(42))
      .limit(50)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Two-stage train/val/test split (model.py:90-91: 10% test, then 15%
    * of the remainder as val) via chained seeded randomSplits. */
  val q43TwoStageSplit: Q = Q.noOracle("q43_two_stage_split") { (s, dir) =>
    val Array(rest, test) =
      Tables.documents(s, dir).randomSplit(Array(0.9, 0.1), seed = 1010)
    val Array(train, valid) = rest.randomSplit(Array(0.85, 0.15), seed = 1010)
    train.select(lit("1_train").as("split"), col("doc_id"))
      .union(valid.select(lit("2_val").as("split"), col("doc_id")))
      .union(test.select(lit("3_test").as("split"), col("doc_id")))
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("split"))
  }

  /** Generic deterministic stratified sample: keep each row iff
    * `md5(salt + keyCol) mod 10⁴` falls under its stratum's rate.
    * `rates` maps stratum values (of `stratumCol`) to [0,1] fractions;
    * unlisted strata use `defaultRate`. Membership is a pure function of
    * the key — identical across reruns, partitionings, and engines. */
  private[graft] def stratifiedOf(docs: org.apache.spark.sql.DataFrame,
                                  rates: Map[String, Double],
                                  defaultRate: Double,
                                  salt: String = "strat:"): org.apache.spark.sql.DataFrame = {
    val bucket = call_function("graft_md5long64",
      concat(lit(salt), col("doc_id").cast("string"))) % 10000
    val thresh = rates.foldLeft(lit((defaultRate * 10000).toInt)) {
      case (els, (stratum, rate)) =>
        when(col("lang") === stratum, (rate * 10000).toInt).otherwise(els)
    }
    docs.filter(bucket < thresh)
  }

  /** Deterministic hash-stratified sampling — the scale-correct sibling
    * of `sampleBy`/`sample(frac)`: membership is `md5(salt+doc_id) mod
    * 10⁴ < rateₗₐₙₐ·10⁴`, a pure row-local function of the key. Unlike
    * seeded Bernoulli (whose draws depend on partition layout), the
    * sample is identical across reruns, cluster topologies, AND engines
    * — so this family's one oracle-paired member checks exact membership
    * row by row, not just counts. Rates stratify by language (downsample
    * over-represented 'en', keep minority langs) — the class-rebalance
    * idiom of the reference's undersample (MLP.ipynb:63) without the
    * exact-n range sort. No shuffle: filter + scan only. */
  val q71StratifiedSample: Q = Q.sql(
    "q71_stratified_sample",
    """SELECT doc_id, lang FROM documents
      |WHERE CAST(concat('0x', substr(md5(concat('strat:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000
      |  < CASE WHEN lang = 'en' THEN 2500 WHEN lang = 'zh' THEN 5000 ELSE 7500 END
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    stratifiedOf(Tables.documents(s, dir),
      rates = Map("en" -> 0.25, "zh" -> 0.5), defaultRate = 0.75)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic exact-n sample: top-50 by md5 order — the
    * reproducible twin of q42's `orderBy(rand(seed)).limit(n)`. Same
    * TakeOrderedAndProject physical shape (per-partition top-n, merge on
    * the driver — no full sort materializes), but the order key is a
    * pure function of doc_id, so the selected set is identical across
    * engines, reruns, and partitionings, and the oracle checks exact
    * membership. The hash key also decorrelates the sample from any
    * insertion/clustering order — the property the rand() sort was
    * buying, without the irreproducibility. */
  val q80HashTopnSample: Q = Q.sql(
    "q80_hash_topn_sample",
    """SELECT doc_id, lang FROM documents
      |ORDER BY md5(concat('topn:', CAST(doc_id AS VARCHAR))), doc_id
      |LIMIT 50""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .orderBy(md5(concat(lit("topn:"), col("doc_id").cast("string"))), col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("lang"))
  }

  /** Quality-weighted deterministic sampling — keep each doc with
    * probability proportional to a per-row quality weight (here length:
    * p = min(1, n_chars/400)), the "sample good documents more"
    * pipeline idiom (cf. importance-weighted corpus mixing). The
    * acceptance test is ALL-INTEGER: md5-bucket(doc_id) mod 10⁴ against
    * a threshold of min(10⁴, 25·n_chars) — no floating point anywhere,
    * so membership is bit-exact across engines, reruns, and
    * partitionings, and the weight ramp 48→553 chars spans rates
    * 0.12→1.0 on this corpus. Pure row-local filter: no shuffle, scan
    * speed at any scale. */
  val q116WeightedSample: Q = Q.sql(
    "q116_weighted_sample",
    """SELECT doc_id, lang, n_chars,
      |  CAST(LEAST(10000, 25 * n_chars) AS DOUBLE) / 10000 AS p_keep
      |FROM documents
      |WHERE CAST(concat('0x', substr(md5(concat('wsamp:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000
      |  < LEAST(10000, 25 * n_chars)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val bucket = call_function("graft_md5long64",
      concat(lit("wsamp:"), col("doc_id").cast("string"))) % 10000
    val thresh = least(lit(10000L), lit(25L) * col("n_chars"))
    Tables.documents(s, dir)
      .filter(bucket < thresh)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (thresh.cast("double") / 10000).as("p_keep"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-balanced corpus mixing (τ = ½): resample so each
    * language's share is ∝ √n_lang instead of n_lang — the standard
    * multilingual-pretraining rebalance (rare languages upsampled
    * relative to their raw share, head language downsampled), targeting
    * half the corpus overall. On this corpus: en keeps ~35%, the four
    * tail languages ~60% each.
    *
    * Determinism: √n is ONE correctly-rounded IEEE op on an exact
    * integer (bit-identical in any engine), immediately quantized to
    * milli-units; every later step — weight total, per-stratum
    * threshold, md5-bucket acceptance — is exact int64 arithmetic, so
    * membership is reproducible across engines, reruns, partitionings.
    * (Exact while `N·√N·5·10⁸ < 2⁶³`, i.e. N ≤ ~10⁹ docs; beyond that
    * drop one scale factor.) General temperatures need pow(), which is
    * not portable across libms — τ = ½ is the common default and the
    * one exactly-representable case.
    *
    * Scale: two passes over the corpus (count strata, then filter) —
    * unavoidable since thresholds depend on global counts; both are
    * scan-speed (map-side-combined count; row-local accept filter
    * against a broadcast |langs|-row threshold table). The 1-row weight
    * total rides a broadcast cross join. */
  val q132TemperatureMix: Q = Q.sql(
    "q132_temperature_mix",
    """WITH stats AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000) AS BIGINT) AS w
      |  FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(n_docs) AS BIGINT) AS tn
      |        FROM stats),
      |thr AS (
      |  SELECT lang, n_docs, w,
      |    LEAST(1000000, ((tn // 2) * w * 1000000) // (tw * n_docs)) AS thr_micro
      |  FROM stats CROSS JOIN tot),
      |kept AS (
      |  SELECT d.lang, COUNT(*) AS n_kept
      |  FROM documents d JOIN thr ON d.lang = thr.lang
      |  WHERE CAST(concat('0x', substr(md5(concat('tmix:', CAST(d.doc_id AS VARCHAR))), 1, 15))
      |          AS BIGINT) % 1000000 < thr.thr_micro
      |  GROUP BY d.lang)
      |SELECT t.lang, t.n_docs, t.w, t.thr_micro, COALESCE(k.n_kept, 0) AS n_kept
      |FROM thr t LEFT JOIN kept k ON t.lang = k.lang
      |ORDER BY t.lang""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val thr = temperatureThresholds(docs, "lang")
    val kept = docs
      .join(broadcast(thr.select(col("lang"), col("thr_micro"))), "lang")
      .filter(temperatureAccept(col("doc_id")))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    thr.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("w"), col("thr_micro"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Per-stratum √n temperature (τ = ½) acceptance thresholds for
    * [[temperatureSample]]: (strata, n_docs, w, thr_micro) targeting
    * half the corpus — see [[q132TemperatureMix]] for the exactness and
    * scale contract. */
  private[graft] def temperatureThresholds(docs: DataFrame, strata: String): DataFrame = {
    val stats = docs.groupBy(col(strata)).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs").cast("double")) * 1000))
    val tot = stats.agg(sum(col("w")).as("tw"), sum(col("n_docs")).as("tn"))
    stats.crossJoin(broadcast(tot))
      .select(col(strata), col("n_docs"), col("w"),
        least(lit(1000000L),
          expr("((tn DIV 2) * w * 1000000) DIV (tw * n_docs)")).as("thr_micro"))
  }

  /** md5-bucket acceptance test against an in-scope `thr_micro` column. */
  private def temperatureAccept(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_md5long64",
      concat(lit("tmix:"), id.cast("string"))) % 1000000 < col("thr_micro")

  /** The τ = ½ temperature-rebalanced sample itself: rows of `docs`
    * whose md5 bucket of `id` clears their stratum's threshold.
    * Deterministic membership; input columns pass through. */
  private[graft] def temperatureSample(docs: DataFrame, strata: String,
                                       id: org.apache.spark.sql.Column): DataFrame =
    docs
      .join(broadcast(temperatureThresholds(docs, strata)
        .select(col(strata), col("thr_micro"))), strata)
      .filter(temperatureAccept(id))
      .drop("thr_micro")

  /** Priority sampling (Duffield–Lund–Thorup, JACM '07): a fixed-size
    * weighted sample WITHOUT replacement that carries unbiased
    * subset-sum estimates. Each row draws priority p = w/u (u uniform
    * in (0,1]); the k largest priorities are the sample, τ = the
    * (k+1)-th priority, and each kept row's weight estimator is
    * max(w, τ) — the DLT estimator whose sum is unbiased for ANY
    * subset's true weight total (the property that makes a 100-doc
    * sample answer "how many tokens does lang=de contribute" without
    * rescanning the corpus). When N ≤ k there is no (k+1)-th priority:
    * τ = 0 and every estimate is exactly w.
    *
    * Determinism (the q116/q132 discipline): u = (h mod 2⁵³ + 1)/2⁵³
    * from the shared md5 — h is 60 bits so the mod is an EXACT uniform
    * (2⁵³ divides 2⁶⁰), every integer ≤ 2⁵³ is exactly representable,
    * and /2⁵³ only shifts the exponent, so u is exact; p = w/u is then
    * ONE correctly-rounded IEEE division — bit-identical in any engine,
    * no libm anywhere. Ties (same w, same bucket) break on doc_id in
    * both engines.
    *
    * Scale: priorities are row-local (no shuffle); the top k+1 plans as
    * TakeOrderedAndProject — per-partition partial top-(k+1), merge of
    * partitions·(k+1) rows — so the corpus is scanned once and never
    * exchanged. The two unpartitioned windows after the limit run on
    * the (k+1)-row frame (bounded by the caller's k, not the corpus —
    * the aggregate-grain exception in the window audit). */
  private[graft] def prioritySampleOf(docs: DataFrame, weight: org.apache.spark.sql.Column,
                                      k: Int, salt: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = call_function("graft_md5long64",
      concat(lit(s"$salt:"), col("doc_id").cast("string")))
    val u = ((h % lit(9007199254740992L)) + 1).cast("double") / lit(9.007199254740992e15)
    val top = docs
      .select(col("doc_id"), weight.cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("prio", col("w").cast("double") / u)
      .orderBy(col("prio").desc, col("doc_id"))
      .limit(k + 1)
    val ordered = org.apache.spark.sql.expressions.Window
      .orderBy(col("prio").desc, col("doc_id"))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    top
      .withColumn("rn", row_number().over(ordered))
      .withColumn("tau",
        when(count(lit(1)).over(whole) === k + 1, min(col("prio")).over(whole))
          .otherwise(lit(0.0)))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("w"),
        greatest(col("w").cast("double"), col("tau")).as("w_est"))
      .orderBy(col("doc_id"))
  }

  /** q210: [[prioritySampleOf]] oracle-gated — k = 100 docs weighted by
    * n_chars; DuckDB replays the md5 buckets, the exact u, the single
    * rounded division, and the τ window, so a mis-ranked priority, an
    * off-by-one τ, or a drifted estimator all break the hash. */
  val q210PrioritySample: Q = Q.sql(
    "q210_priority_sample",
    """WITH scored AS (
      |  SELECT doc_id, n_chars AS w,
      |    CAST(n_chars AS DOUBLE) /
      |      (CAST((CAST(concat('0x', substr(md5(concat('prio:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
      |             % 9007199254740992) + 1 AS DOUBLE) / 9007199254740992.0) AS prio
      |  FROM documents WHERE n_chars > 0),
      |top AS (
      |  SELECT doc_id, w, prio,
      |    ROW_NUMBER() OVER (ORDER BY prio DESC, doc_id) AS rn
      |  FROM scored ORDER BY prio DESC, doc_id LIMIT 101),
      |tagged AS (
      |  SELECT doc_id, w, rn,
      |    CASE WHEN COUNT(*) OVER () = 101 THEN MIN(prio) OVER () ELSE 0.0 END AS tau
      |  FROM top)
      |SELECT doc_id, w, GREATEST(CAST(w AS DOUBLE), tau) AS w_est
      |FROM tagged WHERE rn <= 100
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    prioritySampleOf(Tables.documents(s, dir), col("n_chars"), k = 100, salt = "prio")
  }

  /** Stratified priority sampling: [[prioritySampleOf]] run PER STRATUM
    * — k docs per stratum, without replacement, each stratum carrying
    * its own τ so max(w, τ) stays an unbiased subset-sum estimator
    * WITHIN the stratum (the mixture-construction form: "give me k
    * docs per language whose estimates still answer token-accounting
    * questions"). Same exact-u / one-division determinism as q210.
    *
    * Scale: one shuffle on the stratum key; the rank window's
    * `rn <= k+1` filter is pushed into per-partition partial limiting
    * by Catalyst's InferWindowGroupLimit (each task keeps k+1 rows per
    * stratum before the exchange — no stratum's full population ever
    * buffers in one window task); the τ window then runs on the
    * already-limited ≤(k+1)-rows-per-stratum frame. No join, no
    * second corpus scan. */
  private[graft] def stratPrioritySampleOf(docs: DataFrame, strata: String,
                                           weight: org.apache.spark.sql.Column,
                                           k: Int, salt: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = call_function("graft_md5long64",
      concat(lit(s"$salt:"), col("doc_id").cast("string")))
    val u = ((h % lit(9007199254740992L)) + 1).cast("double") / lit(9.007199254740992e15)
    val ranked = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strata)).orderBy(col("prio").desc, col("doc_id"))
    val stratum = org.apache.spark.sql.expressions.Window.partitionBy(col(strata))
    docs
      .select(col(strata), col("doc_id"), weight.cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("prio", col("w").cast("double") / u)
      .withColumn("rn", row_number().over(ranked))
      .filter(col("rn") <= k + 1)
      .withColumn("tau",
        coalesce(max(when(col("rn") === k + 1, col("prio"))).over(stratum), lit(0.0)))
      .filter(col("rn") <= k)
      .select(col(strata), col("doc_id"), col("w"),
        greatest(col("w").cast("double"), col("tau")).as("w_est"))
      .orderBy(col(strata), col("doc_id"))
  }

  /** q212: [[stratPrioritySampleOf]] oracle-gated — k = 40 docs per
    * language weighted by n_chars; DuckDB replays the per-stratum rank,
    * the (k+1)-th-priority τ, and the estimator, so a cross-stratum
    * leak, a wrong τ grain, or a mis-ranked row breaks the hash. */
  val q212StratPrioritySample: Q = Q.sql(
    "q212_strat_priority_sample",
    """WITH scored AS (
      |  SELECT lang, doc_id, n_chars AS w,
      |    CAST(n_chars AS DOUBLE) /
      |      (CAST((CAST(concat('0x', substr(md5(concat('sprio:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
      |             % 9007199254740992) + 1 AS DOUBLE) / 9007199254740992.0) AS prio
      |  FROM documents WHERE n_chars > 0),
      |top AS (
      |  SELECT lang, doc_id, w, prio,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY prio DESC, doc_id) AS rn
      |  FROM scored QUALIFY rn <= 41),
      |tagged AS (
      |  SELECT lang, doc_id, w, rn,
      |    COALESCE(MAX(CASE WHEN rn = 41 THEN prio END) OVER (PARTITION BY lang), 0.0) AS tau
      |  FROM top)
      |SELECT lang, doc_id, w, GREATEST(CAST(w AS DOUBLE), tau) AS w_est
      |FROM tagged WHERE rn <= 40
      |ORDER BY lang, doc_id""".stripMargin
  ) { (s, dir) =>
    stratPrioritySampleOf(Tables.documents(s, dir), "lang", col("n_chars"),
      k = 40, salt = "sprio")
  }

  val all: Seq[Q] = Seq(q40SampleFraction, q41RandomSplit, q42RandLimit, q43TwoStageSplit,
    q71StratifiedSample, q80HashTopnSample, q116WeightedSample, q132TemperatureMix,
    q210PrioritySample, q212StratPrioritySample)
}
