package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** OLAP analytics beyond plain GROUP BY — the multi-granularity and
  * ranked-window families (extends the reference's groupBy.count /
  * crosstab idioms, MLP.ipynb:53-54,94-95, to the full SQL analytics
  * surface a warehouse user expects).
  *
  * Scale: a GROUPING SETS aggregation is ONE pass — Spark expands each
  * input row to its grouping-set instances before the partial aggregate,
  * so the shuffle carries (sets × groups) pre-aggregated rows, never raw
  * data per set; the union-of-N-group-bys alternative scans N times.
  * Window analytics shuffle once on the partition key and evaluate all
  * ranked/offset functions in a single sort within each partition.
  */
object Analytics {

  import Relational.{dec, msum}

  /** Multi-granularity aggregation via native GROUPING SETS — a set list
    * that is neither a ROLLUP nor a CUBE prefix ((status), (priority)),
    * with grouping_id() disambiguating NULL-as-data from NULL-as-total
    * (both engines put the FIRST listed column in the most significant
    * bit — probed, not assumed). */
  val q86GroupingSets: Q = Q.sql(
    "q86_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  GROUPING(o_orderstatus, o_orderpriority) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        msum(col("o_totalprice")).as("sum_price"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n"), col("sum_price"))
      .orderBy(col("gid"),
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** CUBE — all four granularities of (returnflag, linestatus) in the
    * same single-pass GROUPING SETS expansion as [[q86GroupingSets]]
    * (q17 covers the ROLLUP prefix chain; this completes the §2.4
    * multi-granularity family). One scan, one shuffle of pre-aggregated
    * (set × group) rows; grouping_id() disambiguates the NULL totals. */
  val q98Cube: Q = Q.sql(
    "q98_cube",
    """SELECT l_returnflag, l_linestatus,
      |  GROUPING(l_returnflag, l_linestatus) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        msum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** The ranked/offset window family in one pass: lag/lead, ntile,
    * percent_rank, cume_dist, and an unbounded first_value — one shuffle
    * on o_custkey, one sort per partition, every function evaluated in
    * that sort. Ratios (percent_rank, cume_dist) divide identical
    * integers in both engines → bit-exact doubles; spend_delta subtracts
    * two STORED doubles (no reassociation), equally exact. */
  val q87WindowAnalytics: Q = Q.sql(
    "q87_window_analytics",
    """SELECT o_custkey, o_orderkey,
      |  lag(o_totalprice) OVER w AS prev_price,
      |  lead(o_totalprice) OVER w AS next_price,
      |  o_totalprice - lag(o_totalprice) OVER w AS spend_delta,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  first_value(o_orderkey) OVER w AS first_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    Tables.orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("spend_delta"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first_value(col("o_orderkey")).over(w).as("first_order"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Full outer join — the one §2.3 join type the registry lacked. Both
    * sides filtered so both produce unmatched rows; the nullable key
    * pair (c_custkey, o_orderkey) is a total unique order. */
  val q94FullOuter: Q = Q.sql(
    "q94_full_outer",
    """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
      |FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
      |FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      |  ON c.c_custkey = o.o_custkey
      |ORDER BY c.c_custkey NULLS FIRST, o.o_orderkey NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    val c = Tables.customer(s, dir).filter(col("c_acctbal") > 9000)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  /** Native unpivot (wide → long melt as a FIRST-CLASS operator, not a
    * stack() expression): one row per (id, metric). Values share one
    * type — ints are cast to double; the retail prices are 1-dp
    * decimals, exact in both engines. */
  val q95Unpivot: Q = Q.sql(
    "q95_unpivot",
    """SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
      |ORDER BY p_partkey, metric""".stripMargin
  ) { (s, dir) =>
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")), Array(col("p_retailprice"), col("p_size")),
        "metric", "val")
      .orderBy(col("p_partkey"), col("metric"))
  }

  /** Time-series gap-fill: the dense (hour × event_type) grid over the
    * observed span, zero-filled where no events landed — resampling for
    * downstream models that need equally-spaced series. The hour axis is
    * GENERATED (sequence over the min/max aggregate — a 1-row broadcast,
    * no driver round-trip), so missing hours appear without a second
    * scan; the type dim joins by broadcast. */
  val q96GapFill: Q = Q.sql(
    "q96_gapfill",
    """WITH b AS (
      |  SELECT MIN(epoch_us(ts) // 3600000000) AS hmin,
      |         MAX(epoch_us(ts) // 3600000000) AS hmax
      |  FROM events),
      |h AS (SELECT unnest(generate_series(hmin, hmax)) AS k FROM b),
      |t AS (SELECT DISTINCT event_type FROM events),
      |c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS k, event_type,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT h.k * 3600000000 AS hour_start, t.event_type,
      |  COALESCE(c.n, 0) AS n, COALESCE(c.sum_value, 0.0) AS sum_value
      |FROM h CROSS JOIN t
      |LEFT JOIN c ON c.k = h.k AND c.event_type = t.event_type
      |ORDER BY hour_start, t.event_type""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select((unix_micros(col("ts")) / 3600000000L).cast("long").as("k"),
        col("event_type"), col("value"))
    val hours = ev.agg(min(col("k")).as("hmin"), max(col("k")).as("hmax"))
      .select(explode(sequence(col("hmin"), col("hmax"))).as("k"))
    val types = ev.select(col("event_type")).distinct()
    val counts = ev.groupBy(col("k"), col("event_type"))
      .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"))
    hours.crossJoin(broadcast(types)) // dense axis grid: |hours| × |types|
      .join(counts, Seq("k", "event_type"), "left")
      .select((col("k") * 3600000000L).as("hour_start"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** RANGE-frame rolling window: each event's trailing-24h per-user
    * count and spend — an event-TIME frame (all rows within the
    * interval, ties included as peers), not a row-count frame like q12.
    * The frame bound is exact integer microseconds in both engines. */
  val q97RollingRange: Q = Q.sql(
    "q97_rolling_range",
    """SELECT user_id, event_id, t,
      |  COUNT(*) OVER w AS n_24h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_24h
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY t
      |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, t, event_id""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-86400000000L, 0L)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"), col("value"))
      .select(col("user_id"), col("event_id"), col("t"),
        count(lit(1)).over(w).as("n_24h"),
        sum(dec(col("value"))).over(w).cast("double").as("sum_24h"))
      .orderBy(col("user_id"), col("t"), col("event_id"))
  }

  /** Conversion-window microseconds for each q105 funnel step. */
  private val FunnelWindowUs = 86400000000L // 24 h

  /** Generic ordered funnel over (user_id, event_type, t) rows: per
    * user, the first time of `stages.head`, then for each later stage
    * the first qualifying time strictly after the previous stage and
    * within `windowUs` — plus the furthest `stage` reached. One
    * aggregate-then-equi-join per stage, all co-partitioned on user_id
    * after the first shuffle; per-stage frames are one row per user. */
  private[graft] def funnelOf(events: org.apache.spark.sql.DataFrame,
                              stages: Seq[String], windowUs: Long): org.apache.spark.sql.DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct (each aliases its own t_<stage> column): $stages")
    // null user_id rows can't belong to any user's funnel — drop them
    // ONCE, before the per-stage branches. The filter must sit on the
    // shared subtree: a pushed isnotnull(user_id) in only the
    // inner-join branch would desync the subtrees and re-run every
    // stage aggregate (the q164 ReuseExchange lesson); an identical
    // explicit filter on both keeps them byte-canonical.
    val ev = events.filter(col("user_id").isNotNull)
    val first = ev.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("t")).as(s"t_${stages.head}"))
    val frames = stages.tail.foldLeft(first :: Nil) { (acc, st) =>
      val prevT = acc.head.columns.last
      ev.filter(col("event_type") === st)
        .join(acc.head.select(col("user_id"), col(prevT)), "user_id")
        .filter(col("t") > col(prevT) && col("t") <= col(prevT) + windowUs)
        .groupBy(col("user_id")).agg(min(col("t")).as(s"t_$st")) :: acc
    }.reverse
    val joined = frames.tail.foldLeft(frames.head)((a, b) => a.join(b, Seq("user_id"), "left"))
    val stageN = stages.tail.foldLeft(lit(1))((e, st) => e + col(s"t_$st").isNotNull.cast("int"))
    joined.select(
      (col("user_id") +: stages.map(st => col(s"t_$st"))) :+ stageN.as("stage"): _*)
  }

  /** Ordered-sequence funnel (view → click → purchase, each stage
    * strictly after the previous AND within its 24 h conversion window
    * — the windowed semantics product funnels actually use, and what
    * makes stage drop-off real on this fixture: 150 → 60 → 25 users at
    * sf0.01). Per user: the first qualifying time of each stage plus
    * the furthest stage reached. Each step is an aggregate-then-
    * equi-join on user_id — after the first shuffle every stage is
    * co-partitioned on the key, so the chain costs one logical shuffle;
    * no window over the full event stream, no self-join explosion (the
    * per-stage frames are one row per user). */
  val q105Funnel: Q = Q.sql(
    "q105_funnel",
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
      |             WHERE user_id IS NOT NULL),
      |v AS (SELECT user_id, MIN(t) AS t_view FROM ev
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT ev.user_id, MIN(ev.t) AS t_click FROM ev
      |      JOIN v ON ev.user_id = v.user_id
      |      WHERE ev.event_type = 'click' AND ev.t > v.t_view
      |        AND ev.t <= v.t_view + $FunnelWindowUs GROUP BY ev.user_id),
      |p AS (SELECT ev.user_id, MIN(ev.t) AS t_purchase FROM ev
      |      JOIN c ON ev.user_id = c.user_id
      |      WHERE ev.event_type = 'purchase' AND ev.t > c.t_click
      |        AND ev.t <= c.t_click + $FunnelWindowUs GROUP BY ev.user_id)
      |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
      |  1 + CAST(c.user_id IS NOT NULL AS INT) + CAST(p.user_id IS NOT NULL AS INT) AS stage
      |FROM v
      |LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    funnelOf(ev, Seq("view", "click", "purchase"), FunnelWindowUs)
      .orderBy(col("user_id"))
  }

  /** Cohort retention — the day-over-day activity matrix in long form:
    * users cohorted by first-activity day, one row per (cohort_day,
    * day_offset) with active-user counts and the retention ratio vs
    * the cohort's size. Three aggregations, all keyed by or derived
    * through user_id/cohort — the first shuffle clusters by user, the
    * cohort assignment joins co-partitioned, and the final matrix is
    * tiny (days²). Exact-integer ratio division keeps the rate
    * bit-stable across engines. */
  val q106CohortRetention: Q = Q.sql(
    "q106_cohort_retention",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |coh AS (SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id),
      |sz AS (SELECT cohort_day, COUNT(*) AS cohort_n FROM coh GROUP BY cohort_day),
      |act AS (
      |  SELECT DISTINCT coh.cohort_day, ev.d - coh.cohort_day AS day_offset, ev.user_id
      |  FROM ev JOIN coh ON ev.user_id = coh.user_id),
      |m AS (
      |  SELECT cohort_day, day_offset, COUNT(*) AS active_n
      |  FROM act GROUP BY cohort_day, day_offset)
      |SELECT m.cohort_day, m.day_offset, m.active_n, sz.cohort_n,
      |  CAST(m.active_n AS DOUBLE) / sz.cohort_n AS retention
      |FROM m JOIN sz ON m.cohort_day = sz.cohort_day
      |ORDER BY m.cohort_day, m.day_offset""".stripMargin
  ) { (s, dir) =>
    // null users/timestamps can't cohort — drop them once on the
    // shared subtree (coh is consumed by both sz and the act join;
    // asymmetric isnotnull pushdown would re-derive it from a second
    // events scan — the q164 ReuseExchange lesson)
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        (unix_micros(col("ts")) / 86400000000L).cast("long").as("d"))
    val coh = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    val sz = coh.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_n"))
    val act = ev.join(coh, "user_id")
      .select(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"),
        col("user_id"))
      .distinct()
    act.groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("active_n"))
      .join(sz, "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("active_n"), col("cohort_n"),
        (col("active_n").cast("double") / col("cohort_n")).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Generic exact-moment z-score outliers: rows of `df` whose
    * `valueCol` deviates more than `z` standard deviations from its
    * `groupCol` group's mean. Values must carry ≤2 decimal places and
    * |value| < 10^16 (both moments go through DECIMAL(18,2); squares
    * accumulate in DECIMAL(38,4), comfortable for |value| up to ~10^8
    * at any realistic row count — far past the old DECIMAL(9,2) bound
    * that silently nulled sums at 10^7 under non-ANSI mode). Appends
    * `zscore`; the moment table is groups-sized and broadcasts. Temp
    * moment columns are graft-prefixed so user columns can't collide. */
  private[graft] def outliersOf(df: org.apache.spark.sql.DataFrame, groupCol: String,
                                valueCol: String, z: Double): org.apache.spark.sql.DataFrame = {
    val m = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__graft_n"),
      sum(dec(col(valueCol))).cast("double").as("__graft_s"),
      sum(dec(col(valueCol)) * dec(col(valueCol))).cast("double").as("__graft_sq"))
    val (n, s, sq) = (col("__graft_n"), col("__graft_s"), col("__graft_sq"))
    df.join(broadcast(m), groupCol)
      .withColumn("zscore",
        (col(valueCol) - s / n) / sqrt((sq - s * s / n) / (n - 1)))
      .filter(abs(col("zscore")) > z)
      .drop("__graft_n", "__graft_s", "__graft_sq")
  }

  /** Per-group z-score outliers with EXACT moments: engines disagree on
    * stddev internals (Welford vs naive accumulation ⇒ different float
    * rounding), so mean/variance are derived from exact DECIMAL sums of
    * x and x² ([[outliersOf]]) and only then combined in a fixed double
    * formula both engines execute identically. One partial+final
    * aggregate for the 5-row moment table, broadcast back onto the
    * stream — the scan never shuffles. The same pattern generalizes to
    * any moment-based sketch a 1000-executor run must keep
    * partition-count-independent. */
  val q107Outliers: Q = Q.sql(
    "q107_outliers",
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq
      |  FROM events GROUP BY event_type),
      |z AS (
      |  SELECT e.event_id, e.event_type, e.value,
      |    (e.value - m.s / m.n) / sqrt((m.sq - m.s * m.s / m.n) / (m.n - 1)) AS zscore
      |  FROM events e JOIN m ON e.event_type = m.event_type)
      |SELECT event_id, event_type, value, zscore
      |FROM z WHERE abs(zscore) > 2.0
      |ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    outliersOf(Tables.events(s, dir), "event_type", "value", 2.0)
      .select(col("event_id"), col("event_type"), col("value"), col("zscore"))
      .orderBy(col("event_id"))
  }

  /** One dialect-portable ANSI SQL text, executed VERBATIM by
    * `spark.sql` here and by DuckDB as the oracle — the SQL-first entry
    * point a warehouse user expects from the engine (every other
    * registry query goes through the DataFrame DSL; this one proves the
    * string surface is equivalent). Catalyst plans it exactly like the
    * DSL form: pushed filters, partial aggregates, AQE joins. */
  private val SharedSql: String =
    """SELECT o.o_orderpriority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_totalprice > 150000 AND l.l_discount >= 0.05
      |GROUP BY o.o_orderpriority
      |HAVING COUNT(*) > 10
      |ORDER BY o.o_orderpriority""".stripMargin

  val q108SqlSurface: Q = Q.sql("q108_sql_surface", SharedSql) { (s, dir) =>
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(SharedSql)
  }

  /** Per-group MODE (most frequent event_type per user), deterministic:
    * ties break on event_type ascending, so the answer is partition-
    * independent. Spark has no mode aggregate with a defined tie-break
    * (`mode()` is underspecified on ties, `max_by` likewise) — the
    * portable form is count-then-rank.
    *
    * Scale: the heavy aggregation runs at (user, type) grain with
    * map-side combine; the ranking window then sees at most |types| rows
    * per user — the sort inside each window partition is over a handful
    * of rows, so the second Exchange moves the already-tiny count table
    * only. Never rank raw events directly. */
  val q114ModePerGroup: Q = Q.sql(
    "q114_mode_per_group",
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, event_type, n, ROW_NUMBER() OVER (
      |    PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
      |  FROM c)
      |SELECT user_id, event_type AS mode_type, n
      |FROM r WHERE rn = 1
      |ORDER BY user_id""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
      .orderBy(col("user_id"))
  }

  /** First-order Markov transition matrix over each user's event stream:
    * (src → dst) counts and row-normalized probabilities — the
    * next-action model behind path analysis ("what follows a view?").
    *
    * Scale: ONE shuffle on user_id computes every adjacent pair via
    * lead() (never a self-join of the event stream on position), then
    * the pair counts aggregate at |types|² grain with map-side combine.
    * The probability denominator is a window sum over that |types|²
    * table — negligible. Probabilities divide two exact int64 counts
    * cast to double → bit-identical in both engines. */
  val q115Transitions: Q = Q.sql(
    "q115_transitions",
    """WITH seq AS (
      |  SELECT event_type AS src, LEAD(event_type) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM events),
      |c AS (
      |  SELECT src, dst, COUNT(*) AS n
      |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
      |FROM c
      |ORDER BY src, dst""".stripMargin
  ) { (s, dir) =>
    transitionsOf(Tables.events(s, dir),
      col("user_id"), Seq(col("ts"), col("event_id")), col("event_type"))
      .orderBy(col("src"), col("dst"))
  }

  /** Generic first-order transition matrix: within each `key` sequence
    * ordered by `order` (must be a total order per key), count adjacent
    * (src → dst) `state` pairs and row-normalize → (src, dst, n, p).
    * One shuffle on key; see [[q115Transitions]] for the scale
    * contract. */
  private[graft] def transitionsOf(df: org.apache.spark.sql.DataFrame,
                                   key: org.apache.spark.sql.Column,
                                   order: Seq[org.apache.spark.sql.Column],
                                   state: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val byKey = Window.partitionBy(key).orderBy(order: _*)
    val bySrc = Window.partitionBy(col("src"))
    df.select(state.as("src"), lead(state, 1).over(byKey).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") / sum(col("n")).over(bySrc).cast("double"))
  }

  /** Per-group min-max feature scaling: v_norm = (v - min)/(max - min)
    * within each event_type — the normalization stage of a feature
    * pipeline, as a query.
    *
    * Scale: aggregate-then-broadcast, NOT a window. A window
    * `min/max OVER (PARTITION BY event_type)` would shuffle the whole
    * fact table into |types| partitions — a handful of single-threaded
    * sorts at 100 TB. The range table is |types| rows: aggregate it
    * (map-side combined), broadcast it back, and the normalization is a
    * row-local expression on an unshuffled scan. Degenerate max == min
    * groups normalize to 0. The subtract/divide chain is the identical
    * IEEE double expression in both engines. */
  val q117MinmaxScale: Q = Q.sql(
    "q117_minmax_scale",
    """WITH r AS (
      |  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      |  FROM events GROUP BY 1)
      |SELECT e.event_id, e.event_type, e.value,
      |  CASE WHEN r.hi = r.lo THEN 0.0
      |       ELSE (e.value - r.lo) / (r.hi - r.lo) END AS v_norm
      |FROM events e JOIN r USING (event_type)
      |ORDER BY e.event_id""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val ranges = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.join(broadcast(ranges), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("hi") === col("lo"), 0.0)
          .otherwise((col("value") - col("lo")) / (col("hi") - col("lo")))
          .as("v_norm"))
      .orderBy(col("event_id"))
  }

  /** Percent-of-parent rollup: each nation's revenue share WITHIN its
    * region — the hierarchy-share pattern every BI layer generates.
    *
    * Scale: the share window runs over the NATION-grain aggregate
    * (≤|nations| rows), never the fact table — the only heavy work is
    * the orders⋈customer equi-shuffle feeding one map-side-combined
    * aggregation; the nation dim rides a broadcast. Revenue stays
    * DECIMAL through both the group sum and the window sum, so the
    * share divides two exact totals (as doubles) — partition-order-free
    * on any cluster. */
  val q124ShareOfParent: Q = Q.sql(
    "q124_share_of_parent",
    """WITH rev AS (
      |  SELECT n.n_regionkey AS region, c.c_nationkey AS nation,
      |    SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2)
      |SELECT region, nation, CAST(s AS DOUBLE) AS revenue,
      |  CAST(s AS DOUBLE) / CAST(SUM(s) OVER (PARTITION BY region) AS DOUBLE) AS share
      |FROM rev
      |ORDER BY region, nation""".stripMargin
  ) { (s, dir) =>
    import Relational.dec
    val byRegion = Window.partitionBy(col("region"))
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").as("region"), col("c_nationkey").as("nation"))
      .agg(sum(dec(col("o_totalprice"))).as("s"))
      .select(col("region"), col("nation"), col("s").cast("double").as("revenue"),
        (col("s").cast("double") / sum(col("s")).over(byRegion).cast("double")).as("share"))
      .orderBy(col("region"), col("nation"))
  }

  /** RFM user features — recency (micros since the corpus's last
    * event), frequency, monetary (exact DECIMAL), distinct active days:
    * the canonical segmentation features, one hash aggregation at user
    * grain. The global max timestamp is a 1-row broadcast cross join
    * (scalar subquery in the oracle), so nothing rescans or reshuffles
    * the fact table for it. */
  val q125RfmFeatures: Q = Q.sql(
    "q125_rfm_features",
    """SELECT user_id,
      |  CAST((SELECT MAX(epoch_us(ts)) FROM events) - MAX(epoch_us(ts)) AS BIGINT)
      |    AS recency_us,
      |  COUNT(*) AS frequency,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary,
      |  CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS active_days
      |FROM events GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  ) { (s, dir) =>
    import Relational.dec
    val ev = Tables.events(s, dir)
    val corpusMax = ev.agg(max(unix_micros(col("ts"))).as("_max_us"))
    ev.groupBy(col("user_id"))
      .agg(
        max(unix_micros(col("ts"))).as("_user_max"),
        count(lit(1)).as("frequency"),
        sum(dec(col("value"))).cast("double").as("monetary"),
        countDistinct(expr("unix_micros(ts) DIV 86400000000")).as("active_days"))
      .crossJoin(broadcast(corpusMax))
      .select(col("user_id"),
        (col("_max_us") - col("_user_max")).as("recency_us"),
        col("frequency"), col("monetary"), col("active_days"))
      .orderBy(col("user_id"))
  }

  /** Median/MAD robust outliers of `valueCol` within `groupCol` groups
    * at |robust_z| > `z` — see [[q133MadOutliers]] for the determinism
    * and scale contract. Emits (input cols…, d, robust_z).
    *
    * Groups with MAD = 0 (more than half the values equal the median —
    * discrete or constant data) are EXCLUDED: they have no robust scale
    * to score against, and dividing by zero would emit IEEE Infinity on
    * Spark while DuckDB's result depends on its ieee_floating_point_ops
    * setting — the cross-engine determinism contract forbids that
    * branch, so the degenerate groups flag nothing. */
  private[graft] def madOutliersOf(df: org.apache.spark.sql.DataFrame, groupCol: String,
                                   valueCol: String, z: Double): org.apache.spark.sql.DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(round(percentile(col(valueCol).cast("double"), lit(0.5)), 6).as("__graft_med"))
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("d", col(valueCol) - col("__graft_med"))
    val mad = dev.groupBy(col(groupCol))
      .agg(round(percentile(abs(col("d")), lit(0.5)), 6).as("__graft_mad"))
    dev.join(broadcast(mad), groupCol)
      .filter(col("__graft_mad") > 0 &&
        abs(col("d")) > lit(z) * lit(1.4826) * col("__graft_mad"))
      .withColumn("robust_z", round(col("d") / (lit(1.4826) * col("__graft_mad")), 6))
      .drop("__graft_med", "__graft_mad")
  }

  /** Robust (median/MAD) per-group outliers — the heavy-tail-safe
    * companion to [[q107Outliers]]'s moment z-score (one extreme value
    * shifts a mean/stddev arbitrarily; it moves a median/MAD not at
    * all). robust_z = (x − median) / (1.4826·MAD), flagged at |z| > 3.
    *
    * Determinism: both medians are interpolated identically by Spark
    * `percentile` and DuckDB `quantile_cont` and rounded to 6 dp before
    * any reuse (q68's contract); everything after is correctly-rounded
    * IEEE double arithmetic on identical inputs, so the flag set and
    * scores are bit-identical across engines and partitionings.
    *
    * Scale: two grouped exact percentiles (the 100 TB path swaps in
    * mergeable `approx_percentile` — q69's sketch — with no other plan
    * change) + a groups-sized broadcast back onto the stream; the scan
    * itself never shuffles. */
  val q133MadOutliers: Q = Q.sql(
    "q133_mad_outliers",
    """WITH med AS (
      |  SELECT event_type, round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_id, e.event_type, e.value, e.value - m.med AS d
      |  FROM events e JOIN med m ON e.event_type = m.event_type),
      |mad AS (
      |  SELECT event_type, round(quantile_cont(abs(d), 0.5), 6) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_id, d.event_type, d.value,
      |  round(d.d / (1.4826 * m.mad), 6) AS robust_z
      |FROM dev d JOIN mad m ON d.event_type = m.event_type
      |WHERE m.mad > 0 AND abs(d.d) > 3 * 1.4826 * m.mad
      |ORDER BY d.event_id""".stripMargin
  ) { (s, dir) =>
    madOutliersOf(
      Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
      "event_type", "value", 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("robust_z"))
      .orderBy(col("event_id"))
  }

  /** ABC/Pareto classes for any (key, measure) — aggregates `measure`
    * (exact DECIMAL) per `key`, then classes by running revenue share —
    * see [[q134AbcClass]] for the determinism and scale contract.
    * Emits (key, revenue, cum_share, abc). */
  private[graft] def abcOf(df: org.apache.spark.sql.DataFrame,
                           key: org.apache.spark.sql.Column,
                           measure: org.apache.spark.sql.Column,
                           aCut: Double = 0.80, bCut: Double = 0.95): org.apache.spark.sql.DataFrame = {
    val agg = df.groupBy(key.as("__graft_key")).agg(sum(dec(measure)).as("rev"))
    val pref = Eval.withExclusivePrefix(agg,
      Seq(col("rev").desc, col("__graft_key")),
      Seq((col("rev"), "__graft_cum_excl")))
    val tot = agg.agg(sum(col("rev")).as("tot"))
    val share = col("cum").cast("double") / col("tot").cast("double")
    pref.crossJoin(broadcast(tot))
      .withColumn("cum", col("__graft_cum_excl") + col("rev"))
      .select(col("__graft_key").as("key"), col("rev").cast("double").as("revenue"),
        share.as("cum_share"),
        when(share <= aCut, "A").when(share <= bCut, "B").otherwise("C").as("abc"))
  }

  /** ABC / Pareto classification: parts ranked by revenue, classed A
    * while the running revenue share ≤ 80%, B ≤ 95%, else C — the
    * inventory-analysis standard.
    *
    * Determinism: revenue and its running total are exact DECIMAL sums
    * (the window order is totalized by the partkey tiebreak), the share
    * divides two exact totals as doubles, and the class thresholds
    * compare those deterministic doubles — partition-count-independent.
    *
    * Scale: the fact scan collapses to a part-grain aggregate (one
    * equi-shuffle, map-side combined) BEFORE any window; the running
    * total is then the scalable-global-prefix pattern
    * ([[Eval.withExclusivePrefix]], q166/q180's recipe): range
    * repartition on (rev desc, key), per-partition window prefixes,
    * broadcast ≤|partitions|-row offsets — at TPC-H sf100 |parts| is
    * 20M, which a one-reducer `Window.orderBy` would sort on a single
    * task (VERDICT r9 item 5); this shape never funnels. The grand
    * total is a 1-row aggregate cross-joined back (exact DECIMAL both
    * legs, so the shares stay partition-order-deterministic). */
  val q134AbcClass: Q = Q.sql(
    "q134_abc_class",
    """WITH r AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |c AS (
      |  SELECT l_partkey, rev,
      |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
      |                   ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(rev) OVER () AS tot
      |  FROM r)
      |SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue,
      |  CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share,
      |  CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.80 THEN 'A'
      |       WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95 THEN 'B'
      |       ELSE 'C' END AS abc
      |FROM c
      |ORDER BY l_partkey""".stripMargin
  ) { (s, dir) =>
    abcOf(Tables.lineitem(s, dir), col("l_partkey"), col("l_extendedprice"))
      .withColumnRenamed("key", "l_partkey")
      .orderBy(col("l_partkey"))
  }

  /** Time-weighted average value per user — each event's value "held"
    * until the user's next event, weighted by the hold duration: the
    * correct mean for irregularly-sampled state (sensor readings,
    * account balances, prices), where the arithmetic mean over-weights
    * bursts. The last event of each user carries no duration and is
    * excluded (standard TWA convention over a finite horizon).
    *
    * Determinism: durations are exact integer microseconds, the
    * weighted sum runs in DECIMAL × int64 (exact, order-free), and only
    * the final ratio divides the two exact totals as doubles. The
    * weighted total scaled ×100 exceeds 2⁵³ here, so the decimal→double
    * cast itself is the one rounding step engines may disagree on by an
    * ulp — the ratio is therefore rounded to 6 dp (q68's contract).
    *
    * Scale: ONE hash exchange on user_id — the window sort and the
    * final per-user aggregate share the same partitioning, so the
    * aggregate reuses the window's shuffle (plan-asserted). */
  val q136TimeWeighted: Q = Q.sql(
    "q136_time_weighted",
    """WITH d AS (
      |  SELECT user_id, value,
      |    epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      |      - epoch_us(ts) AS dur_us
      |  FROM events)
      |SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(dur_us) AS BIGINT) AS total_us,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2)) * dur_us) AS DOUBLE)
      |    / CAST(SUM(dur_us) AS DOUBLE), 6) AS twa
      |FROM d WHERE dur_us IS NOT NULL AND dur_us > 0
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("value"),
        (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))).as("dur_us"))
      .filter(col("dur_us").isNotNull && col("dur_us") > 0)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dur_us")).as("total_us"),
        round(sum(dec(col("value")) * col("dur_us")).cast("double")
          / sum(col("dur_us")).cast("double"), 6).as("twa"))
      .orderBy(col("user_id"))
  }

  /** Gap interpolation — q96's dense grid with LINEAR interpolation
    * across the missing cells instead of zero-fill: the resample-to-
    * uniform-grid step of any time-series feature pipeline. Each absent
    * (hour, type) cell gets `pv + (nv − pv)·(k − pk)/(nk − pk)` from its
    * bracketing observations; cells outside the observed range stay
    * NULL (no extrapolation).
    *
    * Determinism: observed values are exact DECIMAL sums cast to double
    * (small magnitudes, exact), grid positions are exact int64 hours,
    * and the interpolation is ONE fixed IEEE expression both engines
    * evaluate on identical inputs.
    *
    * Scale: the IGNORE NULLS window pair runs per event_type over the
    * GRID (|hours|·|types| rows, not raw events) on one hash exchange;
    * the heavy work remains the map-side-combined hourly aggregate. */
  val q139Interpolate: Q = Q.sql(
    "q139_interpolate",
    """WITH b AS (
      |  SELECT MIN(epoch_us(ts) // 3600000000) AS hmin,
      |         MAX(epoch_us(ts) // 3600000000) AS hmax
      |  FROM events),
      |h AS (SELECT unnest(generate_series(hmin, hmax)) AS k FROM b),
      |t AS (SELECT DISTINCT event_type FROM events),
      |c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS k, event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT h.k, t.event_type, c.v
      |  FROM h CROSS JOIN t
      |  LEFT JOIN c ON c.k = h.k AND c.event_type = t.event_type),
      |n AS (
      |  SELECT k, event_type, v,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN k END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pk,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY k
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN k END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY k
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nk
      |  FROM g)
      |SELECT k * 3600000000 AS hour_start, event_type, v AS v_obs,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN pv IS NULL OR nv IS NULL THEN NULL
      |       ELSE pv + (nv - pv) * (CAST(k - pk AS DOUBLE) / CAST(nk - pk AS DOUBLE))
      |  END AS v_interp
      |FROM n
      |ORDER BY hour_start, event_type""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select((unix_micros(col("ts")) / 3600000000L).cast("long").as("k"),
        col("event_type"), col("value"))
    val hours = ev.agg(min(col("k")).as("hmin"), max(col("k")).as("hmax"))
      .select(explode(sequence(col("hmin"), col("hmax"))).as("k"))
    val types = ev.select(col("event_type")).distinct()
    val obs = ev.groupBy(col("k"), col("event_type"))
      .agg(msum(col("value")).as("v"))
    val wp = Window.partitionBy(col("event_type")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy(col("event_type")).orderBy(col("k"))
      .rowsBetween(1, Window.unboundedFollowing)
    hours.crossJoin(broadcast(types))
      .join(obs, Seq("k", "event_type"), "left")
      .select(col("k"), col("event_type"), col("v"),
        last(col("v"), ignoreNulls = true).over(wp).as("pv"),
        last(when(col("v").isNotNull, col("k")), ignoreNulls = true).over(wp).as("pk"),
        first(col("v"), ignoreNulls = true).over(wn).as("nv"),
        first(when(col("v").isNotNull, col("k")), ignoreNulls = true).over(wn).as("nk"))
      .select((col("k") * 3600000000L).as("hour_start"), col("event_type"),
        col("v").as("v_obs"),
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull || col("nv").isNull, lit(null))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * ((col("k") - col("pk")).cast("double") / (col("nk") - col("pk")).cast("double")))
          .as("v_interp"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Per-group OLS trend line (slope + intercept) from EXACT moments —
    * the engines' built-in regr_slope accumulate floats in stream order
    * (not reproducible across partitionings), so slope is derived from
    * exact sums in one fixed IEEE expression, the q107/q119 recipe
    * extended to regression. x is day-since-epoch recentred by a
    * constant so every intermediate stays far below 2⁵³.
    *
    * Scale: one map-side-combined grouped aggregate over the scan;
    * output is |groups| rows. */
  val q140TrendLines: Q = Q.sql(
    "q140_trend_lines",
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(epoch_us(ts) // 86400000000 - 19700) AS sx,
      |    SUM((epoch_us(ts) // 86400000000 - 19700)
      |        * (epoch_us(ts) // 86400000000 - 19700)) AS sxx,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))
      |        * (epoch_us(ts) // 86400000000 - 19700)) AS DOUBLE) AS sxy
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
      |FROM m
      |ORDER BY event_type""".stripMargin
  ) { (s, dir) =>
    val m = Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        expr("unix_micros(ts) DIV 86400000000 - 19700").as("x"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(dec(col("value"))).cast("double").as("sy"),
        sum(dec(col("value")) * col("x")).cast("double").as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    m.select(col("event_type"), col("n"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Per-user behavioral diversity as GINI IMPURITY over the event-type
    * distribution: 1 − Σ p_t². The log-free diversity metric — Shannon
    * entropy needs ln, which is not bit-portable across libms (the
    * q76/q82 lesson), while Gini is a pure ratio of exact integer
    * sums: deterministic on any engine at any partitioning.
    *
    * Scale: two stacked map-side-combined aggregates — (user, type)
    * grain then user grain — both shuffles carry pre-aggregated counts;
    * the second groupBy reuses the first's hash partitioning prefix. */
  val q141GiniDiversity: Q = Q.sql(
    "q141_gini_diversity",
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
      |t AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot,
      |        CAST(SUM(n*n) AS BIGINT) AS sq FROM c GROUP BY 1)
      |SELECT user_id, tot AS n_events,
      |  1.0 - CAST(sq AS DOUBLE) / CAST(tot * tot AS DOUBLE) AS gini
      |FROM t ORDER BY user_id""".stripMargin
  ) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("tot"), sum(col("n") * col("n")).as("sq"))
      .select(col("user_id"), col("tot").as("n_events"),
        (lit(1.0) - col("sq").cast("double")
          / (col("tot") * col("tot")).cast("double")).as("gini"))
      .orderBy(col("user_id"))
  }

  /** Baskets larger than this are excluded from PAIR GENERATION (item
    * frequencies and the basket total stay exact, so surviving lifts are
    * unchanged): a mega-basket of n items fans out C(n,2) pairs from ONE
    * row — a 10⁶-item basket is 5·10¹¹ pairs plus an unbounded
    * `collect_set` buffer. Same discipline as [[Dedup.MaxShingleDf]]:
    * the cap is a pure pathological-data guard (observed basket max at
    * sf0.1 is 7) and trades only the co-occurrence counts INSIDE capped
    * baskets — a basket that large carries no association signal anyway
    * (every pair in it is "bought together" once, diluting lift).
    * Residual: the `collect_set` buffer still holds a capped basket's
    * item array once (linear in basket size, ~8 MB at 10⁶ items) before
    * the filter drops it — linear and spillable, unlike the C(n,2) pair
    * fan-out this cap eliminates. */
  private[graft] val MaxBasketSize = 1024

  /** Generic basket lift over any (basket, item) frame: item pairs
    * co-occurring in ≥ `minSupport` baskets, lift from exact counts —
    * see [[q144MarketBasket]] for the contract. Emits
    * (item_a, item_b, n_both, lift). */
  private[graft] def basketLiftOf(df: org.apache.spark.sql.DataFrame,
                                  basket: org.apache.spark.sql.Column,
                                  item: org.apache.spark.sql.Column,
                                  minSupport: Long = 3L,
                                  maxBasketSize: Int = MaxBasketSize): org.apache.spark.sql.DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    // baskets collect to sorted item sets on ONE basket exchange, then
    // every C(n,2) pair is generated ROW-LOCALLY — no basket self-join
    // (which would shuffle the (basket, item) stream a second time and
    // hash-probe it against itself). Pair fan-out is bounded by
    // C(maxBasketSize, 2) per row: mega-baskets are dropped from the
    // pair branch only (see [[MaxBasketSize]]). Item frequencies and
    // the basket total derive from the same frame and stay exact.
    // The basket frame is CHECKPOINTED once (r15, guide §2.4): it fans
    // into THREE actions' subtrees — the pair branch, the item-
    // frequency table, and the basket total — whose differing column
    // prunings (n_orders needs no items array) make the aggregate
    // subtrees unequal, defeating ReuseExchange; without the
    // materialization each consumer re-scanned the input and re-ran
    // the collect_set aggregation (3 scans / 3 basket exchanges
    // statically at r15 baseline).
    val baskets = Barrier.pin(
      df.groupBy(basket.as("__graft_basket"))
        .agg(sort_array(collect_set(item)).as("items")))
    val pc = baskets
      .select(explode(col("items")).as("__graft_item"))
      .groupBy(col("__graft_item")).agg(count(lit(1)).as("n"))
    val no = baskets.agg(count(lit(1)).as("n_orders"))
    baskets
      // sequence() DESCENDS for start>stop, hence the >= 2 floor; the
      // upper bound is the mega-basket guard
      .filter(size(col("items")).between(2, maxBasketSize))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(items) - 2), i ->
          |  transform(sequence(i + 1, size(items) - 1), j ->
          |    struct(items[i] AS item_a, items[j] AS item_b))))""".stripMargin)).as("p"))
      .select(col("p.item_a"), col("p.item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
      .join(pc.select(col("__graft_item").as("item_a"), col("n").as("na")), "item_a")
      .join(pc.select(col("__graft_item").as("item_b"), col("n").as("nb")), "item_b")
      .crossJoin(broadcast(no))
      .select(col("item_a"), col("item_b"), col("n_both"),
        round(col("n_both").cast("double") * col("n_orders")
          / (col("na") * col("nb")), 6).as("lift"))
  }

  /** Market-basket co-occurrence with LIFT: part pairs bought together
    * in ≥3 orders, scored by lift = P(a,b)/(P(a)·P(b)) — the classic
    * association-rule mining shape (and the q82 collocation idea lifted
    * from token streams to transactions).
    *
    * Determinism: lift is ONE double expression over exact integer
    * counts (q82's ratio-only-scoring rule), rounded 6 dp.
    *
    * Scale: the pair self-join runs WITHIN order groups only (equi-join
    * on l_orderkey), so pair volume is Σ C(basket,2) — linear for
    * bounded baskets, never |parts|². The min-support HAVING prunes
    * before the part-frequency joins; part counts broadcast. */
  val q144MarketBasket: Q = Q.sql(
    "q144_market_basket",
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pc AS (SELECT l_partkey, COUNT(*) AS n FROM op GROUP BY 1),
      |no AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
      |  FROM op a JOIN op b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT p.part_a, p.part_b, p.n_both,
      |  round(CAST(p.n_both AS DOUBLE) * no.n_orders / (pa.n * pb.n), 6) AS lift
      |FROM pairs p
      |JOIN pc pa ON pa.l_partkey = p.part_a
      |JOIN pc pb ON pb.l_partkey = p.part_b
      |CROSS JOIN no
      |ORDER BY lift DESC, part_a, part_b
      |LIMIT 20""".stripMargin
  ) { (s, dir) =>
    basketLiftOf(Tables.lineitem(s, dir), col("l_orderkey"), col("l_partkey"))
      .withColumnsRenamed(Map("item_a" -> "part_a", "item_b" -> "part_b"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Welch's two-sample t statistic between the md5-free A/B split
    * (user parity) — the experimentation-readout primitive, from EXACT
    * moments (the q107 recipe): engines disagree on built-in variance
    * internals, so mean/variance derive from DECIMAL sums of x and x²
    * and combine in one fixed double expression (√ is correctly
    * rounded). One grouped aggregate over the scan; a 2-row join after. */
  val q148AbTest: Q = Q.sql(
    "q148_ab_test",
    """WITH g AS (
      |  SELECT user_id % 2 AS grp, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq
      |  FROM events GROUP BY 1)
      |SELECT a.n AS n_a, b.n AS n_b,
      |  round(a.s/a.n - b.s/b.n, 6) AS mean_diff,
      |  round((a.s/a.n - b.s/b.n) / sqrt(
      |    ((a.sq - a.s*a.s/a.n)/(a.n-1))/a.n + ((b.sq - b.s*b.s/b.n)/(b.n-1))/b.n), 6)
      |    AS t_stat
      |FROM g a CROSS JOIN g b
      |WHERE a.grp = 0 AND b.grp = 1
      |ORDER BY n_a""".stripMargin
  ) { (s, dir) =>
    val g = Tables.events(s, dir)
      .groupBy((col("user_id") % 2).as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("s"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("sq"))
    val a = g.filter(col("grp") === 0).select(col("n").as("na"), col("s").as("sa"), col("sq").as("sqa"))
    val b = g.filter(col("grp") === 1).select(col("n").as("nb"), col("s").as("sb"), col("sq").as("sqb"))
    val meanDiff = col("sa") / col("na") - col("sb") / col("nb")
    val se = sqrt(
      ((col("sqa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)) / col("na")
        + ((col("sqb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)) / col("nb"))
    a.crossJoin(broadcast(b))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round(meanDiff, 6).as("mean_diff"),
        round(meanDiff / se, 6).as("t_stat"))
      .orderBy(col("n_a")) // single row; the registry's total-sort contract
  }

  /** Kolmogorov–Smirnov distance between two segments' value
    * distributions (click vs view) — the distribution-drift detector a
    * data pipeline runs between snapshots / sources. ALL-INTEGER core:
    * |F_a(v) − F_b(v)| = |ca·n_b − cb·n_a| / (n_a·n_b), so the argmax
    * is found on exact int64 numerators and floats appear only in the
    * final reported ratio — no float comparisons anywhere.
    *
    * Scale: counts collapse to VALUE grain before the running sums (one
    * map-side-combined aggregate); both ECDF running sums then ride the
    * scalable-global-prefix pattern ([[Eval.withExclusivePrefix]] —
    * range repartition on value, local window prefixes, broadcast
    * offsets; one ranged exchange carries both), so an unbounded value
    * domain never funnels through a one-task global window (VERDICT r9
    * item 5); the argmax is a TakeOrdered top-1, also distributed. */
  val q149KsDrift: Q = Q.sql(
    "q149_ks_drift",
    """WITH c AS (
      |  SELECT value,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY value),
      |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c),
      |r AS (
      |  SELECT value,
      |    CAST(SUM(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cca,
      |    CAST(SUM(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccb
      |  FROM c)
      |SELECT t.na AS n_a, t.nb AS n_b, r.value AS at_value,
      |  round(CAST(abs(r.cca*t.nb - r.ccb*t.na) AS DOUBLE) / (t.na*t.nb), 6) AS ks
      |FROM r CROSS JOIN t
      |ORDER BY abs(r.cca*t.nb - r.ccb*t.na) DESC, r.value
      |LIMIT 1""".stripMargin
  ) { (s, dir) =>
    val c = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("value"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cb"))
    val t = c.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val num = abs(col("cca") * col("nb") - col("ccb") * col("na"))
    Eval.withExclusivePrefix(c, Seq(col("value")),
        Seq((col("ca"), "__graft_pca"), (col("cb"), "__graft_pcb")))
      .select(col("value"),
        (col("__graft_pca") + col("ca")).as("cca"),
        (col("__graft_pcb") + col("cb")).as("ccb"))
      .crossJoin(broadcast(t))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("value").as("at_value"),
        round(num.cast("double") / (col("na") * col("nb")), 6).as("ks"),
        num.as("__graft_num"))
      .orderBy(col("__graft_num").desc, col("at_value"))
      .limit(1)
      .drop("__graft_num")
  }

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands idiom at DAY grain (q57's sessionization counts
    * event gaps; streaks count calendar continuity): `day − row_number`
    * is constant exactly while days are consecutive, so one window pass
    * groups each streak. All-integer; one hash exchange on user_id that
    * the window, the streak aggregate, and the per-user rollup all
    * share. */
  val q155Streaks: Q = Q.sql(
    "q155_streaks",
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |r AS (
      |  SELECT user_id, day,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d),
      |s AS (SELECT user_id, grp, COUNT(*) AS len FROM r GROUP BY 1, 2)
      |SELECT user_id,
      |  CAST(MAX(len) AS BIGINT) AS longest_streak,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks
      |FROM s GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"), count(lit(1)).as("n_streaks"))
      .orderBy(col("user_id"))
  }

  val all: Seq[Q] = Seq(q86GroupingSets, q87WindowAnalytics, q94FullOuter,
    q95Unpivot, q96GapFill, q97RollingRange, q98Cube, q105Funnel,
    q106CohortRetention, q107Outliers, q108SqlSurface, q114ModePerGroup,
    q115Transitions, q117MinmaxScale, q124ShareOfParent, q125RfmFeatures,
    q133MadOutliers, q134AbcClass, q136TimeWeighted, q139Interpolate,
    q140TrendLines, q141GiniDiversity, q144MarketBasket, q148AbTest,
    q149KsDrift, q155Streaks)
}
