package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.{Q, Tables}

/** Temporal joins Spark has no native operator for: backward AS-OF join
  * and a banded range join, both over the `events` stream table.
  *
  * Neither uses a join condition Catalyst can hash on alone — naive
  * formulations (`a.ts >= b.ts` in the ON clause) plan as
  * BroadcastNestedLoopJoin or CartesianProduct, an O(n·m) scale-killer.
  * Both operators here instead reduce to equi-shuffles:
  *
  *  - AS-OF = union the two inputs, one shuffle on the key, and a
  *    running `last(value, ignoreNulls)` ordered by time within each
  *    key: O(n log n) per key, one Exchange, no pairwise expansion.
  *    This is the standard streaming/time-series formulation (Flink's
  *    temporal join and kdb's aj work the same way).
  *  - Banded range join (|t₁-t₂| bounded by W) = bucket time into
  *    W-sized buckets; a probe row can only match reference rows in its
  *    own or the next bucket, so probing (b, b+1) via a plain equi-join
  *    on (key, bucket) covers every band candidate with a fixed 2×
  *    fanout — candidate count stays linear in the input at any scale.
  *
  * At 100 TB both plans are a single hash Exchange on (user_id[, bucket])
  * plus per-partition sort — the same shape as any large groupBy; a hot
  * user is bounded by that user's own event count, never by n·m.
  * AsOfSpec checks both against a brute-force join at sf0.001 and
  * asserts the plans stay free of nested-loop/cartesian operators.
  */
object AsOf {

  /** Generic backward as-of: for every probe row, attach the reference
    * `value` of the most recent reference row with the same `key` at or
    * before the probe's `ts`. Inputs: probe(key, ts, …) and
    * ref(key, ts, value) with ref deduped to one row per (key, ts) by
    * the caller. One shuffle on key; output = probe columns +
    * `asof_value`. */
  def asOfBackward(probe: DataFrame, ref: DataFrame): DataFrame = {
    val probeCols = probe.columns.filterNot(Seq("key", "ts").contains).toSeq
    val refSide = ref.select(
      Seq(col("key"), col("ts"), lit(0).as("_tag"), col("value").as("_ref_value")) ++
        probeCols.map(c => lit(null).cast(probe.schema(c).dataType).as(c)): _*)
    val probeSide = probe.select(
      Seq(col("key"), col("ts"), lit(1).as("_tag"),
        lit(null).cast(ref.schema("value").dataType).as("_ref_value")) ++
        probeCols.map(col): _*)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    refSide.unionByName(probeSide)
      .withColumn("asof_value", last(col("_ref_value"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select((Seq(col("key"), col("ts")) ++ probeCols.map(col) ++ Seq(col("asof_value"))): _*)
  }

  /** Reference side deduped to one row per (user_id, ts): ties broken by
    * max event_id, so the as-of pick is well-defined in both engines. */
  private def latestPurchasePerInstant(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "event_id")
  }

  /** Backward AS-OF: each click event picks up the value of the same
    * user's most recent purchase at-or-before its timestamp (ties at
    * equal ts include the purchase, matching ASOF's `>=`). Union-tag +
    * running last(): purchases sort before clicks at equal ts (_tag 0
    * < 1), so the window's last non-null purchase value at each click
    * row IS the as-of match. One shuffle on user_id. */
  val q66AsofJoin: Q = Q.sql(
    "q66_asof_join",
    """WITH ref0 AS (
      |  SELECT user_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'),
      |ref AS (SELECT user_id, ts, value FROM ref0 WHERE rn = 1),
      |probe AS (
      |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |  r.value AS last_purchase_value
      |FROM probe p ASOF LEFT JOIN ref r
      |  ON p.user_id = r.user_id AND p.ts >= r.ts
      |ORDER BY p.event_id""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val ref = latestPurchasePerInstant(ev)
      .select(col("user_id"), col("ts"), lit(0).as("_tag"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
        col("value").as("_ref_value"))
    val probe = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("_tag"),
        col("event_id"), col("value"), lit(null).cast("double").as("_ref_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref.unionByName(probe)
      .withColumn("last_purchase_value", last(col("_ref_value"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Forward AS-OF: each click picks up the value of the same user's
    * NEXT purchase at-or-after its timestamp — q66's mirror (the "what
    * did this exposure lead to" direction). Clicks sort before purchases
    * at equal ts (_tag 0 < 1) and the window runs current→following with
    * a running first(): same single user_id shuffle, no pairwise
    * expansion. */
  val q81AsofForward: Q = Q.sql(
    "q81_asof_forward",
    """WITH ref0 AS (
      |  SELECT user_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'),
      |ref AS (SELECT user_id, ts, value FROM ref0 WHERE rn = 1),
      |probe AS (
      |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |  r.value AS next_purchase_value
      |FROM probe p ASOF LEFT JOIN ref r
      |  ON p.user_id = r.user_id AND p.ts <= r.ts
      |ORDER BY p.event_id""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val ref = latestPurchasePerInstant(ev)
      .select(col("user_id"), col("ts"), lit(1).as("_tag"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
        col("value").as("_ref_value"))
    val probe = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("_tag"),
        col("event_id"), col("value"), lit(null).cast("double").as("_ref_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("_tag"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ref.unionByName(probe)
      .withColumn("next_purchase_value", first(col("_ref_value"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 0)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("next_purchase_value"))
      .orderBy(col("event_id"))
  }

  private val BandSeconds = 600L // 10 minutes, also the bucket width

  /** Banded range join: per purchase, how many clicks the same user made
    * in the following 10 minutes (ts in (p.ts, p.ts + 10 min]). Each
    * purchase probes its own and the next 600 s bucket — every click in
    * the band lives in one of the two — then the exact band predicate
    * filters inside the equi-join's output. A click joins at most one of
    * the two probe keys, so matches count once, and LEFT join keeps
    * zero-click purchases with count(NULL) = 0. */
  val q67RangeJoinCount: Q = Q.sql(
    "q67_range_join_count",
    """SELECT p.event_id, p.user_id, count(c.event_id) AS n_clicks_10m
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON c.user_id = p.user_id
      | AND c.ts > p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
    def bucket(ts: org.apache.spark.sql.Column) =
      floor(unix_timestamp(ts) / BandSeconds)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), bucket(col("ts")).as("_b"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("_b", explode(array(bucket(col("ts")), bucket(col("ts")) + 1)))
    purchases
      .join(clicks,
        purchases("user_id") === clicks("c_user") && purchases("_b") === clicks("_b") &&
          clicks("c_ts") > purchases("ts") &&
          clicks("c_ts") <= purchases("ts") + expr(s"INTERVAL $BandSeconds SECONDS"),
        "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(col("c_ts")).as("n_clicks_10m"))
      .orderBy(col("event_id"))
  }

  /** Interval-overlap join, asymmetric form: per-user daily activity
    * intervals (probe, linear in users×days) against the day's incident
    * window (first→last error of the day — a dimension of ≤|days| rows).
    * Output: per day, how many users' activity overlapped the incident
    * window and their total overlap micros.
    *
    * Scale: the ONLY formulation that survives 100×. Probe side is one
    * hash agg to (user, day) grain; the incident dimension is tiny and
    * broadcast, so the overlap predicate rides on a BroadcastHashJoin's
    * day equi-key with zero shuffle of the probe beyond its own agg. The
    * tempting symmetric form — user×user co-presence pairs banded by day
    * — is output-quadratic in active users per band: measured 266k
    * candidate pairs at sf0.01 but 26.8M at sf0.1 (users scale with the
    * corpus, days don't). An engine must refuse to build that shape
    * implicitly; callers who truly want co-presence pairs pay for it
    * explicitly. Overlap micros subtract exact int64 epochs: LEAST/
    * GREATEST on the interval endpoints, identical in both engines. */
  val q113IntervalOverlap: Q = Q.sql(
    "q113_interval_overlap",
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
      |  FROM events GROUP BY 1, 2),
      |inc AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
      |  FROM events WHERE event_type = 'error' GROUP BY 1)
      |SELECT iv.day, COUNT(*) AS n_users,
      |  CAST(SUM(LEAST(iv.e, inc.e) - GREATEST(iv.s, inc.s)) AS BIGINT) AS overlap_us
      |FROM iv JOIN inc ON iv.day = inc.day AND iv.s <= inc.e AND inc.s <= iv.e
      |GROUP BY iv.day
      |ORDER BY iv.day""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        expr("unix_micros(ts) DIV 86400000000").as("day"), col("event_type"))
    val iv = ev.groupBy(col("user_id"), col("day"))
      .agg(min(col("t")).as("s"), max(col("t")).as("e"))
    val inc = ev.filter(col("event_type") === "error")
      .groupBy(col("day"))
      .agg(min(col("t")).as("inc_s"), max(col("t")).as("inc_e"))
    iv.join(broadcast(inc), Seq("day"))
      .filter(col("s") <= col("inc_e") && col("inc_s") <= col("e"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_users"),
        sum(least(col("e"), col("inc_e")) - greatest(col("s"), col("inc_s")))
          .as("overlap_us"))
      .orderBy(col("day"))
  }

  /** Last-touch attribution — the composition the as-of operator exists
    * for: each purchase is attributed to the same user's most recent
    * click at-or-before it (backward as-of), counted only when that
    * click is within a 7-day lookback; revenue then rolls up per day
    * into attributed vs organic through the exact DECIMAL path.
    *
    * Scale: identical shape to q66 — one union, ONE shuffle on user_id,
    * a running last() per user (no pairwise click×purchase expansion;
    * contrast the naive range join whose candidates are clicks×purchases
    * per user) — followed by a day-grain rollup of pre-aggregated rows.
    * The lookback test subtracts exact int64 micros; revenue sums are
    * DECIMAL(18,2) so the split is partition-order-free. */
  val q123Attribution: Q = Q.sql(
    "q123_attribution",
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT p.user_id, p.ts, p.value, c.ts AS click_ts
      |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
      |t AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, value,
      |    click_ts IS NOT NULL
      |      AND epoch_us(ts) - epoch_us(click_ts) <= 604800000000 AS attr
      |  FROM j)
      |SELECT day, COUNT(*) AS n_purchases,
      |  CAST(SUM(CASE WHEN attr THEN 1 ELSE 0 END) AS BIGINT) AS n_attr,
      |  CAST(SUM(CASE WHEN attr THEN CAST(value AS DECIMAL(18,2))
      |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_attr,
      |  CAST(SUM(CASE WHEN attr THEN CAST(0 AS DECIMAL(18,2))
      |           ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_organic
      |FROM t GROUP BY day
      |ORDER BY day""".stripMargin
  ) { (s, dir) =>
    import Relational.dec
    val ev = Tables.events(s, dir)
    val ref = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("_tag"),
        lit(null).cast("double").as("value"), unix_micros(col("ts")).as("_click_us"))
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("_tag"),
        col("value"), lit(null).cast("long").as("_click_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref.unionByName(probe)
      .withColumn("click_us", last(col("_click_us"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .withColumn("attr",
        col("click_us").isNotNull &&
          unix_micros(col("ts")) - col("click_us") <= 604800000000L)
      .groupBy(expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(when(col("attr"), 1L).otherwise(0L)).as("n_attr"),
        sum(when(col("attr"), dec(col("value"))).otherwise(dec(lit(0))))
          .cast("double").as("rev_attr"),
        sum(when(col("attr"), dec(lit(0))).otherwise(dec(col("value"))))
          .cast("double").as("rev_organic"))
      .orderBy(col("day"))
  }

  val all: Seq[Q] = Seq(q66AsofJoin, q81AsofForward, q67RangeJoinCount,
    q113IntervalOverlap, q123Attribution)
}
