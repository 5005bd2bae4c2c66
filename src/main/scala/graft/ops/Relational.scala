package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}

/** Relational operator inventory (SURVEY.md §2.2–§2.6): one named,
  * deterministic, DuckDB-oracle-paired query per operator family, over the
  * driver's TPC-H-ish testdata.
  *
  * Scale notes (designed for 100 TB, tested at sf0.1):
  *  - Aggregations are plain `groupBy.agg` → Catalyst plans partial+final
  *    HashAggregate (map-side combine), so shuffle volume is per-group not
  *    per-row.
  *  - Broadcast hints appear ONLY on fixed-cardinality dimensions
  *    (nation=25, region=5 — constant at every scale factor). Tables that
  *    grow with SF (customer, orders, lineitem) are never hinted: at the
  *    100 TB design point a broadcast of an SF-scaling table exceeds
  *    Spark's broadcast/driver limits. AQE + autoBroadcastJoinThreshold
  *    pick the strategy from observed sizes at runtime instead.
  *  - Filters/projections sit directly on the scan so parquet pushdown +
  *    column pruning apply (asserted via explain in PlanSpec).
  *  - Exact-decimal money math: sums over 2-decimal doubles are cast to
  *    DECIMAL(18,2) first, making the aggregate independent of
  *    partitioning/order in both Spark and DuckDB (SURVEY.md §7.4 risk 1).
  */
object Relational {

  /** Exact money arithmetic: 2-decimal double → DECIMAL(18,2). */
  private[ops] def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Order-independent sum of a 2-decimal double column, emitted as double. */
  private[ops] def msum(c: Column): Column = sum(dec(c)).cast("double")

  // ---------------------------------------------------------------- queries

  /** TPC-H Q1-shaped pricing summary: scan → filter → hash agg (partial +
    * final) → sort. Reference op: groupBy.count at MLP.ipynb:53-54
    * generalized to multi-aggregate. */
  val q01PricingSummary: Q = Q.sql(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |  AVG(l_quantity) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-12-31'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        msum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Filter + project: predicates push to the parquet scan (PushedFilters),
    * projection prunes the read schema to 5 of 11 columns. */
  val q02FilterProject: Q = Q.sql(
    "q02_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      |  AND l_discount >= 0.05 AND l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin
  ) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1999-01-01").cast("timestamp") &&
              col("l_discount") >= 0.05 && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** 3-way inner join: lineitem⋈orders (fact-fact → shuffle join, AQE
    * picks SMJ/SHJ) then ⋈customer with NO hint — customer grows linearly
    * with SF (~150k×SF rows), so a forced broadcast would OOM at warehouse
    * scale; AQE broadcasts it only while it is actually under the
    * threshold. */
  val q03JoinInner: Q = Q.sql(
    "q03_join_revenue",
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    // Aggregate to customer grain BEFORE the customer join (c_name is
    // functionally dependent on c_custkey, so results are identical):
    // the join then processes one row per customer instead of one per
    // line item. Locally AQE broadcasts customer either way; at a scale
    // where it can't, this is the difference between shuffling
    // custkey-grain and lineitem-grain rows into the join (~40×).
    // Catalyst has no eager-aggregation rule, so the pushdown is manual.
    val perCust = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
    perCust
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_items"))
      .orderBy(col("c_custkey"))
  }

  /** Left outer join + agg over the nullable side. */
  val q04JoinLeft: Q = Q.sql(
    "q04_join_left",
    """SELECT o_orderkey, COUNT(l_linenumber) AS n_lines,
      |  COALESCE(SUM(l_quantity), 0) AS sum_qty
      |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"))
      .agg(
        count(col("l_linenumber")).as("n_lines"),
        coalesce(sum(col("l_quantity")), lit(0.0)).as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** Left-semi join (EXISTS): customers with ≥1 1998 order. The probe side
    * never materializes order columns, so shuffle carries keys only. */
  val q05SemiJoin: Q = Q.sql(
    "q05_semi_join",
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01')
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
                  col("o_orderdate") <  lit("1999-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join (NOT EXISTS): customers with no high-value order. */
  val q06AntiJoin: Q = Q.sql(
    "q06_anti_join",
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Distinct (shuffle-dedup; Catalyst plans it as a hash aggregate, so
    * map-side partial dedup bounds shuffle volume by the domain size). */
  val q07Distinct: Q = Q.sql(
    "q07_distinct",
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin
  ) { (s, dir) =>
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  /** Bag union (reference: rebalanced = downsampled ∪ minority,
    * MLP.ipynb:66) — positional, keeps duplicates = SQL UNION ALL. */
  val q08Union: Q = Q.sql(
    "q08_union_all",
    """SELECT * FROM (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
      |) ORDER BY o_orderkey, o_totalprice""".stripMargin
  ) { (s, dir) =>
    val o = Tables.orders(s, dir)
    o.filter(col("o_totalprice") > 400000).select(col("o_orderkey"), col("o_totalprice"))
      .union(o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"), col("o_totalprice")))
      .orderBy(col("o_orderkey"), col("o_totalprice"))
  }

  /** Set intersect/except on tables (Spark built-ins; SURVEY.md §2.6). */
  val q09Intersect: Q = Q.sql(
    "q09_intersect",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val q10Except: Q = Q.sql(
    "q10_except",
    """SELECT c_custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    Tables.customer(s, dir).select(col("c_custkey"))
      .except(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey"))
  }

  /** Per-group top-k via window ranking (reference: row-wise top-7
    * categories per cluster, category_model.ipynb:70 → window form per
    * SURVEY.md §2.5). Partition-local sort after a single hash exchange. */
  val q11WindowTopK: Q = Q.sql(
    "q11_window_topk",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Window aggregates beyond ranking: running sum + partition share. */
  val q12WindowRunning: Q = Q.sql(
    "q12_window_running",
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderkey
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin
  ) { (s, dir) =>
    val byCust = Window.partitionBy(col("o_custkey"))
    val running = byCust.orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(running).cast("double").as("running_spend"),
        count(lit(1)).over(byCust).as("n_orders"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Pivot / crosstab (reference: pd.crosstab confusion matrix,
    * MLP.ipynb:94-95 → groupBy.pivot per SURVEY.md §2.4). */
  val q13Pivot: Q = Q.sql(
    "q13_pivot",
    """SELECT l_returnflag,
      |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F,
      |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("l_returnflag"))
  }

  /** Conditional when-chain (reference: 4-way allergen-category CASE,
    * MLP.ipynb:504-509). */
  val q14Conditional: Q = Q.sql(
    "q14_conditional",
    """SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
      |            WHEN o_totalprice < 300000 THEN 'medium'
      |            ELSE 'large' END AS bucket,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, dir) =>
    Tables.orders(s, dir)
      .select(
        when(col("o_totalprice") < 100000, "small")
          .when(col("o_totalprice") < 300000, "medium")
          .otherwise("large").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Global sort + limit (top-k; Spark plans TakeOrderedAndProject — no
    * full sort materialization, each partition keeps k rows). */
  val q15OrderLimit: Q = Q.sql(
    "q15_order_limit",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin
  ) { (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Grouped agg + HAVING-style post-filter. */
  val q16Having: Q = Q.sql(
    "q16_having",
    """SELECT l_partkey, SUM(l_quantity) AS total_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY l_partkey
      |HAVING SUM(l_quantity) > 600
      |ORDER BY l_partkey""".stripMargin
  ) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("total_qty"), count(lit(1)).as("n"))
      .filter(col("total_qty") > 600)
      .orderBy(col("l_partkey"))
  }

  /** ROLLUP grouping sets (extension beyond reference; Spark built-in). */
  val q17Rollup: Q = Q.sql(
    "q17_rollup",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), msum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** Scalar-subquery pattern: each customer's max-price order. Implemented
    * as a window max + filter — ONE shuffle on o_custkey (the agg+self-join
    * form shuffles orders twice on the same key and adds a join). Exact
    * double equality on the max is deterministic: both sides are the same
    * stored value, no arithmetic. */
  val q18GroupMaxJoin: Q = Q.sql(
    "q18_group_max_join",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
      |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin
  ) { (s, dir) =>
    val byCust = Window.partitionBy(col("o_custkey"))
    Tables.orders(s, dir)
      .withColumn("max_price", max(col("o_totalprice")).over(byCust))
      .filter(col("o_totalprice") === col("max_price"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** String scalar functions (SURVEY.md §2.7). */
  val q19StringFuncs: Q = Q.sql(
    "q19_string_funcs",
    """SELECT p_partkey,
      |  lower(p_name) AS name_lower,
      |  upper(p_brand) AS brand_upper,
      |  length(p_name) AS name_len,
      |  substr(p_name, 1, 5) AS name_pre,
      |  concat_ws('-', p_brand, p_type) AS brand_type,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word
      |FROM part ORDER BY p_partkey""".stripMargin
  ) { (s, dir) =>
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        upper(col("p_brand")).as("brand_upper"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_pre"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))
      .orderBy(col("p_partkey"))
  }

  /** Array functions incl. higher-order transform + array_intersect vs a
    * literal list — the reference's core labeling idiom (MLP.ipynb:44-49). */
  val q20ArrayOps: Q = Q.sql(
    "q20_array_ops",
    """SELECT p_partkey,
      |  len(words) AS n_words,
      |  list_contains(words, 'red') AS has_red,
      |  words[1] AS w1,
      |  array_to_string(list_sort(words), ',') AS sorted_words,
      |  CASE WHEN len(list_intersect(words, ['red','blue','small'])) > 0 THEN 1 ELSE 0 END AS label
      |FROM (SELECT p_partkey, string_split(lower(p_name), ' ') AS words FROM part)
      |ORDER BY p_partkey""".stripMargin
  ) { (s, dir) =>
    Tables.part(s, dir)
      .select(col("p_partkey"),
        split(lower(col("p_name")), " ").as("words"))
      .select(
        col("p_partkey"),
        size(col("words")).as("n_words"),
        array_contains(col("words"), "red").as("has_red"),
        element_at(col("words"), 1).as("w1"),
        array_join(sort_array(col("words")), ",").as("sorted_words"),
        when(size(array_intersect(col("words"), lit(Array("red", "blue", "small")))) > 0, 1)
          .otherwise(0).as("label"))
      .orderBy(col("p_partkey"))
  }

  /** Time-bucketed aggregation over the events table (hourly counts —
    * batch equivalent of a tumbling window). Epoch-seconds output avoids
    * cross-engine timestamp-encoding drift. */
  val q21EventsHourly: Q = Q.sql(
    "q21_events_hourly",
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin
  ) { (s, dir) =>
    Tables.events(s, dir)
      .withColumn("hour", date_trunc("hour", col("ts")).cast("long"))
      .groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Semi-structured extraction from a JSON string column. The oracle uses
    * DuckDB's json_extract for semantic parity with get_json_object (a
    * whitespace-sensitive regex would break on format drift). */
  val q22JsonExtract: Q = Q.sql(
    "q22_json_extract",
    """SELECT k, COUNT(*) AS n FROM (
      |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |WHERE k >= 90 GROUP BY k ORDER BY k""".stripMargin
  ) { (s, dir) =>
    Tables.events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") >= 90)
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k"))
  }

  /** Multi-dimension join across the full snowflake:
    * region→nation→customer→orders, dimensions broadcast. */
  val q23SnowflakeJoin: Q = Q.sql(
    "q23_snowflake_join",
    """SELECT r_name, n_name, COUNT(DISTINCT c_custkey) AS n_customers,
      |  COUNT(o_orderkey) AS n_orders
      |FROM region
      |JOIN nation   ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin
  ) { (s, dir) =>
    // Same eager-aggregation rewrite as q03: orders collapse to one row
    // per customer BEFORE the join, so the join and final aggregation run
    // at customer grain, and COUNT(DISTINCT c_custkey) degenerates to a
    // plain COUNT (custkey is customer's key; each row is one customer) —
    // no two-phase distinct expansion in the plan.
    val ordersPerCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_ord"))
    Tables.region(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(ordersPerCust, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(coalesce(col("n_ord"), lit(0L))).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** The four correlated-subquery forms in one dialect-portable SQL text,
    * run VERBATIM by `spark.sql` (like q108's aggregate surface):
    * correlated EXISTS, correlated NOT EXISTS, a correlated scalar
    * subquery in the SELECT list, and an uncorrelated IN subquery.
    *
    * Scale: Catalyst decorrelates every one of them — EXISTS → left semi
    * hash join, NOT EXISTS → left anti hash join, the scalar COUNT →
    * an aggregate + left outer equi-join, IN → semi join on the
    * broadcast nation dim — so the plan is four shuffles/broadcasts on
    * `o_custkey`, no per-row re-execution of any subquery (the
    * tuple-at-a-time semantics SQL implies would be a 100 TB
    * scale-killer if taken literally). */
  private val SubquerySql: String =
    """SELECT c.c_custkey, c.c_nationkey,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      |                    AND o.o_totalprice < 50000)
      |  AND c.c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
      |ORDER BY c.c_custkey""".stripMargin

  val q130Subqueries: Q = Q.sql("q130_subqueries", SubquerySql) { (s, dir) =>
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    s.sql(SubquerySql)
  }

  /** LATERAL join surface: per-nation top-2 customers by exact spend,
    * written as a correlated LATERAL subquery with ORDER BY + LIMIT —
    * the "top-n per group via lateral" idiom every modern warehouse
    * dialect supports, run VERBATIM by both engines.
    *
    * Scale: Catalyst decorrelates the lateral into a window rank over
    * the customer⋈orders aggregate partitioned by nation (the same
    * physical plan q11's explicit window writes by hand) — the naive
    * per-nation re-execution the syntax implies never happens. */
  private val LateralSql: String =
    """SELECT n.n_name, t.c_custkey, t.spend
      |FROM nation n,
      |LATERAL (
      |  SELECT c.c_custkey,
      |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      |  WHERE c.c_nationkey = n.n_nationkey
      |  GROUP BY c.c_custkey
      |  ORDER BY spend DESC, c.c_custkey
      |  LIMIT 2) t
      |ORDER BY n.n_name, t.spend DESC, t.c_custkey""".stripMargin

  val q135Lateral: Q = Q.sql("q135_lateral_topn", LateralSql) { (s, dir) =>
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(LateralSql)
  }

  /** Relational division ("FOR ALL"): customers whose orders cover EVERY
    * order priority present in the fact table — the classic
    * division-by-count rewrite (per-customer distinct-priority count ==
    * global distinct-priority count), which is how every engine actually
    * executes universal quantification.
    *
    * Scale: both sides collapse to distinct-count aggregates before any
    * comparison — the fact table shuffles once at (custkey, priority)
    * grain (map-side combined), the divisor is a 1-row broadcast. No
    * per-customer set materialization, no anti-join against the
    * divisor × customers grid. */
  val q137Division: Q = Q.sql(
    "q137_division",
    """WITH per_cust AS (
      |  SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS np
      |  FROM orders GROUP BY o_custkey),
      |divisor AS (SELECT COUNT(DISTINCT o_orderpriority) AS total FROM orders)
      |SELECT p.o_custkey, p.np
      |FROM per_cust p CROSS JOIN divisor d
      |WHERE p.np = d.total
      |ORDER BY p.o_custkey""".stripMargin
  ) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val perCust = orders.groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("np"))
    val divisor = orders.agg(countDistinct(col("o_orderpriority")).as("total"))
    perCust.crossJoin(broadcast(divisor))
      .filter(col("np") === col("total"))
      .select(col("o_custkey"), col("np"))
      .orderBy(col("o_custkey"))
  }

  /** Bag-semantics INTERSECT ALL — q09's multiset twin: a customer with
    * three F-orders and two O-orders appears TWICE (min of the
    * multiplicities), the semantics dedup-sensitive reconciliation
    * reports need. Spark plans both bag set-ops as an aggregate over
    * tagged counts + generate — one shuffle, no join explosion. */
  val q150IntersectAll: Q = Q.sql(
    "q150_intersect_all",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT ALL
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersectAll(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** Bag-semantics EXCEPT ALL — q10's multiset twin: multiplicities
    * subtract instead of vanishing on first match. */
  val q151ExceptAll: Q = Q.sql(
    "q151_except_all",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT ALL
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .exceptAll(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** All relational inventory queries. */
  val all: Seq[Q] = Seq(
    q01PricingSummary, q02FilterProject, q03JoinInner, q04JoinLeft,
    q05SemiJoin, q06AntiJoin, q07Distinct, q08Union, q09Intersect,
    q10Except, q11WindowTopK, q12WindowRunning, q13Pivot, q14Conditional,
    q15OrderLimit, q16Having, q17Rollup, q18GroupMaxJoin, q19StringFuncs,
    q20ArrayOps, q21EventsHourly, q22JsonExtract, q23SnowflakeJoin,
    q130Subqueries, q135Lateral, q137Division, q150IntersectAll,
    q151ExceptAll)
}
