package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}

/** Skew-mitigation operators (builder prompt: "salting for skew, AQE for
  * runtime re-plan"). Both rewrites are RESULT-PRESERVING, so the DuckDB
  * oracle runs the plain un-salted SQL — the gate proves the salted
  * plans compute exactly the same answer.
  *
  * AQE's skew-join splitting handles most skew automatically; explicit
  * salting remains the tool when a single key's group STATE (not just
  * its row count) exceeds one task — e.g. a groupBy whose per-key
  * aggregation buffer is huge, or a join key so hot AQE's split floor
  * still overloads a task. These operators document the pattern with
  * deterministic salts (pmod of the row hash, not rand()) so plans are
  * stable run to run.
  */
object Skew {

  private val NSalts = 8

  /** Salted aggregation: revenue per customer with the hot-key-safe
    * two-phase shape (groupBy(key, salt) partial → groupBy(key) final —
    * a hot key's rows split across NSalts reducers in phase 1, phase 2
    * combines NSalts small partials per key); oracle is the plain
    * GROUP BY. */
  val q61SaltedAgg: Q = Q.sql(
    "q61_salted_agg",
    """SELECT o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .withColumn("_salt", pmod(hash(col("o_orderkey")), lit(NSalts)))
    o.groupBy(col("o_custkey"), col("_salt"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("partial"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("partial")).cast("double").as("total_spend"))
      .orderBy(col("o_custkey"))
  }

  /** Salted join: the big (skew-prone) side gets a deterministic salt;
    * the small side is exploded ×NSalts so every (key, salt) pair still
    * matches — a hot key's rows now spread over NSalts join tasks.
    * Identical result to the plain join (the oracle). The ×NSalts
    * duplication of the small side is the price of the technique —
    * that is why it applies only when the small side is genuinely
    * small. */
  val q62SaltedJoin: Q = Q.sql(
    "q62_salted_join",
    """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    val big = Tables.orders(s, dir)
      .withColumn("_salt", pmod(hash(col("o_orderkey")), lit(NSalts)))
    val small = Tables.customer(s, dir)
      .withColumn("_salt", explode(sequence(lit(0), lit(NSalts - 1))))
    big.join(small,
        big("o_custkey") === small("c_custkey") && big("_salt") === small("_salt"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("spend"))
      .orderBy(col("c_custkey"))
  }

  /** HLL sketch distinct-count beside the exact count — oracle-paired
    * since r13 on the ESTIMATE'S ENVELOPE, not its value: the sketch is
    * Spark-internal (HLL++ — not bit-reproducible in DuckDB), but its
    * error contract is checkable with exact integer arithmetic. The
    * published row is (exact count, approx_ok) where approx_ok asserts
    * |approx − exact| · 10 ≤ exact (a ≤10% envelope, 5× the configured
    * 2% rsd — HLL++ error is a pure function of the VALUE SET since
    * registers merge by max, so the boolean is order/partition
    * invariant and deterministic). The oracle computes the exact count
    * and emits literal TRUE: an engine sketch drifting past its
    * envelope flips the boolean and hash-fails the gate. ScaleSpec
    * keeps the tighter numeric bound via [[approxDistinctOf]]. At
    * 100 TB the sketch is the only affordable per-key distinct over
    * high-cardinality columns — fixed-size state instead of a per-key
    * hash set. */
  private[graft] def approxDistinctOf(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .withColumn("approx_ok",
        abs(col("approx_parts") - col("exact_parts")) * lit(10L) <= col("exact_parts"))

  val q63ApproxDistinct: Q = Q.sql(
    "q63_approx_distinct",
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  TRUE AS approx_ok
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    approxDistinctOf(Tables.lineitem(s, dir))
      .select(col("l_returnflag"), col("exact_parts"), col("approx_ok"))
      .orderBy(col("l_returnflag"))
  }

  val all: Seq[Q] = Seq(q61SaltedAgg, q62SaltedJoin, q63ApproxDistinct)
}
