package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row micro-benchmarks of graft's native expressions over a column
  * generated from spark.range and cached in memory as one partition (no
  * file scan; one task, so wall time is one thread's time). Each figure is
  * the best of three runs of `sum(f(x))` minus the best of three runs of
  * a sum that only tests x for null, over the same cached column, per
  * row. */
object Micro {
  val Rows = 1L << 15

  private def best(df: DataFrame): Double =
    Seq.tabulate(3) { _ =>
      val t0 = System.nanoTime(); df.collect(); System.nanoTime() - t0
    }.min.toDouble

  private def nsPerRow(s: SparkSession, gen: Column, f: Column => Column): Double = {
    val x = s.range(0L, Rows, 1L, 1).select(gen.as("x")).cache()
    try {
      x.count()
      val baseline = x.agg(sum(col("x").isNotNull.cast("int")))
      val withF = x.agg(sum(f(col("x"))))
      baseline.collect(); withF.collect() // codegen + JIT
      (best(withF) - best(baseline)) / Rows
    } finally x.unpersist(blocking = true)
  }

  def run(s: SparkSession): Map[String, Double] = {
    val words = concat_ws(" ", transform(sequence(lit(0), lit(11)),
      i => element_at(lit(Array("hash", "join", "scan", "merge", "sort", "window")),
        (pmod(xxhash64(col("id"), i), lit(6L)) + 1).cast("int"))))
    val text = concat(lit("doc "), col("id").cast("string"), lit(" "), words)
    val longs = transform(sequence(lit(0), lit(15)), i => xxhash64(col("id"), i))
    val doubles = transform(sequence(lit(0), lit(63)), i => pmod(col("id") + i, lit(97)).cast("double") / 97.0)
    val rnd = new scala.util.Random(42)
    val a = array((0 until 16).map(_ => lit(rnd.nextInt(Int.MaxValue - 1).toLong + 1)): _*)
    val b = array((0 until 16).map(_ => lit(rnd.nextInt(Int.MaxValue).toLong)): _*)
    val merges = array(Seq("h\ta", "ha\ts", "s\tc", "j\to", "i\tn").map(lit): _*)
    def fn(name: String, args: Column*)(x: Column) = call_function(name, x +: args: _*)
    Map(
      "expr.md5long64_ns_per_row" ->
        nsPerRow(s, text, x => fn("graft_md5long64")(x) % 7),
      "expr.simhash48_ns_per_row" ->
        nsPerRow(s, longs, x => fn("graft_simhash48")(x) % 7),
      "expr.minhash_ns_per_row" ->
        nsPerRow(s, longs, x => size(fn("graft_minhash", a, b, lit(2147483647L))(x))),
      "expr.dot_f64_ns_per_row" ->
        nsPerRow(s, doubles, x => fn("graft_dot_f64", x)(x).cast("long")),
      "expr.bpe_counts_ns_per_row" ->
        nsPerRow(s, text, x => element_at(fn("graft_bpe_counts", merges)(x), 1)))
  }
}
