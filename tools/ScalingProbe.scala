package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical scaling-slope probe (VERDICT r13 item 5): the 100 TB
  * claims for the heavy families rest on PLAN shapes — this main
  * measures the actual growth. It synthesizes a ~10× corpus by
  * self-unioning `documents` (and `embeddings`) with re-keyed ids into
  * a temp dir (testdata itself is read-only; the other tables symlink
  * through), then times the six families the verdict named at
  * sf0.01 → sf0.1 → 10×, printing one JSON line per (query, scale)
  * with the timed min, the output row count, and finally a slope
  * summary: slope = log(t_b/t_a) / log(rows_b/rows_a) over the
  * sf0.1 → 10× step (the slope that speaks to scale-up). Near-linear
  * (≤ ~1.2) confirms the design; super-linear names the next round's
  * work.
  *
  * The synthetic corpus is deliberately DUP-HEAVY: each source doc gets
  * `Copies` re-keyed identical twins, so every dedup family does real
  * candidate work (each band bucket holds `Copies` colliding members —
  * per-group pair count is the constant C(Copies,2), so total TRUE pair
  * volume grows linearly and any super-linear time growth is the
  * OPERATOR, not the data). Run: `sbt "Test/runMain graft.ScalingProbe"`,
  * optional env SPARK_GRAFT_SCALE_COPIES (default 10). */
object ScalingProbe {
  private val Queries = Seq(
    "q24_dedup_exact", "q26_neardup_minhash", "q72_dedup_components",
    "q143_training_manifest", "q231_ivfpq_search", "q236_batch_retrieval")

  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val base = "/root/testdata/sf0.1"
    val big = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_10x")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-scaling-probe")

    buildScaledCorpus(spark, base, big, copies)

    // ---- time the families at each scale ----------------------------
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val scales = Seq("sf0.01" -> "/root/testdata/sf0.01",
                     "sf0.1" -> base, s"x$copies" -> big)
    def timeOne(qn: String, dir: String): (Double, Long) = {
      val q = byName(qn)
      var rows = 0L
      def run(): Double = {
        val t0 = System.nanoTime()
        rows = q.fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm (codegen + scan cache)
      val t = Seq.tabulate(2)(_ => run()).min
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (t, rows)
    }
    val results = for {
      qn <- Queries
      (label, dir) <- scales
    } yield {
      val (t, rows) = timeOne(qn, dir)
      println(f"""{"probe":"$qn","scale":"$label","sec":$t%.3f,"rows":$rows}""")
      (qn, label, t, rows)
    }

    // ---- slope summary over the sf0.1 → 10× step ---------------------
    println("{\"slopes\":[")
    val lines = Queries.map { qn =>
      val r = results.filter(_._1 == qn)
      val t1 = r.find(_._2 == "sf0.1").get
      val t2 = r.find(_._2 == s"x$copies").get
      val slope = math.log(t2._3 / t1._3) / math.log(copies.toDouble)
      f"""  {"probe":"$qn","t_sf01":${t1._3}%.3f,"t_x$copies":${t2._3}%.3f,"rows_sf01":${t1._4},"rows_x$copies":${t2._4},"slope":$slope%.3f}"""
    }
    println(lines.mkString(",\n"))
    println("]}")
    spark.stop()
  }

  /** Synthesize the dup-heavy corpus under `big`: every `base` doc and
    * vector × `copies` re-keyed twins, the other tables symlinked
    * through so every registered query runs. Idempotent per `copies`. */
  def buildScaledCorpus(spark: SparkSession, base: String, big: String, copies: Int): Unit = {
    val marker = Paths.get(s"$big/.built_x$copies")
    if (!Files.exists(marker)) {
      Files.createDirectories(Paths.get(big))
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events")) {
        val link = Paths.get(s"$big/$t.parquet")
        if (!Files.exists(link))
          Files.createSymbolicLink(link, Paths.get(s"$base/$t.parquet"))
      }
      def scaleUp(table: String, idCol: String): Unit = {
        val src = spark.read.parquet(s"$base/$table.parquet")
        val off = src.agg(max(col(idCol))).head.getLong(0) + 1L
        val gens = (0 until copies).map(g =>
          src.withColumn(idCol, col(idCol) + lit(g.toLong * off)))
        gens.reduce(_ unionByName _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$big/$table.parquet")
      }
      scaleUp("documents", "doc_id")
      scaleUp("embeddings", "vec_id")
      Files.writeString(marker, s"copies=$copies\n")
    }
  }
}
