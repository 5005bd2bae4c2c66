package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Sessions

/** One executed op instance. Times: nanoTime for durations, epoch ms for
  * matching asynchronous Spark events to the op. */
final case class OpRec(id: String, name: String, kind: String, pass: Int, traced: Boolean,
                       startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                       rows: Long, error: Option[String], persistedAfter: Int, stealMs: Long,
                       retryOf: Option[String])

/** Benchmark entry point, one JVM per run:
  *
  *  1. set-up, `Setups` times: a fresh `Sessions.local` session plus the
  *     workload's warm basket (the first set-up counts from JVM start; a
  *     later one that lost much CPU to hypervisor steal is done once more);
  *  2. one-off preparation ops (index builds, W3's fit), then what warms every
  *     timed code path: the untimed check pass, or, for a workload without
  *     one, its output checks;
  *  3. timed passes, one client thread in a closed loop, until `--seconds`
  *     have elapsed (at least one pass; all traced in trace mode); an op
  *     that lost much CPU to hypervisor steal is timed once more, untraced,
  *     after its pass; heap used is sampled after full GCs at the end of
  *     each pass;
  *  4. output checks (unless they ran in 2.), host calibration anchors,
  *     and in trace mode the native-expression micro-benchmarks;
  *  5. everything written as JSON to `--out` for run.py to reduce.
  *
  * Usage: graftbench.Main --workload W --work DIR --seconds N --trace 0|1
  *          --seed S --cpus C --out FILE
  */
object Main {
  val Setups = 3
  /** Share of an op's or a set-up's CPU time (wall × cpus) lost to
    * hypervisor steal above which it is timed once more. */
  val MaxStealShare = 0.03
  /** No retry starts later than this after JVM start, so the run stays
    * inside run.py's time limit. */
  val RetryBeforeMs = 100000L

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val seed = args("seed").toLong
    val cpus = args("cpus")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer
    /** Seconds from JVM start at the end of each phase of the run. */
    val phases = ArrayBuffer.empty[(String, Double)]
    def phase(what: String): Unit = {
      phases += what -> (System.currentTimeMillis() - jvmStartMs) / 1000.0
      System.err.println(f"[graftbench] ${phases.last._2}%.1f s: $what")
    }

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    // Spark's ContextCleaner drops the blocks and broadcasts of collected
    // plans asynchronously after a GC, so collect a few times, letting it
    // run in between, and read the smallest heap used: the live set.
    def heapAfterGcMb(): Double = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    def stealShare(stealMs: Long, wallS: Double): Double = stealMs / (wallS * 1000.0 * cpus.toInt)

    // 1. set-up, several times; the last session is the one measured. The
    // first counts from JVM start; a later one that lost more than
    // MaxStealShare of its CPU time to steal is done once more, and the
    // lesser of its two times counts.
    var spark: SparkSession = null
    var w: Workload = null
    def setUp(): Double = {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Sessions.local(cpus, "graftbench")
      w = Workloads(workload, spark, work, tracer)
      w.warmOps.foreach(_.run())
      (System.nanoTime() - t0) / 1e9
    }
    setUp()
    val setups = ((System.currentTimeMillis() - jvmStartMs) / 1000.0) +: (1 until Setups).map { _ =>
      val s0 = Host.stealMs()
      val t = setUp()
      if (stealShare(Host.stealMs() - s0, t) > MaxStealShare) math.min(t, setUp()) else t
    }
    phase("set-up")
    val sc = spark.sparkContext
    val recorder = new Recorder
    if (trace) {
      sc.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }
    def guarded(checks: => Seq[Check]): Seq[Check] =
      try checks catch {
        case e: Throwable => Seq(Check("checks", "*", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    def sweep(): Unit = sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val records = ArrayBuffer.empty[OpRec]
    def execute(op: Op, pass: Int, index: Int, traced: Boolean, retryOf: Option[String] = None): OpRec = {
      val id = s"p$pass.$index.${op.name}" + retryOf.fold("")(_ => ".retry")
      tracer.enabled = traced
      tracer.op = id
      if (traced) sc.setLocalProperty(Recorder.OpKey, id)
      val steal0 = Host.stealMs()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (rows, err) =
        try (tracer.span(op.name)(op.run()), None)
        catch {
          case e: Throwable =>
            (0L, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
        }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(Recorder.OpKey, null)
      tracer.enabled = false
      OpRec(id, op.name, op.kind, pass, traced, t0, t1, startMs, endMs, rows, err,
        sc.getPersistentRDDs.size, Host.stealMs() - steal0, retryOf)
    }

    // 2. preparation (recorded, traced in trace mode), then what warms the
    // timed code paths: the check pass, or the checks themselves when the
    // workload has no check pass
    val prepared = w.prepareOps.zipWithIndex.map { case (op, i) => execute(op, -2, i, trace) }
    phase("preparation")
    val checkPassOps = w.checkPassOps
    val checksFirst = checkPassOps.isEmpty
    val checkPass = checkPassOps.zipWithIndex.map { case (op, i) => execute(op, -1, i, traced = false) }
    w.endPass(-1)
    sweep()
    val earlyChecks = if (checksFirst) guarded(w.checks()) else Nil
    phase(if (checksFirst) "checks" else "check pass")

    // 3. timed passes: whole passes until `seconds` have elapsed, at least
    // one. At the end of each pass the heap is read after full GCs, before
    // the harness unpersists anything, so blocks the pass's ops pinned or
    // leaked and the results it still holds are in the reading.
    final case class PassRec(pass: Int, traced: Boolean, wallS: Double, gcMs: Long, stealMs: Long,
                             blocksLeft: Int)
    val passes = ArrayBuffer.empty[PassRec]
    val heap = ArrayBuffer.empty[Double]
    val gc0 = gcMs()
    val steal0 = Host.stealMs()
    val loopStart = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - loopStart < seconds * 1e9) {
      val (g0, s0, t0) = (gcMs(), Host.stealMs(), System.nanoTime())
      val ops = w.passOps(pass)
      val recs = ops.zipWithIndex.map { case (op, i) => execute(op, pass, i, trace) }
      val wall = (System.nanoTime() - t0) / 1e9
      val (gcPass, stealPass) = (gcMs() - g0, Host.stealMs() - s0)
      // An op that lost more than MaxStealShare of its CPU time to the
      // hypervisor (other tenants of a shared host) runs once more, untraced,
      // right after the pass; run.py counts the lesser of its two times.
      val retries = ops.zip(recs).collect {
        case (op, r) if stealShare(r.stealMs, (r.endNs - r.startNs) / 1e9) > MaxStealShare &&
            System.currentTimeMillis() - jvmStartMs < RetryBeforeMs =>
          execute(op, pass, recs.indexOf(r), traced = false, retryOf = Some(r.id))
      }
      records ++= recs ++ retries
      val left = sc.getPersistentRDDs.size
      heap += heapAfterGcMb()
      w.endPass(pass)
      sweep()
      passes += PassRec(pass, trace, wall, gcPass, stealPass, left)
      pass += 1
    }
    val timedS = (System.nanoTime() - loopStart) / 1e9
    val gcTimed = gcMs() - gc0
    val stealTimed = Host.stealMs() - steal0
    if (trace) GraftBenchBus.drain(sc)

    phase("timed passes")

    // 4. checks, anchors, micro-benchmarks
    val checks = if (checksFirst) earlyChecks else guarded(w.checks())
    if (!checksFirst) phase("checks")
    val anchors = Host.anchors(spark, s"$work/tables")
    val micro = if (trace) Micro.run(spark) else Map.empty[String, Double]
    phase("anchors and micro-benchmarks")

    val opJson = (recs: Seq[OpRec]) => recs.map(r => Map(
      "id" -> r.id, "name" -> r.name, "kind" -> r.kind, "pass" -> r.pass, "traced" -> r.traced,
      "start_ns" -> r.startNs, "end_ns" -> r.endNs, "start_ms" -> r.startMs, "end_ms" -> r.endMs,
      "seconds" -> (r.endNs - r.startNs) / 1e9, "rows" -> r.rows, "error" -> r.error,
      "persisted_after" -> r.persistedAfter, "steal_ms" -> r.stealMs, "retry_of" -> r.retryOf))
    val extra: Map[String, Any] = w match {
      case il: IndexLifecycle => Map("refresh_writes" -> il.refreshWrites.toMap.map {
        case (f, ws) => f -> ws.map { case (b, n) => Map("bytes" -> b, "files" -> n) }
      })
      case _ => Map.empty
    }
    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus.toInt, "seconds" -> seconds,
      "trace" -> trace, "setups_s" -> setups, "timed_s" -> timedS, "phases_s" -> phases.toSeq,
      "passes" -> passes.map(p => Map("pass" -> p.pass, "traced" -> p.traced, "wall_s" -> p.wallS,
        "gc_ms" -> p.gcMs, "steal_ms" -> p.stealMs, "steal_share" -> stealShare(p.stealMs, p.wallS),
        "blocks_left" -> p.blocksLeft)),
      "ops" -> opJson(records.toSeq), "prepare" -> opJson(prepared), "check_pass" -> opJson(checkPass),
      "checks" -> checks.map(c => Map("name" -> c.name, "op" -> c.op, "ok" -> c.ok, "detail" -> c.detail)),
      "heap_peak_mb" -> heap.max, "heap_samples_mb" -> heap, "gc_ms" -> gcTimed, "steal_ms" -> stealTimed,
      "anchors" -> anchors, "micro" -> micro, "info" -> (w.info ++ extra),
      "spans" -> tracer.spans.map(sp => Map("name" -> sp.name, "op" -> sp.op, "parent" -> sp.parent,
        "start_ns" -> sp.startNs, "end_ns" -> sp.endNs)),
      "spark" -> recorder.byOp.map { case (k, v) => k -> v.toMap },
      "plans" -> recorder.plans.asScala.toSeq.map { case (start, ms) => Seq(start, ms) },
      "jvm" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")))
    Files.writeString(Paths.get(args("out")), Json(out))
    spark.stop()
    phase("stopped")
  }
}

/** Host context for diagnostics: hypervisor steal and the three
  * calibration anchors in the shapes graft.Bench pins (scan + agg over
  * lineitem, a 20M-row × 100k-key hash aggregate, xxhash64 over 100M
  * rows), one warm and one timed run each. */
object Host {
  def stealMs(): Long =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")))
        .linesIterator.next().trim.split("\\s+")
      f(8).toLong * 10
    } catch { case _: Throwable => -1L }

  def anchors(s: SparkSession, tables: String): Map[String, Long] = {
    def anchor(body: => Unit): Long = {
      body
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1000000L
    }
    Map(
      "cal_scan_agg_ms" -> anchor {
        s.read.parquet(s"$tables/lineitem.parquet")
          .agg(sum(col("l_quantity")), avg(col("l_extendedprice"))).count()
      },
      "cal_shuffle_ms" -> anchor {
        s.range(20000000L).selectExpr("id % 100000 AS k", "id")
          .groupBy("k").agg(sum(col("id"))).count()
      },
      "cal_hash_cpu_ms" -> anchor {
        s.range(100000000L).agg(sum(xxhash64(col("id")))).count()
      })
  }
}
