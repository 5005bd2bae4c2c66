package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` indexes the enclosing span (-1 for an op's
  * root span); times are System.nanoTime. */
final case class Span(name: String, op: String, parent: Int, startNs: Long, var endNs: Long)

/** In-memory span recorder for the harness's own calls into graft. Spans
  * are kept only while `enabled` (traced passes); they are written out
  * with the run's result file, never during the run. Single-threaded: the
  * harness drives graft from one client thread. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  var enabled = false
  var op = ""
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(name, op, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        spans(id).endNs = System.nanoTime()
        stack = stack.tail
      }
    }
}

/** Spark-side counters of one op instance, summed over its jobs. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var gcMs = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "sched_wait_ms" -> schedWaitMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "gc_ms" -> gcMs)
}

/** The benchmark's own SparkListener + QueryExecutionListener. Jobs are
  * tied to an op instance through the [[Recorder.OpKey]] local property
  * the runner sets around each traced op; stages inherit their job's op.
  * Planning time comes from each action's QueryPlanningTracker phases and
  * is tied to an op later, by wall-clock window. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val counters = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val firstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  /** (first phase start ms, summed phase ms) per finished action. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def of(op: String): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  def byOp: Map[String, OpCounters] = counters.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpKey))).orNull
    if (op != null) {
      of(op).synchronized(of(op).jobs += 1)
      e.stageIds.foreach(stageOp.put(_, op))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (stageOp.containsKey(e.stageId))
      firstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) => math.min(a, b))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op = stageOp.get(info.stageId)
    if (op != null) {
      val c = of(op)
      val m = info.taskMetrics
      c.synchronized {
        c.stages += 1
        c.tasks += info.numTasks
        for (sub <- info.submissionTime; first <- Option(firstLaunch.get(info.stageId)))
          c.schedWaitMs += math.max(0L, first - sub)
        if (m != null) {
          c.runMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Recorder {
  val OpKey = "graftbench.op"
}

/** Minimal JSON encoder for the result file (maps, sequences, strings,
  * numbers, booleans, options). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
