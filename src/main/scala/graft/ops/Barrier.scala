package graft.ops

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage barriers: the one place that decides how a frame is
  * checkpointed and when its blocks are released. Every barrier in the
  * engine goes through here.
  *
  * A barrier evaluates its frame eagerly and truncates the lineage, so
  * a plan that references it many times (a fan-out into several
  * consumers, a loop round) reads the stored rows instead of replaying
  * the pipeline below. Without one, an iterative loop doubles its plan
  * per round and Catalyst analysis goes quadratic.
  *
  * Durability is a session setting, never a call-site choice: blocks
  * are executor-local (`localCheckpoint()`) unless the frame's own
  * session sets [[ReliableConfKey]] to `true`, which makes every
  * barrier a reliable `checkpoint()` under `SparkContext.setCheckpointDir`
  * whose lineage survives executor loss on a real cluster.
  *
  * Lifetime. A barrier's blocks may be released once no frame that can
  * still run reads them. Three entry points encode the three ways that
  * happens:
  *  - [[scoped]] — internal barriers: every pin made through the scope
  *    is released in a `finally` when the body returns or throws, so a
  *    failed write or a failed `require` leaves no blocks. The body must
  *    not return a lazy frame over its scope's pins.
  *  - [[release]] — rolling loop state (the components rounds, the BPE
  *    state, PageRank's ranks): a round releases its predecessor as soon
  *    as its own barrier has materialized (barriers are eager).
  *  - [[pin]] — a barrier that outlives the call because the call
  *    returns a lazy frame over it.
  *
  * BLOCK-LIFETIME CONTRACT for [[pin]]. Every API whose body pins returns
  * a frame that reads the pinned blocks, so the API cannot release them:
  * `ivfPqSearch`, `pqAdcFrozen`, `refreshComponents`,
  * `refreshDecontamSpans`, `connectedComponents` on its loop path (its
  * driver finish returns a local relation and pins nothing),
  * `triangles`, `clusteringCoeffOf`, `pageRankInt`, `lshRecallOf`,
  * `basketLiftOf`, `shingleOverlapOf`, the LSH bucket join behind
  * `knnGraph` and `embedClusters`, and the registry queries that
  * checkpoint a shared frame. The blocks stay pinned until the caller
  * drops every derived frame and unpersists them — `Bench` sweeps
  * `getPersistentRDDs.values.foreach(_.unpersist())` between bursts. A long-lived session that calls these APIs in a loop must
  * sweep between calls, or the blocks accumulate for the session's
  * life: the r10 driver bench measured that leak as q160 at 11.3 s
  * against 1.1 s in a fresh session (207 queries × 4 runs of
  * checkpoint-heavy loops pinned storage until eviction pressure
  * poisoned every later query). BlockLedgerSpec holds each of these
  * APIs to it: after a call, the only blocks left are ones its result
  * reads. */
object Barrier {

  /** Session conf key: `true` makes every barrier a reliable
    * `checkpoint()`, so callers that pass no flag (registry queries,
    * the facade) still get executor-loss-safe barriers on a cluster.
    * Requires `SparkContext.setCheckpointDir`. */
  val ReliableConfKey = "spark.graft.reliableCheckpoint"

  /** Evaluate `df` and truncate its lineage, with the durability its
    * session's [[ReliableConfKey]] selects. The returned frame is the
    * bare `LogicalRDD` over the stored rows — the only shape
    * [[release]] frees. */
  private[graft] def pin(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (s.conf.getOption(ReliableConfKey).exists(_.trim.equalsIgnoreCase("true"))) {
      require(s.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConfKey=true needs SparkContext.setCheckpointDir (reliable checkpoints write to it)")
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** Free the blocks behind a frame [[pin]] returned. Only that bare
    * frame qualifies: a derived frame (`.drop`/`.select` over one) is
    * deliberately not matched, because releasing through it could free
    * a leaf the caller still shares. Idempotent; reliable checkpoints
    * keep their rows in files, not blocks, so there is nothing to free. */
  private[graft] def release(pinned: DataFrame): Unit =
    pinned.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Pins whose lifetime is one [[scoped]] body. */
  final class Scope private[Barrier] () {
    private[Barrier] val pinned = ArrayBuffer.empty[DataFrame]

    /** [[Barrier.pin]], released when the scope closes. */
    def pin(df: DataFrame): DataFrame = {
      val p = Barrier.pin(df)
      pinned += p
      p
    }
  }

  /** Run `body` and release every pin it made through its scope, on
    * return or on failure. */
  private[graft] def scoped[A](body: Scope => A): A = {
    val scope = new Scope
    try body(scope) finally scope.pinned.foreach(release)
  }
}
