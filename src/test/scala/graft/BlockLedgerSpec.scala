package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Bpe, Components, Quantize, Retrieval}

/** The block ledger: every API that puts in a lineage barrier, called
  * [[Calls]] times in one session, leaves behind no storage blocks but
  * the ones its result reads ([[graft.ops.Barrier]]'s block-lifetime
  * contract). An API that finishes its work inside the call — an index
  * write or refresh, BPE training, the components driver finish —
  * must return `getPersistentRDDs` to its baseline, on failure too. An
  * API that returns a lazy frame over pinned blocks may leave only
  * blocks that frame reads; releasing those restores the baseline. */
class BlockLedgerSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Calls = 20

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpointed RDDs `df`'s plan reads. */
  private def rddsRead(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** `api` leaves no blocks, call after call. */
  private def leavesNothing(api: => Unit): Unit = (1 to Calls).foreach { n =>
    val before = persisted
    api
    val left = persisted -- before
    assert(left.isEmpty, s"call $n left blocks of RDDs $left")
  }

  /** `api`'s result reads every block the call left; releasing those
    * brings the ledger back to its baseline, and the result still reads
    * right until then. */
  private def leavesOnlyItsResult(api: => DataFrame): Unit = (1 to Calls).foreach { n =>
    val before = persisted
    val out = api
    val left = persisted -- before
    assert(left.subsetOf(rddsRead(out)),
      s"call $n left blocks of RDDs ${left -- rddsRead(out)} its result never reads")
    assert(out.collect().nonEmpty)
    left.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    assert((persisted -- before).isEmpty)
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Broadcasting off, which also turns off the components driver finish. */
  private def loopOnly[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(
      withConf("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")(body))

  private val edges = (0L until 60L).flatMap(c => Seq((c * 5, c * 5 + 1), (c * 5 + 1, c * 5 + 2),
    (c * 5, c * 5 + 2), (c * 5 + 2, c * 5 + 3))).toDF("i", "j")

  private def docs(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

  private val corpus = docs((1L to 30L).map(d => d -> s"alpha beta gamma w$d beta alpha delta w${d % 4}"))

  private def emb = Tables.embeddings(spark, Sf0001)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))

  /** A path no write can create: its parent is a regular file. */
  private def unwritable(tag: String): String = {
    val f = java.nio.file.Files.createTempFile(s"graft-ledger-$tag", ".file")
    s"$f/index"
  }

  test("connected components leave no blocks on the driver finish") {
    leavesNothing(Components.connectedComponents(edges).collect())
  }

  test("connected components on the loop path leave only the blocks of the labels they return") {
    loopOnly(leavesOnlyItsResult(Components.connectedComponents(edges)))
  }

  test("triangles and pageRankInt leave only the blocks of the frame they return") {
    leavesOnlyItsResult(Components.triangles(edges))
    leavesOnlyItsResult(Components.pageRankInt(edges.toDF("src", "dst"), 3))
  }

  test("ivfPqSearch leaves only the blocks of the frame it returns") {
    leavesOnlyItsResult(Quantize.ivfPqSearch(emb, probeMax = 5L, nProbe = 2, topK = 3))
  }

  test("BPE training leaves no blocks") {
    leavesNothing(Bpe.trainMerges(corpus, 3))
    leavesNothing(Bpe.trainMerges(corpus, 3, maxBatch = 2))
  }

  test("index writes and a BM25 refresh leave no blocks") {
    val root = java.nio.file.Files.createTempDirectory("graft-ledger").toString
    leavesNothing(Quantize.writeAnnIndex(emb, s"$root/ann"))
    leavesNothing(Retrieval.writeBm25Index(corpus, s"$root/bm25"))
    val delta = docs((100L to 104L).map(d => d -> s"beta epsilon w$d"))
    leavesNothing(Retrieval.refreshStoredBm25Index(spark, s"$root/bm25", delta, s"$root/bm25_gen2"))
  }

  test("a failed write or a colliding BM25 refresh leaves no blocks") {
    val root = java.nio.file.Files.createTempDirectory("graft-ledger-fail").toString
    Retrieval.writeBm25Index(corpus, s"$root/bm25")
    leavesNothing {
      val ex = intercept[IllegalArgumentException](
        Retrieval.refreshStoredBm25Index(spark, s"$root/bm25", corpus.limit(1), s"$root/bm25_bad"))
      assert(ex.getMessage.contains("ADD-only"))
    }
    leavesNothing(intercept[Exception](Retrieval.writeBm25Index(corpus, unwritable("bm25"))))
    leavesNothing(intercept[Exception](Quantize.writeAnnIndex(emb, unwritable("ann"))))
  }
}
