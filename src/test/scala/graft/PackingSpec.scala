package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sequence-packing invariants: coverage, dense bin numbering per shard,
  * and the greedy streaming-pack bound (a bin exceeds the budget by at
  * most its last document). */
class PackingSpec extends AnyFunSuite {
  import TestSpark._

  private val Budget = 8192L

  test("packing covers every document once and bins are dense per shard") {
    val bins = SparkEntry.queries("q74_token_packing")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = Tables.documents(spark, Sf0001).count()
    assert(bins.map(_._3).sum == total)
    bins.groupBy(_._1).foreach { case (shard, bs) =>
      val ids = bs.map(_._2).sorted
      assert(ids.toSeq == (0L until ids.length).toSeq, s"shard $shard bins not dense")
    }
  }

  test("greedy bound at a bin-splitting budget: sum <= budget + one max doc") {
    val sharded = graft.ops.Packing.shardedTokens(Tables.documents(spark, Sf0001))
    val maxDocTokens = sharded.agg(max("tokens")).head.getLong(0)
    // budget > max doc keeps bins dense (quotient can only step by 1);
    // small enough that busy shards must split
    val smallBudget = maxDocTokens + 50
    val bins = graft.ops.Packing.pack(sharded, smallBudget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bins.forall(_._4 <= smallBudget + maxDocTokens))
    assert(bins.groupBy(_._1).values.exists(_.length > 1),
      s"no shard split at budget $smallBudget — fixture too small to exercise packing")
    bins.groupBy(_._1).foreach { case (shard, bs) =>
      assert(bs.map(_._2).sorted.toSeq == (0L until bs.length).toSeq,
        s"shard $shard bins not dense")
    }
  }
}
