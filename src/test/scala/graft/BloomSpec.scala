package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Bloom-pre-filtered decontamination contract (q213): the final
  * report must be BIT-IDENTICAL to the exact broadcast path (q101) —
  * Bloom filters have no false negatives, and the exact verify join
  * must remove every false positive. The fp-heavy test forces a
  * saturated 1 Ki-bit bitmap (fp rate near 1) so the verify join does
  * real work; the pruning test checks the pre-filter actually drops
  * non-candidate shingles at the default size (otherwise the operator
  * is a slower q101, not a scale path). */
class BloomSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = Tables.documents(spark, Sf0001)
  private def corpus = docs.filter(col("doc_id") % 20 =!= 0)
  private def evalSet = docs.filter(col("doc_id") % 20 === 0)

  private def collected(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy(col("doc_id")).collect().map(_.toString).toSeq

  test("bloom path == exact path at default knobs (sf0.001)") {
    val exact = collected(ops.Decontam.decontaminate(corpus, evalSet))
    val bloom = collected(ops.Decontam.bloomDecontaminate(corpus, evalSet))
    assert(bloom == exact)
  }

  test("bloom path == exact path under a saturated fp-heavy bitmap (m = 1024, k = 1)") {
    val exact = collected(ops.Decontam.decontaminate(corpus, evalSet))
    val bloom = collected(ops.Decontam.bloomDecontaminate(
      corpus, evalSet, mBits = 1024L, kHashes = 1))
    assert(bloom == exact)
  }

  test("pre-filter prunes: candidate shingles strictly fewer than corpus shingles") {
    val corpusHashed = ops.Dedup.hashedShinglesOf(corpus)
    val evalHashed = ops.Dedup.hashedShinglesOf(evalSet)
    val totalShingles = corpusHashed
      .agg(sum(size(col("hs")))).head.getLong(0)
    // true hits lower-bound the candidates (no false negatives)
    val trueHits = ops.Decontam.decontaminateHashed(corpusHashed, evalHashed, 0.1)
      .agg(sum(col("n_hit"))).head.getLong(0)
    val bitmap = ops.Decontam.bloomBitmap(
      evalHashed, ops.Decontam.DefaultBloomBits, ops.Decontam.DefaultBloomHashes)
    // replay the probe's candidate predicate standalone at default m, k
    val m = ops.Decontam.DefaultBloomBits
    val probedCand = (0 until ops.Decontam.DefaultBloomHashes).foldLeft(
      corpusHashed.select(col("doc_id"), explode(col("hs")).as("h"))) {
      case (df, j) =>
        df.withColumn(s"i$j", pmod(xxhash64(col("h"), lit(j)), lit(m)))
          .join(broadcast(bitmap.select(col("word").as(s"w$j"), col("bits").as(s"b$j"))),
            shiftright(col(s"i$j"), 6) === col(s"w$j"), "left")
          .withColumn(s"hit$j",
            coalesce(col(s"b$j").bitwiseAND(
              expr(s"shiftleft(CAST(1 AS BIGINT), CAST(i$j & 63 AS INT))")), lit(0L)) =!= 0L)
    }
    val candidates = probedCand
      .filter((0 until ops.Decontam.DefaultBloomHashes).map(j => col(s"hit$j")).reduce(_ && _))
      .count()
    assert(candidates >= trueHits, "Bloom pre-filter dropped a true hit (false negative)")
    assert(candidates < totalShingles,
      s"pre-filter admitted every shingle ($candidates of $totalShingles) — no pruning at default size")
  }

  test("refreshBloomIndex: delta refresh is byte-identical to a rebuild; stale bits stay harmless") {
    val base = evalSet.filter(col("doc_id") % 2 === 0)
    val delta = evalSet.filter(col("doc_id") % 2 =!= 0)
    def bits(index: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame))
        : Map[Long, Long] =
      index._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refreshed = bits(Graft.refreshBloomIndex(Graft.bloomEvalIndex(base), delta))
    val rebuilt = bits(Graft.bloomEvalIndex(evalSet))
    assert(refreshed == rebuilt, "refreshed bitmap != rebuilt bitmap")
    // idempotence: re-applying the same delta moves nothing
    val again = bits(Graft.refreshBloomIndex(Graft.bloomEvalIndex(evalSet), delta))
    assert(again == rebuilt, "re-observed shingles must not move the bitmap")
    // a deliberately stale SUPERSET index (whole-corpus bits beside the
    // eval suite's shingle table) still yields the EXACT report through
    // the index serve path: extra bits are false positives the verify
    // join removes
    val exact = collected(ops.Decontam.decontaminate(corpus, evalSet))
    val (staleBitmap, _) = Graft.bloomEvalIndex(docs) // every doc's shingles — superset
    val (_, evalShingles) = Graft.bloomEvalIndex(evalSet)
    val viaStale = collected(Graft.bloomDecontaminateStored(corpus, (staleBitmap, evalShingles)))
    assert(viaStale == exact)
    assert(staleBitmap.count() >= Graft.bloomEvalIndex(evalSet)._1.count())
  }

  test("stored index carries its format; a mismatched refresh or probe fails loudly") {
    val idx = Graft.bloomEvalIndex(evalSet) // default (m_bits, k_hashes) stamped
    assert(idx._1.columns.toSeq == Seq("word", "bits", "m_bits", "k_hashes"))
    // refresh under different params must raise, not OR wrong positions
    // into a bitmap the no-false-negative invariant relies on
    val e1 = intercept[Exception] {
      Graft.refreshBloomIndex(idx, evalSet, bloomBits = 1L << 20)._1.collect()
    }
    assert(e1.getMessage.contains("format mismatch"), e1.getMessage)
    // probing through the index serve path with wrong k: same
    val e2 = intercept[Exception] {
      Graft.bloomDecontaminateStored(corpus, idx, bloomHashes = 5).collect()
    }
    assert(e2.getMessage.contains("format mismatch"), e2.getMessage)
    // a raw (word, bits) frame can no longer impersonate stored state
    val e3 = intercept[IllegalArgumentException] {
      Graft.refreshBloomIndex((idx._1.select(col("word"), col("bits")), idx._2), evalSet)
    }
    assert(e3.getMessage.contains("format columns"), e3.getMessage)
  }

  test("bitmap is bounded by mBits/64 rows and knob guards reject bad values") {
    val evalHashed = ops.Dedup.hashedShinglesOf(evalSet)
    val rows = ops.Decontam.bloomBitmap(evalHashed, 1024L, 3).count()
    assert(rows <= 1024L / 64)
    intercept[IllegalArgumentException] {
      ops.Decontam.bloomDecontaminate(corpus, evalSet, mBits = 63L)
    }
    intercept[IllegalArgumentException] {
      ops.Decontam.bloomDecontaminate(corpus, evalSet, kHashes = 0)
    }
  }
}
