package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot-key census for the two LSH join families (VERDICT r14 item 6 —
  * the §2.5 skew pass): measures per-join-key populations for
  *
  *  1. the MINHASH BAND join (q26/q83/q154/q75/q143/CC family and the
  *     q207/q239 stored band index): key = (b, bkey);
  *  2. the HYPERPLANE BUCKET join (q29/q178/q179/q206, guarded by
  *     [[ops.Similarity.DefaultMaxBucketSize]]): key = bucket — plus
  *     the sub-bucketed key (bucket, band, sig) AFTER
  *     [[ops.Similarity.lshGuardBuckets]], to check the guard actually
  *     splits a planted hot bucket;
  *
  * on three corpora: sf0.1 as-is, the dup-heavy ~10× corpus (every doc
  * × N re-keyed twins — the ScalingProbe build), and a HOT-CLUSTER
  * corpus (sf0.1 + ONE doc/vector re-keyed `HotCopies`× — the
  * adversarial mega-near-dup-cluster shape that uniform duplication
  * cannot produce). For each it prints max / p99 / median key
  * population, keys above the relevant guard, and the candidate-pair
  * volume Σ C(n_k, 2) its hottest key implies — the number that decides
  * whether one reduce task owns a quadratic blob at 100 TB.
  *
  * Results: plans/R15_SKEW.md. Dev-only probe, not driver contract —
  * run `sbt Test/compile`, then `tools/graftrun.sh graft.SkewProbe`. */
object SkewProbe {
  private val HotCopies = 1000

  private def stats(keyed: DataFrame, guard: Long, label: String): Unit = {
    val sizes = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val r = sizes.agg(
      count(lit(1)).as("keys"),
      max(col("n")).as("mx"),
      expr("approx_percentile(n, 0.99)").as("p99"),
      expr("approx_percentile(n, 0.5)").as("p50"),
      sum(when(col("n") > guard, 1L).otherwise(0L)).as("over"),
      sum(col("n") * (col("n") - 1) / 2).as("pairs")).head
    val hotPairs = {
      val m = r.getLong(1); m * (m - 1) / 2
    }
    println(s"""{"probe":"$label","keys":${r.getLong(0)},"max":${r.getLong(1)},""" +
      s""""p99":${r.get(2)},"p50":${r.get(3)},"over_guard":${r.getLong(4)},""" +
      s""""guard":$guard,"total_pairs":${r.getAs[Any](5)},"hottest_key_pairs":$hotPairs}""")
  }

  private def bandRows(docs: DataFrame): DataFrame =
    Graft.nearDupBandIndex(docs)._1
      .select(col("doc_id"), concat_ws("|", col("b"), col("bkey")).as("k"))

  private def hotClusterDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val one = docs.orderBy(col("doc_id")).limit(1)
    docs.unionByName(
      one.crossJoin(s.range(HotCopies).select(col("id")))
        .select((col("id") + 10000000L).as("doc_id"), col("text")))
  }

  private def hotClusterVecs(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val one = vecs.orderBy(col("vec_id")).limit(1)
    vecs.unionByName(
      one.crossJoin(s.range(HotCopies).select(col("id")))
        .select((col("id") + 10000000L).as("vec_id"), col("v")))
  }

  def main(args: Array[String]): Unit = {
    val s = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-skew-probe")
    val sf01 = "/root/testdata/sf0.1"
    val big = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_10x")
    // the dup-heavy 10× corpus (only its two scaled tables are read here)
    ScalingProbe.buildScaledCorpus(s, sf01, big, 10)

    // ---- band join (text near-dup family) ---------------------------
    // no per-key guard exists on this join; 'guard' below is the
    // REPORTING threshold only (what a single reduce task would own)
    stats(bandRows(Tables.documents(s, sf01).select(col("doc_id"), col("text"))),
      64, "band_sf01")
    stats(bandRows(s.read.parquet(s"$big/documents.parquet")
        .select(col("doc_id"), col("text"))), 64, "band_10x_duphevy")
    stats(bandRows(hotClusterDocs(s, sf01)), 64, s"band_hot_${HotCopies}x")

    // ---- hyperplane bucket join (embedding family) -------------------
    import ops.Similarity.{DefaultMaxBucketSize, bucketized, lshGuardBuckets}
    def vecs(dir: String): DataFrame =
      Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    stats(bucketized(vecs(sf01)).select(col("vec_id"), col("bucket").as("k")),
      DefaultMaxBucketSize, "bucket_sf01")
    stats(bucketized(s.read.parquet(s"$big/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
        .select(col("vec_id"), col("bucket").as("k")),
        DefaultMaxBucketSize, "bucket_10x_duphevy")
    val hot = bucketized(hotClusterVecs(s, sf01))
    stats(hot.select(col("vec_id"), col("bucket").as("k")),
      DefaultMaxBucketSize, s"bucket_hot_${HotCopies}x")
    // the guard's own output grain on the planted hot bucket: the join
    // key after sub-bucketing is (bucket, band, sig) — this is the
    // population an actual q29/q206 reduce task would own. Planted
    // copies are IDENTICAL vectors, the worst case for any
    // geometry-derived split (they share every sub-bucket signature):
    // the guard bounds organically-dense regions, not exact clones —
    // exact clones are q24/exact-dedup's job upstream. Measure both the
    // identical-clone case and a jittered variant (clones ± per-index
    // 1e-6 noise, the realistic near-dup cloud) to show the split works
    // exactly where its mechanism says it should.
    stats(lshGuardBuckets(hot, 64)
      .select(col("vec_id"), concat_ws("|", col("bucket"), col("band"), col("sig")).as("k")),
      64, s"subbucket_hot_identical_${HotCopies}x")
    def jittered(amp: Double): DataFrame = {
      val vs = Tables.embeddings(s, sf01)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val one = vs.orderBy(col("vec_id")).limit(1)
      vs.unionByName(
        one.crossJoin(s.range(HotCopies).select(col("id")))
          .select((col("id") + 10000000L).as("vec_id"),
            zip_with(col("v"),
              transform(sequence(lit(1), size(col("v"))),
                i => pmod(xxhash64(col("id") * lit(1000) + i), lit(2001)) - lit(1000)),
              (x, r) => x + r.cast("double") * lit(amp / 1000.0)).as("v")))
    }
    // two cloud widths: a TIGHT clone cloud (±1e-3 — narrower than the
    // organic members' pull on the sub-bucket centroid, so every clone
    // sits on the same side of most sign boundaries: the split cannot
    // engage, same as exact clones) and a SPREAD near-dup cloud (±0.1 —
    // the cloud straddles the centroid, signs split it)
    stats(lshGuardBuckets(bucketized(jittered(1e-3)), 64)
      .select(col("vec_id"), concat_ws("|", col("bucket"), col("band"), col("sig")).as("k")),
      64, s"subbucket_hot_tight_${HotCopies}x")
    stats(lshGuardBuckets(bucketized(jittered(0.1)), 64)
      .select(col("vec_id"), concat_ws("|", col("bucket"), col("band"), col("sig")).as("k")),
      64, s"subbucket_hot_spread_${HotCopies}x")
    s.stop()
  }
}
