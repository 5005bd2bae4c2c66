package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batched-BM25 contract: a JVM-side third implementation of q129's
  * fixed-point kernel on a planted corpus, per-query ranking laws,
  * batched == single-query kernel equality against [[ops.TextAnalysis]],
  * and the gate query's block shape at sf0.01. */
class RetrievalSpec extends AnyFunSuite {
  import TestSpark._

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def qf(rows: Seq[(Long, Seq[String])]) = {
    import spark.implicits._
    rows.toDF("query_id", "terms")
  }

  /** Independent scalar replay of the q129 kernel (all Long division —
    * the same DIV-at-every-step fixed point). */
  private def kernel(tf: Long, dfT: Long, n: Long, dl: Long, sumDl: Long): Long = {
    val avgdlMilli = sumDl * 1000 / n
    val idfMilli = (2 * n - 2 * dfT + 1) * 1000 / (2 * dfT + 1)
    val normMilli = 250 + (750 * ((dl * 1000000) / avgdlMilli)) / 1000
    idfMilli * tf * 2200 / (tf * 1000 + (1200 * normMilli) / 1000)
  }

  test("planted corpus: scores match a scalar third implementation; ranking laws hold") {
    // 4 docs, controlled tf/dl; query {x, z}: z is rare (df=1), x common
    val docs = df(Seq(
      1L -> "x x x y y",       // tf_x=3, dl=5
      2L -> "x y y y y y y y", // tf_x=1, dl=8
      3L -> "z x y y y",       // has the rare term
      4L -> "y y y y"))        // matches nothing
    val out = Graft.bm25TopK(docs, qf(Seq(1L -> Seq("x", "z"))), k = 10).collect()
    // doc 4 shares no term — must be absent
    assert(!out.exists(_.getLong(2) == 4L))
    val n = 4L; val sumDl = 5L + 8L + 5L + 4L
    val expected = Map(
      1L -> kernel(3, 3, n, 5, sumDl),
      2L -> kernel(1, 3, n, 8, sumDl),
      3L -> (kernel(1, 3, n, 5, sumDl) + kernel(1, 1, n, 5, sumDl)))
    out.foreach { r =>
      assert(r.getLong(3) == expected(r.getLong(2)),
        s"doc ${r.getLong(2)}: score ${r.getLong(3)} != ${expected(r.getLong(2))}")
    }
    // the rare-term doc must rank first (idf dominance); ranks are 1..3
    val byRank = out.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(byRank.head == 3L, s"rare-term doc should rank 1st, got $byRank")
    assert(out.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
    // n_hit counts matched terms
    assert(out.find(_.getLong(2) == 3L).get.getLong(4) == 2L)
  }

  test("k truncates per query; ties break by doc_id; a query matching nothing emits nothing") {
    val docs = df(Seq(1L -> "x y", 2L -> "x y", 3L -> "x y", 4L -> "x x y"))
    val out = Graft.bm25TopK(docs,
      qf(Seq(7L -> Seq("x"), 8L -> Seq("zz"))), k = 2).collect()
    // doc 4 (tf=2, dl=3) outranks the tf=1 ties; then lowest doc_id; q8 absent
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((7L, 1L, 4L), (7L, 2L, 1L)))
  }

  test("batched kernel == q129's single-query kernel on the same corpus") {
    // one batch query with q129's exact term set must reproduce
    // bm25Of's (doc_id, score) list — same kernel, two plan shapes
    val docs = Tables.documents(spark, Sf0001)
    val single = ops.TextAnalysis.bm25Of(docs, Seq("hash", "join", "scan"), 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val batched = Graft.bm25TopK(docs,
      qf(Seq(1L -> Seq("hash", "join", "scan"))), k = 50)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toSeq
    assert(batched == single)
  }

  test("stored index round-trip: serve-from-stored == inline, layout law, raw text absent") {
    val docs = Tables.documents(spark, Sf0001)
    val dir = "target/fixtures/bm25_index_spec"
    // Pin AQE partition-coalescing OFF for the write: at sf0.001 AQE
    // rightly folds the tiny term-hash shuffle to one partition, which
    // would hide the shape under test. With coalescing off, the file
    // count is the write's OWN shape — repartition(t) fans out across
    // shuffle partitions, a coalesce(1) funnel stays 1 file regardless,
    // so the gate distinguishes exactly the banned layout.
    val coalKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalKey)
    spark.conf.set(coalKey, "false")
    try Graft.writeBm25Index(docs, dir)
    finally spark.conf.set(coalKey, prev)
    val idx = Graft.readBm25Index(spark, dir)
    val queries = qf(ops.Retrieval.gateQueries)
    val stored = Graft.bm25SearchStored(idx, queries, 10).collect().toSeq
    val inline = Graft.bm25TopK(docs, queries, 10).collect().toSeq
    assert(stored == inline, "stored-index search must be bit-identical to inline")
    // a query batch the index has never seen works too (full vocabulary)
    val fresh = qf(Seq(99L -> Seq("lineitem", "row", "big")))
    val storedFresh = Graft.bm25SearchStored(idx, fresh, 5).collect().toSeq
    val inlineFresh = Graft.bm25TopK(docs, fresh, 5).collect().toSeq
    assert(storedFresh == inlineFresh)
    // layout law: 1-row stats, per-term dfs, and NO raw text anywhere
    assert(idx._3.count() == 1L)
    assert(idx._2.columns.toSeq == Seq("t", "df"))
    assert(!idx._1.columns.contains("text") && !idx._2.columns.contains("text"))
    // write-shape law: postings AND df are term-hash partitioned
    // (multi-file — at 100 TB the vocabulary is billions of rows, so a
    // coalesce(1) funnel is banned); only the 1-row stats is 1-file
    def parts(sub: String): Int =
      new java.io.File(s"$dir/$sub").listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts("postings") > 1, "postings must be multi-file (term-hash partitioned)")
    assert(parts("df") > 1, "df must be multi-file (term-hash partitioned, no coalesce(1) funnel)")
    assert(parts("stats") == 1, "stats is the only coalesce(1)-worthy piece")
    // df table covers the full vocabulary (index is query-independent)
    val vocab = docs.select(explode(split(col("text"), " ")).as("t")).distinct().count()
    assert(idx._2.count() == vocab)
  }

  test("stored index refresh: refreshed == rebuilt piece-for-piece; collisions fail loudly") {
    val all = Tables.documents(spark, Sf0001)
    val base = all.filter(col("doc_id") % 3 =!= 0)
    val delta = all.filter(col("doc_id") % 3 === 0)
    val d1 = "target/fixtures/bm25_refresh_gen1"
    val d2 = "target/fixtures/bm25_refresh_gen2"
    val dAll = "target/fixtures/bm25_refresh_rebuild"
    Graft.writeBm25Index(base, d1)
    Graft.refreshStoredBm25Index(spark, d1, delta, d2)
    Graft.writeBm25Index(all, dAll)
    val ref = Graft.readBm25Index(spark, d2)
    val reb = Graft.readBm25Index(spark, dAll)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    assert(sorted(ref._1) == sorted(reb._1), "postings: refreshed != rebuilt")
    // df is stored as one additive segment per generation (r15
    // delta-proportional refresh): equality holds at the MERGED grain
    // scoring consumes (sum per term), not row-for-row
    def dfMerged(d: org.apache.spark.sql.DataFrame) =
      sorted(d.groupBy(col("t")).agg(sum(col("df")).as("df")))
    assert(dfMerged(ref._2) == dfMerged(reb._2), "df: refreshed != rebuilt (merged grain)")
    assert(sorted(ref._3) == sorted(reb._3), "stats: refreshed != rebuilt (sum_dl merge must be exact)")
    // the refresh segment itself is delta-proportional: gen-2's own
    // postings/ holds ONLY the delta's rows (the base is referenced via
    // the segment manifest, never rewritten)
    val gen2Own = spark.read.parquet(s"$d2/postings")
    assert(gen2Own.count() < ref._1.count(),
      "gen-2 segment must hold only the delta's postings")
    assert(gen2Own.join(base.select(col("doc_id")), Seq("doc_id")).count() == 0L,
      "gen-2 segment must not contain base-generation postings")
    // serve path agrees too, and with the inline build over the union
    val queries = qf(ops.Retrieval.gateQueries)
    val servedRef = Graft.bm25SearchStored(ref, queries, 10).collect().toSeq
    assert(servedRef == Graft.bm25SearchStored(reb, queries, 10).collect().toSeq)
    assert(servedRef == Graft.bm25TopK(all, queries, 10).collect().toSeq)
    // ADD-only contract: an already-indexed doc_id in the delta raises
    val ex = intercept[IllegalArgumentException] {
      Graft.refreshStoredBm25Index(spark, d2, all.limit(1), "target/fixtures/bm25_refresh_bad")
    }
    assert(ex.getMessage.contains("ADD-only"))
  }

  test("an empty segment manifest fails with a clear message, not a bare reduce error") {
    val d = "target/fixtures/bm25_empty_manifest"
    Graft.writeBm25Index(df(Seq(1L -> "alpha beta", 2L -> "beta gamma")), d)
    // a generation written before index manifests existed lists its
    // segments in segments.txt: drop the manifest and leave an empty
    // segments.txt, through the Hadoop FS API, which keeps checksum
    // sidecars consistent
    val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/${ops.StoredIndex.ManifestFile}"), false)
    val manifest = new org.apache.hadoop.fs.Path(s"$d/segments.txt")
    fs.create(manifest, true).close()
    val ex = intercept[IllegalArgumentException](Graft.readBm25Index(spark, d))
    assert(ex.getMessage.contains("empty segments.txt"))
  }

  test("refresh refuses an outPath anywhere in the base generation's segment chain") {
    val d1 = "target/fixtures/bm25_chain_gen1"
    val d2 = "target/fixtures/bm25_chain_gen2"
    Graft.writeBm25Index(df(Seq(1L -> "alpha beta", 2L -> "beta gamma")), d1)
    Graft.refreshStoredBm25Index(spark, d1, df(Seq(3L -> "gamma delta")), d2)
    val before = Graft.readBm25Index(spark, d2)._1.count()
    // gen 2 lists gen 1's root as a segment: refreshing gen 2 into it
    // would overwrite postings gen 2 still reads
    val ex = intercept[IllegalArgumentException] {
      Graft.refreshStoredBm25Index(spark, d2, df(Seq(4L -> "delta eps")), d1)
    }
    assert(ex.getMessage.contains("every segment of its chain"))
    assert(Graft.readBm25Index(spark, d2)._1.count() == before)
  }

  test("ANN, band and Bloom refreshes refuse an outPath in the base generation's chain") {
    def refused(body: => Unit): Unit = {
      val ex = intercept[IllegalArgumentException](body)
      assert(ex.getMessage.contains("every segment of its chain"), ex.getMessage)
    }
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    // ANN: gen 2 references gen 1's frozen quantizers, so gen 1's root
    // is in gen 2's chain as well as gen 2's own
    val emb = Tables.embeddings(spark, Sf0001).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
    val delta = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), lit("changed").as("status"), col("v"))
    val a1 = "target/fixtures/ann_chain_gen1"
    val a2 = "target/fixtures/ann_chain_gen2"
    Graft.writeAnnIndex(emb, a1)
    Graft.refreshStoredAnnIndex(spark, a1, delta, a2)
    val codes = Graft.readAnnIndex(spark, a2)._3.count()
    refused(Graft.refreshStoredAnnIndex(spark, a2, delta, a1))
    refused(Graft.refreshStoredAnnIndex(spark, a2, delta, a2))
    refused(Graft.refreshStoredAnnIndex(spark, a1, delta, a1))
    assert(Graft.readAnnIndex(spark, a2)._1.count() > 0 &&
      Graft.readAnnIndex(spark, a2)._3.count() == codes)
    // band and Bloom generations are self-contained: only the base root
    val b1 = "target/fixtures/band_chain_gen1"
    Graft.writeBandIndex(docs.filter(col("doc_id") < 50), b1)
    refused(Graft.refreshStoredBandIndex(spark, b1,
      docs.filter(col("doc_id") === 60L).withColumn("status", lit("added")), b1))
    val f1 = "target/fixtures/bloom_chain_gen1"
    Graft.writeBloomIndex(docs.filter(col("doc_id") < 50), f1)
    refused(Graft.refreshStoredBloomIndex(spark, f1, docs.filter(col("doc_id") === 60L), f1))
    assert(Graft.readBandIndex(spark, b1)._2.count() == 50L)
    assert(Graft.readBloomIndex(spark, f1)._2.count() > 0L)
  }

  test("q236 gate query returns full ranked top-10 blocks at sf0.01") {
    val rows = SparkEntry.queries("q236_batch_retrieval")(spark, Sf001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == ops.Retrieval.gateQueries.map(_._1).toSet)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 10, s"query $q: expected a full top-10, got ${rs.length}")
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to 10L), s"query $q ranks")
      val byRk = rs.sortBy(_.getLong(1)).map(_.getLong(3)).toSeq
      assert(byRk == byRk.sorted.reverse, s"query $q scores not ranked")
    }
  }
}
