package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serve-path parity for the two remaining stored-state families —
  * the AnnIndexSpec / RetrievalSpec discipline (write → read → serve ==
  * inline; layout law: no raw text, no single-file funnels on unbounded
  * pieces; refresh ∝ delta == rebuild) applied to the near-dup band
  * index and the Bloom decontamination index — plus the manifest every
  * family's generations share ([[ops.StoredIndex]]): opening starts no
  * job, a manifest-less generation reads the same, a copied tree of
  * generations serves the same, and an ANN refresh references its
  * base's quantizers instead of copying them. */
class StoredIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = Tables.documents(spark, Sf0001)

  /** Write under AQE partition-coalescing pinned OFF so the artifact
    * file count reflects the write's OWN shape (at sf0.001 AQE rightly
    * folds tiny shuffles to one partition, which would hide a
    * coalesce(1) funnel from the multi-file law — the RetrievalSpec
    * precedent). */
  private def writeUncoalesced(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  private def parts(dir: String): Int =
    new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Two index values agree piece for piece: column names and types
    * (as a parquet read types them — every field nullable), and rows. */
  private def assertSamePieces(a: (DataFrame, DataFrame), b: (DataFrame, DataFrame)): Unit =
    Seq(a._1 -> b._1, a._2 -> b._2).foreach { case (x, y) =>
      assert(ops.StoredIndex.schemaOf(x) == ops.StoredIndex.schemaOf(y), "piece schema drifted")
      assert(sortedRows(x) == sortedRows(y), s"piece rows drifted (${x.columns.mkString(",")})")
    }

  // ---------------------------------------------------------------- band

  // standing corpus + an incoming batch that re-keys 30 standing docs
  // (identical text ⇒ guaranteed jaccard-1.0 alerts, so the equality
  // checks compare non-empty sets)
  private def standing = docs.filter(col("doc_id") < 200)
    .select(col("doc_id"), col("text"))
  private def incoming = docs.filter(col("doc_id") < 30)
    .select((col("doc_id") + 100000L).as("doc_id"), col("text"))

  test("band index: serve-from-stored == inline gate; layout law") {
    val path = java.nio.file.Files.createTempDirectory("bandidx").toString
    writeUncoalesced { Graft.writeBandIndex(standing, path) }
    val idx = Graft.readBandIndex(spark, path)
    val stored = sortedRows(Graft.nearDupServeStored(incoming, idx, 0.8))
    val inline = sortedRows(Graft.nearDupStream(incoming, standing, 0.8))
    assert(stored.nonEmpty, "planted re-keyed duplicates must alert")
    assert(stored == inline, "stored-index alerts drifted from the inline gate")
    // layout law: no raw text anywhere; the heavy shingle state lives
    // once per doc in docs/, the probe rows in bands/; both pieces are
    // multi-file (no coalesce(1) funnel on unbounded data)
    val (bands, docsPiece) = idx
    assert(bands.columns.toSeq == Seq("doc_id", "b", "bkey"))
    assert(docsPiece.columns.toSeq == Seq("doc_id", "hs", "bkeys"))
    assert(!bands.columns.contains("text") && !docsPiece.columns.contains("text"))
    assert(parts(s"$path/bands") > 1, "bands must be multi-file (band-key partitioned)")
    assert(parts(s"$path/docs") > 1, "docs must be multi-file (doc_id partitioned)")
    assert(docsPiece.count() == standing.count(), "one state row per standing doc")
    assert(bands.count() == 4L * standing.count(), "one probe row per (doc, band)")
  }

  // generations built like q207: gen1 lacks every 7th doc (-> added),
  // gen2 drops every 6th (-> removed) and rewrites every 5th (-> changed)
  private def g1 = standing.filter(col("doc_id") % 7 =!= 0)
  private def g2 = standing.filter(col("doc_id") % 6 =!= 0)
    .withColumn("text", when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" freshly appended refresh clause")))
      .otherwise(col("text")))
  private def delta = Graft.snapshotDelta(
      g1.withColumn("fp", md5(col("text"))),
      g2.withColumn("fp", md5(col("text"))), "doc_id", "fp")
    .select(col("doc_id"), col("status"), col("text"))

  test("band index: stored refresh == rebuild, piece for piece and alert for alert") {
    val p1 = java.nio.file.Files.createTempDirectory("bandg1").toString
    val p2 = java.nio.file.Files.createTempDirectory("bandg2").toString
    val p3 = java.nio.file.Files.createTempDirectory("bandg2r").toString
    Graft.writeBandIndex(g1, p1)
    Graft.refreshStoredBandIndex(spark, p1, delta, p2)
    Graft.writeBandIndex(g2, p3)
    val refreshed = Graft.readBandIndex(spark, p2)
    val rebuilt = Graft.readBandIndex(spark, p3)
    assert(sortedRows(refreshed._1) == sortedRows(rebuilt._1), "bands/ drifted")
    assert(sortedRows(refreshed._2) == sortedRows(rebuilt._2), "docs/ drifted")
    val a1 = sortedRows(Graft.nearDupServeStored(incoming, refreshed, 0.8))
    val a2 = sortedRows(Graft.nearDupServeStored(incoming, rebuilt, 0.8))
    assert(a1.nonEmpty && a1 == a2)
  }

  test("band index: the built pair == its stored read-back; in-memory refresh == stored refresh") {
    val p1 = java.nio.file.Files.createTempDirectory("bandb1").toString
    val p2 = java.nio.file.Files.createTempDirectory("bandb2").toString
    Graft.writeBandIndex(g1, p1)
    assertSamePieces(Graft.nearDupBandIndex(g1), Graft.readBandIndex(spark, p1))
    Graft.refreshStoredBandIndex(spark, p1, delta, p2)
    assertSamePieces(Graft.refreshBandIndex(Graft.nearDupBandIndex(g1), delta),
      Graft.readBandIndex(spark, p2))
  }

  // --------------------------------------------------------------- bloom

  private def corpus = docs.filter(col("doc_id") % 20 =!= 0)
  private def evalSet = docs.filter(col("doc_id") % 20 === 0)
  // evalSet is exactly baseEval ∪ deltaEval
  private def baseEval = docs.filter(col("doc_id") % 40 === 0)
  private def deltaEval = docs.filter(col("doc_id") % 40 === 20)

  test("bloom index: serve-from-stored == inline path; layout law") {
    val path = java.nio.file.Files.createTempDirectory("bloomidx").toString
    writeUncoalesced { Graft.writeBloomIndex(evalSet, path) }
    val idx = Graft.readBloomIndex(spark, path)
    val stored = sortedRows(Graft.bloomDecontaminateStored(corpus, idx))
    val inline = sortedRows(ops.Decontam.bloomDecontaminate(corpus, evalSet))
    assert(stored.nonEmpty && stored == inline,
      "stored-index report drifted from the inline path")
    // layout law: format-stamped bitmap bounded by mBits/64 rows; the
    // unbounded shingle table multi-file; no raw text anywhere
    val (bitmap, shingles) = idx
    assert(bitmap.columns.toSeq == Seq("word", "bits", "m_bits", "k_hashes"))
    assert(shingles.columns.toSeq == Seq("h"))
    assert(bitmap.count() <= ops.Decontam.DefaultBloomBits / 64)
    assert(parts(s"$path/shingles") > 1,
      "shingles must be multi-file (hash partitioned, no coalesce(1) funnel)")
    // a mismatched probe format raises instead of corrupting
    val ex = intercept[Exception] {
      Graft.bloomDecontaminateStored(corpus, idx, bloomHashes = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("bloom index format mismatch")))
  }

  test("bloom index: stored refresh (added eval docs) == rebuild, bitmap byte-identical") {
    val p1 = java.nio.file.Files.createTempDirectory("bloomg1").toString
    val p2 = java.nio.file.Files.createTempDirectory("bloomg2").toString
    val p3 = java.nio.file.Files.createTempDirectory("bloomg2r").toString
    Graft.writeBloomIndex(baseEval, p1)
    Graft.refreshStoredBloomIndex(spark, p1, deltaEval, p2)
    Graft.writeBloomIndex(evalSet, p3) // % 20 == 0 is exactly base ∪ delta
    val refreshed = Graft.readBloomIndex(spark, p2)
    val rebuilt = Graft.readBloomIndex(spark, p3)
    assert(sortedRows(refreshed._1) == sortedRows(rebuilt._1),
      "refreshed bitmap must be byte-identical to the rebuild")
    assert(sortedRows(refreshed._2) == sortedRows(rebuilt._2),
      "refreshed shingle table must equal the rebuild's")
    val r1 = sortedRows(Graft.bloomDecontaminateStored(corpus, refreshed))
    val r2 = sortedRows(Graft.bloomDecontaminateStored(corpus, rebuilt))
    assert(r1.nonEmpty && r1 == r2)
  }

  test("bloom index: the built pair == its stored read-back; in-memory refresh == stored refresh") {
    val p1 = java.nio.file.Files.createTempDirectory("bloomb1").toString
    val p2 = java.nio.file.Files.createTempDirectory("bloomb2").toString
    Graft.writeBloomIndex(baseEval, p1)
    assertSamePieces(Graft.bloomEvalIndex(baseEval), Graft.readBloomIndex(spark, p1))
    Graft.refreshStoredBloomIndex(spark, p1, deltaEval, p2)
    assertSamePieces(Graft.refreshBloomIndex(Graft.bloomEvalIndex(baseEval), deltaEval),
      Graft.readBloomIndex(spark, p2))
  }

  // ------------------------------------------------------------ manifest

  private def emb = Tables.embeddings(spark, Sf0001)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))

  private val Families = Seq("ann", "bloom", "band", "bm25")

  /** Generation 0 of each family and one refreshed from it (gen1),
    * under `root`/<family>/. Read-only once built: tests that mutate
    * a tree work on a copy. */
  private lazy val tree: String = {
    val root = Files.createTempDirectory("idxtree").toString
    val d = docs.select(col("doc_id"), col("text"))
    def gen(f: String, g: Int) = s"$root/$f/gen$g"
    Graft.writeAnnIndex(emb, gen("ann", 0))
    Graft.refreshStoredAnnIndex(spark, gen("ann", 0), emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), lit("changed").as("status"), transform(col("v"), x => -x).as("v")),
      gen("ann", 1))
    Graft.writeBloomIndex(d.filter(col("doc_id") % 40 === 0), gen("bloom", 0))
    Graft.refreshStoredBloomIndex(spark, gen("bloom", 0), d.filter(col("doc_id") % 40 === 20),
      gen("bloom", 1))
    Graft.writeBandIndex(standing.filter(col("doc_id") % 7 =!= 0), gen("band", 0))
    Graft.refreshStoredBandIndex(spark, gen("band", 0),
      standing.filter(col("doc_id") % 7 === 0).withColumn("status", lit("added")), gen("band", 1))
    Graft.writeBm25Index(d.filter(col("doc_id") % 3 =!= 0), gen("bm25", 0))
    Graft.refreshStoredBm25Index(spark, gen("bm25", 0), d.filter(col("doc_id") % 3 === 0),
      gen("bm25", 1))
    root
  }

  /** Every piece of the generation at `gen`, as read*Index opens it. */
  private def opened(f: String, gen: String): Seq[DataFrame] = f match {
    case "ann" => val (c, cb, codes) = Graft.readAnnIndex(spark, gen); Seq(c, cb, codes)
    case "bloom" => val (bitmap, sh) = Graft.readBloomIndex(spark, gen); Seq(bitmap, sh)
    case "band" => val (bands, d) = Graft.readBandIndex(spark, gen); Seq(bands, d)
    case "bm25" => val (po, df, st) = Graft.readBm25Index(spark, gen); Seq(po, df, st)
  }

  /** The family's serve path over the generation at `gen`. */
  private def served(f: String, gen: String): Seq[String] = sortedRows(f match {
    case "ann" => Graft.annSearchStored(Graft.readAnnIndex(spark, gen),
      emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("v").as("qv")), 2, 5)
    case "bloom" => Graft.bloomDecontaminateStored(corpus, Graft.readBloomIndex(spark, gen))
    case "band" => Graft.nearDupServeStored(incoming, Graft.readBandIndex(spark, gen), 0.8)
    case "bm25" =>
      import spark.implicits._
      Graft.bm25SearchStored(Graft.readBm25Index(spark, gen),
        ops.Retrieval.gateQueries.toDF("query_id", "terms"), 10)
  })

  private def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val walk = Files.walk(src)
    try walk.forEach { (p: Path) =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  test("opening a generation of each of the four families starts no Spark job") {
    val sc = spark.sparkContext
    val group = "graft-stored-index-open"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val root = tree
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try Families.foreach { f =>
      Seq(0, 1).foreach { g =>
        sc.setJobGroup(group, group)
        val schemas = try opened(f, s"$root/$f/gen$g").map(_.schema) finally sc.clearJobGroup()
        org.apache.spark.TestListenerBus.drain(sc)
        assert(schemas.forall(_.nonEmpty))
        assert(jobs.get == 0, s"opening $f gen$g started ${jobs.get} jobs")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("a generation whose manifest was deleted reads the same schema and rows") {
    val copy = Files.createTempDirectory("idxlegacy").resolve("t").toString
    copyTree(tree, copy)
    val fs = new org.apache.hadoop.fs.Path(copy).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every base generation, and the self-contained refreshed ones
    // (ANN and BM25 refreshes reference their base, so need the manifest)
    val gens = Families.map(f => f -> 0) ++ Seq("bloom" -> 1, "band" -> 1)
    gens.foreach { case (f, g) =>
      val gen = s"$copy/$f/gen$g"
      def read() = opened(f, gen).map(df => (df.schema, sortedRows(df)))
      val withManifest = read()
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$gen/${ops.StoredIndex.ManifestFile}"), false))
      val inferred = read()
      assert(inferred.map(_._1) == withManifest.map(_._1), s"$f gen$g: schema drifted")
      assert(inferred == withManifest, s"$f gen$g: rows drifted")
      assert(withManifest.forall(_._2.nonEmpty))
    }
  }

  test("a gen0 + refreshed-generation tree copied to a new root serves identically") {
    val copy = Files.createTempDirectory("idxcopy").resolve("t").toString
    copyTree(tree, copy)
    val before = Families.map(f => served(f, s"$tree/$f/gen1"))
    assert(before.forall(_.nonEmpty))
    // move the original away: the copy must not read any of its files
    val parked = Paths.get(tree + ".parked")
    Files.move(Paths.get(tree), parked)
    try assert(Families.map(f => served(f, s"$copy/$f/gen1")) == before)
    finally Files.move(parked, Paths.get(tree))
  }

  test("a refresh or write that fails before its first put leaves the generation at its root intact") {
    val d = docs.select(col("doc_id"), col("text"))
    val (p0, p1) = (Files.createTempDirectory("bm25w0").toString, Files.createTempDirectory("bm25w1").toString)
    Graft.writeBm25Index(d.filter(col("doc_id") % 3 =!= 0), p0)
    Graft.refreshStoredBm25Index(spark, p0, d.filter(col("doc_id") % 3 === 0), p1)
    val manifest = Paths.get(p1, ops.StoredIndex.ManifestFile)
    def state(p: String) = opened("bm25", p).map(sortedRows)
    val (m1, rows1) = (Files.readAllBytes(manifest).toSeq, state(p1))
    // the ADD-only collision guard fails before the refresh puts a piece
    val ex = intercept[IllegalArgumentException] {
      Graft.refreshStoredBm25Index(spark, p0, d.filter(col("doc_id") === 1), p1)
    }
    assert(ex.getMessage.contains("ADD-only"))
    assert(Files.readAllBytes(manifest).toSeq == m1 && state(p1) == rows1,
      "a refused refresh must leave the generation at outPath readable as it was")
    // a write whose body fails before any put
    val boom = intercept[IllegalStateException] {
      ops.StoredIndex.write(spark, p1, "bm25")(_ => throw new IllegalStateException("boom"))
    }
    assert(boom.getMessage == "boom")
    assert(Files.readAllBytes(manifest).toSeq == m1 && state(p1) == rows1,
      "a failed write must leave the generation at its path readable as it was")
  }

  test("an ANN refresh writes only codes/: its manifest references the base's quantizers") {
    val (g0, g1) = (s"$tree/ann/gen0", s"$tree/ann/gen1")
    assert(!Files.exists(Paths.get(s"$g1/centroids")) && !Files.exists(Paths.get(s"$g1/codebook")))
    assert(Files.isDirectory(Paths.get(s"$g1/codes")))
    val (c0, cb0, _) = Graft.readAnnIndex(spark, g0)
    val (c1, cb1, _) = Graft.readAnnIndex(spark, g1)
    assert(sortedRows(c1) == sortedRows(c0) && sortedRows(cb1) == sortedRows(cb0))
    assert((c1.inputFiles ++ cb1.inputFiles).forall(f => new java.net.URI(f).getPath.startsWith(g0 + "/")),
      "refreshed quantizers must be read from the base generation")
  }
}
