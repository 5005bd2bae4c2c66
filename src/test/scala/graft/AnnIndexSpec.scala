package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stored IVF-PQ index round-trip: writeAnnIndex → readAnnIndex →
  * annSearchStored must reproduce the inline q231 gate BIT-FOR-BIT —
  * the promise the q230/q231 plan audits make ("production persists the
  * codebook + codes parquet and serves from it") turned into a law.
  * Parquet round-trips doubles and ints exactly, and the ADC ranking
  * breaks ties on neighbor_id, so nothing may drift. */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def emb = Tables.embeddings(spark, Sf0001)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))

  test("serve-from-stored equals the inline gate bit-for-bit") {
    val path = java.nio.file.Files.createTempDirectory("annidx").toString
    Graft.writeAnnIndex(emb, path)
    val idx = Graft.readAnnIndex(spark, path)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val stored = rows(Graft.annSearchStored(idx, queries, nProbe = 2, topK = 5))
    val inline = rows(ops.Quantize.ivfPqSearch(emb, probeMax = 10L, nProbe = 2, topK = 5))
    assert(stored == inline, "stored-index search drifted from the inline gate")
    assert(stored.nonEmpty)
  }

  test("the stored layout is the production shape: tiny quantizers, list-partitioned codes") {
    val path = java.nio.file.Files.createTempDirectory("annidx2").toString
    Graft.writeAnnIndex(emb, path)
    val (cents, cbRow, codes) = Graft.readAnnIndex(spark, path)
    // quantizer state is constant-grain (broadcast-everywhere at 100 TB)
    assert(cbRow.count() == 1L)
    val k = cents.count()
    assert(k >= 2 && codes.count() == emb.count())
    // codes/ is directory-partitioned by list_id: a 2-probe query reads
    // 2 of k directories and the raw vectors are nowhere in the artifact
    val dirs = new java.io.File(s"$path/codes").listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("list_id=")).toSet
    assert(dirs.size.toLong == k, s"expected $k list_id= partitions, got $dirs")
    assert(!codes.columns.contains("v"), "raw vectors leaked into the stored index")
    // refresh composes against the stored pieces: re-encoding one
    // existing vector through the frozen quantizers is a no-op
    val one = emb.filter(col("vec_id") === 0).select(col("vec_id"), col("v"))
    val delta = one.withColumn("status", lit("changed"))
      .select(col("vec_id"), col("status"), col("v"))
    val refreshed = Graft.refreshIvfPqCodes(codes, delta, cents, cbRow)
    val before = codes.filter(col("vec_id") === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSeq
    val after = refreshed.filter(col("vec_id") === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSeq
    assert(after == before,
      "an unchanged embedding re-encoded under frozen quantizers must keep its codes")
  }

  test("stored-generation refresh == gen-2 codes re-derived under the frozen quantizers") {
    val p1 = java.nio.file.Files.createTempDirectory("annref1").toString
    val p2 = java.nio.file.Files.createTempDirectory("annref2").toString
    val gen1 = emb.filter(col("vec_id") % 7 =!= 0)
    Graft.writeAnnIndex(gen1, p1)
    // the q233 generation recipe: every 7th added, every 6th (surviving)
    // removed, every 5th (surviving, not removed) negated
    val added = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), lit("added").as("status"), col("v"))
    val removed = gen1.filter(col("vec_id") % 6 === 0)
      .select(col("vec_id"), lit("removed").as("status"), col("v"))
    val changed = gen1.filter(col("vec_id") % 6 =!= 0 && col("vec_id") % 5 === 0)
      .select(col("vec_id"), lit("changed").as("status"),
        transform(col("v"), x => -x).as("v"))
    val delta = added.unionByName(removed).unionByName(changed)
    Graft.refreshStoredAnnIndex(spark, p1, delta, p2)
    // expected gen-2 code table: re-derived FROM SCRATCH under the
    // gen-1-frozen quantizers over the post-delta embedding set
    val (cents1, cb1, _) = Graft.readAnnIndex(spark, p1)
    val gen2Emb = gen1.filter(col("vec_id") % 6 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, transform(col("v"), x => -x))
          .otherwise(col("v")).as("v"))
      .unionByName(added.select(col("vec_id"), col("v")))
    val expected = ops.Quantize.ivfPqEncode(
      ops.Quantize.ivfResiduals(gen2Emb, cents1), cb1)
    val (cents2, cb2, codes2) = Graft.readAnnIndex(spark, p2)
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        .sortBy(_._1).toSeq
    assert(codeRows(codes2) == codeRows(expected.select(col("vec_id"),
      col("list_id").cast("int").as("list_id"), col("codes"))),
      "refreshed stored codes != gen-2 codes re-derived under frozen quantizers")
    // quantizers copied verbatim across generations
    assert(cents2.orderBy(col("list_id")).collect().toSeq ==
      cents1.orderBy(col("list_id")).collect().toSeq)
    assert(cb2.collect().toSeq == cb1.collect().toSeq)
    // serve path: the refreshed artifact answers like the expected frames
    val queries = gen2Emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val servedRef = Graft.annSearchStored((cents2, cb2, codes2), queries, 2, 5)
      .collect().map(_.toSeq).toSeq
    val servedExp = Graft.annSearchStored(
        (cents1, cb1, expected.select(col("vec_id"),
          col("list_id").cast("int").as("list_id"), col("codes"))),
        queries, 2, 5)
      .collect().map(_.toSeq).toSeq
    assert(servedRef == servedExp && servedRef.nonEmpty)
  }

  test("a posting list over the advisory size splits into several codes/ files; codes and top-k read back equal") {
    // four map tasks, so AQE can split a list's reduce partition along them
    val src = emb.repartition(4)
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val path = java.nio.file.Files.createTempDirectory("annsplit").toString
    val prev = spark.conf.get(key)
    spark.conf.set(key, "256")
    try Graft.writeAnnIndex(src, path) finally spark.conf.set(key, prev)
    val filesPerList = new java.io.File(s"$path/codes").listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
    assert(filesPerList.max > 1, s"no posting list was split: ${filesPerList.toSeq}")
    // the stored codes are exactly the corpus encoded under the stored quantizers
    val (cents, cb, codes) = Graft.readAnnIndex(spark, path)
    val expected = ops.Quantize.ivfPqEncode(
        ops.Quantize.ivfResiduals(src.select(col("vec_id"), col("v")), cents), cb)
      .select(col("vec_id"), col("list_id").cast("int").as("list_id"), col("codes"))
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).sortBy(_._1).toSeq
    assert(codeRows(codes) == codeRows(expected))
    val queries = src.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("v").as("qv"))
    def served(c: org.apache.spark.sql.DataFrame) =
      Graft.annSearchStored((cents, cb, c), queries, 2, 5).collect().map(_.toSeq).toSeq
    val stored = served(codes)
    assert(stored == served(expected) && stored.nonEmpty)
  }
}
