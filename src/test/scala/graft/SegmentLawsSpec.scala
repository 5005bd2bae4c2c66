package graft

import org.scalatest.funsuite.AnyFunSuite

/** Randomized laws for the round-11 segment family, complementing the
  * fixed fixtures (DedupSpec/CdcSpec) and the DuckDB oracles:
  *
  *  - refresh ≡ rebuild: `refreshSegmentIndex` over a random add/remove
  *    feed must equal `segmentIndex` rebuilt from the generation-2
  *    corpus, row for row — on corpora drawn from a tiny vocabulary so
  *    segment collisions (the interesting case) are dense.
  *  - CDC second implementation: `cdcChunks` must equal an independent
  *    JVM-side re-derivation of the boundary rule, chunking, and
  *    occurrence counts on random docs.
  *  - Window second implementation: `Dedup.wordWindows`, the one n-word
  *    window format, must equal a JVM-side slicing at every width and
  *    stride its callers use.
  *
  * Seeded generators: failures reproduce. */
class SegmentLawsSpec extends AnyFunSuite {
  import TestSpark._

  private def h60(s: String): Long =
    java.lang.Long.parseLong(ops.Hashes.md5Hex(s).substring(0, 15), 16)

  test("refreshSegmentIndex == rebuild-from-scratch on randomized add/remove feeds") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      def doc() = Seq.fill(rnd.nextInt(31))(s"t${rnd.nextInt(6)}").mkString(" ")
      val gen1 = (1L to 30L).map((_, doc()))
      val added = (31L to 40L).map((_, doc()))
      val removedIds = gen1.map(_._1).filter(_ => rnd.nextBoolean()).toSet
      val removed = gen1.filter(d => removedIds(d._1))
      val gen2 = gen1.filterNot(d => removedIds(d._1)) ++ added
      val refreshed = ops.Dedup.refreshSegmentIndex(
          ops.Dedup.segmentIndex(gen1.toDF("doc_id", "text"), 8),
          added.toDF("doc_id", "text"), removed.toDF("doc_id", "text"), 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rebuilt = ops.Dedup.segmentIndex(gen2.toDF("doc_id", "text"), 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(refreshed == rebuilt,
        s"trial $trial (${removedIds.size} removed): refresh diverged from rebuild")
    }
  }

  test("cdcChunks == independent JVM re-derivation on random docs") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(23)
    val docs = (1L to 40L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(40))(s"v${rnd.nextInt(12)}").mkString(" "))
    }
    // second implementation: boundary rule + chunking + counting in
    // plain Scala off the same md5-60bit hash
    def jvmChunks(text: String): Seq[(Long, Long, String)] = {
      val w = text.split(" ", -1).toSeq
      val cuts = (1 until w.length).filter(i => h60(w(i)) % 8 == 0)
      val bounds = 0 +: cuts :+ w.length
      bounds.sliding(2).toSeq.zipWithIndex.map { case (Seq(a, b), k) =>
        (k.toLong, a.toLong, w.slice(a, b).mkString(" "))
      }
    }
    val jvm = docs.flatMap { case (id, text) =>
      jvmChunks(text).map { case (k, start, ctext) => (id, k, start, ctext) }
    }
    val occ = jvm.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val expected = jvm.map { case (id, k, start, ctext) =>
      (id, k, start, ctext.split(" ", -1).length.toLong, occ(ctext))
    }.sortBy(t => (t._1, t._2))
    val got = ops.Dedup.cdcChunks(docs.toDF("doc_id", "text"), 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == expected, "engine CDC diverged from the JVM re-derivation")
  }

  test("wordWindows == independent JVM derivation at every (width, stride)") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.{col, size, split}
    val rnd = new scala.util.Random(31)
    for ((width, stride) <- Seq((2, 1), (5, 1), (8, 8), (12, 1), (12, 3))) {
      // random lengths 1-30 (many below 12) plus a doc of exactly
      // `width` words (one window) and one a word short (no windows)
      val docs = (1L to 30L).map { i =>
        (i, Seq.fill(1 + rnd.nextInt(30))(s"u${rnd.nextInt(5)}").mkString(" "))
      } ++ Seq(
        (31L, (1 to width).map(j => s"x$j").mkString(" ")),
        (32L, (1 until width).map(j => s"y$j").mkString(" ")))
      // second implementation: window starts 0, stride, … while a whole
      // window fits, each window's words joined by single spaces
      def jvm(text: String): Seq[String] = {
        val w = text.split(" ", -1).toSeq
        (0 to w.length - width by stride).map(st => w.slice(st, st + width).mkString(" "))
      }
      val got = docs.toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= width) // the callers' guard (wordWindows' precondition)
        .select(col("doc_id"),
          ops.Dedup.wordWindows(col("w"), width, stride),
          ops.Dedup.wordWindows(col("w"), width, stride, each = ops.Hashes.hexLong))
        .collect().map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getSeq[Long](2)))).toMap
      val tag = s"(width=$width, stride=$stride)"
      for ((id, text) <- docs) {
        val (windows, hashes) = got.getOrElse(id, (Seq.empty[String], Seq.empty[Long]))
        assert(windows == jvm(text), s"$tag doc $id: windows diverged from the JVM derivation")
        assert(hashes == jvm(text).map(h60), s"$tag doc $id: per-window hashes diverged")
      }
      assert(got(31L)._1 == Seq((1 to width).map(j => s"x$j").mkString(" ")), s"$tag exact-width doc")
      assert(!got.contains(32L), s"$tag a doc one word short carries no windows")
    }
  }

  test("best-quality keeper: highest quality wins, quality ties fall to the packed key, " +
    "election invariant under row permutation") {
    import TestSpark.spark.implicits._
    val seg = (1 to 8).map(i => s"k$i").mkString(" ")
    // three docs share `seg`: doc 1 (lowest id — the DEFAULT keeper),
    // doc 5 (highest quality), doc 9 (same quality as 5, higher id)
    val fixture = Seq(
      (1L, s"$seg a b", 0.20),
      (5L, s"$seg c d", 0.90),
      (9L, s"$seg e f", 0.90),
      (2L, "plain words only here nothing repeated across docs", 0.50))
    def run(rows: Seq[(Long, String, Double)]): Map[Long, (Long, String)] =
      ops.Dedup.segmentDedup(rows.toDF("doc_id", "text", "quality"), 8, Some("quality"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    val out = run(fixture)
    assert(out(5L) == ((0L, s"$seg c d")), "keeper must sit in the highest-quality doc")
    assert(out(9L) == ((1L, "e f")), "quality tie must break to the lower packed (doc_id, k)")
    assert(out(1L) == ((1L, "a b")), "the default (min doc_id) occurrence loses under the knob")
    assert(out(2L) == ((0L, "plain words only here nothing repeated across docs")))
    // permutation law: the elected keeper is a pure function of the SET
    for (p <- fixture.permutations.take(8)) assert(run(p) == out)
    // same frame, default policy: doc 1 keeps — the knob changes ONLY the keeper
    val legacy = ops.Dedup.segmentDedup(fixture.toDF("doc_id", "text", "quality"), 8, None)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(legacy(1L) == 0L && legacy(5L) == 1L && legacy(9L) == 1L)
    // CDC grain shares the election: two byte-identical docs → identical
    // chunk sequences; the higher-quality copy keeps everything
    val cdc = ops.Dedup.cdcDedup(
        Seq((1L, s"$seg a b", 0.20), (5L, s"$seg a b", 0.90)).toDF("doc_id", "text", "quality"),
        8, Some("quality"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(cdc(5L) == s"$seg a b" && cdc(1L) == "")
    // out-of-range quality fails loudly, not silently clamps — on both
    // rewrites that share the election
    for (rewrite <- Seq[(org.apache.spark.sql.DataFrame, Int, Option[String]) =>
        org.apache.spark.sql.DataFrame](ops.Dedup.segmentDedup, ops.Dedup.cdcDedup)) {
      val boom = intercept[Exception] {
        rewrite(Seq((1L, s"$seg x y", 1.5)).toDF("doc_id", "text", "quality"), 8,
          Some("quality")).collect()
      }
      val chain = Iterator.iterate(boom: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(chain.contains("quality must be in [0,1]"), s"expected the quality guard, got: $chain")
    }
  }
}
