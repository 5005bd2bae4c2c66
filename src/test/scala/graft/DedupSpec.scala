package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants for the dedup/similarity family beyond the
  * DuckDB oracle (which checks exact values at sf0.01): pair ordering,
  * threshold respect, LSH-candidate ⊆ exact-candidate containment, and
  * signature determinism. */
class DedupSpec extends AnyFunSuite {
  import TestSpark._

  private def pairs(name: String): Seq[(Long, Long, Double)] =
    SparkEntry.queries(name)(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("exact dedup groups cover every document exactly once") {
    val rows = SparkEntry.queries("q24_dedup_exact")(spark, Sf0001).collect()
    val total = Tables.documents(spark, Sf0001).count()
    assert(rows.map(_.getLong(2)).sum == total)    // n_copies sums to corpus
    assert(rows.map(_.getString(0)).distinct.length == rows.length) // hash unique
  }

  test("canonical dedup collapses case/punct/whitespace variants q24 must keep apart") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, md5, min}
    // three renders of one page + one genuinely different doc
    val docs = Seq(
      (1L, "Hello, World!  This is   a TEST."),
      (2L, "hello world this is a test"),
      (3L, "HELLO *** world --- this is a test"),
      (4L, "a different document")).toDF("doc_id", "text")
    val canon = docs
      .groupBy(md5(ops.Dedup.canonicalText(col("text"))).as("canon_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(canon == Map(1L -> 3L, 4L -> 1L),
      s"canonicalization must merge docs 1-3 and keep doc 4 apart: $canon")
    // q24's byte-exact grouping keeps all four apart — the two operators
    // answer different questions and must not converge
    val exact = docs.groupBy(md5(col("text"))).count().count()
    assert(exact == 4)
  }

  test("canonicalText strips non-ASCII BEFORE lowercasing (cross-engine case-map hazard)") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.col
    // U+0130 İ and U+212A K lowercase INTO [a-z] (+ combining marks) in
    // Java but not identically in DuckDB; an astral emoji is 2 UTF-16
    // units (Java) vs 1 codepoint (RE2). All must vanish to one space
    // BEFORE lower() so the canonical form is engine-independent.
    val got = Seq("İstanbul", "Kelvin scale", "ok 😀 fine",
        "café au lait", "plain ascii")
      .toDF("text")
      .select(ops.Dedup.canonicalText(col("text")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("stanbul", "elvin scale", "ok fine", "caf au lait", "plain ascii"),
      s"non-ASCII canonicalization drifted: $got")
  }

  test("near-dup pairs respect i<j ordering and the 0.8 threshold") {
    Seq("q25_neardup_jaccard", "q26_neardup_minhash").foreach { name =>
      val ps = pairs(name)
      assert(ps.forall { case (i, j, jac) => i < j && jac >= 0.8 && jac <= 1.0 }, name)
    }
  }

  test("MinHash-LSH candidates never invent pairs the exact join misses") {
    val exact = pairs("q25_neardup_jaccard").map(p => (p._1, p._2)).toSet
    val lsh = pairs("q26_neardup_minhash").map(p => (p._1, p._2)).toSet
    assert(lsh.subsetOf(exact),
      s"LSH produced non-exact pairs: ${lsh.diff(exact)}")
  }

  test("minhash universal-hash constants are in range and deterministic") {
    val ab = graft.ops.Dedup.MinhashAB
    assert(ab.size == 16)
    val p = 2147483647L
    assert(ab.forall { case (a, b) => a >= 1 && a < p && b >= 0 && b < p })
    assert(ab == graft.ops.Dedup.MinhashAB) // stable across calls
  }

  test("band keys of a fixed 3-doc frame keep their stored-format strings") {
    import spark.implicits._
    // literal keys: stored band indexes (docs/ bkeys, bands/ bkey) hold
    // these strings, so any change to shingling, hashing, the signature
    // or the key layout must fail here, not only against the oracle
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog once more today"),
      (3L, "a completely different sentence about spark joins and shuffles here"))
      .toDF("doc_id", "text")
    val golden = Map(
      1L -> Seq("130901902,575597873,208150722,88092651", "210083206,310102275,271120604,278796152",
        "20679397,271996209,594343951,164564967", "20742927,20204932,389029391,44348004"),
      2L -> Seq("130901902,575597873,591495777,88092651", "211465045,98543294,69572916,278796152",
        "20679397,232548930,303758988,164564967", "20742927,20204932,283708487,44348004"),
      3L -> Seq("211612662,623151646,165162522,552879624", "436531471,263891082,76525135,409439429",
        "12244524,215642043,11599267,257713242", "66877093,81804699,648930108,28781505"))
    val (bandsPiece, docsPiece) = Graft.nearDupBandIndex(docs)
    val bands = bandsPiece.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("b"), r.getAs[String]("bkey")))
    val expected = golden.toSeq.flatMap { case (d, ks) => ks.indices.map(b => (d, b, ks(b))) }
    assert(bands.sorted.toSeq == expected.sorted)
    val rows = docsPiece.collect()
    assert(rows.length == golden.size)
    assert(rows.forall(r => r.getAs[Seq[String]]("bkeys") == golden(r.getAs[Long]("doc_id"))))
  }

  test("hot-shingle df cap kills quadratic candidate blowup, keeps near-dup recall") {
    import spark.implicits._
    // 60 docs: every one carries the same HOT shingle hash (999L) plus 9
    // unique shingles; docs 0 and 1 additionally share 9 of 10 shingles
    // (the planted near-dup, Jaccard 9/11 ≈ 0.818 > 0.8).
    val docs = (0L until 60L).map { d =>
      val own =
        if (d == 0L) (1L to 9L).toArray
        else if (d == 1L) (1L to 8L).toArray :+ 100L
        else (1L to 9L).map(k => d * 100 + k).toArray
      (d, own :+ 999L)
    }.toDF("doc_id", "hs")
    val uncapped = graft.ops.Dedup.jaccardCandidates(docs, maxDf = 1000L).count()
    val capped = graft.ops.Dedup.jaccardCandidates(docs, maxDf = 10L).count()
    assert(uncapped == 60L * 59 / 2, "hot shingle pairs every doc with every other")
    assert(capped == 1, "capped candidates reduce to the genuinely-overlapping pair")
    val found = graft.ops.Dedup.neardupJaccard(docs, maxDf = 10L, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(found.toSeq == Seq((0L, 1L, 9.0 / 11)),
      "planted near-dup survives the cap with its FULL-array Jaccard (hot shingle included)")
  }

  test("simhash banding finds EXACTLY the brute-force Hamming<=3 pairs (pigeonhole)") {
    val sims = graft.ops.Dedup.simhash48(Tables.documents(spark, Sf0001))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val brute = (for {
      ai <- sims.indices; bi <- ai + 1 until sims.length
      d = java.lang.Long.bitCount(sims(ai)._2 ^ sims(bi)._2) if d <= 3
    } yield (sims(ai)._1, sims(bi)._1, d)).toSet
    val banded = SparkEntry.queries("q70_simhash_neardup")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute,
      "4x12-bit banding must be lossless for Hamming<=3 (any such pair shares a whole band)")
    assert(brute.nonEmpty, "fixture corpus must contain at least one near-dup pair")
  }

  test("incremental near-dup agrees with the full self-join restricted to cross-parity pairs") {
    val full = pairs("q26_neardup_minhash")
    val crossParity = full.filter { case (i, j, _) => i % 2 != j % 2 }
    // expected: for each odd (incoming) member, the best-scoring even match
    val expected = crossParity
      .map { case (i, j, jac) => if (j % 2 == 1) (j, i, jac) else (i, j, jac) }
      .groupBy(_._1)
      .map { case (inc, ms) => ms.minBy(m => (-m._3, m._2)) }
      .toSet
    val got = SparkEntry.queries("q83_incremental_neardup")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("winnowing: any shared 8-word span yields a shared fingerprint; density < 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val span = "alpha bravo charlie delta echo foxtrot golf hotel" // 8 words
    val docs = Seq(
      (1L, s"one two three $span four five six seven"),
      (2L, s"zz yy $span xx ww vv uu tt ss rr qq pp"),
      (3L, "totally different words with no overlap at all here friend")
    ).toDF("doc_id", "text")
    val fp = graft.ops.Dedup.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // guarantee: k + w - 1 = 8 shared words => >= 1 shared fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    // density: winnowing SUBSAMPLES the k-gram stream (doc 1 has 15
    // words -> 11 k-grams and 8 windows; ~2/(w+1) of k-grams selected)
    assert(byDoc(1L).size < 8)
  }

  test("dup spans: a planted 20-word shared span reports exactly span_words=20") {
    import spark.implicits._
    val span = (1 to 20).map(i => s"s$i").mkString(" ")
    val hot = (1 to 12).map(i => s"h$i").mkString(" ") // 12-word hot passage
    val docs = (Seq(
      (1L, s"pre amble words here $span post fix words"),
      (2L, s"$span completely other tail content words"),
      (3L, "unrelated text with twelve plus distinct words nothing shared at all ok")
    ) ++ (10L to 20L).map(id => (id, s"filler$id opening $hot closing$id")))
      .toDF("doc_id", "text")
    // the registry entry reads $dir/documents.parquet — point it at a
    // temp dir holding the planted fixture
    val dir = java.nio.file.Files.createTempDirectory("q177fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("q177_dup_spans")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 20-word span at 12-gram grain: run = 20 - 12 + 1 = 9, span = 20
    assert(got.contains((1L, 2L, 9L, 20L)))
    // the 11 docs sharing the hot 12-gram (df 11 > MaxPassageDf) are
    // excluded from pairing entirely
    assert(!got.exists { case (i, j, _, _) => i >= 10L || j >= 10L })
  }

  test("lshRecall funnel: counts are consistent and the planted near-dups are hit") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, base + "one"),
      (2L, base + "one"),                 // exact dup of 1 — must be truth AND hit
      (3L, base + "two"),                 // near-dup of 1/2
      (4L, "entirely different words forming a singleton document here okay right")
    ).toDF("doc_id", "text")
    val r = Graft.lshRecall(docs).collect()(0)
    val (truth, cand, hit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // 1-2, 1-3, 2-3 are exact-Jaccard truth; the exact dup can never be
    // missed by banding (identical signatures)
    assert(truth == 3L)
    assert(hit >= 1L && hit <= truth && hit <= cand)
    assert(r.getDouble(3) == hit.toDouble / truth.toDouble)
    assert(r.getDouble(4) == hit.toDouble / cand.toDouble)
    // funnel on the registry corpus: defined, recall in [0, 1]
    val reg = SparkEntry.queries("q197_lsh_recall")(spark, Sf0001).collect()(0)
    assert(reg.getDouble(3) >= 0.0 && reg.getDouble(3) <= 1.0)
  }

  test("jaccardSweep buckets candidate pairs at exact 0.05 bin edges") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, base + "one"),
      (2L, base + "one"),   // exact dup: jaccard 1.0 -> bucket 19 (capped)
      (3L, base + "two"),   // high-similarity pair with 1 and 2
      (4L, "singleton words that overlap nothing else in this tiny corpus ok")
    ).toDF("doc_id", "text")
    val out = Graft.jaccardSweep(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // total pairs = the 3 candidate pairs among docs 1/2/3
    assert(out.map(_._2).sum == 3L)
    // the exact dup must sit in the top bucket with lo = 0.95
    val top = out.find(_._1 == 19L).get
    assert(top._2 >= 1L && top._3 == 0.95)
    // bucket edges: lo = bucket * 0.05 rounded to 2 dp
    out.foreach { case (b, _, lo) =>
      assert(b >= 0L && b <= 19L && lo == math.round(b * 5.0) / 100.0) }
  }

  test("sourceOverlap rolls near-dup pairs into a triangular source matrix") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, "mirrorA", base + "one"),
      (2L, "mirrorB", base + "one"),   // cross-source exact dup
      (3L, "mirrorB", base + "one"),   // within-B exact dup of 2
      (4L, "clean", "entirely different words that overlap nothing else here at all")
    ).toDF("doc_id", "source", "text")
    val out = Graft.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // pairs: (1,2) A-B, (1,3) A-B, (2,3) B-B -- all jaccard 1.0
    assert(out == Set(
      ("mirrorA", "mirrorB", 2L, 1000000L),
      ("mirrorB", "mirrorB", 1L, 1000000L)))
  }

  test("segmentDedup keeps the first corpus occurrence, drops the rest, and rebuilds text") {
    import TestSpark.spark.implicits._
    val seg = (1 to 8).map(i => s"w$i").mkString(" ")     // the shared segment
    val other = (1 to 8).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (1L, s"$seg t1 t2"),          // owns the keeper (min doc_id, k=0) + tail
      (2L, s"$other $seg"),          // unique segment + a stolen copy of seg
      (3L, "short doc"),             // < 8 words: zero segments, pass-through
      (4L, s"$seg $seg")             // both copies lose the election → empty
    ).toDF("doc_id", "text")
    val out = ops.Dedup.segmentDedup(docs, 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 0L, s"$seg t1 t2")))
    assert(out(2L) == ((2L, 1L, other)))
    assert(out(3L) == ((0L, 0L, "short doc")))
    assert(out(4L) == ((2L, 2L, "")))
  }

  test("segmentDedup within-doc duplicates keep exactly the leftmost copy") {
    import TestSpark.spark.implicits._
    val seg = (1 to 8).map(i => s"x$i").mkString(" ")
    val docs = Seq((7L, s"$seg $seg tail")).toDF("doc_id", "text")
    val out = ops.Dedup.segmentDedup(docs, 8).collect().head
    assert((out.getLong(1), out.getLong(2), out.getString(3)) == ((2L, 1L, s"$seg tail")))
  }

  test("refreshSegmentIndex: adds increment, removes decrement, zero rows drop") {
    import TestSpark.spark.implicits._
    val seg = (1 to 8).map(i => s"s$i").mkString(" ")
    val other = (1 to 8).map(i => s"o$i").mkString(" ")
    val gen1 = Seq((1L, seg), (2L, seg), (3L, other)).toDF("doc_id", "text")
    val idx = ops.Dedup.segmentIndex(gen1, 8)
    assert(idx.collect().map(r => r.getLong(1)).sorted.toSeq == Seq(1L, 2L))
    // remove doc 2 (seg 2→1), remove doc 3 (other 1→0, row drops),
    // add doc 4 with seg (1→2 net... 2-1+1=2)
    val added = Seq((4L, seg)).toDF("doc_id", "text")
    val removed = Seq((2L, seg), (3L, other)).toDF("doc_id", "text")
    val refreshed = ops.Dedup.refreshSegmentIndex(idx, added, removed, 8)
    val rebuilt = ops.Dedup.segmentIndex(
      Seq((1L, seg), (4L, seg)).toDF("doc_id", "text"), 8)
    assert(refreshed.orderBy($"h").collect().toSeq ==
      rebuilt.orderBy($"h").collect().toSeq)
    assert(refreshed.count() == 1 && refreshed.head.getLong(1) == 2L)
  }

  test("refreshSegmentIndex raise_errors when the removed feed was never counted") {
    import TestSpark.spark.implicits._
    val seg = (1 to 8).map(i => s"s$i").mkString(" ")
    val ghost = (1 to 8).map(i => s"g$i").mkString(" ")
    val idx = ops.Dedup.segmentIndex(Seq((1L, seg)).toDF("doc_id", "text"), 8)
    val boom = intercept[Exception] {
      ops.Dedup.refreshSegmentIndex(idx,
        TestSpark.spark.emptyDataset[(Long, String)].toDF("doc_id", "text"),
        Seq((9L, ghost)).toDF("doc_id", "text"), 8).collect()
    }
    val chain = Iterator.iterate(boom: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(chain.contains("never counted"),
      s"expected the below-zero raise_error, got: $chain")
  }

  test("segmentDedup / cdcDedup raise on doc_id outside the packed-key domain") {
    // doc_id·10^6 + k overflows long past ~9.2e12 and a negative doc_id
    // mis-orders the packed MIN — both must fail loudly (ADVICE r11),
    // because the DuckDB oracle packs identically and cannot catch a
    // silently wrong keeper.
    import TestSpark.spark.implicits._
    val seg = (1 to 8).map(i => s"b$i").mkString(" ")
    for (bad <- Seq(-1L, 9300000000000L)) {
      val docs = Seq((bad, s"$seg $seg")).toDF("doc_id", "text")
      for (f <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        d => ops.Dedup.segmentDedup(d, 8), d => ops.Dedup.cdcDedup(d, 8))) {
        val boom = intercept[Exception] { f(docs).collect() }
        val chain = Iterator.iterate(boom: Throwable)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
        assert(chain.contains("9.2e12"),
          s"expected the doc_id-bounds raise_error for doc_id=$bad, got: $chain")
      }
    }
  }

  test("ANN top-k ranks are dense from 1 per query and similarities non-increasing") {
    val rows = SparkEntry.queries("q27_ann_topk")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to byRank.length))
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3
        case _ => true
      })
    }
  }
}
