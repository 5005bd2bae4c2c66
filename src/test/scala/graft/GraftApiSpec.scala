package graft

import org.scalatest.funsuite.AnyFunSuite

/** The public facade must work on ARBITRARY user DataFrames, not just
  * the registry's test tables — exercised here on a synthetic corpus
  * built in the test, end to end through dedup. */
class GraftApiSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val corpus = {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    Seq(
      (1L, "en", base + "one"),
      (2L, "en", base + "two"),            // near-dup of 1 (1-word diff)
      (3L, "de", base + "one"),            // exact text of 1 under a new id
      (4L, "fr", "tiny doc with seven distinct words here"),
      (5L, "es", "completely different content about query engines and shuffles okay " * 4)
    ).toDF("doc_id", "lang", "text")
  }

  test("nearDupPairs finds the planted near-dups on a user-supplied frame") {
    val pairs = Graft.nearDupPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("dedup keeps the min doc_id of the near-dup cluster plus all singletons") {
    val kept = Graft.dedup(corpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("textQuality computes stats for frames with or without a lang column") {
    val q1 = Graft.textQuality(corpus)
    assert(q1.count() == 5 && q1.columns.contains("quality"))
    val q2 = Graft.textQuality(corpus.drop("lang"))
    assert(q2.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("und"))
  }

  test("packTokens covers every doc exactly once at any budget") {
    val bins = Graft.packTokens(corpus, budget = 40)
      .collect().map(r => r.getLong(2))
    assert(bins.sum == corpus.count())
  }

  test("annTopK ranks an orthonormal toy basis correctly") {
    import spark.implicits._
    // vec 1 is closest to vec 2 (cos 0.8), then vec 3 (cos 0.6), then vec 4 (0.0)
    val vectors = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.8, 0.6)),
      (3L, Array(0.6, 0.8)), (4L, Array(0.0, 1.0))
    ).toDF("vec_id", "v")
    val got = Graft.annTopK(vectors, vectors.filter($"vec_id" === 1), k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq.sortBy(_._2)
    assert(got == Seq((2L, 1), (3L, 2)))
  }

  test("asOfBackward attaches the latest at-or-before reference value per key") {
    import spark.implicits._
    val probe = Seq((1L, 10L, "a"), (1L, 25L, "b"), (2L, 5L, "c"))
      .toDF("key", "ts", "tag")
    val ref = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 7L, 300.0))
      .toDF("key", "ts", "value")
    val got = Graft.asOfBackward(probe, ref)
      .collect().map(r => (r.getString(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(got == Map("a" -> 100.0, "b" -> 200.0, "c" -> -1.0))
  }

  test("stratifiedSample and mixtureReport run on user frames") {
    val docs = corpus.withColumnRenamed("lang", "lang") // (doc_id, lang, text)
      .withColumn("source", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("s"),
        org.apache.spark.sql.functions.col("doc_id") % 2))
    val full = Graft.stratifiedSample(docs, rates = Map.empty, defaultRate = 1.0)
    assert(full.count() == docs.count(), "rate 1.0 keeps everything")
    val none = Graft.stratifiedSample(docs, rates = Map.empty, defaultRate = 0.0)
    assert(none.count() == 0, "rate 0.0 keeps nothing")
    val mix = Graft.mixtureReport(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mix.keySet == Set("s0", "s1") && mix.values.sum == docs.count())
  }

  test("simhashNearDupPairs finds the planted cluster; chunkDocs covers every word window") {
    val sh = Graft.simhashNearDupPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Hamming<=3 is TIGHTER than Jaccard 0.8: the identical-text pair
    // (1,3) must surface (distance 0); the one-word-different pairs may
    // flip >3 fingerprint bits, but nothing outside the Jaccard set may
    // ever appear.
    assert(sh.contains((1L, 3L)))
    assert(sh.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L))))
    val chunks = Graft.chunkDocs(corpus, window = 10, stride = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // doc 4 has 7 words -> exactly one 7-word chunk
    assert(chunks.filter(_._1 == 4L).map(c => (c._2, c._3)).toSeq == Seq((0, 7)))
    // every doc's windows tile its word count at the stride
    corpus.collect().foreach { row =>
      val id = row.getLong(0)
      val len = row.getString(2).split(" ").length
      val expected = 1 + (len - 1) / 8
      assert(chunks.count(_._1 == id) == expected, s"doc $id")
    }
  }

  test("containmentPairs catches the excerpt Jaccard misses, in the right direction") {
    import spark.implicits._
    // long doc of 60 distinct words; short doc = a 20-word contiguous
    // excerpt → every short-doc shingle appears in the long doc
    // (containment 1.0) while Jaccard is ~16/56 ≈ 0.29, far below 0.8
    val words = (1 to 60).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, words.slice(20, 40).mkString(" ")),
      (3L, "totally unrelated content about five more words")
    ).toDF("doc_id", "text")
    val got = Graft.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"got ${got.keySet}")
    val (cIj, cJi) = got((1L, 2L))
    // i=1 is the long doc: only partially covered by the excerpt;
    // j=2 is the excerpt: fully contained
    assert(cJi == 1.0, s"excerpt must be fully contained, got $cJi")
    assert(cIj < 0.5, s"long doc must not read as contained, got $cIj")
    // and the symmetric-Jaccard path indeed misses this pair
    val jac = Graft.jaccardNearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)), "Jaccard 0.8 must miss the excerpt pair")
  }

  test("incrementalNearDups matches incoming docs against the standing set only") {
    import spark.implicits._
    val existing = corpus.filter($"doc_id".isin(1L, 4L))
    val incoming = corpus.filter($"doc_id".isin(2L, 3L, 5L))
    val got = Graft.incrementalNearDups(existing, incoming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 2 and 3 near-dup standing doc 1; 5 matches nothing
    assert(got == Map(2L -> 1L, 3L -> 1L))
  }

  test("profile reports nulls, distincts and min/max per column in one pass") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("x"), Some(10), 1.25), (2L, None, Some(20), -0.5),
      (3L, Some("y"), None, 1.25), (4L, Some("x"), Some(20), 3.0)
    ).toDF("id", "s", "n", "d")
    val got = Graft.profile(df, Seq("id", "s", "n", "d"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(got("id") == (4L, 0L, 4L, "1", "4"))
    assert(got("s") == (4L, 1L, 2L, "x", "y"))
    assert(got("n") == (4L, 1L, 2L, "10", "20"))
    // Double columns profile fine engine-side (they are only excluded
    // from q89's CROSS-ENGINE oracle, where double→string rendering
    // is not portable).
    assert(got("d") == (4L, 0L, 3L, "-0.5", "3.0"))
  }

  test("fuzzyPairs links typo variants within a block, never across blocks") {
    import spark.implicits._
    val recs = Seq(
      (1L, "b1", "widget"), (2L, "b1", "widgef"), // d=1, same block
      (3L, "b2", "widget"),                       // same value, other block
      (4L, "b1", "sprocket"),                     // too far from widget
      (5L, "b1", "widget")                        // exact dup of 1 — excluded (d>=1)
    ).toDF("id", "blk", "name")
    val got = Graft.fuzzyPairs(recs, $"id", $"blk", $"name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // widgef<widget lexically: (2,1) and (2,5)
    assert(got == Set((2L, 1L), (2L, 5L)))
  }

  test("jaccardNearDupPairs on the same frame agrees with the minhash path") {
    val jac = Graft.jaccardNearDupPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Graft.nearDupPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(jac)) // LSH recall ⊆ exact inverted-index recall
    assert(jac == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("qualityRules rejects the tiny doc and accepts a diverse long doc") {
    import spark.implicits._
    // 60 distinct words, no stopwords, no repetition — passes every rule
    val good = (1 to 60).map(i => s"word$i").mkString(" ")
    val keep = Graft.qualityRules(corpus union Seq((9L, "en", good)).toDF(corpus.columns: _*))
      .collect().map(r => r.getLong(0) -> r.getBoolean(11)).toMap
    assert(!keep(4L), "7-word doc fails the length rule")
    assert(!keep(5L), "11-distinct-of-44-words doc fails the diversity rule")
    assert(keep(9L), "the diverse long doc passes")
  }

  test("scrubPii masks emails and numbers in an arbitrary column") {
    import spark.implicits._
    val df = Seq(
      (1L, "call 5551234 or mail bob.smith@corp.example now"),
      (2L, "nothing sensitive here"),
      (3L, "mail Bob.Smith@Corp.Example too") // mixed case must not escape
    ).toDF("id", "note")
    val got = Graft.scrubPii(df, "note").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) == ("call <NUM> or mail <EMAIL> now", 2L))
    assert(got(2L) == ("nothing sensitive here", 0L))
    assert(got(3L) == ("mail <EMAIL> too", 1L))
  }

  test("connectedComponents returns an empty frame for an empty edge list") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    assert(Graft.connectedComponents(empty).count() == 0)
  }

  test("decontaminate flags the doc sharing shingles with the eval frame") {
    import spark.implicits._
    val evalSet = corpus.filter($"doc_id" === 1).select("doc_id", "text")
    val rep = Graft.decontaminate(corpus.filter($"doc_id" =!= 1), evalSet)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(rep(2L) && rep(3L), "near-dup and exact copy of the eval doc flag")
    assert(!rep(5L), "unrelated doc stays clean")
  }

  test("quantizeInt8 round-trips a user embedding frame within the error bound") {
    import spark.implicits._
    val emb = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Graft.quantizeInt8(emb).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getSeq[Int](3))).toList
    val m = rows.map(r => r._1 -> r).toMap
    assert(m(1L)._2 == 1.0 && m(1L)._3 == Seq(64, -127, 32))
    assert(m(2L)._2 == 0.0 && m(2L)._3 == Seq(0, 0, 0))
  }

  test("funnel tracks arbitrary stage sequences with the conversion window enforced") {
    import spark.implicits._
    val ev = Seq(
      (1L, "a", 10L), (1L, "b", 15L), (1L, "c", 18L),  // full funnel
      (2L, "a", 10L), (2L, "b", 50L),                  // b outside window
      (3L, "a", 10L), (3L, "c", 12L),                  // skips b → stage 1
      (4L, "b", 5L)                                    // never enters
    ).toDF("user_id", "event_type", "t")
    val got = Graft.funnel(ev, Seq("a", "b", "c"), windowUs = 10L)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 1))
  }

  test("funnel drops null-user events instead of pooling them into one synthetic user") {
    import spark.implicits._
    // two anonymous sessions that would jointly fake a full conversion
    // if nulls were coalesced to a sentinel user
    val ev = Seq(
      (Some(1L), "a", 10L),
      (None, "a", 10L), (None, "b", 12L), (None, "c", 14L)
    ).toDF("user_id", "event_type", "t")
    val got = Graft.funnel(ev, Seq("a", "b", "c"), windowUs = 10L)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(got == Map(1L -> 1))
  }

  test("outliers flags exactly the far point and appends its z-score") {
    import spark.implicits._
    val df = (Seq.fill(20)(10.0) :+ 100.0).zipWithIndex
      .map { case (v, i) => (i.toLong, "g", v) }.toDF("id", "grp", "v")
    val out = Graft.outliers(df, "grp", "v", z = 2.0)
    val got = out.collect()
    assert(got.length == 1 && got.head.getLong(out.schema.fieldIndex("id")) == 20L)
    assert(got.head.getDouble(out.schema.fieldIndex("zscore")) > 2.0)
  }

  test("upsertLatest keeps one newest row per key with pass-through columns") {
    import spark.implicits._
    val log = Seq(
      ("k1", 1L, "old"), ("k1", 3L, "new"), ("k1", 2L, "mid"),
      ("k2", 9L, "only"))
      .toDF("k", "v", "payload")
    val got = Graft.upsertLatest(log, Seq("k"), Seq($"v".desc))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == Map("k1" -> (3L, "new"), "k2" -> (9L, "only")))
  }

  test("snapshotDelta classifies every key and carries new-side payload") {
    import spark.implicits._
    val old = Seq((1L, "fa", "s1"), (2L, "fb", "s1"), (3L, "fc", "s2"))
      .toDF("id", "fp", "src")
    val neu = Seq((2L, "fb", "s1"), (3L, "fc2", "s2"), (4L, "fd", "s3"))
      .toDF("id", "fp", "src")
    val got = Graft.snapshotDelta(old, neu, "id", "fp")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(3))).toMap
    assert(got == Map(
      1L -> ("removed", "s1"), // shared payload falls back to the old side
      2L -> ("unchanged", "s1"),
      3L -> ("changed", "s2"),
      4L -> ("added", "s3")))
    // fp column itself falls back too: removed rows keep the manifest fp
    val fps = Graft.snapshotDelta(old, neu, "id", "fp")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(fps(1L) == "fa" && fps(3L) == "fc2")
  }

  test("snapshotDelta keeps matched null payloads (no stale resurrection), rejects null fp") {
    import spark.implicits._
    val old = Seq((1L, "fa", Some("old-src")), (2L, "fb", Some("old-src")))
      .toDF("id", "fp", "src")
    // id 1 matched with a NULL new-side payload: the old-side fallback
    // is for REMOVED rows only — a matched null must stay null, not
    // silently resurrect the stale value
    val neu = Seq((1L, "fa2", None: Option[String])).toDF("id", "fp", "src")
    val got = Graft.snapshotDelta(old, neu, "id", "fp")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(got == Map(1L -> ("changed", null), 2L -> ("removed", "old-src")))
    // a null fingerprint on a PRESENT side fails fast instead of
    // landing in 'unchanged' via a null-valued =!=
    val badNew = Seq((2L, None: Option[String], Some("s"))).toDF("id", "fp", "src")
    val ex = intercept[Exception] {
      Graft.snapshotDelta(old, badNew, "id", "fp").collect()
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("null fingerprint"), s"unexpected failure: $chain")
    // the check runs BEFORE the added/removed branches (ADVICE r9): an
    // ADDED row with a null fp would poison the manifest the next
    // refresh joins against, so it must fail fast too
    val badAdded = Seq((1L, Some("fa2"), Some("s")),
      (9L, None: Option[String], Some("s"))).toDF("id", "fp", "src")
    val ex2 = intercept[Exception] {
      Graft.snapshotDelta(old, badAdded, "id", "fp").collect()
    }
    val chain2 = Iterator.iterate(ex2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain2.contains("null fingerprint"), s"unexpected failure: $chain2")
  }

  test("boilerplateShare works on an arbitrary user corpus") {
    val rep = Graft.boilerplateShare(corpus)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // docs 1/2/3 share their repeated base text; 4 is too short; 5 is unique
    assert(rep(1L) > 0.0 && rep(3L) > 0.0)
    assert(!rep.contains(4L) && rep(5L) >= 0.0)
  }

  test("mergeAggState refreshes a stored state with a delta over compound keys") {
    import spark.implicits._
    val base = Seq((1, "a", 2L, BigDecimal("10.00")), (2, "b", 1L, BigDecimal("5.00")))
      .toDF("k1", "k2", "cnt", "s")
    val delta = Seq((1, "a", 1L, BigDecimal("2.00")), (3, "c", 4L, BigDecimal("8.00")))
      .toDF("k1", "k2", "cnt", "s")
    val got = Graft.mergeAggState(base, delta, Seq("k1", "k2"))
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == Map(
      (1, "a") -> ((3L, 12.0, 4.0)),
      (2, "b") -> ((1L, 5.0, 5.0)),
      (3, "c") -> ((4L, 8.0, 2.0))))
  }

  test("winsorize clamps a user frame and survives existing lo/hi column names") {
    import spark.implicits._
    val df = ((1 to 99).map(i => ("g", i.toDouble, -1.0)) :+ (("g", 1000.0, -1.0)))
      .toDF("grp", "v", "lo") // 'lo' collides with a naive cut-column name
    val out = Graft.winsorize(df, "grp", "v", 0.01, 0.90)
    assert(out.columns.contains("lo"), "user column must pass through")
    val clipped = out.filter($"clipped").select($"v").collect().map(_.getDouble(0)).toSet
    assert(clipped.contains(1000.0))
    assert(out.filter($"v_wins" > 1000.0).count() == 0)
  }

  test("transitions counts adjacent state pairs per key in the given order") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"),
      (2L, 1L, "a"), (2L, 2L, "b"))
      .toDF("k", "t", "s")
    val got = Graft.transitions(df, $"k", Seq($"t"), $"s")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 1.0)),
      ("b", "a") -> ((1L, 1.0))))
  }

  test("dupPassages catches a shared 12-word span at ANY alignment; stride>1 only aligned") {
    import spark.implicits._
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, "a b c " + span + " x y z"),                       // span at offset 3
      (2L, span + " p q r t u v w"),                          // offset 0
      (3L, "k " + span + " m n"),                             // offset 1
      (4L, "unrelated words only here nothing shared at all twelve tokens padding end")
    ).toDF("doc_id", "text")
    val hits = Graft.dupPassages(docs)
    // one window hash (the span itself) shared by docs 1, 2 and 3
    assert(hits.agg(org.apache.spark.sql.functions.max($"n_docs")).head.getLong(0) == 3L)
    assert(hits.agg(org.apache.spark.sql.functions.min($"first_doc")).head.getLong(0) == 1L)
    // stride 6 misses these unaligned copies (offsets 3/0/1 differ mod 6)
    assert(Graft.dupPassages(docs, stride = 6).count() == 0L)
    // malformed windows fail fast, not as a div-by-zero inside the plan
    intercept[IllegalArgumentException](Graft.dupPassages(docs, stride = 0))
    intercept[IllegalArgumentException](Graft.dupPassages(docs, width = 0))
  }

  test("bm25Rank: higher tf of a rarer term outranks; absent docs score nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "rare rare rare common filler words about nothing in particular today"),
      (2L, "rare common filler words about nothing in particular today and more"),
      (3L, "common common filler words about nothing in particular today and more"),
      (4L, "filler words about nothing in particular today and even more filler")
    ).toDF("doc_id", "text")
    val got = Graft.bm25Rank(docs, Seq("rare", "common"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L), "tf-weighted rarity order")
    assert(got.forall(_._2 > 0) && !got.map(_._1).contains(4L))
  }

  test("jlProject is exact and linear on quantized integer inputs") {
    import spark.implicits._
    val a = Array.tabulate(64)(i => (i % 5).toFloat)
    val b = Array.tabulate(64)(i => ((i + 2) % 7).toFloat)
    val sumAb = a.zip(b).map { case (x, y) => x + y }
    val vecs = Seq((1L, a), (2L, b), (3L, sumAb), (4L, a)).toDF("vec_id", "embedding")
    val p = Graft.jlProject(vecs).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toVector).toMap
    assert(p(1L) == p(4L), "identical vectors -> identical sketches")
    assert((0 until 8).forall(j => p(3L)(j) == p(1L)(j) + p(2L)(j)),
      "projection is linear on integral inputs")
  }

  test("temperatureSample upsamples tail strata relative to the head, deterministically") {
    import spark.implicits._
    val docs = ((1 to 800).map(i => (i.toLong, "en")) ++ (801 to 850).map(i => (i.toLong, "fr")))
      .toDF("doc_id", "lang")
    val kept = Graft.temperatureSample(docs, "lang", $"doc_id")
    val rates = kept.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    assert(rates("fr") / 50.0 > rates("en") / 800.0, "tail keep-rate must exceed head keep-rate")
    val total = rates.values.sum
    assert(total > 0.3 * 850 && total < 0.7 * 850, s"target ~half the corpus, got $total")
    assert(kept.select($"doc_id").collect().map(_.getLong(0)).toSet ==
      Graft.temperatureSample(docs, "lang", $"doc_id")
        .select($"doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("madOutliers flags a planted extreme; the median is not dragged by it") {
    import spark.implicits._
    val df = ((1 to 99).map(i => ("g", i.toLong, 10.0 + (i % 5))) :+ (("g", 100L, 1e6)))
      .toDF("grp", "id", "v")
    val out = Graft.madOutliers(df, "grp", "v").collect()
    assert(out.map(_.getLong(1)).toSet == Set(100L), "exactly the planted extreme")
    val rz = out.head.getDouble(out.head.fieldIndex("robust_z"))
    assert(rz > 1000, s"extreme should score huge, got $rz")
  }

  test("madOutliers: a zero-MAD group flags nothing instead of scoring Infinity") {
    import spark.implicits._
    // group "c" is majority-constant (MAD = 0): its deviating row must
    // NOT surface with robust_z = Inf; the normal group still flags
    val df = ((1 to 9).map(i => ("c", i.toLong, 5.0)) :+ (("c", 10L, 9.0))) ++
      ((11 to 19).map(i => ("g", i.toLong, 10.0 + (i % 3))) :+ (("g", 20L, 1e6)))
    val out = Graft.madOutliers(df.toDF("grp", "id", "v"), "grp", "v").collect()
    assert(out.map(_.getLong(1)).toSet == Set(20L), "only the scorable group's extreme")
    assert(out.forall(r => !r.getDouble(r.fieldIndex("robust_z")).isInfinite))
  }

  test("targetEncode: LOO removes the row's own target; frequency encodes n/N") {
    import spark.implicits._
    // category "a": targets 10, 20; category "b": target 30 (n=1);
    // global prior = 20
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("id", "cat", "t")
    val out = Graft.targetEncode(df, "cat", "t", smoothing = 1)
      .collect().map(r => r.getLong(r.fieldIndex("id")) ->
        (r.getDouble(r.fieldIndex("loo_enc")), r.getDouble(r.fieldIndex("freq_enc")))).toMap
    // m=1: row1 = (30-10+20)/(2-1+1) = 20; row2 = (30-20+20)/2 = 15;
    // row3 (single-member category) = (30-30+20)/(1-1+1) = prior = 20
    assert(out(1L)._1 == 20.0 && out(2L)._1 == 15.0 && out(3L)._1 == 20.0)
    assert(out(1L)._2 == 0.666667 && out(3L)._2 == 0.333333)
    intercept[IllegalArgumentException](Graft.targetEncode(df, "cat", "t", smoothing = 0))
  }

  test("dedup is idempotent; survivors are a subset of the corpus") {
    val once = Graft.dedup(corpus)
    val twice = Graft.dedup(once)
    val onceIds = once.select("doc_id").collect().map(_.getLong(0)).toSet
    val twiceIds = twice.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(onceIds == twiceIds, "deduping a deduplicated corpus must be a no-op")
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(onceIds.subsetOf(corpusIds))
  }

  test("shingleOverlap reports full overlap for exact copies, none for disjoint text") {
    import spark.implicits._
    val docs = Seq(
      ("g1", "a b c d e f g h i j"),
      ("g2", "a b c d e f g h i j"),             // exact copy of g1's text
      ("g3", "q r s t u v w x y z")               // disjoint
    ).toDF("grp", "text")
    val out = Graft.shingleOverlap(docs, "grp")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out((("g1", "g2"))) == 1.0)
    assert(!out.contains(("g1", "g3")) && !out.contains(("g2", "g3")))
  }

  test("basketLift scores a planted always-together pair above independent items") {
    import spark.implicits._
    // items 1,2 always together (4 baskets); item 3 everywhere (8 baskets)
    val rows = (1 to 4).flatMap(b => Seq((b.toLong, 1L), (b.toLong, 2L), (b.toLong, 3L))) ++
      (5 to 8).flatMap(b => Seq((b.toLong, 3L), (b.toLong, 4L)))
    val out = Graft.basketLift(rows.toDF("b", "it"), $"b", $"it", minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // lift(1,2) = 4*8/(4*4) = 2.0; lift(1,3) = 4*8/(4*8) = 1.0
    assert(out((1L, 2L)) == 2.0 && out((1L, 3L)) == 1.0)
  }

  test("basketLift caps mega-baskets: planted 1000-item basket generates no pairs, normal lifts intact") {
    import spark.implicits._
    // 4 normal baskets with the always-together pair (1,2) + item 3,
    // plus ONE mega-basket (id 99) holding items 10000..10999. Uncapped,
    // the mega-basket alone fans out C(1000,2) = 499,500 pairs from one
    // row; capped, it contributes zero pairs but still counts toward
    // item frequencies and n_orders (surviving lifts are exact).
    val normal = (1 to 4).flatMap(b => Seq((b.toLong, 1L), (b.toLong, 2L), (b.toLong, 3L)))
    val mega = (10000 to 10999).map(it => (99L, it.toLong))
    val df = (normal ++ mega).toDF("b", "it")
    val capped = Graft.basketLift(df, $"b", $"it", minSupport = 1L, maxBasketSize = 64)
    val rows = capped.collect()
    // only the 3 pairs from the normal baskets survive — bounded fan-out
    assert(rows.length == 3, s"expected 3 normal-basket pairs, got ${rows.length}")
    val lifts = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // n_orders = 5 (mega-basket still counted): lift(1,2) = 4*5/(4*4) = 1.25
    assert(lifts((1L, 2L)) == 1.25, "frequencies/totals stay exact under the cap")
    // and the uncapped default would have produced the quadratic fan-out
    val uncapped = Graft.basketLift(df, $"b", $"it", minSupport = 1L)
    assert(uncapped.count() == 3 + 499500L, "uncapped control: mega-basket fans out C(1000,2)")
  }

  test("triangles enumerates each planted triangle exactly once; open wedges excluded") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) plus an open wedge 5-6-7
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L)).toDF("i", "j")
    val tri = Graft.triangles(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tri.toSet == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    assert(tri.length == 4, "each triangle exactly once")
  }

  test("triangles: degree orientation bounds wedges on a planted hot node") {
    import spark.implicits._
    // star: center 0 with 50 degree-1 leaves. A naive (i<j) wedge join
    // pivots C(50,2) = 1225 wedge rows on the hot center; degree
    // orientation points every edge leaf→center (out-degree 1 each,
    // center out-degree 0), so Σ C(outdeg, 2) = 0 wedges.
    val star = (1 to 50).map(l => (0L, l.toLong)).toDF("i", "j")
    assert(graft.ops.Components.orientedWedges(star).count() == 0L)
    assert(Graft.triangles(star).count() == 0L)
    // close one leaf-leaf edge: exactly one wedge (at a leaf, not the
    // hot center) and exactly one triangle, reported in id order
    val withTri = star.union(Seq((1L, 2L)).toDF("i", "j"))
    assert(graft.ops.Components.orientedWedges(withTri).count() == 1L)
    val tri = Graft.triangles(withTri).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tri.toSeq == Seq((0L, 1L, 2L)))
  }

  test("bestSurvivors keeps the max-quality cluster member, not the min id") {
    import spark.implicits._
    // cluster {1, 5, 9} by explicit pairs; doc 5 has the best composite
    // quality (more words + stopwords); doc 20 is a singleton outside
    val rich = (1 to 30).map(i => s"w$i").mkString(" ") + " the of and to in is on a"
    val poor = "w1 w1 w1 w1 w1 w1 w1 w1 w1 w1"
    val docs = Seq((1L, poor), (5L, rich), (9L, poor), (20L, "solo doc text here okay"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 5L), (5L, 9L)).toDF("i", "j")
    val kept = graft.ops.Components.bestSurvivors(docs, pairs)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 20L), s"expected best-quality survivor 5 + singleton 20, got $kept")
    // facade path: exact duplicates tie on quality -> min id wins (total order)
    val twins = Seq((3L, rich), (7L, rich)).toDF("doc_id", "text")
    val dq = Graft.dedupByQuality(twins).select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(dq == Set(3L))
  }

  test("leakageSafeSplit keeps near-dup clusters on one side; permille bounds hold") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    // clusters {1,5,9} and {20,21}; the rest are singletons
    val pairs = Seq((1L, 5L), (5L, 9L), (20L, 21L)).toDF("i", "j")
    val out = graft.ops.Components.leakageSafeSplitOf(docs, pairs, 800)
      .select($"doc_id", $"grp", $"split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size == 40)
    assert(Set(out(1L), out(5L), out(9L)).size == 1, "cluster {1,5,9}: one group, one side")
    assert(out(20L) == out(21L), "cluster {20,21} splits together")
    assert(out(2L)._1 == 2L, "singletons group by their own id")
    // permille edges are total functions of the group hash
    assert(graft.ops.Components.leakageSafeSplitOf(docs, pairs, 0)
      .filter($"split" === "train").count() == 0)
    assert(graft.ops.Components.leakageSafeSplitOf(docs, pairs, 1000)
      .filter($"split" === "eval").count() == 0)
    intercept[IllegalArgumentException](Graft.leakageSafeSplit(docs, trainPermille = -1))
  }

  test("leakageSafeSplit passes caller id/label columns through untouched") {
    import spark.implicits._
    // the component frame's internal (id, label) used to collide with
    // caller columns of the same names — dropped silently or ambiguous
    val docs = Seq((1L, "a", 7L), (5L, "b", 8L), (9L, "c", 9L), (30L, "d", 10L))
      .toDF("doc_id", "label", "id")
    val pairs = Seq((1L, 5L), (5L, 9L)).toDF("i", "j")
    val out = graft.ops.Components.leakageSafeSplitOf(docs, pairs, 800)
    assert(out.columns.toSeq == Seq("doc_id", "label", "id", "grp", "split"))
    val byDoc = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byDoc(1L) == (("a", 7L, 1L)) && byDoc(9L) == (("c", 9L, 1L)))
    assert(byDoc(30L) == (("d", 10L, 30L)), "singleton keeps caller id/label intact")
  }

  test("oovRate scores docs against the corpus top-K vocabulary with deterministic ties") {
    import spark.implicits._
    // corpus counts: a=4, b=3, z=3, q=1 -> top-2 vocab = {a, b} (z ties b, 'b' < 'z')
    val docs = Seq((1L, "a a b z"), (2L, "a b z q"), (3L, "a b z a")).toDF("doc_id", "text")
    val out = Graft.oovRate(docs, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((4L, 2L, 0.5)))
    assert(out(3L) == ((4L, 1L, 0.25)))
    intercept[IllegalArgumentException](Graft.oovRate(docs, vocabSize = 0))
  }

  test("repetitionSignals: looped text scores high, diverse text zero, short docs excluded") {
    import spark.implicits._
    val loop = Seq.fill(10)("buy now click here").mkString(" ")         // 40 tokens, 4-token loop
    val diverse = (1 to 40).map(i => s"w$i").mkString(" ")              // all tokens distinct
    val docs = Seq((1L, loop), (2L, diverse), (3L, "too short to have ten grams"))
      .toDF("doc_id", "text")
    val out = Graft.repetitionSignals(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(!out.contains(3L), "sub-10-token docs carry no 10-gram signal")
    val (d2, d10, t2) = out(1L)
    // 39 2-gram positions over only 4 distinct values; 31 10-gram
    // positions over 4 distinct (period-4 text)
    assert(d2 == math.round((39 - 4) / 39.0 * 1e6) / 1e6.toDouble)
    assert(d10 == math.round((31 - 4) / 31.0 * 1e6) / 1e6.toDouble)
    assert(t2 == math.round(10 / 39.0 * 1e6) / 1e6.toDouble, "top 2-gram 'buy now' appears 10x")
    val (e2, e10, et2) = out(2L)
    assert(e2 == 0.0 && e10 == 0.0 && et2 == math.round(1 / 39.0 * 1e6) / 1e6.toDouble)
  }

  test("abcClassify: cum_share is monotone, classes split at 80/95, revenue preserved") {
    import spark.implicits._
    val df = (1 to 20).flatMap(k => Seq((k.toLong, 100.0 * (21 - k)))).toDF("k", "m")
    val abc = Graft.abcClassify(df, $"k", $"m")
    assert(abc.columns.toSeq == Seq("key", "revenue", "cum_share", "abc"),
      "facade contract: no internal dunder column names leak")
    val out = abc.orderBy($"cum_share").collect()
    val shares = out.map(_.getDouble(2))
    assert(shares.zip(shares.tail).forall { case (x, y) => x <= y })
    assert(math.abs(shares.last - 1.0) < 1e-12)
    out.foreach { r =>
      val (s, c) = (r.getDouble(2), r.getString(3))
      assert(if (s <= 0.80) c == "A" else if (s <= 0.95) c == "B" else c == "C")
    }
    assert(math.abs(out.map(_.getDouble(1)).sum - (1 to 20).map(k => 100.0 * (21 - k)).sum) < 1e-6)
  }

  test("lmQuality matches the hand-computed Laplace bigram cross-entropy; partition-invariant") {
    import spark.implicits._
    // tokens a:3 b:3 x:1 -> V=3; bigrams c2(a,b)=3, c2(b,a)=1
    // -ln p(b|a) = ln((3+3)/(3+1)) = ln 1.5; -ln p(a|b) = ln((3+3)/(1+1)) = ln 3
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graft.lmQuality(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    val out = run(docs)
    val ln15 = math.round(math.log(1.5) * 1e6)   // 405465 micro-nats
    val ln3  = math.round(math.log(3.0) * 1e6)   // 1098612
    assert(out(1L)._1 == 3L)
    assert(out(1L)._2.contains(BigDecimal((2 * ln15 + ln3) / 1e6 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(out(2L) == ((1L, Some(ln15 / 1e6))))
    assert(out(3L) == ((0L, None)), "single-token doc: no bigram evidence, NULL score")
    assert(run(docs.repartition(7)) == out, "micro-nat integer sums are partition-order-independent")
  }

  test("lmQuality libm audit: no vocabulary log-ratio lands near a micro-nat boundary") {
    import spark.implicits._
    // VERDICT r7 item 3: q161's ln() is the one libm-dependent step in
    // the integer-exact scoring family. JVM vs DuckDB libms agree to
    // ~1 ulp (≤ ~3e-9 after the 1e6 scaling), so cross-engine rounding
    // can only diverge if a ratio's scaled log sits within that distance
    // of a .5 boundary. Assert every gate vocabulary keeps a ≥300×
    // margin — this turns the cross-libm assumption into a checked
    // invariant: a testdata regeneration that lands a ratio near a
    // boundary fails HERE, not as an unexplained oracle hash mismatch.
    val EpsMicro = 1e-6
    for (dir <- Seq(TestSpark.Sf0001, TestSpark.Sf001, "/root/testdata/sf0.1")
         if new java.io.File(dir).isDirectory) {
      val gaps = graft.ops.Quality.lmBoundaryGap(Tables.documents(spark, dir))
        .agg(org.apache.spark.sql.functions.min($"half_dist"),
          org.apache.spark.sql.functions.count($"half_dist")).head
      val (minGap, nRatios) = (gaps.getDouble(0), gaps.getLong(1))
      assert(nRatios > 0, s"$dir: audit must see a non-empty vocabulary")
      assert(minGap > EpsMicro,
        s"$dir: a log-ratio sits $minGap micro-nats from a rounding boundary " +
          s"(over $nRatios distinct ratios) — cross-libm determinism no longer guaranteed")
    }
    // the audit mirrors lmQualityOf's kernel: same Laplace terms, so the
    // hand-computed fixture ratios (6/4, 6/2) must appear verbatim
    val fix = graft.ops.Quality.lmBoundaryGap(
      Seq((1L, "a b a b"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fix == Set((6L, 4L), (6L, 2L)))
  }

  test("charEntropy matches hand-computed Shannon entropy; verdicts and libm audit hold") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aabb"),                                  // H = 1.0 exactly
      (2L, "abcdefgh"),                              // 8 distinct → H = 3.0
      (3L, "aaaa"),                                  // one symbol → H = 0.0
      (4L, ""),                                      // empty → NULL / 'empty'
      (5L, (33 to 96).map(_.toChar).mkString),       // 64 distinct → H = 6.0
      (6L, null.asInstanceOf[String])                // null text ≡ empty
    ).toDF("doc_id", "text")
    val out = Graft.charEntropy(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3)))).toMap
    assert(out(1L) == ((4L, Some(1.0), "low")))
    assert(out(2L) == ((8L, Some(3.0), "ok")))
    assert(out(3L) == ((4L, Some(0.0), "low")))
    assert(out(4L) == ((0L, None, "empty")))
    assert(out(5L) == ((64L, Some(6.0), "high")))
    assert(out(6L) == ((0L, None, "empty")))
    // the ONLY libm inputs the metric ever sees are integer counts
    // 1..|doc|: audit the whole rounded-log2 table once, for all
    // corpora — no integer's scaled log2 may land near a .5 micro-bit
    // boundary (c=1 is exactly 0.0, distance 0.5). Audited range
    // 2..2048, measured min 1.55e-4 at c=2033 (≥150× the worst
    // cross-libm delta); wider ranges DO contain near-boundary
    // integers (c≈7-8k lands ~6e-7 away), so the corpus length cap
    // below is load-bearing, not decorative.
    val minGap = (2 to 2048).map { c =>
      val x = math.log(c) / math.log(2) * 1e6
      math.abs(x - math.floor(x) - 0.5)
    }.min
    assert(minGap > 1e-6, s"an integer log2 sits $minGap from a rounding boundary")
    // every gate corpus must stay inside the audited count range
    for (dir <- Seq(TestSpark.Sf0001, TestSpark.Sf001, "/root/testdata/sf0.1")
         if new java.io.File(dir).isDirectory) {
      val maxLen = Tables.documents(spark, dir)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.length($"text"))).head.getInt(0)
      assert(maxLen <= 2048, s"$dir: doc length $maxLen exceeds the audited log2 range")
    }
  }

  test("pseudonymize keeps tokens stable per user, distinct across users, and sequence-true") {
    import spark.implicits._
    def at(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val events = Seq(
      (1L, at(0), java.lang.Long.valueOf(7L), "view"),
      (2L, at(5), java.lang.Long.valueOf(7L), "click"),
      (3L, at(3), java.lang.Long.valueOf(9L), "view"),
      (4L, at(9), null.asInstanceOf[java.lang.Long], "view"),
      (5L, at(1), null.asInstanceOf[java.lang.Long], "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Graft.pseudonymize(events).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // same user → same token; different users → different tokens
    assert(out(1L)._1 == out(2L)._1)
    assert(out(1L)._1 != out(3L)._1)
    assert(out(1L)._1.matches("[0-9a-f]{16}"), out(1L)._1)
    // nulls collapse to the shared 'anon' token, never a hash
    assert(out(4L)._1 == "anon" && out(5L)._1 == "anon")
    // sequence survives pseudonymization: rank by (ts, event_id) per user
    assert(out(1L)._2 == 1 && out(2L)._2 == 2)
    assert(out(3L)._2 == 1)
    assert(out(5L)._2 == 1 && out(4L)._2 == 2)
    // a rotated pepper re-keys every real token but not the anon class
    val rekeyed = Graft.pseudonymize(events, pepper = "other").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rekeyed(1L) != out(1L)._1 && rekeyed(4L) == "anon")
  }

  test("sourceCap equals the window-sort reference and is merge-order invariant") {
    import spark.implicits._
    // hot source with 30 docs (over k=5), small source with 3 (under k)
    val docs = ((1L to 30L).map(i => (i, "hot")) ++ Seq((101L, "cold"), (102L, "cold"), (103L, "cold")))
      .toDF("doc_id", "source")
    def keptOf(df: org.apache.spark.sql.DataFrame) =
      Graft.sourceCap(df, 5).filter($"kept").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val kept = keptOf(docs)
    assert(kept.count(_._2 == "hot") == 5, "hot source capped at k")
    assert(kept.count(_._2 == "cold") == 3, "under-k source keeps everything")
    // reference: the 5 smallest salted hashes win — replicate with a window sort
    val ref = docs.withColumn("h", org.apache.spark.sql.functions.call_function(
        "graft_md5long64", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("scap:"), $"doc_id".cast("string"))))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source").orderBy($"h", $"doc_id")))
      .filter($"rk" <= 5).select($"doc_id", $"source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == ref, "bounded-threshold selection ≡ window-sort selection")
    // 13 partitions force partial-aggregate merges in arbitrary order
    assert(keptOf(docs.repartition(13)) == kept, "KthSmallest merge is order-independent")
    intercept[IllegalArgumentException](Graft.sourceCap(docs, 0))
  }

  test("dsirSelect prefers docs matching the target distribution; partition-invariant") {
    import spark.implicits._
    // 4 target docs in "aa bb" vocabulary, 4 raw-only in "xx yy", 2 mixed
    val docs = (
      (1L to 4L).map(i => (i, s"aa bb aa bb cc$i", true)) ++
      (5L to 8L).map(i => (i, s"xx yy xx yy zz$i", false)) ++
      Seq((9L, "aa bb xx yy", false), (10L, "qq rr ss tt", false))
    ).toDF("doc_id", "text", "is_t")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graft.dsirSelect(df, $"is_t", buckets = 64, topN = 4).collect()
        .map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    val out = run(docs)
    assert(out.size == 10)
    // the 4 selected docs are exactly the target-vocabulary ones
    assert(out.filter(_._2._2).keySet == Set(1L, 2L, 3L, 4L))
    // target-vocab docs outscore raw-only docs
    assert((1L to 4L).map(out(_)._1).min > (5L to 8L).map(out(_)._1).max)
    // the mixed doc sits between the two blocks
    assert(out(9L)._1 < (1L to 4L).map(out(_)._1).min)
    assert(out(9L)._1 > (5L to 8L).map(out(_)._1).max)
    assert(run(docs.repartition(7)) == out, "micro-nat weights are partition-independent")
    // under-topN corpus: everything selected (sentinel threshold)
    val tiny = Seq((1L, "aa bb", true), (2L, "xx", false)).toDF("doc_id", "text", "is_t")
    assert(Graft.dsirSelect(tiny, $"is_t", 64, 10).collect().forall(_.getBoolean(3)))
    intercept[IllegalArgumentException](Graft.dsirSelect(docs, $"is_t", 1, 4))
    intercept[IllegalArgumentException](Graft.dsirSelect(docs, $"is_t", 64, 0))
  }

  test("ngramDiversity matches hand-computed type-token ratios") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c", "A"),   // 6 tokens {a,b,c}; trigrams abc,bca,cab,abc
      (2L, "x y", "B"),           // no trigram
      (3L, "p p p p", "B")        // 4 tokens 1 type; trigrams ppp,ppp -> 2 occ 1 type
    ).toDF("doc_id", "text", "source")
    val out = Graft.ngramDiversity(docs, org.apache.spark.sql.functions.col("source"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert((a.getLong(1), a.getLong(2), a.getDouble(3)) == ((6L, 3L, 0.5)))
    assert((a.getLong(4), a.getLong(5), a.getDouble(6)) == ((4L, 3L, 0.75)))
    val b = out("B")
    assert((b.getLong(1), b.getLong(2)) == ((6L, 3L)), "B: tokens x,y,p*4")
    assert((b.getLong(4), b.getLong(5), b.getDouble(6)) == ((2L, 1L, 0.5)),
      "the 2-token doc contributes no trigrams; ppp counted once as a type")
  }

  test("codeSwitch: pure doc concentrated, mixed doc flagged, markerless null") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the a order table the"),   // en only: share 1.0
      (2L, "the hash join a row"),     // en 2, de 3: top de, share 0.6, mixed
      (3L, "qq zz yy")                 // no marker hits
    ).toDF("doc_id", "text")
    val out = Graft.codeSwitch(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2)),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))).toMap
    assert(out(1L) == ((5L, Some("en"), Some(1.0), false)))
    assert(out(2L) == ((5L, Some("de"), Some(0.6), true)))
    assert(out(3L) == ((0L, None, None, false)))
  }

  test("novelty: first occurrences score 1, duplicates 0, partial overlap exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),         // 2 shingles, both first here
      (2L, "a b c d e f"),         // exact dup of doc 1 -> novelty 0
      (3L, "z y x w v u t"),       // 3 shingles, disjoint
      (4L, "a b c d e q r s t u"), // 6 shingles, 1 copied from doc 1
      (5L, "shorty")               // < 5 tokens: no shingles, absent
    ).toDF("doc_id", "text")
    val out = Graft.novelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 4 && !out.contains(5L))
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 0L, 0.0)), "verbatim re-post adds nothing")
    assert(out(3L) == ((3L, 3L, 1.0)))
    assert(out(4L) == ((6L, 5L, 0.833333)), "one of six shingles already seen")
  }

  test("curriculum equals the one-window NTILE on uneven tiles; partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, ntile, row_number}
    // n=10, phases=4 -> tile sizes 3,3,2,2; planted ties in quality
    val scored = Seq(
      (1L, 0.9), (2L, 0.9), (3L, 0.8), (4L, 0.8), (5L, 0.8),
      (6L, 0.5), (7L, 0.4), (8L, 0.3), (9L, 0.3), (10L, 0.1)
    ).toDF("doc_id", "quality")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graft.curriculum(df, 4).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val out = run(scored)
    val ref = scored.withColumn("phase", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("quality").desc, col("doc_id"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    assert(out == ref, "scalable rank ≡ single-window NTILE, ties and uneven tiles included")
    assert(out(1L) == 1L && out(5L) == 2L && out(10L) == 4L)
    assert(run(scored.repartition(7)) == out)
    assert(run(scored).values.toSeq.sorted == Seq(1L,1L,1L,2L,2L,2L,3L,3L,4L,4L))
    assert(Graft.curriculum(scored, 1).collect().forall(_.getLong(2) == 1L))
    intercept[IllegalArgumentException](Graft.curriculum(scored, 0))
  }

  test("curriculum keys on raw quality: sub-1e-9 gaps and huge magnitudes survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, ntile}
    // the old ×1e9 long sort key collapsed deltas below 1e-9 to doc_id
    // order and overflowed past |q| ≈ 9.2e9; the raw-quality range sort
    // must match the documented NTILE over (quality DESC, doc_id)
    val scored = Seq(
      (1L, 1e10), (2L, 1.0 + 2e-12), (3L, 1.0 + 1e-12),
      (4L, 1.0), (5L, -1e10), (6L, -1e10)
    ).toDF("doc_id", "quality")
    val out = Graft.curriculum(scored, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ref = scored.withColumn("phase", ntile(3).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("quality").desc, col("doc_id"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    assert(out == ref)
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L, 6L -> 3L))
  }

  test("evalContainment scores eval docs by corpus shingle containment") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "totally unrelated training text goes right here now")).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "one two three four five six seven eight"),  // verbatim in corpus
      (101L, "alpha beta gamma delta epsilon zeta eta"),  // disjoint
      (102L, "zz one two three four five yy")             // partial: 1 of 3 shingles hits
    ).toDF("doc_id", "text")
    val out = Graft.evalContainment(evalSet, corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(100L)._3 == 1.0 && out(100L)._4, "verbatim benchmark item: containment 1.0")
    assert(out(101L) == ((3L, 0L, 0.0, false)), "disjoint item untouched")
    assert(out(102L)._1 == 3L && out(102L)._2 == 1L, "partial item: 1 of 3 shingles in corpus")
    assert(out(102L)._3 == 1.0 / 3 && out(102L)._4, "ratio exact; above the 0.2 threshold")
  }

  test("auc matches the hand-computed Mann-Whitney value with tied scores") {
    import spark.implicits._
    // ascending: 0.1(n) 0.2(n,p tie) 0.3(p) 0.4(n) 0.5(p) ->
    // avg-rank sum over positives = 2.5+4+6 = 12.5, U = 6.5, AUC = 13/18
    val scored = Seq(
      (0.1, 0), (0.2, 0), (0.2, 1), (0.3, 1), (0.4, 0), (0.5, 1)
    ).toDF("score", "y")
    val r = Graft.auc(scored).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 6L && r(0).getLong(1) == 3L && r(0).getLong(2) == 3L)
    assert(r(0).getDouble(3) == 0.722222222, s"auc = ${r(0).getDouble(3)}")
    // single-class input: AUC undefined -> null, not 0 or NaN
    val oneClass = Seq((0.3, 1), (0.7, 1)).toDF("score", "y")
    assert(Graft.auc(oneClass).collect()(0).isNullAt(3))
    // perfect and inverted rankers bracket the range
    val perfect = Seq((0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1)).toDF("score", "y")
    assert(Graft.auc(perfect).collect()(0).getDouble(3) == 1.0)
    val inverted = Seq((0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)).toDF("score", "y")
    assert(Graft.auc(inverted).collect()(0).getDouble(3) == 0.0)
  }

  test("prCurve emits the exact operating-point table, thresholds descending") {
    import spark.implicits._
    val scored = Seq(
      (0.1, 0), (0.2, 0), (0.2, 1), (0.3, 1), (0.4, 0), (0.5, 1)
    ).toDF("score", "y")
    val rows = Graft.prCurve(scored).orderBy(org.apache.spark.sql.functions.col("score").desc)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.toSeq == Seq(
      (0.5, 1L, 0L, 2L, 1.0, 0.333333333),
      (0.4, 1L, 1L, 2L, 0.5, 0.333333333),
      (0.3, 2L, 1L, 1L, 0.666666667, 0.666666667),
      (0.2, 3L, 2L, 0L, 0.6, 1.0),
      (0.1, 3L, 3L, 0L, 0.5, 1.0)))
  }

  test("calibration bins counts and exact bin means; a perfect scorer calibrates") {
    import spark.implicits._
    // scores chosen mid-bin so binning is unambiguous; bin 0 gets 1 of 4
    // positive, bin 9 is pure positive
    val scored = Seq(
      (0.05, 0), (0.05, 0), (0.05, 1), (0.05, 0),
      (0.55, 1), (0.55, 0),
      (0.95, 1), (0.95, 1)
    ).toDF("score", "y")
    val rows = Graft.calibration(scored, bins = 10)
      .orderBy(org.apache.spark.sql.functions.col("bin"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      (0, 4L, 1L, 0.05, 0.25),
      (5, 2L, 1L, 0.55, 0.5),
      (9, 2L, 2L, 0.95, 1.0)))
    // score exactly 1.0 clamps into the top bin, never bins
    val top = Graft.calibration(Seq((1.0, 1)).toDF("score", "y"), 10).collect()
    assert(top.length == 1 && top(0).getInt(0) == 9)
    intercept[IllegalArgumentException](Graft.calibration(scored, 0))
  }

  test("bootstrapCi brackets the point mean deterministically") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, (i % 100) + 0.25)).toDF("id", "v")
    val r1 = Graft.bootstrapCi(df, org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("v")).collect()(0)
    val (n, mean, lo, hi) = (r1.getLong(0), r1.getDouble(1), r1.getDouble(2), r1.getDouble(3))
    assert(n == 500L)
    assert(mean == 49.75, s"point mean = $mean") // exact: avg of (i%100)+0.25
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] must bracket $mean")
    assert(hi - lo > 0 && hi - lo < 20, s"CI width ${hi - lo} implausible")
    // determinism: identical on a different partitioning
    val r2 = Graft.bootstrapCi(df.repartition(13),
      org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("v")).collect()(0)
    assert(r1.getDouble(2) == r2.getDouble(2) && r1.getDouble(3) == r2.getDouble(3))
    intercept[IllegalArgumentException](Graft.bootstrapCi(df,
      org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("v"), replicates = 2))
  }

  test("bootstrapCi on an empty frame returns no row") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val r = Graft.bootstrapCi(empty, org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("v"))
    assert(r.columns.toSeq == Seq("n", "mean", "ci_lo", "ci_hi"))
    assert(r.collect().isEmpty)
  }

  test("chi2Independence matches the hand-computed 2x2 statistic") {
    import spark.implicits._
    // 30/10 vs 10/30 over balanced margins: E = 20 per cell,
    // (O-E)^2/E = 5 per cell -> chi2 = 20, dof = 1
    val rows =
      Seq.fill(30)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
        Seq.fill(10)(("y", "u")) ++ Seq.fill(30)(("y", "v"))
    val r = Graft.chi2Independence(rows.toDF("a", "b"), "a", "b").collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 80L && r(0).getLong(1) == 1L)
    assert(r(0).getLong(2) == 20000000L && r(0).getDouble(3) == 20.0)
    // independent columns score ~0 (exactly 0 on a perfectly uniform table)
    val indep = (for { a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    assert(Graft.chi2Independence(indep, "a", "b").collect()(0).getDouble(3) == 0.0)
  }

  test("phash is byte-order sensitive but re-encoding invariant; groups form on equal profiles") {
    import spark.implicits._
    // same multiset of characters in different order -> same profile ->
    // same hash (the "re-encoding" the perceptual hash must survive);
    // a different character mix flips bits
    val docs = Seq(
      (1L, "abc abc xyz"),
      (2L, "xyz abc abc"),          // permutation: identical counts
      (3L, "zzz zzz zzz qqq")       // different profile
    ).toDF("doc_id", "text")
    val h = Graft.phash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L), "order-permuted payloads must share the perceptual hash")
    assert(h(1L) != h(3L), "different content profiles must differ")
    // the registry grouping keeps only groups of >= 2
    val grouped = SparkEntry.queries("q187_phash_groups")(spark, TestSpark.Sf0001)
      .collect()
    assert(grouped.nonEmpty)
    assert(grouped.forall(_.getLong(1) >= 2L))
  }

  test("aucBy computes each slice exactly as the global auc on that slice") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val scored = Seq(
      ("a", 0.1, 0), ("a", 0.2, 0), ("a", 0.2, 1), ("a", 0.3, 1), ("a", 0.4, 0), ("a", 0.5, 1),
      ("b", 0.1, 0), ("b", 0.9, 1),          // perfectly separated slice
      ("c", 0.7, 1), ("c", 0.8, 1)           // single-class slice -> null
    ).toDF("g", "score", "y")
    val by = Graft.aucBy(scored).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(by("a") == Some(0.722222222)) // the hand-computed q180 fixture
    assert(by("b") == Some(1.0))
    assert(by("c") == None)
    // each slice must equal the global auc restricted to it
    val globalA = Graft.auc(scored.filter(col("g") === "a").select(col("score"), col("y")))
      .collect()(0).getDouble(3)
    assert(by("a") == Some(globalA))
  }

  test("rankingMetrics: MRR from the first hit, NDCG from integer discounts, null when no rel") {
    import spark.implicits._
    val ranked = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),   // rel doc 11 at rank 2
      (2L, 20L, 1), (2L, 21L, 2),                 // no relevant docs at all
      (3L, 30L, 1), (3L, 31L, 2)                  // both relevant, ideal order
    ).toDF("qid", "doc_id", "rk")
    val rel = Seq((1L, 11L), (3L, 30L), (3L, 31L)).toDF("qid", "doc_id")
    val out = Graft.rankingMetrics(ranked, rel).collect()
      .map(r => r.getLong(0) -> r).toMap
    // q1: first at 2 -> mrr 0.5; dcg = disc(2) = 630930; idcg(nrel=1) = 1000000
    assert(out(1L).getLong(1) == 1L && out(1L).getInt(2) == 2)
    assert(out(1L).getDouble(3) == 0.5)
    assert(out(1L).getLong(4) == 630930L && out(1L).getLong(5) == 1000000L)
    assert(out(1L).getDouble(6) == 0.63093)
    // q2: nothing relevant -> mrr 0, ndcg null
    assert(out(2L).getLong(1) == 0L && out(2L).isNullAt(2))
    assert(out(2L).getDouble(3) == 0.0 && out(2L).isNullAt(6))
    // q3: perfect ranking -> ndcg exactly 1
    assert(out(3L).getDouble(3) == 1.0 && out(3L).getDouble(6) == 1.0)
    intercept[IllegalArgumentException](Graft.rankingMetrics(ranked, rel, 11))
  }

  test("cvFolds keeps near-dup components in one fold; folds partition the corpus") {
    import org.apache.spark.sql.functions.col
    val out = Graft.cvFolds(corpus, k = 3).select("doc_id", "grp", "fold")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // docs 1/2/3 are the planted near-dup cluster: same group, same fold
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(1L)._2 == out(2L)._2 && out(2L)._2 == out(3L)._2)
    // singletons group by their own id
    assert(out(4L)._1 == 4L && out(5L)._1 == 5L)
    assert(out.values.forall { case (_, f) => f >= 0 && f < 3 })
    // deterministic: fold assignment is a pure function of content
    val again = Graft.cvFolds(corpus, k = 3).select("doc_id", "fold")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out.map { case (d, (_, f)) => d -> f })
    intercept[IllegalArgumentException](Graft.cvFolds(corpus, 1))
  }

  private lazy val chatTurns = {
    import spark.implicits._
    Seq(
      // conv 1: the valid shape — user/assistant strictly alternating
      (1L, 1, "user", "hi"), (1L, 2, "assistant", "hello"),
      (1L, 3, "user", "thanks"), (1L, 4, "assistant", "yw"),
      // conv 2: double-user break + empty assistant turn + user close
      (2L, 1, "user", "a"), (2L, 2, "user", "b"),
      (2L, 3, "assistant", ""), (2L, 4, "user", "c"),
      // conv 3: assistant-opening
      (3L, 1, "assistant", "unprompted"), (3L, 2, "user", "ok")
    ).toDF("conv_id", "turn", "role", "content")
  }

  test("chatStats validates shape: alternation breaks, empties, boundary roles") {
    import org.apache.spark.sql.functions.col
    val out = Graft.chatStats(chatTurns, col("conv_id"), Seq(col("turn")),
      col("role"), col("content"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5),
          r.getLong(6), r.getLong(7), r.getBoolean(8)))).toMap
    assert(out(1L) == ((4L, 2L, 2L, "user", "assistant", 0L, 0L, true)))
    assert(out(2L) == ((4L, 3L, 1L, "user", "user", 1L, 1L, false)))
    assert(out(3L) == ((2L, 1L, 1L, "assistant", "user", 0L, 0L, false)))
  }

  test("chatSpans emits contiguous half-open spans; loss marks assistant turns") {
    import org.apache.spark.sql.functions.col
    val out = Graft.chatSpans(chatTurns, col("conv_id"), Seq(col("turn")),
      col("role"), col("content"))
      .filter(col("conv_id") === 1L).orderBy(col("turn_idx"))
      .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    // "<|user|>hi" = 10 chars, "<|assistant|>hello" = 18, "<|user|>thanks" = 14,
    // "<|assistant|>yw" = 15 — spans tile [0, 57) with no gaps
    assert(out.toSeq == Seq(
      (1, "user", 0L, 10L, false), (2, "assistant", 10L, 28L, true),
      (3, "user", 28L, 42L, false), (4, "assistant", 42L, 57L, true)))
    // spans are contiguous: each start equals the previous end
    assert(out.sliding(2).forall { case Array(a, b) => b._3 == a._4; case _ => true })
  }

  test("corpusChecksum refresh: group birth/death == rebuild; duplicate pairs escape xsum but not n/hsum") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("source")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    // the published limbs reconstruct the exact integer sum: for each
    // group, hi·2^32 + lo == Σ md5-60bit(text) computed independently
    def jvmHash(s: String): BigInt =
      BigInt(java.lang.Long.parseLong(ops.Hashes.md5Hex(s).substring(0, 15), 16))
    val g1 = Seq(
      (1L, "a", "alpha text"), (2L, "a", "beta text"),
      (3L, "b", "gamma text")).toDF("doc_id", "source", "text")
    val state1 = Graft.corpusChecksum(g1, col("source"))
    // limb exactness: hi·2^32 + lo == the independent JVM-side sum, and
    // both limbs are int64-safe nonneg (the r12 gate-burn contract)
    val limb = BigInt(4294967296L)
    val s1 = rows(state1)
    assert(s1.find(_._1 == "a").map(r => BigInt(r._4) * limb + BigInt(r._5)) ==
      Some(jvmHash("alpha text") + jvmHash("beta text")))
    assert(s1.find(_._1 == "b").map(r => BigInt(r._4) * limb + BigInt(r._5)) ==
      Some(jvmHash("gamma text")))
    assert(s1.forall(r => r._4 >= 0L && r._5 >= 0L && r._5 < 4294967296L))
    // feed: doc 2 changed, doc 3 removed (source b DIES), doc 4 added
    // into NEW source c (born), doc 5 added into a
    val delta = Seq(
      (2L, "changed", "a", "beta text", "beta text v2"),
      (3L, "removed", "b", "gamma text", "gamma text"),
      (4L, "added", "c", null, "delta text"),
      (5L, "added", "a", null, "epsilon text")
    ).toDF("doc_id", "status", "source", "text_old", "text_new")
    val refreshed = rows(Graft.refreshCorpusChecksum(state1, delta))
    val g2 = Seq(
      (1L, "a", "alpha text"), (2L, "a", "beta text v2"),
      (4L, "c", "delta text"), (5L, "a", "epsilon text"))
      .toDF("doc_id", "source", "text")
    assert(refreshed == rows(Graft.corpusChecksum(g2, col("source"))),
      "refreshed manifest differs from the from-scratch rebuild")
    assert(!refreshed.exists(_._1 == "b"), "emptied group survived")
    assert(refreshed.exists(_._1 == "c"), "born group missing")
    // removing a doc the manifest never saw drives a count below zero →
    // the guard must raise, not guess
    val bad = Seq((9L, "removed", "b", "never seen", "never seen"))
      .toDF("doc_id", "status", "source", "text_old", "text_new")
    val e = intercept[Exception] {
      Graft.refreshCorpusChecksum(
        Graft.refreshCorpusChecksum(state1, delta), bad).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("below zero"))
    // the XOR caveat the scaladoc states: an identical PAIR cancels in
    // xsum, but n_docs and hsum both move — the triple is the contract
    val paired = g1.unionByName(
      Seq((6L, "a", "alpha text"), (7L, "a", "alpha text"))
        .toDF("doc_id", "source", "text"))
    val s0 = rows(Graft.corpusChecksum(g1, col("source"))).filter(_._1 == "a").head
    val s2 = rows(Graft.corpusChecksum(paired, col("source"))).filter(_._1 == "a").head
    assert(s2._3 == s0._3, "identical pair should cancel in xsum")
    assert(s2._2 == s0._2 + 2 && (s2._4, s2._5) != ((s0._4, s0._5)),
      "n_docs/hsum limbs must catch the pair")
  }
}
