package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Barrier, Components}

/** Connected-components invariants: exact labels on hand graphs,
  * convergence past one propagation round (long chains), agreement
  * with an independent union-find over the real near-dup pair graph,
  * and row-for-row agreement of the driver finish with the loop.
  *
  * Every small test graph fits under the default broadcast threshold
  * and so closes on the driver; the loop-shaped tests run inside
  * [[loopOnly]], which turns the driver finish off. */
class ComponentsSpec extends AnyFunSuite {
  import TestSpark._

  private val broadcastKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold")

  /** Runs `body` with the session confs `kvs` set; the previous
    * settings come back afterwards. */
  private def withConf[T](kvs: Seq[(String, String)])(body: => T): T = {
    val conf = spark.conf
    val before = kvs.map { case (k, _) => k -> conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Runs `body` with broadcasting off (both thresholds -1), which also
    * turns off connectedComponents' driver finish, so the propagation
    * loop runs. */
  private def loopOnly[T](body: => T): T = withConf(broadcastKeys.map(_ -> "-1"))(body)

  private def onDriver(labels: DataFrame): Boolean =
    labels.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def rowCounts(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(edges.toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("min-label components on a hand graph") {
    val got = loopOnly(cc(Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 11L))))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L, 10L -> 8L, 11L -> 8L)
    assert(got == expected)
  }

  test("a diameter-12 chain converges (multiple propagation rounds)") {
    val chain = (0L until 12L).map(k => (k, k + 1))
    val got = loopOnly(cc(chain))
    assert(got == (0L to 12L).map(_ -> 0L).toMap)
  }

  test("path-doubling: a 100-node path converges in O(log n) rounds, not O(diameter)") {
    import spark.implicits._
    // plain min-propagation moves the min label one hop per round, so a
    // diameter-100 path needs ~100 rounds and would abort at maxIter=15;
    // the post-PlainRounds shortcut must get there in ~4 + log2(100)
    val path = (0L until 100L).map(k => (k, k + 1)).toDF("i", "j")
    val got = loopOnly(Components.connectedComponents(path, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(got == (0L to 100L).map(_ -> 0L).toMap)
  }

  test("reliable=true uses checkpointDir-backed checkpoints (and requires the dir)") {
    loopOnly(withConf(Seq(Barrier.ReliableConfKey -> "true")) {
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("i", "j")
      // before a checkpoint dir exists the conf must fail fast, not
      // surface as a job-time SparkException from inside the loop
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        intercept[IllegalArgumentException] {
          Components.connectedComponents(edges)
        }
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.sparkContext.setCheckpointDir(dir)
      val got = Components.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
      // reliable checkpoints actually landed on disk (lineage survives
      // executor loss precisely because the blocks live here)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"expected RDD checkpoint files under $dir")
    })
  }

  test("ReliableConfKey session conf upgrades every checkpoint site (CC + triangles)") {
    loopOnly {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-conf").toString
      spark.sparkContext.setCheckpointDir(dir)
      spark.conf.set(Barrier.ReliableConfKey, "true")
      try {
        val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("i", "j")
        // no per-call flag anywhere — the conf alone must flip both the
        // CC loop and triangles' oriented-frame checkpoint to reliable
        val got = Components.connectedComponents(edges)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
        val tri = Components.triangles(edges)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(tri == Set((1L, 2L, 3L)))
        val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .filter(p => java.nio.file.Files.isRegularFile(p)).count()
        assert(wrote > 0, s"expected reliable checkpoint files under $dir")
      } finally spark.conf.unset(Barrier.ReliableConfKey)
    }
  }

  test("q72 components agree with an independent union-find over q26's pairs") {
    val pairs = SparkEntry.queries("q26_neardup_minhash")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = SparkEntry.queries("q72_dedup_components")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.nonEmpty, "fixture corpus must contain near-dup pairs")
  }

  test("driver finish == loop: same rows, column names, types and nullability") {
    import spark.implicits._
    val q26 = SparkEntry.queries("q26_neardup_minhash")(spark, Sf0001).select($"i", $"j")
    // (input, closes on the driver under the default conf)
    val cases: Seq[(String, DataFrame, Boolean)] = Seq(
      ("empty edge set", spark.emptyDataset[(Long, Long)].toDF("i", "j"), true),
      ("self-loops", Seq((1L, 1L), (2L, 2L), (2L, 3L)).toDF("i", "j"), true),
      ("duplicate and reversed edges",
        Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 2L), (5L, 4L), (4L, 5L)).toDF("i", "j"), true),
      ("int-typed i/j", Seq((1, 2), (2, 3), (7, 8), (9, 7)).toDF("i", "j"), true),
      ("nullable columns, no nulls",
        Seq((Option(1L), Option(2L)), (Option(3L), Option(2L))).toDF("i", "j"), true),
      // a null endpoint runs the loop: its null-id row has no closed form
      ("an edge with a null endpoint",
        Seq((Option(1L), Option(2L)), (Option(2L), None), (None, Option(5L))).toDF("i", "j"), false),
      ("string ids run the loop", Seq(("a", "b"), ("c", "b")).toDF("i", "j"), false),
      ("q26's real pairs", q26, true))
    for ((name, edges, driverPath) <- cases) {
      val driver = Components.connectedComponents(edges)
      val (loopSchema, loopRows) = loopOnly {
        val loop = Components.connectedComponents(edges)
        assert(!onDriver(loop), name)
        (loop.schema, rowCounts(loop))
      }
      assert(onDriver(driver) == driverPath, name)
      assert(driver.schema == loopSchema, name)
      assert(rowCounts(driver) == loopRows, name)
    }
    assert(q26.count() > 0, "fixture corpus must contain near-dup pairs")
  }

  test("the gate is the observed edge count: cap edges close on the driver, cap + 1 loop") {
    import spark.implicits._
    // a (long, long) edge row is 24 bytes as Spark sizes a local relation
    // (8 bytes of row overhead + 8 per column): 48 bytes caps at 2 edges
    withConf(Seq("spark.sql.autoBroadcastJoinThreshold" -> "48")) {
      val two = Seq((1L, 2L), (3L, 2L)).toDF("i", "j")
      assert(Components.driverCap(two) == Some(2L))
      assert(onDriver(Components.connectedComponents(two)))
      val three = Seq((1L, 2L), (3L, 2L), (7L, 8L)).toDF("i", "j")
      val looped = Components.connectedComponents(three)
      assert(!onDriver(looped))
      assert(looped.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    }
  }

  test("driver finish: a 300-edge graph runs at most 2 jobs beyond the edge checkpoint") {
    import spark.implicits._
    // 30 chains of 10 edges each; chain c holds nodes 11c .. 11c + 10
    val edges = (0L until 300L).map(k => (k + k / 10, k + k / 10 + 1)).toDF("i", "j")
    val sc = spark.sparkContext
    val group = "graft-components-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def jobsOf[T](body: => T): (Int, T) = {
      org.apache.spark.TestListenerBus.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.TestListenerBus.drain(sc)
      (jobs.get, out)
    }
    sc.addSparkListener(listener)
    try {
      val (ckptJobs, e) = jobsOf(Barrier.pin(edges.select($"i", $"j")))
      Barrier.release(e)
      val (driverJobs, got) = jobsOf(Components.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(driverJobs - ckptJobs <= 2, s"driver finish ran $driverJobs jobs, checkpoint $ckptJobs")
      assert(got == (0L until 330L).map(n => n -> (n - n % 11)).toMap)
      // the listener sees the loop's rounds: the same graph costs more there
      val (loopJobs, _) = jobsOf(loopOnly(Components.connectedComponents(edges).collect()))
      assert(loopJobs > driverJobs + 2, s"loop ran $loopJobs jobs, driver finish $driverJobs")
    } finally sc.removeSparkListener(listener)
  }

  /** Independent in-test PageRank: plain Scala maps, same integer
    * contract (micro-unit start, per-edge `rank / outdeg` truncating,
    * damped `150000 + sum * 85 / 100`). */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(p => rank(p._1) / outdeg(p._1)).sum
      }
      rank = nodes.map(n => n -> (150000L + in.getOrElse(n, 0L) * 85 / 100)).toMap
    }
    rank
  }

  private def pr(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Long] = {
    import spark.implicits._
    Components.pageRankInt(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRank matches an independent integer reference on a hand graph") {
    // a cycle with a popular hub (4), a feeder (1→ everything), and a
    // dangling sink (5: in-links, no out-links)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L), (3L, 4L),
      (4L, 1L), (2L, 5L), (4L, 5L))
    for (iters <- Seq(1, 3, 5))
      assert(pr(edges, iters) == refPageRank(edges, iters), s"iters=$iters")
    // authority sanity: the hub out-ranks the feeder's other targets
    val got = pr(edges, 3)
    assert(got(4L) > got(2L) && got(4L) > got(3L))
  }

  test("pageRank is partition-count-invariant (integer determinism)") {
    import spark.implicits._
    val edges = (1L to 60L).map(i => (i, i % 7 + 1)) ++ Seq((7L, 50L), (3L, 42L))
    val base = pr(edges)
    val shuffled = Components.pageRankInt(
      scala.util.Random.shuffle(edges).toDF("src", "dst").repartition(13), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == base)
  }

  test("survivors = corpus minus non-min component members, exactly") {
    val comps = SparkEntry.queries("q72_dedup_components")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val droppedIds = comps.filter { case (id, c) => id != c }.map(_._1).toSet
    val all = Tables.documents(spark, Sf0001).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val survivors = SparkEntry.queries("q73_dedup_survivors")(spark, Sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == all.diff(droppedIds))
    assert(droppedIds.nonEmpty, "dedup must actually drop something on the fixture")
  }

  test("survivor/fold map-backs are correct on the NON-broadcast join path") {
    // the comps / drop-set frames are duplication-bounded but NOT
    // bounded by construction, so the map-back joins carry no forced
    // broadcast() hint — AQE chooses. This pins the other leg: with
    // broadcasting disabled entirely (shuffled joins only), results
    // are byte-identical to the default-config run.
    def run(): (Set[Long], Set[Long], Map[Long, Long]) = {
      val surv = SparkEntry.queries("q73_dedup_survivors")(spark, Sf0001)
        .collect().map(_.getLong(0)).toSet
      val best = SparkEntry.queries("q158_best_survivors")(spark, Sf0001)
        .collect().map(_.getLong(0)).toSet
      val folds = SparkEntry.queries("q192_cv_folds")(spark, Sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      (surv, best, folds)
    }
    val withBroadcast = run()
    assert(loopOnly(run()) == withBroadcast)
  }

  test("clusteringCoeff: triangle members close fully, the hub partially, pendants zero") {
    import spark.implicits._
    // triangle {1,2,3} plus pendant 4 hanging off 1:
    // deg(1)=3 tri(1)=1 -> 2/(3*2) = 0.333…; 2 and 3 close fully; 4 has
    // no wedge at all
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("i", "j")
    val out = Graft.clusteringCoeff(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out == Map(
      1L -> ((3L, 1L, 0.333333333)),
      2L -> ((2L, 1L, 1.0)),
      3L -> ((2L, 1L, 1.0)),
      4L -> ((1L, 0L, 0.0))))
  }

  test("refreshComponents: every incremental case on a planted graph == full rebuild") {
    import spark.implicits._
    // standing graph: {1,2,3} label 1, {10,11} label 10, {50,51} label 50,
    // {60,61} label 60 (untouched); 20 is a standing SINGLETON (no pairs,
    // so absent from the standing labeling — q72's contract)
    val standingEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (50L, 51L), (60L, 61L))
    val comps = Components.connectedComponents(standingEdges.toDF("i", "j"))
      .select($"id".as("doc_id"), $"label".as("component"))
    // the added batch introduces:
    //  (3,10)  merge of two standing comps        -> {1,2,3,10,11} label 1
    //  (20,30) new doc joins a standing singleton -> {20,30} label 20
    //  (40,41) pair entirely within the batch     -> {40,41} label 40
    //  (49,51) new doc with id SMALLER than the standing comp's label
    //          -> {49,50,51} must RELABEL to 49
    //  {60,61} gets no new pair and must pass through untouched
    val newPairs = Seq((3L, 10L), (20L, 30L), (40L, 41L), (49L, 51L)).toDF("i", "j")
    val got = Components.refreshComponents(comps, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuilt = Components.connectedComponents(
        (standingEdges ++ Seq((3L, 10L), (20L, 30L), (40L, 41L), (49L, 51L))).toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rebuilt, "incremental labeling differs from the full rebuild")
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 30L -> 20L,
      40L -> 40L, 41L -> 40L,
      49L -> 49L, 50L -> 49L, 51L -> 49L,
      60L -> 60L, 61L -> 60L))
  }

  test("refreshComponents: empty delta returns the standing labeling unchanged") {
    import spark.implicits._
    val comps = Components.connectedComponents(Seq((1L, 2L)).toDF("i", "j"))
      .select($"id".as("doc_id"), $"label".as("component"))
    val got = Components.refreshComponents(comps,
        spark.emptyDataset[(Long, Long)].toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("retireComponents: removed min-id label, cut vertex, emptied comp, untouched pass-through") {
    import spark.implicits._
    // standing graph (each failure mode of naive label patching planted):
    //  {1,2,3} triangle, label 1        — remove 1 (the LABEL): must relabel to 2
    //  {10,11,12} path via 11, label 10 — remove 11 (CUT VERTEX): must split
    //    into singletons 10 and 12, which then DROP from the labeling
    //    (the q72 contract labels only docs with a pair)
    //  {20,21}, label 20                — remove both: component vanishes
    //  {30,31,32} path via 31, label 30 — untouched: passes through as-is
    val standingEdges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 32L))
    val comps = Components.connectedComponents(standingEdges.toDF("i", "j"))
      .select($"id".as("doc_id"), $"label".as("component"))
    val removed = Seq(1L, 11L, 20L, 21L).toDF("doc_id")
    // remainingDocs stands in for the hashed-shingle frame: only ids
    // matter to the injected pair derivation (induced standing subgraph)
    val remaining = Seq(2L, 3L, 10L, 12L, 30L, 31L, 32L).toDF("doc_id")
    val induced = (docs: org.apache.spark.sql.DataFrame) => {
      val ids = docs.select($"doc_id")
      standingEdges.toDF("i", "j")
        .join(ids.select($"doc_id".as("i")), Seq("i"), "left_semi")
        .join(ids.select($"doc_id".as("j")), Seq("j"), "left_semi")
        .select($"i", $"j")
    }
    val got = Components.retireComponentsBy(comps, removed, remaining, induced)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full-rebuild truth over the remaining docs' induced graph
    val rebuilt = Components.connectedComponents(induced(remaining))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rebuilt, "retired labeling differs from the full rebuild")
    assert(got == Map(2L -> 2L, 3L -> 2L, 30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("retireComponents: removing a non-member or a standing singleton is a no-op") {
    import spark.implicits._
    val comps = Components.connectedComponents(Seq((1L, 2L)).toDF("i", "j"))
      .select($"id".as("doc_id"), $"label".as("component"))
    // 99 never appears in the pair graph; removing it must touch
    // nothing. The injected derivation returns the induced standing
    // edges — over an EMPTY affected-member set here, proving the
    // re-closure ran on zero rows rather than rescanning the corpus.
    var sawMembers = -1L
    val got = Components.retireComponentsBy(comps, Seq(99L).toDF("doc_id"),
        Seq(1L, 2L).toDF("doc_id"),
        docs => {
          sawMembers = docs.count()
          Seq((1L, 2L)).toDF("i", "j")
            .join(docs.select($"doc_id".as("i")), Seq("i"), "left_semi")
        })
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sawMembers == 0L, "no component is affected; pairsOf must see zero members")
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }
}
