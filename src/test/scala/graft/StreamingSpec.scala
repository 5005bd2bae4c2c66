package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streaming
import graft.streaming.Streaming.Event

/** Structured Streaming tests: the same transform definitions must
  * produce, over incremental micro-batches, exactly what the batch plan
  * produces over the full input — plus custom keyed state via
  * mapGroupsWithState accumulating across batches. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val events: Seq[Event] = {
    import spark.implicits._
    Tables.events(spark, Sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
  }

  test("hourly windowed counts: two micro-batches == one batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.hourlyCounts(stream.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.table("hourly")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Streaming.hourlyCounts(Tables.events(spark, Sf0001))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("session windows: incremental sessions converge to the batch gaps-and-islands") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.userSessions(stream.toDF())
      .writeStream.format("memory").queryName("sessions").outputMode("complete").start()
    try {
      // out-of-order delivery: second half first
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(b); q.processAllAvailable()
      stream.addData(a); q.processAllAvailable()
      val streamed = spark.table("sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = Streaming.userSessions(Tables.events(spark, Sf0001))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("append mode: hourly windows emit only when the watermark closes them; too-late events dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.hourlyCounts(stream.toDF())
      .writeStream.format("memory").queryName("hourly_append").outputMode("append").start()
    try {
      val sorted = events.sortBy(_.ts.getTime)
      val (a, b) = sorted.splitAt(sorted.size / 2)
      val maxTs = sorted.last.ts.getTime
      // sentinel 3h past the last real event: advances the watermark
      // (maxTs+1h) beyond every real window's end; its own window is never
      // finalized, so it cannot appear in the append output.
      val sentinel = Event(-1L, new java.sql.Timestamp(maxTs + 3L * 3600 * 1000), -999L, "sentinel", 0.0)
      // a too-late replay of the earliest event: far older than the
      // watermark by then → must be dropped, not re-open its window.
      val tooLate = sorted.head.copy(event_id = -2L)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      stream.addData(sentinel); q.processAllAvailable()
      stream.addData(tooLate); q.processAllAvailable()
      val streamed = spark.table("hourly_append")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      // batch twin over the REAL events only: equality simultaneously
      // proves every real window finalized, the sentinel window was
      // withheld (open), and the late replay did not inflate any count.
      val batch = Streaming.hourlyCounts(Tables.events(spark, Sf0001))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("append mode: sessions converge to q57's batch gaps-and-islands once the watermark passes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.userSessions(stream.toDF())
      .writeStream.format("memory").queryName("sessions_append").outputMode("append").start()
    try {
      val sorted = events.sortBy(_.ts.getTime)
      val (a, b) = sorted.splitAt(sorted.size / 2)
      val maxTs = sorted.last.ts.getTime
      // sessions close when watermark >= last_event + 1d gap; push it
      // 1d+3h past the last event (sentinel's own session stays open and
      // unemitted — distinct user -999 keeps it off real users' sessions).
      val sentinel = Event(-1L,
        new java.sql.Timestamp(maxTs + (24L + 3L) * 3600 * 1000), -999L, "sentinel", 0.0)
      // halves in watermark order (each batch internally unsorted): in
      // append mode anything older than the advancing watermark is
      // DROPPED by contract, so unbounded out-of-order delivery belongs
      // to the complete-mode test above, not here.
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      stream.addData(sentinel); q.processAllAvailable()
      val streamed = spark.table("sessions_append")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = Streaming.userSessions(Tables.events(spark, Sf0001))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup keeps exactly the first occurrence of each content hash") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.Doc
    val stream = MemoryStream[Doc]
    val q = Streaming.dedupStream(stream.toDS())
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      // duplicates within a batch AND across batches
      stream.addData(Doc(3, "a"), Doc(1, "a"), Doc(2, "b"))
      q.processAllAvailable()
      stream.addData(Doc(4, "a"), Doc(5, "c"), Doc(6, "b"))
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // hash "a": min doc_id of its FIRST batch (1); later copies dropped
      assert(got == Set((1L, "a"), (2L, "b"), (5L, "c")))
    } finally q.stop()
  }

  test("segment-dedup ingest gate flags exactly the segments already standing") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.Doc
    val seg = (1 to 8).map(i => s"s$i").mkString(" ")
    val other = (1 to 8).map(i => s"o$i").mkString(" ")
    val fresh = (1 to 8).map(i => s"f$i").mkString(" ")
    val standing = Seq((100L, s"$seg tail"), (101L, other)).toDF("doc_id", "text")
    val idx = graft.ops.Dedup.segmentIndex(standing, 8)
    val stream = MemoryStream[Doc]
    val q = Streaming.segmentDedupStream(stream.toDF().toDF("doc_id", "text"), idx)
      .writeStream.format("memory").queryName("seg_gate").outputMode("append").start()
    try {
      // doc 1: [seg][fresh] → k=0 alert only; doc 2: [fresh] → silent;
      // doc 3: [other][seg] → k=0 and k=1 alerts
      stream.addData(Doc(1, s"$seg $fresh"), Doc(2, fresh))
      q.processAllAvailable()
      stream.addData(Doc(3, s"$other $seg"))
      q.processAllAvailable()
      val got = spark.table("seg_gate")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == Set((1L, 0), (3L, 0), (3L, 1)))
      // batch == stream on the same frames (stateless gate)
      val batch = Streaming.segmentDedupStream(
        Seq((1L, s"$seg $fresh"), (2L, fresh), (3L, s"$other $seg"))
          .toDF("doc_id", "text"), idx)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("dedup within watermark drops horizon-local duplicates, then evicts and re-admits") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def at(min: Long) = new java.sql.Timestamp(min * 60000L)
    val stream = MemoryStream[Event]
    val q = Streaming.dedupWithinWatermark(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("wm_dedup").outputMode("append").start()
    try {
      // batch 1: in-batch duplicate of (u=1, view) dropped
      stream.addData(
        Event(1, at(600), 1, "view", 1.0), Event(2, at(605), 1, "view", 1.0),
        Event(3, at(600), 2, "click", 1.0))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate still inside the horizon dropped;
      // the t=660 event advances the watermark to 650 > key-1 expiry 610
      stream.addData(Event(4, at(607), 1, "view", 1.0), Event(5, at(660), 9, "tick", 1.0))
      q.processAllAvailable()
      // batch 3: state for (1, view) evicted -> the key is re-admitted
      stream.addData(Event(6, at(665), 1, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("wm_dedup").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L, 5L, 6L))
    } finally q.stop()
  }

  test("sliding windows: incremental micro-batches == batch (each event in two windows)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.slidingCounts(stream.toDF())
      .writeStream.format("memory").queryName("sliding").outputMode("complete").start()
    try {
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.table("sliding")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Streaming.slidingCounts(Tables.events(spark, Sf0001))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join: funnel pairs over micro-batches == batch join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.followWithin(stream.toDF(), "click", "purchase")
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      // split across the middle so some pairs straddle micro-batches
      // (click arrives a batch before its purchase)
      val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
      val third = sorted.size / 3
      sorted.grouped(third + 1).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("funnel")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = Streaming.followWithin(Tables.events(spark, Sf0001), "click", "purchase")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty, "fixture must contain at least one click→purchase pair")
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched clicks as NULLs only after the watermark proves no match") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // timestamps must sit well past the epoch: the 2h watermark delay
    // clamps a near-epoch watermark to 0 and nothing ever finalizes
    def ev(id: Long, user: Long, typ: String, minutes: Long) =
      Event(id, new java.sql.Timestamp(1700000000000L + minutes * 60000L), user, typ, 1.0)
    val stream = MemoryStream[Event]
    val q = Streaming.followWithinOuter(stream.toDF(), "click", "purchase")
      .writeStream.format("memory").queryName("outer_funnel").outputMode("append").start()
    try {
      // u1 converts within the hour; u2 clicks and never purchases
      stream.addData(ev(1, 1, "click", 0), ev(2, 1, "purchase", 30), ev(3, 2, "click", 5))
      q.processAllAvailable()
      val early = spark.table("outer_funnel").collect()
      assert(early.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 1L)),
        "the matched pair emits immediately; the unmatched click must wait for its horizon")
      assert(!early.exists(_.isNullAt(2)),
        "no null-joined row may emit before the watermark closes its horizon")
      // push BOTH sides' watermarks past u2's click + 1h gap + 2h delay:
      // the sides watermark independently (even off one source) and the
      // query watermark is their MIN, so a click alone advances nothing
      stream.addData(ev(9, 9, "click", 600), ev(10, 10, "purchase", 601))
      q.processAllAvailable()
      val late = spark.table("outer_funnel")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSet
      assert(late.contains((1L, 1L, false)), s"u1's pair stays matched, got ${late.mkString(",")}")
      assert(late.contains((2L, 3L, true)), s"u2's click must emit null-joined, got ${late.mkString(",")}")
    } finally q.stop()
  }

  test("stream-static join enriches every event from the broadcast dim, stateless") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq(("click", 2.0), ("purchase", 10.0), ("view", 1.0),
      ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
    val stream = MemoryStream[Event]
    val q = Streaming.enrichTypes(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.table("enriched")
        .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
      val batch = Streaming.enrichTypes(Tables.events(spark, Sf0001), dim)
        .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
      assert(streamed == batch)
      assert(streamed.size == events.size, "every event must match a dim row")
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: replaying a batch rewrites, never duplicates") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val stream = MemoryStream[Event]
    val q = Streaming.sinkIdempotent(stream.toDS(), s"$dir/data", s"$dir/ckpt")
    try {
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val once = spark.read.parquet(s"$dir/data").count()
      assert(once == events.size, "every event lands exactly once across batches")
      // simulate a failure-replay of the LAST batch: rewrite its
      // partition out-of-band the same way foreachBatch would
      val lastId = spark.read.parquet(s"$dir/data")
        .select(org.apache.spark.sql.functions.max($"batch_id")).head.getInt(0)
      b.toDS().write.mode("overwrite").parquet(s"$dir/data/batch_id=$lastId")
      val replayed = spark.read.parquet(s"$dir/data").count()
      assert(replayed == events.size, "replaying a batch must not duplicate rows")
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user counts across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.runningUserCounts(stream.toDS())
      .writeStream.format("memory").queryName("running").outputMode("update").start()
    try {
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      // update mode appends each batch's updated rows; the final value
      // per user is the max (counts only grow)
      val finalCounts = spark.table("running")
        .groupBy("user_id").max("n_events")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = events.groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
      assert(finalCounts == expected)
    } finally q.stop()
  }

  /** Sum of buffered state rows across the query's stateful operators
    * after the last completed micro-batch (post-eviction: Spark runs a
    * no-data batch when the watermark advances, so `lastProgress`
    * reflects the cleaned store). */
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)

  test("dedup state is EVICTED, not just correct: numRowsTotal plateaus across waves") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // Semantics specs above prove dropped/evicted/re-admitted RESULTS;
    // this one proves the state STORE shrinks — the difference between
    // bounded memory and an unbounded key set that merely answers
    // correctly until it OOMs (VERDICT r7 item 5).
    val base = 1700000000000L
    def at(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val waves = 12
    val waveKeys = 20
    val stream = MemoryStream[Event]
    val q = Streaming.dedupWithinWatermark(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("wm_dedup_state").outputMode("append").start()
    try {
      val sizes = (0 until waves).map { i =>
        // wave i: `waveKeys` fresh (user_id, event_type) keys at t = i*30min
        // — 30min spacing pushes the watermark 20min past the previous
        // wave's 10-minute expiry, so its keys are eligible for eviction
        stream.addData((0 until waveKeys).map(k =>
          Event(i * 1000L + k, at(i * 30L), i * 1000L + k, "view", 1.0)))
        q.processAllAvailable()
        stateRows(q)
      }
      val fed = waves.toLong * waveKeys
      assert(spark.table("wm_dedup_state").count() == fed,
        "all keys are distinct — nothing may be dropped as a duplicate")
      // an eviction-less store would end at `fed` rows and grow by
      // `waveKeys` every wave; a plateaued store holds at most the keys
      // still inside the horizon (one wave) plus the wave in flight
      assert(sizes.max <= 3L * waveKeys,
        s"state must plateau near one wave's keys, got ${sizes.mkString(",")} (fed $fed)")
      assert(sizes.last < fed / 2,
        s"final state ${sizes.last} must be far below total keys fed $fed")
    } finally q.stop()
  }

  test("interval-join buffers are EVICTED: numRowsTotal plateaus as waves march forward") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = 1700000000000L
    def at(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val waves = 10
    val pairsPerWave = 15
    val stream = MemoryStream[Event]
    val q = Streaming.followWithin(stream.toDF(), "click", "purchase")
      .writeStream.format("memory").queryName("funnel_state").outputMode("append").start()
    try {
      val sizes = (0 until waves).map { i =>
        // wave i at t = i*4h: clicks + their purchases 10min later.
        // 4h spacing > join horizon (1h gap + 2h watermark delay), so
        // wave i-1's buffered rows are evictable once wave i lands.
        val t0 = i * 240L
        val clicks = (0 until pairsPerWave).map(k =>
          Event(i * 1000L + k, at(t0), i * 1000L + k, "click", 1.0))
        val buys = (0 until pairsPerWave).map(k =>
          Event(i * 1000L + 500 + k, at(t0 + 10), i * 1000L + k, "purchase", 1.0))
        stream.addData(clicks ++ buys)
        q.processAllAvailable()
        stateRows(q)
      }
      val expectedPairs = waves.toLong * pairsPerWave
      assert(spark.table("funnel_state").count() == expectedPairs,
        "every click must pair with its same-wave purchase")
      // both join buffers hold at most ~2 waves of rows (current + the
      // one whose horizon the new watermark just closed); unbounded
      // buffering would reach 2 * waves * pairsPerWave
      assert(sizes.max <= 6L * pairsPerWave,
        s"join state must plateau, got ${sizes.mkString(",")}")
      assert(sizes.last < waves.toLong * pairsPerWave,
        s"final state ${sizes.last} must be far below total rows fed ${2 * expectedPairs}")
    } finally q.stop()
  }

  test("restart recovery: a new query on the same checkpoint restores state, never re-emits") {
    import spark.implicits._
    // The remaining streaming contract past single-run replay: stop a
    // stateful query mid-stream, start a FRESH query object on the same
    // checkpoint dir (what a process restart does), and prove (a) the
    // file source resumes after the already-committed files, (b)
    // mapGroupsWithState counts continue from restored state instead of
    // resetting, (c) phase-1 sink output is untouched — no duplicates.
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val (srcDir, sinkDir, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    def start() = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .parquet(srcDir).as[Event]
      .transform(Streaming.runningUserCounts)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streaming.UserRunningCount], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$id")
      }
      .start()
    val (a, b) = events.splitAt(events.size / 2)
    a.toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    val phase1 = spark.read.parquet(sinkDir)
      .collect().map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"))).toSet
    assert(phase1.nonEmpty)
    // "process restart": new data arrives while down, then a fresh query
    b.toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val all = spark.read.parquet(sinkDir)
      .collect().map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"))).toSet
    // (c) phase-1 batches are byte-for-byte still there, nothing re-emitted into them
    assert(all.filter(t => phase1.exists(_._1 == t._1)) == phase1,
      "restart must not rewrite or duplicate committed batches")
    assert((all -- phase1).nonEmpty && (all -- phase1).forall(t => phase1.forall(_._1 < t._1)),
      "post-restart output lands only in strictly newer batch ids")
    // (b) + convergence: last emission per user equals the batch answer
    // over ALL events — only possible if phase-2 counting resumed from
    // phase-1 state (a reset would leave second-half-only counts)
    val finalCounts = all.groupBy(_._2).map { case (u, rows) => u -> rows.maxBy(_._1)._3 }
    val expected = events.groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
    assert(finalCounts == expected)
    assert(events.map(_.user_id).toSet.exists(u =>
      a.exists(_.user_id == u) && b.exists(_.user_id == u)),
      "fixture must actually split some user's events across the restart")
  }

  test("hourly HLL distinct users: micro-batched sketch == batch sketch == exact (small hours)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.hourlyDistinctUsers(stream.toDF())
      .writeStream.format("memory").queryName("hll_hours").outputMode("complete").start()
    try {
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hll_hours")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Streaming.hourlyDistinctUsers(
      Tables.events(spark, Sf0001)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // register-max merge makes the sketch a pure function of the input
    // set: incremental arrival must not move a single estimate
    assert(streamed == batch)
    // at per-hour cardinalities linear counting is numerically exact
    val exact = Tables.events(spark, Sf0001)
      .filter($"user_id".isNotNull)
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"))
      .agg(org.apache.spark.sql.functions.countDistinct($"user_id").as("d"))
      .select(org.apache.spark.sql.functions.unix_micros($"window.start"), $"d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.keySet == exact.keySet)
    exact.foreach { case (h, d) =>
      assert(math.abs(batch(h) - d) <= math.max(1L, (0.05 * d).toLong),
        s"hour $h exact=$d est=${batch(h)}")
    }
  }

  test("windowed Misra-Gries: streamed candidate sets keep every true heavy hitter") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streaming.hourlyUserSketch(stream.toDF(), width = 8)
      .writeStream.format("memory").queryName("mg_hours").outputMode("complete").start()
    try {
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
    } finally q.stop()
    val streamedCands = spark.table("mg_hours")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // ground truth: per-hour users with n * 9 > N_hour
    val truth = Streaming.hourlyTopUsers(Tables.events(spark, Sf0001), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2.toString).toSet).toMap
    assert(truth.nonEmpty, "fixture has no heavy hitters — threshold too high")
    // the MG set contract, under incremental micro-batch arrival: every
    // true above-threshold user survives in that hour's candidate set
    truth.foreach { case (h, users) =>
      assert(users.subsetOf(streamedCands.getOrElse(h, Set.empty)),
        s"hour $h lost true heavy hitters: ${users -- streamedCands(h)}")
      // bounded state: candidates never exceed the sketch width
      assert(streamedCands(h).size <= 8)
    }
    // two-pass determinism: rerun returns the identical exact rows
    val r1 = Streaming.hourlyTopUsers(Tables.events(spark, Sf0001), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val r2 = Streaming.hourlyTopUsers(Tables.events(spark, Sf0001), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(r1.sorted.toSeq == r2.sorted.toSeq)
    intercept[IllegalArgumentException](
      Streaming.hourlyTopUsers(Tables.events(spark, Sf0001), 0))
  }

  test("streaming chat-shape state converges to the batch q194 battery") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.ChatTurn
    val turns = Seq(
      ChatTurn(1L, 1L, "user", "hi"), ChatTurn(1L, 2L, "assistant", "hello"),
      ChatTurn(1L, 3L, "user", "thanks"), ChatTurn(1L, 4L, "assistant", "yw"),
      ChatTurn(2L, 1L, "user", "a"), ChatTurn(2L, 2L, "user", "b"),
      ChatTurn(2L, 3L, "assistant", ""), ChatTurn(2L, 4L, "user", "c"),
      ChatTurn(3L, 1L, "assistant", "unprompted"), ChatTurn(3L, 2L, "user", "ok"))
    val stream = MemoryStream[ChatTurn]
    val q = Streaming.chatShapeStream(stream.toDS())
      .writeStream.format("memory").queryName("chat_shape").outputMode("update").start()
    try {
      // three micro-batches, per-conversation rn order preserved across them
      stream.addData(turns.take(3)); q.processAllAvailable()
      stream.addData(turns.slice(3, 7)); q.processAllAvailable()
      stream.addData(turns.drop(7)); q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits per batch; state is monotonic in n_turns, so
    // the max-n_turns row per conversation is the converged state (no
    // reliance on memory-sink row order)
    val streamed = spark.table("chat_shape").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getLong(6), r.getLong(7), r.getBoolean(8))))
      .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2).toMap
    import org.apache.spark.sql.functions.col
    val batch = graft.Graft.chatStats(turns.toDF(), col("conv_id"), Seq(col("rn")),
      col("role"), col("content"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getLong(6), r.getLong(7), r.getBoolean(8))))
      .toMap
    assert(streamed == batch)
    assert(batch(1L)._8 && !batch(2L)._8 && !batch(3L)._8)
  }

  test("streaming near-dup gate: micro-batched alerts == batch, exactly once per pair") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm mat near the door"
    val other = "completely different words populate this sentence about " +
      "spark engines and distributed shuffles at scale here"
    val standing = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val in1 = (101L, base) // exact dup of doc 1: ALL 4 bands collide
    val in2 = (102L, base + " extra trailing tokens appended")
    val in3 = (103L, "unrelated gibberish nothing shared with corpus text " +
      "at all right now in any shingle")
    val stream = MemoryStream[(Long, String)]
    val q = Streaming.nearDupStream(stream.toDF().toDF("doc_id", "text"), standing)
      .writeStream.format("memory").queryName("nd_alerts").outputMode("append").start()
    try {
      stream.addData(in1); q.processAllAvailable()
      stream.addData(in2, in3); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("nd_alerts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the exact duplicate shares all four band keys with doc 1 but must
    // alert exactly ONCE (first-matching-band filter), at jaccard 1.0
    assert(got.count(t => t._1 == 101L && t._2 == 1L) == 1)
    assert(got.filter(t => t._1 == 101L).forall(_._3 == 1.0))
    assert(!got.exists(_._1 == 103L))
    // micro-batched arrival produces exactly the batch plan's alert set
    val batch = Streaming.nearDupStream(
      Seq(in1, in2, in3).toDF("doc_id", "text"), standing)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == batch.toSet && got.length == batch.length)
  }

  test("streaming near-dup gate over a prebuilt band index emits identical alerts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm mat near the door"
    val other = "completely different words populate this sentence about " +
      "spark engines and distributed shuffles at scale here"
    val standing = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    // the 100 TB shape: the index is PERSISTED once (the manifest
    // format, standing in for the bucketed stored tables) and the gate
    // runs over the stored scans — standing text never re-banded
    val idxDir = java.nio.file.Files.createTempDirectory("nd_idx").toString
    Graft.writeBandIndex(standing, idxDir)
    val storedIdx = Graft.readBandIndex(spark, idxDir)
    assert(storedIdx._1.columns.toSeq == Seq("doc_id", "b", "bkey"))
    assert(storedIdx._2.columns.toSeq == Seq("doc_id", "hs", "bkeys"))
    val ins = Seq((101L, base), (102L, base + " extra trailing tokens appended"),
      (103L, "unrelated gibberish nothing shared with corpus text at all " +
        "right now in any shingle"))
    val stream = MemoryStream[(Long, String)]
    val q = Streaming.nearDupServeStored(
      stream.toDF().toDF("doc_id", "text"), storedIdx)
      .writeStream.format("memory").queryName("nd_idx_alerts")
      .outputMode("append").start()
    try {
      stream.addData(ins.head); q.processAllAvailable()
      stream.addData(ins(1), ins(2)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("nd_idx_alerts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // identical alert set to the text-rebanding convenience path,
    // still exactly once per pair
    val direct = Streaming.nearDupStream(ins.toDF("doc_id", "text"), standing)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == direct.toSet && got.length == direct.length)
    assert(got.count(t => t._1 == 101L && t._2 == 1L) == 1)
  }

  test("refreshBandIndex: incremental refresh == full rebuild, and the gate alerts identically") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm mat near the door"
    val other = "completely different words populate this sentence about " +
      "spark engines and distributed shuffles at scale here"
    val third = "a third standing document with its own vocabulary about " +
      "gardens rain flowers and the seasons turning slowly each year"
    // generation 1 → generation 2: doc 2 removed, doc 3's text changed,
    // doc 4 added, doc 1 untouched
    val gen1 = Seq((1L, base), (2L, other), (3L, third)).toDF("doc_id", "text")
    val gen2 = Seq((1L, base), (3L, third + " with freshly appended clauses"),
      (4L, "a brand new fourth document mentioning telescopes comets and " +
        "the mathematics of orbital mechanics tonight")).toDF("doc_id", "text")
    val delta = Graft.snapshotDelta(
      gen1.withColumn("fp", org.apache.spark.sql.functions.md5(col("text"))),
      gen2.withColumn("fp", org.apache.spark.sql.functions.md5(col("text"))),
      "doc_id", "fp").select(col("doc_id"), col("status"), col("text"))
    assert(delta.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "unchanged", 2L -> "removed", 3L -> "changed", 4L -> "added"))
    // refresh the STORED gen-1 index by the delta — then it must be
    // row-for-row the index a full gen-2 rebuild derives
    val refreshed = Streaming.refreshBandIndex(
      Streaming.standingBandIndex(gen1), delta)
    val rebuilt = Streaming.standingBandIndex(gen2)
    def bandRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def docRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[String](2))).toSet
    assert(bandRows(refreshed._1) == bandRows(rebuilt._1) &&
      docRows(refreshed._2) == docRows(rebuilt._2),
      "incrementally refreshed index differs from the full rebuild")
    // and the streaming gate over the refreshed index alerts exactly as
    // over the rebuilt one (an exact dup of the CHANGED doc's new text
    // must hit doc 3's refreshed rows, not its stale ones)
    val ins = Seq((101L, base), (102L, third + " with freshly appended clauses"))
    val viaRefreshed = Streaming.nearDupServeStored(
      ins.toDF("doc_id", "text"), refreshed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaRebuilt = Streaming.nearDupServeStored(
      ins.toDF("doc_id", "text"), rebuilt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaRefreshed == viaRebuilt)
    assert(viaRefreshed.contains((102L, 3L, 1.0)),
      "gate missed the exact dup of the changed doc's NEW text")
    assert(!viaRefreshed.exists(_._2 == 2L), "gate matched a removed doc")
  }

  test("streaming decontamination gate: alert rollup == the batch report, convenience == indexed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, Sf0001)
    val evalSet = docs.filter(col("doc_id") % 20 === 0)
    val incoming = docs.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the 100 TB shape: the index pair persisted once, gate reads
    // stored scans — the eval suite is never re-shingled per batch
    val idxDir = java.nio.file.Files.createTempDirectory("bloom_idx").toString
    Graft.writeBloomIndex(evalSet, idxDir)
    val stream = MemoryStream[(Long, String)]
    val q = Streaming.decontamStreamIndexed(
      stream.toDF().toDF("doc_id", "text"), Graft.readBloomIndex(spark, idxDir))
      .writeStream.format("memory").queryName("decontam_alerts")
      .outputMode("append").start()
    try {
      val (half1, half2) = incoming.splitAt(incoming.length / 2)
      stream.addData(half1: _*); q.processAllAvailable()
      stream.addData(half2: _*); q.processAllAvailable()
    } finally q.stop()
    val alerts = spark.table("decontam_alerts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly one alert per verified contaminated shingle: the per-doc
    // rollup must equal q101's exact n_hit, with n_shingles agreeing
    val rolled = alerts.groupBy(_._1)
      .map { case (id, rows) => (id, rows.head._2, rows.length.toLong) }
    val batch = SparkEntry.queries("q101_decontaminate")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 > 0).toSet
    assert(rolled.toSet == batch,
      "streamed alert rollup diverged from the batch contamination report")
    // convenience form (builds the pair from the eval set) agrees
    val direct = Streaming.decontamStream(
      incoming.toDF("doc_id", "text"), evalSet)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(direct.sorted.toSeq == alerts.sorted.toSeq)
  }

  test("IVF-PQ ingest: stream encode == batch encode; alert gate flags twins at ADC zero") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.Vec
    import org.apache.spark.sql.functions.col
    // 32 standing vectors: ids b and b+16 are IDENTICAL (integer values,
    // exactly on the fixed-point grid; 16 vectors per label → the coarse
    // mean's /16 is a power of two, so residuals are exact and every
    // bucket mean IS its two members' shared residual). Every vector
    // therefore encodes with zero quantization error, and an incoming
    // COPY scores ADC exactly 0.0 against both standing twins.
    def v(id: Int): Seq[Double] = {
      val label = id % 2
      val m = id % 16
      Seq.tabulate(64) { d =>
        (if (d == label) 10.0 * (label + 1) else 0.0) +
          (if (d == 10 + m / 2) (m + 1).toDouble else 0.0)
      }
    }
    val standing = (0 until 32).map(id => (id.toLong, v(id), id % 2)).toDF("vec_id", "v", "label")
    val cents = Graft.coarseLists(standing)
    val cbRow = Graft.frozenPqCodebook(
      graft.ops.Quantize.ivfResiduals(standing.select(col("vec_id"), col("v")), cents)
        .select(col("vec_id"), col("v")))
    val standingCodes = Graft.ivfPqEncodeStream(   // batch call of the same fn
      standing.select(col("vec_id"), col("v")), cents, cbRow)

    // --- encode parity: the SAME function through a MemoryStream
    val encIn = MemoryStream[Vec]
    val encQ = Graft.ivfPqEncodeStream(encIn.toDF().toDF("vec_id", "v"), cents, cbRow)
      .writeStream.format("memory").queryName("ivfpq_enc").outputMode("append").start()
    try {
      encIn.addData(Vec(0, v(0)), Vec(7, v(7)), Vec(21, v(21)))
      encQ.processAllAvailable()
      val got = spark.table("ivfpq_enc")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSet
      val batch = standingCodes.filter(col("vec_id").isin(0L, 7L, 21L))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSet
      assert(got == batch, "stream encode diverged from the batch encode")
    } finally encQ.stop()

    // --- alert gate: a copy of vec 4 alerts against BOTH twins at 0.0;
    // a far fresh vector is silent
    val alertIn = MemoryStream[Vec]
    val alertQ = Graft.ivfPqStreamAlerts(
      alertIn.toDF().toDF("vec_id", "v"), cents, cbRow, standingCodes, maxAdc = 1e-9)
      .writeStream.format("memory").queryName("ivfpq_alerts").outputMode("append").start()
    try {
      val far = Seq.tabulate(64)(d => if (d == 30) 50.0 else 0.0)
      alertIn.addData(Vec(100, v(4)), Vec(101, far))
      alertQ.processAllAvailable()
      val alerts = spark.table("ivfpq_alerts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(alerts == Set((100L, 4L, 0.0), (100L, 20L, 0.0)),
        s"expected exactly the two zero-ADC twins, got $alerts")
    } finally alertQ.stop()
  }
}
