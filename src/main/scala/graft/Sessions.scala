package graft

import org.apache.spark.sql.SparkSession

/** Single place that builds the engine's SparkSession with the configs
  * every entry point (Smoke/Verify/Bench/tests) needs, so no loader ever
  * mutates session state as a side effect.
  *
  * Conf notes:
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the testdata `events.parquet`
  *    stores `ts` as TIMESTAMP(NANOS), which Spark 4 rejects by default;
  *    reading nanos as long (affects only NANOS fields) lets
  *    [[Tables.events]] rebuild a micros timestamp losslessly. Set here —
  *    once, before any read — instead of inside the loader (a per-call
  *    `spark.conf.set` is order-dependent and racy under concurrent query
  *    construction).
  *  - shuffle partitions default to the thread count: at local[N] scale a
  *    200-partition shuffle is pure scheduling overhead; on a real cluster
  *    the same queries rely on AQE coalescing instead of this number.
  */
object Sessions {
  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate applies builder confs to a PRE-EXISTING session only as
    // runtime confs — a session built first elsewhere (e.g. by a test)
    // would silently miss the parquet-nanos conf and break Tables.events
    // at first read. Fail fast instead.
    require(
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true",
      "existing SparkSession lacks spark.sql.legacy.parquet.nanosAsLong=true; " +
        "build sessions via Sessions.local first")
    // The nanos conf IS applied to a pre-existing session as a runtime conf,
    // so the check above can pass while .withExtensions was silently ignored
    // (extensions only apply at session construction). Verify the extension
    // actually took effect, or graft_* functions fail much later at resolve.
    require(
      spark.catalog.functionExists("graft_md5long64"),
      "existing SparkSession was built without GraftExtensions (graft_md5long64 " +
        "unresolved); build sessions via Sessions.local first")
    spark.sparkContext.setLogLevel("WARN")
    // graft.ops.Barrier releases superseded localCheckpoint frames by
    // design (its block-lifetime contract: they are provably never
    // re-read); every release logs a per-RDD "cannot be recomputed
    // after unpersisting" WARN from
    // the concrete RDD class's logger — hundreds of lines per bench run
    // that would drown the driver-parsed stdout tail. Silence the rdd
    // package's warnings; a release that actually breaks the guarantee
    // fails loudly as an exception, not a log line.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
