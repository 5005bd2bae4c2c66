package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Sequence packing: assemble documents into token-budget bins — the
  * batch-assembly step a training run performs after dedup/filtering
  * (every LLM data pipeline packs variable-length docs into fixed token
  * budgets; the reference's analog is its max_length truncation
  * bookkeeping, model.py:103-117).
  *
  * Scale design: a GLOBAL greedy pack is a sequential fold — one
  * partition, no parallelism, the classic window-without-partition trap.
  * Instead the corpus is sharded by a hash of doc_id (32 ways here; the
  * shard count is the parallelism knob) and packed greedily WITHIN each
  * shard by a partitioned window: shards pack concurrently on different
  * executors, each bin overflows its budget by at most one document
  * (standard streaming-pack bound), and membership is a pure function of
  * doc_id — reproducible across engines, reruns, and cluster layouts,
  * which is what makes the bin assignment oracle-checkable at all.
  */
object Packing {

  /** Tokens per bin. Real pipelines use the model context length. */
  private val BinBudget = 8192L

  /** Greedy sharded pack of (shard, doc_id, tokens) rows → one row per
    * (shard, bin) with doc/token totals. Factored so the spec can drive
    * a small budget (bin splitting needs more tokens per shard than the
    * sf0.001 fixture holds at the production budget). */
  private[graft] def pack(sharded: org.apache.spark.sql.DataFrame, budget: Long): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // `div` (exact integral division) has no DSL form — expr() for the
    // quotient, window built with the DSL above.
    sharded
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("bin", expr(s"(cum - tokens) div $budget"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("sum_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  /** documents → (shard, doc_id, tokens) with the md5 shard tag. */
  private[graft] def shardedTokens(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir).select(
      (call_function("graft_md5long64",
        concat(lit("pack:"), col("doc_id").cast("string"))) % 32).as("shard"),
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
        .cast("long").as("tokens"))

  val q74TokenPacking: Q = Q.sql(
    "q74_token_packing",
    s"""SELECT shard, bin,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(tokens) AS BIGINT) AS sum_tokens
       |FROM (
       |  SELECT shard, tokens,
       |    (CAST(SUM(tokens) OVER w AS BIGINT) - tokens) // $BinBudget AS bin
       |  FROM (
       |    SELECT
       |      CAST(concat('0x', substr(md5(concat('pack:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 32 AS shard,
       |      doc_id,
       |      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS tokens
       |    FROM documents)
       |  WINDOW w AS (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING))
       |GROUP BY shard, bin
       |ORDER BY shard, bin""".stripMargin
  ) { (s, dir) => pack(shardedTokens(s, dir), BinBudget) }

  /** Generic mixture report over any (source, text) frame. */
  private[graft] def mixtureReportOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val perSrc = docs
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
          .cast("long").as("tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("t"), count(lit(1)).as("n_src"))
    perSrc
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("t")).as("token_share"),
        ((col("t").cast("double") / col("n_src")) / col("n_tokens")).as("uniform_resample_factor"))
  }

  /** Corpus mixture report — the bookkeeping behind data-mixture
    * weighting: per source, document and token counts, each source's
    * share of total tokens, and the resampling factor that would hit a
    * uniform target mix. All shares are divisions of exact int64 totals
    * (bit-identical both engines); the global totals enter as a
    * broadcast one-row join so the query stays one lazy plan. At scale
    * this is two map-side-combined aggregations over the scan — shuffle
    * ∝ number of sources. */
  val q84MixtureReport: Q = Q.sql(
    "q84_mixture_report",
    """WITH per_doc AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS tokens
      |  FROM documents),
      |per_src AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens
      |  FROM per_doc GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t, COUNT(*) AS n_src FROM per_src)
      |SELECT source, n_docs, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / tot.t AS token_share,
      |  (CAST(tot.t AS DOUBLE) / tot.n_src) / n_tokens AS uniform_resample_factor
      |FROM per_src, tot
      |ORDER BY source""".stripMargin
  ) { (s, dir) => mixtureReportOf(Tables.documents(s, dir)).orderBy(col("source")) }

  val all: Seq[Q] = Seq(q74TokenPacking, q84MixtureReport)
}
