package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Instruction-tuning conversation prep — the SFT data-QA battery a
  * chat-model training pipeline runs before rendering examples: per-
  * conversation shape validation (role alternation, boundary roles,
  * empty turns) and chat-template rendering with the loss-mask
  * character spans that tell the trainer which rendered characters are
  * assistant tokens. The reference's prompt/target formatting
  * (model.py:61-76 builds "prompt → target" training strings) is the
  * two-role special case; these operators generalize it to multi-turn
  * chats at corpus scale.
  *
  * Scale design: both operators are the one-shuffle-per-conversation
  * shape — ONE hash shuffle on conv_id, then windows ordered inside
  * each conversation (conversation-bounded partitions: turns per chat
  * are O(100), never corpus-grain), then either a per-conversation
  * aggregate (validation) or a row-local span emit (rendering). No
  * self-joins, no global windows; a 10¹⁰-conversation corpus runs this
  * as one repartition + streaming window pass. All derived quantities
  * are int64 counts / string lengths — bit-identical cross-engine.
  *
  * The registry queries derive a deterministic conversation frame from
  * the events table (conv_id = user_id, turns ordered by (ts,
  * event_id), role from the event_type — interaction events are the
  * "user" side, system events the "assistant" side), so the oracle
  * replays the identical derivation in SQL.
  */
object Chat {

  /** Event types mapped to the "user" role in the registry queries'
    * events-derived conversation frame (the rest are "assistant"). */
  private val UserTypes = Seq("click", "view", "signup")

  /** Shared oracle CTE: the same events → turns derivation in DuckDB. */
  private val oracleTurns: String =
    s"""turns AS (
       |  SELECT user_id AS conv_id,
       |    CASE WHEN event_type IN (${UserTypes.map("'" + _ + "'").mkString(", ")})
       |      THEN 'user' ELSE 'assistant' END AS role,
       |    event_type AS content,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |    LAG(CASE WHEN event_type IN (${UserTypes.map("'" + _ + "'").mkString(", ")})
       |      THEN 'user' ELSE 'assistant' END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_role
       |  FROM events)"""

  /** Per-conversation shape validation over a (conv_id, role, content)
    * turn frame with a per-conversation total `order`: turn counts per
    * role, boundary roles, alternation breaks (adjacent same-role
    * turns), empty/null-content turns, and the aggregate `valid` flag
    * (opens with `user`, closes with `assistant`, strictly alternating,
    * no empty content) — the canonical SFT chat-shape contract.
    *
    * One shuffle on conv_id; the boundary roles ride min_by/max_by on
    * the integer turn index (no second window pass), the break count is
    * a lag comparison inside the same conversation window. */
  private[graft] def chatStatsOf(turns: DataFrame, convId: Column,
                                 order: Seq[Column], role: Column,
                                 content: Column): DataFrame = {
    val byConv = Window.partitionBy(col("__graft_conv")).orderBy(order: _*)
    turns
      .select(Seq(convId.as("__graft_conv"), role.as("__graft_role"),
        content.as("__graft_content")) ++ order: _*)
      .select(col("__graft_conv"), col("__graft_role"), col("__graft_content"),
        row_number().over(byConv).as("__graft_rn"),
        lag(col("__graft_role"), 1).over(byConv).as("__graft_prev"))
      .groupBy(col("__graft_conv").as("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("__graft_role") === "user", 1L).otherwise(0L)).as("n_user"),
        sum(when(col("__graft_role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
        min_by(col("__graft_role"), col("__graft_rn")).as("first_role"),
        max_by(col("__graft_role"), col("__graft_rn")).as("last_role"),
        sum(when(col("__graft_prev") === col("__graft_role"), 1L).otherwise(0L))
          .as("n_breaks"),
        sum(when(col("__graft_content").isNull || col("__graft_content") === "", 1L)
          .otherwise(0L)).as("n_empty"))
      .withColumn("valid",
        col("first_role") === "user" && col("last_role") === "assistant" &&
          col("n_breaks") === 0L && col("n_empty") === 0L)
  }

  /** q194: the chat-shape validation battery over the events-derived
    * conversation frame — one row per conversation with the turn
    * counts, boundary roles, alternation-break/empty counts, and the
    * `valid` gate an SFT ingest would filter on. */
  val q194ChatTurns: Q = Q.sql(
    "q194_chat_turns",
    s"""WITH $oracleTurns
       |SELECT conv_id, COUNT(*) AS n_turns,
       |  CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       |  CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_assistant,
       |  ARG_MIN(role, rn) AS first_role,
       |  ARG_MAX(role, rn) AS last_role,
       |  CAST(SUM(CASE WHEN prev_role = role THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks,
       |  CAST(SUM(CASE WHEN content IS NULL OR content = '' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_empty,
       |  (ARG_MIN(role, rn) = 'user' AND ARG_MAX(role, rn) = 'assistant'
       |    AND SUM(CASE WHEN prev_role = role THEN 1 ELSE 0 END) = 0
       |    AND SUM(CASE WHEN content IS NULL OR content = '' THEN 1 ELSE 0 END) = 0)
       |    AS valid
       |FROM turns GROUP BY conv_id
       |ORDER BY conv_id""".stripMargin
  ) { (s, dir) =>
    chatStatsOf(Tables.events(s, dir)
      .select(col("user_id").as("conv_id"),
        when(col("event_type").isin(UserTypes.map(lit): _*), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        col("event_type").as("content"), col("ts"), col("event_id")),
      col("conv_id"), Seq(col("ts"), col("event_id")), col("role"), col("content"))
      .orderBy(col("conv_id"))
  }

  /** Chat-template rendering offsets with loss-mask spans: each turn
    * renders as `<|role|>content` and the operator emits, per turn, the
    * half-open character span [span_start, span_end) it occupies in the
    * concatenated conversation string plus the `loss` flag (assistant
    * turns are the ones a trainer computes loss on). The rendered
    * string itself is never materialized at conversation grain — the
    * spans are exactly what a tokenizer-side masker needs, and keeping
    * the output at TURN grain keeps rows bounded and unique-keyed.
    *
    * One shuffle on conv_id; span_start is an exclusive prefix sum of
    * rendered lengths inside the conversation window (conversation-
    * bounded — never the global-prefix problem, so a plain window is
    * the right plan, unlike q166/q180's corpus-grain prefixes). */
  private[graft] def chatSpansOf(turns: DataFrame, convId: Column,
                                 order: Seq[Column], role: Column,
                                 content: Column): DataFrame = {
    val byConv = Window.partitionBy(col("conv_id")).orderBy(order: _*)
    val prefix = byConv.rowsBetween(Window.unboundedPreceding, -1)
    turns
      .select(Seq(convId.as("conv_id"), role.as("__graft_role"),
        content.as("__graft_content")) ++ order: _*)
      .withColumn("__graft_rlen",
        length(concat(lit("<|"), col("__graft_role"), lit("|>"),
          coalesce(col("__graft_content"), lit("")))).cast("long"))
      .select(col("conv_id"),
        row_number().over(byConv).as("turn_idx"),
        col("__graft_role").as("role"),
        coalesce(sum(col("__graft_rlen")).over(prefix), lit(0L)).as("span_start"),
        (coalesce(sum(col("__graft_rlen")).over(prefix), lit(0L)) + col("__graft_rlen"))
          .as("span_end"),
        (col("__graft_role") === "assistant").as("loss"))
  }

  /** q195: template spans over the events-derived conversations —
    * the loss-mask table for the corpus as an SFT dataset. */
  val q195ChatTemplate: Q = Q.sql(
    "q195_chat_template",
    s"""WITH $oracleTurns,
       |r AS (
       |  SELECT conv_id, rn AS turn_idx, role,
       |    CAST(LENGTH('<|' || role || '|>' || COALESCE(content, '')) AS BIGINT)
       |      AS rlen
       |  FROM turns)
       |SELECT conv_id, turn_idx, role,
       |  CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conv_id ORDER BY turn_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS span_start,
       |  CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conv_id ORDER BY turn_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + rlen AS BIGINT)
       |    AS span_end,
       |  role = 'assistant' AS loss
       |FROM r
       |ORDER BY conv_id, turn_idx""".stripMargin
  ) { (s, dir) =>
    chatSpansOf(Tables.events(s, dir)
      .select(col("user_id").as("conv_id"),
        when(col("event_type").isin(UserTypes.map(lit): _*), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        col("event_type").as("content"), col("ts"), col("event_id")),
      col("conv_id"), Seq(col("ts"), col("event_id")), col("role"), col("content"))
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  val all: Seq[Q] = Seq(q194ChatTurns, q195ChatTemplate)
}
