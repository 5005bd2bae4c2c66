package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Distributed BPE merge training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — learn the
  * byte-pair-encoding merge table from the corpus itself: the tokenizer-
  * TRAINING counterpart of the engine's token-counting/packing surface
  * (q65's BPE-ish accounting consumes a tokenizer; this builds one).
  *
  * The industrial-scale structure: BPE statistics live at WORD-TYPE
  * grain, not corpus grain — one corpus pass builds the (word, count)
  * table, and every merge round then works on |vocabulary| rows
  * (millions at 100 TB, not billions). Per round: adjacent-pair counts
  * via one explode + map-side-combined aggregation, ONE argmax row
  * collected to the driver (scalars-only driver state, the CC-loop
  * discipline), and a row-local fold applying the merge left-to-right
  * non-overlapping — then a lineage-truncating [[Barrier]].
  *
  * Determinism: the argmax tie-breaks on (count DESC, left, right) — a
  * total order — so the learned merge table is a pure function of the
  * corpus. The iterative data-dependent choice per round is
  * nonetheless SQL-expressible for a FIXED round count: q191's oracle
  * unrolls the 10 rounds into chained CTEs (pair counts → argmax →
  * fold), replaying the whole learning trajectory in DuckDB. BpeSpec
  * additionally pins the exact merge sequence on a hand-computable
  * fixture and corpus-level invariants (symbol-count shrinkage,
  * pair-count monotonicity of the chosen pair).
  */
object Bpe {

  /** End-of-word marker (Sennrich's `</w>`): keeps merges from crossing
    * word boundaries and lets the tokenizer restore spacing. */
  private val Eow = "</w>"

  /** (word, n, syms) at word-TYPE grain: every distinct corpus token
    * with its count and initial symbol sequence (chars + [[Eow]]).
    *
    * Precondition (fail-loud, not assumed): tokens must be TAB-free.
    * Splitting on ' ' removes spaces from symbols inherently, but a
    * literal TAB survives the split — and the q191 oracle replay rides
    * a tab-separated VARCHAR fold state that a tab-bearing symbol
    * would silently corrupt. The guard raises on BOTH sides (here and
    * in the oracle's wt0 CTE), so a corpus that violates the
    * assumption breaks loud, never as a silent engine/oracle drift. */
  private[graft] def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .select(when(col("word").contains("\t"), raise_error(
        lit("BPE wordTable: corpus token contains a literal TAB — " +
          "unrepresentable in the oracle replay's fold state")))
        .otherwise(col("word")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("syms", concat(split(col("word"), ""), array(lit(Eow))))

  /** Adjacent symbol pairs of each word, weighted by word count:
    * (left, right, cnt). */
  private def pairCounts(state: DataFrame): DataFrame =
    state
      // guard BEFORE the explode: Spark's sequence(1, 0) descends ([1,0])
      // rather than being empty, so a fully-merged single-symbol word
      // would index element 0
      .filter(size(col("syms")) >= 2)
      .select(col("n"), col("syms"),
        explode(sequence(lit(1), size(col("syms")) - 1)).as("i"))
      .select(element_at(col("syms"), col("i")).as("left"),
        element_at(col("syms"), col("i") + 1).as("right"), col("n"))
      .groupBy(col("left"), col("right")).agg(sum(col("n")).as("cnt"))

  /** Train `nMerges` BPE merges on (doc_id, text) docs. Returns the
    * merge table (step, left, right, pair_count) in learning order.
    *
    * COST CONTRACT — O(nMerges) sequential Spark jobs: Sennrich BPE is
    * inherently sequential (each argmax depends on the previous
    * merge's recount), so every merge costs one pair-aggregation job
    * plus one 1-row driver argmax, checkpointed. Fine at the shipped
    * nMerges=10; at a REAL vocabulary (50k merges) that is 50k Spark
    * jobs / driver round-trips — hours of scheduler overhead before
    * any data is touched. That is this trainer's practical ceiling
    * (≲ a few hundred merges). Past it, use [[trainMergesBatched]],
    * which learns several non-interacting merges per recount round;
    * statistics run at word-TYPE grain either way, so the per-round
    * data cost is |vocabulary|, not corpus size. */
  private[graft] def trainMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = docs.sparkSession
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // every round's state is a barrier of this scope: a round frees its
    // predecessor once it has materialized, and the scope frees the last
    // one (the merge table lives in driver memory), a failed round included
    Barrier.scoped { scope =>
      var state = scope.pin(wordTable(docs))
      var step = 1
      var exhausted = false
      while (step <= nMerges && !exhausted) {
        // one aggregated pair table per round; the argmax is ONE driver row
        val top = pairCounts(state)
          .filter(col("cnt") >= 2) // a pair seen once compresses nothing
          .orderBy(col("cnt").desc, col("left"), col("right"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((step, l, r, c))
          val lq = l.replace("\\", "\\\\").replace("'", "\\'")
          val rq = r.replace("\\", "\\\\").replace("'", "\\'")
          // left-to-right non-overlapping fold: (out, pend) state walks the
          // symbol array once; pend holds the candidate left element
          val mergedSyms = expr(
            s"""CASE WHEN x.pend = '' THEN x.out
               |     ELSE concat(x.out, array(x.pend)) END""".stripMargin)
          val folded = expr(
            s"""aggregate(syms,
               |  named_struct('out', CAST(array() AS ARRAY<STRING>), 'pend', ''),
               |  (st, s) -> CASE
               |    WHEN st.pend = '$lq' AND s = '$rq'
               |      THEN named_struct('out', concat(st.out, array('$lq$rq')), 'pend', '')
               |    WHEN st.pend = '' THEN named_struct('out', st.out, 'pend', s)
               |    ELSE named_struct('out', concat(st.out, array(st.pend)), 'pend', s)
               |  END)""".stripMargin)
          val next = scope.pin(
            state.withColumn("x", folded)
              .select(col("word"), col("n"), mergedSyms.as("syms")))
          // next is materialized: the superseded round's blocks are dead
          Barrier.release(state)
          state = next
          step += 1
        }
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("step", "left", "right", "pair_count")
      .orderBy(col("step"))
  }

  /** Batched BPE training — [[trainMerges]]' answer to its own
    * O(nMerges)-jobs ceiling: per recount round, accept the longest
    * RANK-ORDER PREFIX of the (cnt DESC, left, right) pair list whose
    * members are pairwise symbol-disjoint (no shared left/right/merged
    * symbol, capped at `maxBatch`), apply them in one fold pass, and
    * recount once. Job count drops from nMerges to the number of
    * rounds — on Zipf-shaped heads (frequent pairs from different
    * words) that approaches nMerges/maxBatch; on chained heads (a
    * word's internal pairs all tie) a round degrades to one merge,
    * never to wrong output.
    *
    * Equivalence to the sequential trainer: a batch applies merges in
    * rank order, and symbol-disjointness makes each accepted pair's
    * count invariant under the others' application, so the table
    * matches sequential training whenever every pair INTERACTING with
    * an accepted merge ranks strictly below the whole batch — the
    * prefix rule enforces exactly that for existing pairs (it stops at
    * the first interacting pair). Residual theoretical gap: a pair
    * CREATED by an accepted merge (count ≤ its source pair, which the
    * prefix rule proves ranks below the batch) can tie that source's
    * count and re-rank above a later batch member purely through the
    * lexicographic tiebreak on the new concatenated symbol name.
    * BpeSpec pins batched == sequential on an interacting multi-word
    * fixture and maxBatch=1 == sequential on the real corpus;
    * maxBatch=1 eliminates the gap entirely. */
  private[graft] def trainMergesBatched(docs: DataFrame, nMerges: Int,
                                        maxBatch: Int = 16): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    val spark = docs.sparkSession
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // every round's state is a barrier of this scope: a round frees its
    // predecessor once it has materialized, and the scope frees the last
    // one (the merge table lives in driver memory), a failed round included
    Barrier.scoped { scope =>
      var state = scope.pin(wordTable(docs))
      var step = 1
      var exhausted = false
      while (step <= nMerges && !exhausted) {
        val want = math.min(maxBatch, nMerges - step + 1)
        val ranked = pairCounts(state)
          .filter(col("cnt") >= 2)
          .orderBy(col("cnt").desc, col("left"), col("right"))
          .limit(want).collect()
        if (ranked.isEmpty) exhausted = true
        else {
          val used = scala.collection.mutable.Set.empty[String]
          val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          var stop = false
          for (row <- ranked if !stop) {
            val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
            if (accepted.isEmpty || (!used(l) && !used(r) && !used(l + r))) {
              accepted += ((l, r, c)); used ++= Seq(l, r, l + r)
            } else stop = true
          }
          accepted.foreach { case (l, r, c) => merges += ((step, l, r, c)); step += 1 }
          val folded = accepted.foldLeft("syms") {
            case (acc, (l, r, _)) => foldOnceExpr(acc, l, r)
          }
          val next = scope.pin(
            state.select(col("word"), col("n"), expr(folded).as("syms")))
          Barrier.release(state)
          state = next
        }
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("step", "left", "right", "pair_count")
      .orderBy(col("step"))
  }

  /** DuckDB replay of ONE training round `i` for [[q191BpeMerges]]'
    * oracle: adjacent-pair counts at word-TYPE grain (two shifted
    * list_slice unnests zip positionally; HAVING enforces the engine's
    * cnt ≥ 2 floor), the (cnt DESC, left, right) argmax as a 1-row CTE,
    * then the engine's exact (out, pend) non-overlapping fold — with
    * the learned pair entering the lambda as DATA via a LEFT JOIN ON
    * TRUE against the argmax row (an empty argmax = exhaustion, and
    * the NULL pair passes state through unchanged, so every later
    * round is empty too — matching the engine's early stop). The fold
    * state rides a tab-separated VARCHAR — the no-SPACE symbol
    * constraint is inherent to a space-split corpus, but no-TAB is
    * NOT (a tab survives a split on ' '): it is a guarded
    * precondition, raise_error'd on both sides in [[wordTable]] and
    * the wt0 CTE rather than assumed. */
  private def oracleTrainRound(i: Int): String = {
    val p = i - 1
    s"""pr$i AS (
       |  SELECT l, r, SUM(n) AS cnt FROM (
       |    SELECT n,
       |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
       |      unnest(list_slice(syms, 2, len(syms))) AS r
       |    FROM wt$p WHERE len(syms) >= 2)
       |  GROUP BY l, r HAVING SUM(n) >= 2),
       |m$i AS (SELECT l, r, cnt FROM pr$i ORDER BY cnt DESC, l, r LIMIT 1),
       |ws$i AS (
       |  SELECT word, n, m.l AS ml, syms AS oldsyms,
       |    CASE WHEN m.l IS NULL THEN NULL ELSE list_reduce(list_prepend(chr(9), syms),
       |      (acc, s) -> CASE
       |        WHEN split_part(acc, chr(9), 2) = m.l AND s = m.r
       |          THEN concat(split_part(acc, chr(9), 1), ' ', m.l || m.r, chr(9))
       |        WHEN split_part(acc, chr(9), 2) = ''
       |          THEN concat(split_part(acc, chr(9), 1), chr(9), s)
       |        ELSE concat(split_part(acc, chr(9), 1), ' ',
       |          split_part(acc, chr(9), 2), chr(9), s)
       |      END) END AS st
       |  FROM wt$p LEFT JOIN m$i m ON TRUE),
       |wt$i AS (
       |  SELECT word, n,
       |    CASE WHEN ml IS NULL THEN oldsyms
       |         ELSE string_split(trim(
       |           CASE WHEN split_part(st, chr(9), 2) = '' THEN split_part(st, chr(9), 1)
       |                ELSE concat(split_part(st, chr(9), 1), ' ', split_part(st, chr(9), 2))
       |           END), ' ')
       |    END AS syms FROM ws$i)""".stripMargin
  }

  /** Ten BPE merges learned from the documents corpus — the merge table
    * a subword tokenizer would ship.
    *
    * q191 oracle-paired (r12): the ITERATIVE trainer replayed in pure
    * SQL by UNROLLING the fixed 10 rounds — no recursion needed when
    * the round count is a constant, and every round is exact integer
    * counting + a total-order argmax + the shared fold, so the whole
    * data-dependent learning trajectory hash-compares. The oracle is
    * generated programmatically round by round (the SQL grows linearly
    * like the engine's chained folds); a wrong pair count, a tiebreak
    * drift, an overlapping-merge difference, or a missed exhaustion
    * all pick a different merge at some step and break the compare.
    * (The one remaining genuinely non-SQL surface in this family is
    * the batched trainer's prefix rule — q191 runs maxBatch=1
    * semantics, and BpeSpec pins batched == sequential.) */
  val q191BpeMerges: Q = Q.sql(
    "q191_bpe_merges",
    s"""WITH wt0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
       |    string_split(word, '') || ['${esc(Eow)}'] AS syms
       |  FROM (SELECT CASE WHEN contains(word, chr(9))
       |          THEN error('BPE oracle: corpus token contains a literal TAB')
       |          ELSE word END AS word
       |        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t0) t
       |  WHERE length(word) >= 1
       |  GROUP BY word),
       |${(1 to 10).map(oracleTrainRound).mkString(",\n")}
       |SELECT * FROM (
       |${(1 to 10).map(i =>
          s"""SELECT CAST($i AS INT) AS step, l AS "left", r AS "right",""" +
            s" CAST(cnt AS BIGINT) AS pair_count FROM m$i").mkString("\nUNION ALL ")})
       |ORDER BY step""".stripMargin
  ) { (s, dir) =>
    trainMerges(Tables.documents(s, dir), 10)
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** One merge application as a SQL-expression string over an
    * ARRAY<STRING> symbol expression: the same (out, pend) left-to-right
    * non-overlapping fold [[trainMerges]] trains with, here with the
    * 4-arg `aggregate` finish lambda so chained merges nest LINEARLY
    * (each step references the previous once — no expression blow-up). */
  private def foldOnceExpr(inner: String, l: String, r: String): String = {
    val (lq, rq) = (esc(l), esc(r))
    s"""aggregate($inner,
       |  named_struct('out', CAST(array() AS ARRAY<STRING>), 'pend', ''),
       |  (st, s) -> CASE
       |    WHEN st.pend = '$lq' AND s = '$rq'
       |      THEN named_struct('out', concat(st.out, array('$lq$rq')), 'pend', '')
       |    WHEN st.pend = '' THEN named_struct('out', st.out, 'pend', s)
       |    ELSE named_struct('out', concat(st.out, array(st.pend)), 'pend', s)
       |  END,
       |  st -> CASE WHEN st.pend = '' THEN st.out
       |        ELSE concat(st.out, array(st.pend)) END)""".stripMargin
  }

  /** Tokenize (doc_id, text) with a SHIPPED merge table — the apply
    * side of [[trainMerges]] (train once → freeze the artifact → encode
    * every corpus with it, the tokenizer lifecycle). Emits per doc:
    * (doc_id, n_words, n_tokens, n_chars, micro_chars_per_token) where
    * micro_chars_per_token = n_chars·10⁶ DIV n_tokens (exact integer
    * floor — no float division) and n_tokens counts post-merge symbols
    * including each word's [[Eow]].
    *
    * Scale: ROW-LOCAL — zero shuffle, scan-speed at 100 TB. All three
    * counts come from ONE compiled pass per document
    * ([[graft.expressions.BpeCounts]] — higher-order functions are
    * CodegenFallback, so the equivalent chained-`aggregate` fold
    * ([[bpeEncodeHof]], kept for the bit-equivalence spec) pays
    * interpreted closure frames per symbol: ~15 s vs < 1 s on the sf0.1
    * corpus). The word-TYPE-grain alternative (explode → dedup words →
    * join counts back) would shuffle the corpus to save bounded per-row
    * CPU — the wrong trade at scale. Merge symbols must not contain
    * space or tab (true of any space-split training corpus;
    * require()d — tab is the pair separator in the literal). */
  private[graft] def bpeEncodeOf(docs: DataFrame,
                                 merges: Seq[(String, String)],
                                 keep: Seq[String] = Nil): DataFrame = {
    requireEncodable(merges)
    val mergesLit = array(merges.map { case (l, r) => lit(l + "\t" + r) }: _*)
    docs.select(col("doc_id") +: keep.map(col) :+
      call_function("graft_bpe_counts", col("text"), mergesLit).as("__graft_c"): _*)
      .select(col("doc_id") +: keep.map(col) :+
        col("__graft_c")(0).as("n_words") :+
        col("__graft_c")(1).as("n_tokens") :+
        col("__graft_c")(2).as("n_chars"): _*)
      .withColumn("micro_chars_per_token",
        when(col("n_tokens") === 0L, lit(null).cast("long"))
          .otherwise(expr("(n_chars * 1000000L) DIV n_tokens")))
  }

  private def requireEncodable(merges: Seq[(String, String)]): Unit = {
    require(merges.nonEmpty, "merges must be non-empty")
    require(merges.size <= 256,
      s"bpeEncode is sized for compact merge tables; ${merges.size} merges " +
        "exceed the supported 256")
    require(merges.forall { case (l, r) =>
      !(l + r).exists(c => c == ' ' || c == '\t') },
      "merge symbols must not contain space or tab")
  }

  /** The higher-order-function form of [[bpeEncodeOf]] — one chained
    * 4-arg `aggregate` per merge (linear nesting via the finish
    * lambda). Semantically identical to the native expression; kept
    * NON-dead as the cross-implementation witness BpeSpec asserts
    * bit-equivalence against (the MinHashSigSpec discipline), and as
    * the reference for the DuckDB oracle's VARCHAR-state fold. Not used
    * in registry plans: HOFs are CodegenFallback and pay interpreted
    * closure frames per symbol. */
  private[graft] def bpeEncodeHof(docs: DataFrame,
                                  merges: Seq[(String, String)],
                                  keep: Seq[String] = Nil): DataFrame = {
    requireEncodable(merges)
    val syms0 = s"concat(split(w, ''), array('${esc(Eow)}'))"
    val folded = merges.foldLeft(syms0) { case (acc, (l, r)) => foldOnceExpr(acc, l, r) }
    docs.select(col("doc_id") +: keep.map(col) :+
      expr("filter(split(text, ' '), w -> length(w) >= 1)").as("__graft_ws"): _*)
      .select(col("doc_id") +: keep.map(col) :+
        size(col("__graft_ws")).cast("long").as("n_words") :+
        expr(s"aggregate(__graft_ws, 0L, (acc, w) -> acc + size($folded))")
          .as("n_tokens") :+
        expr("aggregate(__graft_ws, 0L, (acc, w) -> acc + length(w))")
          .as("n_chars"): _*)
      .withColumn("micro_chars_per_token",
        when(col("n_tokens") === 0L, lit(null).cast("long"))
          .otherwise(expr("(n_chars * 1000000L) DIV n_tokens")))
  }

  /** The frozen artifact the registry encodes with: exactly the merge
    * table [[q191BpeMerges]] learns on the sf0.01 corpus (BpeSpec keeps
    * them in sync) — shipped tokenizers are trained once and applied to
    * every later corpus, so sf0.1 also encodes with this table. */
  private[graft] val ShippedMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "e" -> Eow, "n" -> Eow, "er" -> Eow, "o" -> "w",
    "ow" -> Eow, "o" -> "r", "s" -> "t", "h" -> Eow, "a" -> "t")

  /** The identical fold in DuckDB: list_reduce has no initial-state arg
    * in 1.0, so the (out, pend) state rides ONE VARCHAR ("out\tpend",
    * tab-separated) seeded by prepending the empty-state element; each
    * merge is two chained CTE steps at (doc, word) grain (state fold,
    * then finalize + resplit) so the generated SQL grows linearly in
    * merges exactly like the Spark side. */
  private def oracleFoldCtes(merges: Seq[(String, String)]): String =
    merges.zipWithIndex.map { case ((l, r), i) =>
      val (lq, rq) = (esc(l), esc(r))
      s"""s${i + 1} AS (
         |  SELECT doc_id, widx, list_reduce(list_prepend(chr(9), syms),
         |    (acc, s) -> CASE
         |      WHEN split_part(acc, chr(9), 2) = '$lq' AND s = '$rq'
         |        THEN concat(split_part(acc, chr(9), 1), ' ', '$lq$rq', chr(9))
         |      WHEN split_part(acc, chr(9), 2) = ''
         |        THEN concat(split_part(acc, chr(9), 1), chr(9), s)
         |      ELSE concat(split_part(acc, chr(9), 1), ' ',
         |        split_part(acc, chr(9), 2), chr(9), s)
         |    END) AS st FROM w$i),
         |w${i + 1} AS (
         |  SELECT doc_id, widx, string_split(trim(
         |    CASE WHEN split_part(st, chr(9), 2) = '' THEN split_part(st, chr(9), 1)
         |         ELSE concat(split_part(st, chr(9), 1), ' ', split_part(st, chr(9), 2))
         |    END), ' ') AS syms FROM s${i + 1})""".stripMargin
    }.mkString(",\n")

  /** Shared oracle CTE chain ending in per_doc(doc_id, n_words,
    * n_tokens, n_chars) — reused by q196 and the length-bucket q199. */
  private lazy val oracleEncodePerDoc: String =
    s"""words AS (
       |  SELECT doc_id, widx, word
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
       |          unnest(range(1, len(string_split(text, ' ')) + 1)) AS widx
       |        FROM documents)
       |  WHERE length(word) >= 1),
       |w0 AS (
       |  SELECT doc_id, widx, string_split(word, '') || ['${esc(Eow)}'] AS syms,
       |    length(word) AS wlen
       |  FROM words),
       |${oracleFoldCtes(ShippedMerges)},
       |per_word AS (
       |  SELECT w0.doc_id, len(wN.syms) AS n_toks, w0.wlen
       |  FROM w0 JOIN w${ShippedMerges.size} wN
       |    ON w0.doc_id = wN.doc_id AND w0.widx = wN.widx),
       |per_doc AS (
       |  -- LEFT JOIN from documents: a doc with no length>=1 words still
       |  -- emits a zero row, matching the Spark side's row-local counts
       |  SELECT d.doc_id, CAST(COUNT(p.wlen) AS BIGINT) AS n_words,
       |    CAST(COALESCE(SUM(p.n_toks), 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(SUM(p.wlen), 0) AS BIGINT) AS n_chars
       |  FROM documents d LEFT JOIN per_word p ON d.doc_id = p.doc_id
       |  GROUP BY d.doc_id)""".stripMargin

  /** q196: encode the documents corpus with [[ShippedMerges]] — the
    * token-count / compression-ratio analytics (bytes-per-token is the
    * tokenizer-quality metric) that budget packing (q74) and token
    * accounting (q65) consume. */
  val q196BpeEncode: Q = Q.sql(
    "q196_bpe_encode",
    s"""WITH $oracleEncodePerDoc
       |SELECT doc_id, n_words, n_tokens, n_chars,
       |  CASE WHEN n_tokens = 0 THEN NULL
       |       ELSE (n_chars * 1000000) // n_tokens END AS micro_chars_per_token
       |FROM per_doc
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    bpeEncodeOf(Tables.documents(s, dir), ShippedMerges).orderBy(col("doc_id"))
  }

  /** Power-of-two sequence-length buckets the batch scheduler pads to:
    * 16, 32, …, `MaxBucket`; longer docs land in the 0 "oversize"
    * bucket (they must be split or truncated upstream). */
  private[graft] val MaxBucket = 2048L

  /** Length-bucketing report over a tokenized (n_tokens) frame: per
    * power-of-two bucket — doc count, token sum, padding waste
    * (Σ bucket−len: the FLOPs a padded batch burns on pad tokens), and
    * exact-integer micro utilization sum_tokens·10⁶ DIV (n_docs·bucket).
    * The report that decides whether length-grouped batching is worth
    * wiring into a trainer. Row-local CASE bucketing + one tiny
    * aggregate — scan-speed at any corpus size. */
  private[graft] def lengthBucketsOf(encoded: DataFrame): DataFrame = {
    val caps = Iterator.iterate(16L)(_ * 2).takeWhile(_ <= MaxBucket).toSeq
    val bucket = caps.foldRight(lit(0L): org.apache.spark.sql.Column) {
      (cap, rest) => when(col("n_tokens") <= cap, lit(cap)).otherwise(rest)
    }
    encoded
      .select(col("n_tokens"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(when(col("bucket") === 0L, lit(0L))
          .otherwise(col("bucket") - col("n_tokens"))).as("padding"))
      .withColumn("micro_util",
        when(col("bucket") === 0L, lit(null).cast("long"))
          .otherwise(expr("(sum_tokens * 1000000L) DIV (n_docs * bucket)")))
  }

  /** q199: length buckets of the [[ShippedMerges]]-encoded corpus. */
  val q199LengthBuckets: Q = Q.sql(
    "q199_length_buckets",
    s"""WITH $oracleEncodePerDoc,
       |b AS (
       |  SELECT n_tokens,
       |    CASE ${(Iterator.iterate(16L)(_ * 2).takeWhile(_ <= MaxBucket))
                  .map(c => s"WHEN n_tokens <= $c THEN $c")
                  .mkString(" ")} ELSE 0 END AS bucket
       |  FROM per_doc)
       |SELECT bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(CASE WHEN bucket = 0 THEN 0 ELSE bucket - n_tokens END) AS BIGINT)
       |    AS padding,
       |  CAST(CASE WHEN bucket = 0 THEN NULL
       |       ELSE (SUM(n_tokens) * 1000000) // (COUNT(*) * bucket) END AS BIGINT)
       |    AS micro_util
       |FROM b GROUP BY bucket
       |ORDER BY bucket""".stripMargin
  ) { (s, dir) =>
    lengthBucketsOf(encodedOnce(s, dir)).orderBy(col("bucket"))
  }

  /** The tokenize output MATERIALIZED (checkpoint; at scale, the
    * written q196 table): the bucket CASE and the prefix/offsets
    * machinery reference n_tokens many times, and Catalyst inlines a
    * referenced alias per use — without a materialization boundary the
    * whole merge fold re-runs per reference (measured 17-34 s/query at
    * sf0.1 vs 0.12 s for the encode itself). Tokenize once, persist,
    * analyze — the production lifecycle, reflected in the plan. */
  private def encodedOnce(s: SparkSession, dir: String): DataFrame =
    Barrier.pin(bpeEncodeOf(Tables.documents(s, dir), ShippedMerges))

  /** Tokens per output shard for [[q200ShardManifest]]: small enough to
    * make ~7 shards at sf0.01 (so the oracle exercises real boundaries)
    * and scale-independent — a production run passes its own target. */
  private[graft] val ShardTokens = 16384L

  /** Token-balanced contiguous shard manifest: docs in doc_id order
    * fill shards of ~`targetTokens` each (shard = exclusive-prefix
    * token sum DIV target — a doc straddling a boundary belongs wholly
    * to the shard its first token lands in, so shards overshoot by at
    * most one doc). The manifest a writer uses to emit near-equal
    * training shards; contiguous id ranges keep each shard one scan
    * range on id-sorted storage.
    *
    * Scale: the global running sum is the scalable-prefix pattern
    * ([[Eval.withExclusivePrefix]] — range repartition + local windows
    * + broadcast per-partition offsets), NEVER a one-partition window;
    * then one tiny aggregate at shard grain. */
  private[graft] def shardManifestOf(encoded: DataFrame, targetTokens: Long): DataFrame = {
    require(targetTokens >= 1, s"targetTokens must be >= 1, got $targetTokens")
    Eval.withExclusivePrefix(
      encoded.select(col("doc_id"), col("n_tokens")),
      Seq(col("doc_id")), Seq((col("n_tokens"), "__graft_cum")))
      .withColumn("shard", expr(s"__graft_cum DIV $targetTokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** q200: the shard manifest of the [[ShippedMerges]]-encoded corpus
    * at [[ShardTokens]] tokens per shard. */
  val q200ShardManifest: Q = Q.sql(
    "q200_shard_manifest",
    s"""WITH $oracleEncodePerDoc,
       |p AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |  FROM per_doc),
       |s AS (SELECT doc_id, n_tokens, cum // $ShardTokens AS shard FROM p)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM s GROUP BY shard
       |ORDER BY shard""".stripMargin
  ) { (s, dir) =>
    shardManifestOf(encodedOnce(s, dir), ShardTokens).orderBy(col("shard"))
  }

  /** Token-grain mixture budgeting: given per-source token counts (the
    * real tokenizer's, not a char proxy) and √-temperature target
    * weights (τ = ½ — the q132 discipline: √T is one correctly-rounded
    * IEEE op on an exact integer, milli-quantized; every later step is
    * exact int64), allocate a total token budget of Σ tokens across
    * sources and report the repeat factor each source needs:
    * (source, n_docs, tokens, w, share_micro, tokens_target,
    * epochs_milli) — epochs > 1000 milli means the source repeats, the
    * "data recipe" a trainer materializes.
    *
    * Integer-exactness bounds (documented like q132's): the split
    * divisions floor-exactly while Σw · w < 2⁶³ and per-source
    * tokens < 9.2·10¹⁵ milli-epochs' worth — comfortable past a
    * 100 TB corpus at word grain. */
  private[graft] def tokenBudgetOf(bySource: DataFrame): DataFrame = {
    val stats = bySource
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .withColumn("w", floor(sqrt(col("tokens").cast("double")) * 1000).cast("long"))
    val tot = stats.agg(sum(col("w")).as("tw"), sum(col("tokens")).as("tb"))
    stats.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"), col("w"),
        expr("w * 1000000L DIV tw").as("share_micro"),
        // floor(tb*w/tw) via the overflow-safe split: (tb DIV tw)*w +
        // ((tb MOD tw)*w) DIV tw — exact by the division identity
        expr("(tb DIV tw) * w + ((tb % tw) * w) DIV tw").as("tokens_target"))
      .withColumn("epochs_milli",
        expr("(tokens_target DIV tokens) * 1000L + ((tokens_target % tokens) * 1000L) DIV tokens"))
  }

  /** q202: the data recipe for the documents corpus — √-temperature
    * token budget over sources, tokenized with [[ShippedMerges]]. */
  val q202TokenBudget: Q = Q.sql(
    "q202_token_budget",
    s"""WITH $oracleEncodePerDoc,
       |src AS (
       |  SELECT d.source, p.n_tokens
       |  FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id),
       |stats AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       |    CAST(floor(sqrt(CAST(SUM(n_tokens) AS DOUBLE)) * 1000) AS BIGINT) AS w
       |  FROM src GROUP BY source),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(tokens) AS BIGINT) AS tb
       |        FROM stats),
       |alloc AS (
       |  SELECT source, n_docs, tokens, w,
       |    (w * 1000000) // tw AS share_micro,
       |    (tb // tw) * w + ((tb % tw) * w) // tw AS tokens_target
       |  FROM stats CROSS JOIN tot)
       |SELECT source, n_docs, tokens, w, share_micro, tokens_target,
       |  (tokens_target // tokens) * 1000 + ((tokens_target % tokens) * 1000) // tokens
       |    AS epochs_milli
       |FROM alloc
       |ORDER BY source""".stripMargin
  ) { (s, dir) =>
    tokenBudgetOf(
      bpeEncodeOf(Tables.documents(s, dir), ShippedMerges, keep = Seq("source"))
        .select(col("source"), col("n_tokens")))
      .orderBy(col("source"))
  }

  /** Assign [[shardManifestOf]]'s shard ids to the rows themselves:
    * (input columns…, shard) — the write-side twin of the manifest. */
  private[graft] def withShardIds(encoded: DataFrame, targetTokens: Long): DataFrame = {
    require(targetTokens >= 1, s"targetTokens must be >= 1, got $targetTokens")
    Eval.withExclusivePrefix(encoded, Seq(col("doc_id")),
      Seq((col("n_tokens"), "__graft_cum")))
      .withColumn("shard", expr(s"__graft_cum DIV $targetTokens"))
      .drop("__graft_cum")
  }

  /** Write a tokenized corpus as token-balanced shard files: one
    * `shard=N` parquet partition per contiguous ~`targetTokens` shard
    * (the [[shardManifestOf]] rule — a straddling doc belongs wholly to
    * the shard its first token lands in). `repartition(shard)` aligns
    * task outputs with directory partitions so each shard writes one
    * file per shuffle partition holding it, not one file per upstream
    * task × shard — the small-files discipline a 100 TB writer needs.
    * Input must carry (doc_id, n_tokens) plus the payload columns. */
  private[graft] def writeTokenShards(encoded: DataFrame, targetTokens: Long,
                                      path: String): Unit =
    withShardIds(encoded, targetTokens)
      .repartition(col("shard"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Per-group tokenizer fertility over an encoded frame carrying a
    * group column `g`: fertility = tokens per word (micro-exact), the
    * standard multilingual-tokenizer fairness metric — a language whose
    * fertility runs 2× pays 2× the context budget per word, so a
    * shipped tokenizer is audited per language before a mixture is
    * fixed. One tiny aggregate over the materialized encode. */
  private[graft] def fertilityOf(encoded: DataFrame): DataFrame =
    encoded
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("words"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("n_chars")).as("chars"))
      .select(col("g"), col("n_docs"), col("words"), col("tokens"), col("chars"),
        when(col("words") === 0L, lit(null).cast("long"))
          .otherwise(expr("(tokens * 1000000L) DIV words")).as("fertility_micro"),
        when(col("tokens") === 0L, lit(null).cast("long"))
          .otherwise(expr("(chars * 1000000L) DIV tokens")).as("chars_per_token_micro"))

  /** q203: fertility of [[ShippedMerges]] per language — the
    * tokenizer-fairness audit. */
  val q203Fertility: Q = Q.sql(
    "q203_fertility",
    s"""WITH $oracleEncodePerDoc,
       |byg AS (
       |  SELECT d.lang AS g, p.n_words, p.n_tokens, p.n_chars
       |  FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id),
       |agg AS (
       |  SELECT g, COUNT(*) AS n_docs,
       |    CAST(SUM(n_words) AS BIGINT) AS words,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM byg GROUP BY g)
       |SELECT g, n_docs, words, tokens, chars,
       |  CASE WHEN words = 0 THEN NULL
       |       ELSE (tokens * 1000000) // words END AS fertility_micro,
       |  CASE WHEN tokens = 0 THEN NULL
       |       ELSE (chars * 1000000) // tokens END AS chars_per_token_micro
       |FROM agg
       |ORDER BY g""".stripMargin
  ) { (s, dir) =>
    fertilityOf(
      bpeEncodeOf(Tables.documents(s, dir), ShippedMerges, keep = Seq("lang"))
        .withColumnRenamed("lang", "g"))
      .orderBy(col("g"))
  }

  val all: Seq[Q] = Seq(q191BpeMerges, q196BpeEncode, q199LengthBuckets,
    q200ShardManifest, q202TokenBudget, q203Fertility)
}
