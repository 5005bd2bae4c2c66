package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Text-analysis operators over `documents` — the LLM-training-data
  * quality/statistics family (builder prompt north star). All are
  * row-local expression pipelines: no shuffle until the final output
  * order, so at 100 TB they run at scan speed and the only exchange is
  * whatever the downstream consumer (filter/groupBy) needs.
  *
  * Every ratio is a division of identical integer operands in both
  * engines → bit-identical doubles, no rounding tolerance needed
  * (except the composite quality score, rounded to 9 dp as insurance on
  * multi-term double arithmetic).
  */
object TextAnalysis {

  /** Quality-scoring stopword list (fixed config, like the reference's
    * custom stopword set at model.py:51-54). */
  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Language marker lists for the n-gram/keyword language-ID heuristic.
    * Priority order breaks score ties (first match wins, like the
    * reference's first-match category UDF at MLP.ipynb:618-625). */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "order", "table"),
    "de" -> Seq("hash", "join", "row"),
    "es" -> Seq("slow", "agg", "merge"),
    "fr" -> Seq("scan", "data", "batch"),
    "zh" -> Seq("small", "customer", "column"))

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** Oracle twin of [[textStats]]'s output (doc_id, lang, n_chars,
    * n_words, n_distinct, ttr, mean_wlen, stop_ratio, quality) — no
    * ORDER BY; shared by q30 and the curation query in [[Curate]]. */
  private[graft] val oracleTextStats: String =
    s"""SELECT doc_id, lang, n_chars, n_words, n_distinct,
       |  CAST(n_distinct AS DOUBLE) / n_words AS ttr,
       |  CAST(sum_wlen AS DOUBLE) / n_words AS mean_wlen,
       |  CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
       |  round(0.25 * (least(n_words, 100) / 100.0)
       |      + 0.25 * (CAST(n_stop AS DOUBLE) / n_words)
       |      + 0.25 * (CAST(n_distinct AS DOUBLE) / n_words)
       |      + 0.25 * (least(CAST(sum_wlen AS DOUBLE) / n_words, 8.0) / 8.0), 9) AS quality
       |FROM (
       |  SELECT doc_id, lang, length(text) AS n_chars, len(w) AS n_words,
       |    len(list_distinct(w)) AS n_distinct,
       |    list_reduce(list_transform(w, x -> length(x)), (a,b) -> a+b) AS sum_wlen,
       |    len(list_filter(w, x -> list_contains(${sqlList(Stopwords)}, x))) AS n_stop
       |  FROM (SELECT doc_id, lang, length(text) AS _c, string_split(text, ' ') AS w, text
       |        FROM documents)
       |  WHERE len(w) >= 1)""".stripMargin

  /** Per-document statistics + composite quality score as a reusable
    * stage (row-local; quality is the length/stopword/TTR composite). */
  private[graft] def textStats(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    statsOf(Tables.documents(s, dir))

  /** Generic form over any (doc_id, lang, text) frame. */
  private[graft] def statsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stats = docs
      .select(col("doc_id"), col("lang"), length(col("text")).as("n_chars"),
        split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 1)
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_distinct"),
        aggregate(transform(col("w"), x => length(x)), lit(0), (a, b) => a + b).as("sum_wlen"),
        size(filter(col("w"), x => array_contains(lit(Stopwords.toArray), x))).as("n_stop"))
    stats.select(
      col("doc_id"), col("lang"), col("n_chars"), col("n_words"), col("n_distinct"),
      (col("n_distinct").cast("double") / col("n_words")).as("ttr"),
      (col("sum_wlen").cast("double") / col("n_words")).as("mean_wlen"),
      (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
      round(
        lit(0.25) * (least(col("n_words"), lit(100)) / 100.0)
          + lit(0.25) * (col("n_stop").cast("double") / col("n_words"))
          + lit(0.25) * (col("n_distinct").cast("double") / col("n_words"))
          + lit(0.25) * (least(col("sum_wlen").cast("double") / col("n_words"), lit(8.0)) / 8.0),
        9).as("quality"))
  }

  /** Per-document statistics + composite quality score: length, token
    * counts, type-token ratio, mean word length, stopword ratio —
    * the length/punct/stopword quality-filter family. */
  val q30TextStats: Q = Q.sql(
    "q30_text_stats",
    s"""SELECT doc_id, n_chars, n_words, n_distinct, ttr, mean_wlen, stop_ratio, quality
       |FROM ($oracleTextStats)
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    textStats(s, dir).drop("lang").orderBy(col("doc_id"))
  }

  /** Keyword/n-gram language-ID heuristic: score each language by marker
    * occurrences, argmax with fixed priority tiebreak, emit the confusion
    * matrix against the labeled `lang` column (the reference's
    * classify-then-crosstab shape, MLP.ipynb:94-95). Accuracy on this
    * synthetic uniform-vocabulary corpus is chance — the operator under
    * test is the deterministic scoring/argmax/crosstab plan. */
  // Chained CASE: first language (in priority order) whose score is >=
  // every other language's score wins. Factored so q31 (the confusion
  // table) and q156 (kappa over it) share one predictor definition.
  private val langList = LangMarkers.map(_._1)
  private val langScoreSql = LangMarkers.map { case (l, ms) =>
    s"len(list_filter(w, x -> list_contains(${sqlList(ms)}, x))) AS s_$l"
  }.mkString(", ")
  private val langPredSql = langList.init.map { l =>
    val geAll = langList.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
    s"WHEN $geAll THEN '$l'"
  }.mkString("CASE ", " ", s" ELSE '${langList.last}' END")

  /** (lang, pred, n) confusion-table subquery, oracle side. */
  private def oracleLangConfusion: String =
    s"""SELECT lang, pred, COUNT(*) AS n FROM (
       |  SELECT lang, $langPredSql AS pred FROM (
       |    SELECT lang, $langScoreSql
       |    FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)))
       |GROUP BY lang, pred""".stripMargin

  /** (lang, pred, n) confusion table, Spark side (unordered). */
  private def langConfusion(s: SparkSession, dir: String): DataFrame = {
    def score(ms: Seq[String]): Column =
      size(filter(col("w"), x => array_contains(lit(ms.toArray), x)))
    val scored = Tables.documents(s, dir)
      .select(col("lang"), split(col("text"), " ").as("w"))
      .select(col("lang") +: LangMarkers.map { case (l, ms) => score(ms).as(s"s_$l") }: _*)
    val pred = langList.init.foldRight(lit(langList.last): Column) { (l, els) =>
      val geAll = langList.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduce(_ && _)
      when(geAll, lit(l)).otherwise(els)
    }
    scored.select(col("lang"), pred.as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
  }

  val q31Langid: Q = Q.sql(
    "q31_langid",
    oracleLangConfusion + "\nORDER BY lang, pred"
  ) { (s, dir) =>
    langConfusion(s, dir).orderBy(col("lang"), col("pred"))
  }

  /** Token counting: whitespace tokens vs a BPE-ish regex tokenization
    * ([a-z]+ | digit runs — the pattern kept within the Java-regex ∩ RE2
    * common subset so both engines tokenize identically). */
  val q32TokenCount: Q = Q.sql(
    "q32_token_count",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
      |  length(text) AS n_chars,
      |  CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '[a-z]+|[0-9]+'))
      |    AS chars_per_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("re_tokens"),
        length(col("text")).as("n_chars"))
      .withColumn("chars_per_token", col("n_chars").cast("double") / col("re_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Distinctive vocabulary per language (c-TF-IDF shape): per-language
    * term counts vs corpus-wide counts, affinity = tf_lang / tf_total,
    * top-5 per language. Scoring is RATIO-ONLY (no logarithms): ln from
    * two libm implementations can differ in the last ulp, which a
    * hash-compared oracle cannot tolerate, while a division of identical
    * int64 operands is bit-exact in both engines. Ties (equal rationals)
    * are broken by term for a total order.
    *
    * Scale: the token explode feeds ONE map-side-combined aggregation
    * keyed (lang, term) — shuffle volume ∝ distinct vocabulary per
    * language, not token occurrences; the corpus-wide counts derive from
    * that aggregate (vocabulary-sized, no second pass over tokens); the
    * top-k window partitions by lang over vocabulary-sized input. */
  val q76DistinctiveTerms: Q = Q.sql(
    "q76_distinctive_terms",
    """WITH toks AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY lang, term),
      |df AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS total FROM tf GROUP BY term),
      |scored AS (
      |  SELECT tf.lang, tf.term, tf.tf, df.total,
      |    CAST(tf.tf AS DOUBLE) / df.total AS affinity
      |  FROM tf JOIN df USING (term)),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY affinity DESC, term) AS rk
      |  FROM scored WHERE tf >= 5)
      |SELECT lang, rk, term, tf, total, affinity
      |FROM ranked WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin
  ) { (s, dir) =>
    val tf = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(sum(col("tf")).as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("affinity").desc, col("term"))
    tf.join(df, "term")
      .withColumn("affinity", col("tf").cast("double") / col("total"))
      .filter(col("tf") >= 5)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("term"), col("tf"), col("total"), col("affinity"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Bigram collocations by lift — which adjacent word pairs co-occur
    * more than their unigram frequencies predict (the phrase-mining /
    * tokenizer-merge-candidate primitive). Lift = c₁₂·N / (c₁·c₂), the
    * PMI ratio WITHOUT the log (ln is not cross-engine bit-stable) and
    * with both products in double (int64 c₁·c₂ overflows at corpus
    * scale: two 10¹²-count unigrams square past 2⁶³). Same one-pass
    * aggregation shape as q76: shuffle ∝ distinct bigrams. */
  val q82Collocations: Q = Q.sql(
    "q82_collocations",
    """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
      |bi AS (
      |  SELECT unnest(list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1]))) AS bigram
      |  FROM w WHERE len(w) >= 2),
      |bc AS (SELECT bigram, COUNT(*) AS c12 FROM bi GROUP BY bigram),
      |uni AS (SELECT unnest(w) AS term FROM w),
      |uc AS (SELECT term, COUNT(*) AS c FROM uni GROUP BY term),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni)
      |SELECT bc.bigram, bc.c12,
      |  CAST(bc.c12 AS DOUBLE) * n.n / (CAST(u1.c AS DOUBLE) * u2.c) AS lift
      |FROM bc, n
      |JOIN uc u1 ON u1.term = string_split(bc.bigram, ' ')[1]
      |JOIN uc u2 ON u2.term = string_split(bc.bigram, ' ')[2]
      |WHERE bc.c12 >= 10
      |ORDER BY lift DESC, bigram
      |LIMIT 20""".stripMargin
  ) { (s, dir) =>
    val words = Tables.documents(s, dir).select(split(col("text"), " ").as("w"))
    val bigrams = words.filter(size(col("w")) >= 2)
      .select(explode(Dedup.wordWindows(col("w"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    // coalesce: non-nullable term, so the two collocation joins push no
    // isnotnull(term) below the count aggregate (grouping-key filters
    // push through and desync the subtrees — the q164 lesson)
    val unigrams = words.select(explode(col("w")).as("t0"))
      .select(coalesce(col("t0"), lit("")).as("term"))
    val uc = unigrams.groupBy(col("term")).agg(count(lit(1)).as("c"))
    // corpus size as a broadcast 1-row join, not a driver-side action —
    // and derived from uc (Σc ≡ token count), so the third corpus pass
    // collapses onto uc's reused exchange
    val nDf = uc.agg(sum(col("c")).as("n"))
    bigrams
      .join(uc.select(col("term").as("t1"), col("c").as("c1")),
        split(col("bigram"), " ").getItem(0) === col("t1"))
      .join(uc.select(col("term").as("t2"), col("c").as("c2")),
        split(col("bigram"), " ").getItem(1) === col("t2"))
      .crossJoin(broadcast(nDf))
      .filter(col("c12") >= 10)
      .select(col("bigram"), col("c12"),
        (col("c12").cast("double") * col("n") / (col("c1").cast("double") * col("c2"))).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(20)
  }

  /** Sliding-window document chunking — the embedding-pipeline splitter:
    * 32-word windows at stride 24 (8-word overlap so no boundary context
    * is lost). Entirely row-local (transform + explode; no shuffle until
    * the output order), chunk count = 1 + ⌊(len-1)/24⌋ — identical
    * arithmetic both engines, so the oracle verifies every chunk's
    * content digest. Short final windows are kept as-is (clipped slice);
    * a tail window nested inside its predecessor is retained for
    * determinism rather than suppressed. */
  val q85DocChunks: Q = Q.sql(
    "q85_doc_chunks",
    """SELECT doc_id, chunk_id,
      |  len(chunk) AS n_words,
      |  md5(array_to_string(chunk, ' ')) AS chunk_md5
      |FROM (
      |  SELECT doc_id, k AS chunk_id, w[k*24+1 : k*24+32] AS chunk
      |  FROM (
      |    SELECT doc_id, string_split(text, ' ') AS w,
      |      unnest(range(0, 1 + (len(string_split(text, ' ')) - 1) // 24)) AS k
      |    FROM documents))
      |ORDER BY doc_id, chunk_id""".stripMargin
  ) { (s, dir) =>
    chunksOf(Tables.documents(s, dir), 32, 24).orderBy(col("doc_id"), col("chunk_id"))
  }

  /** (doc_id, text) → the unordered (doc_id, chunk_id, n_words,
    * chunk_md5) rows of [[q85DocChunks]] at any `window` / `stride`.
    * Exposed for the facade. */
  private[graft] def chunksOf(docs: DataFrame, window: Int, stride: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        posexplode(transform(
          // Spark's `/` is always double division — floor for the count
          sequence(lit(0), floor((size(col("w")) - 1) / lit(stride)).cast("int")),
          k => slice(col("w"), k * stride + 1, lit(window)))))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        size(col("col")).as("n_words"),
        md5(concat_ws(" ", col("col"))).as("chunk_md5"))

  /** The search terms shared by [[q120BoolSearch]] and
    * [[q121RankedSearch]] — a conjunctive query over the corpus
    * vocabulary with deliberately different document frequencies. */
  private val SearchTerms = Seq("hash", "join", "scan")

  /** Conjunctive boolean search: documents containing ALL query terms —
    * the inverted-index AND query, expressed as filter → count = |terms|.
    *
    * Scale: the term set is query-sized (a literal IN list pushed to the
    * scan side of the explode), so only (doc, matched-term) rows — at
    * most |terms| per doc — survive to the shuffle; the posting lists
    * are never materialized anywhere, and the aggregation is an
    * ordinary map-side-combined count at doc grain. `array_distinct`
    * before the explode makes the count a document frequency, so
    * HAVING n = |terms| is exact containment. */
  val q120BoolSearch: Q = Q.sql(
    "q120_bool_search",
    """WITH w AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents)
      |SELECT doc_id, COUNT(*) AS n_terms
      |FROM w WHERE w IN ('hash', 'join', 'scan')
      |GROUP BY doc_id HAVING COUNT(*) = 3
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w").isin(SearchTerms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === SearchTerms.size)
      .orderBy(col("doc_id"))
  }

  /** Rarity-ranked retrieval (IDF-weighted OR query): score each doc by
    * Σ over matched terms of the QUANTIZED inverse document frequency
    * `N div df_t` — rarer terms contribute more, exactly the shape of a
    * BM25/tf-idf ranker. The weight is an INTEGER division on purpose:
    * int64 sums are associative, so the score is independent of
    * aggregation order (a float Σ(N/df) would be bit-unstable across
    * partitionings and engines — same reasoning as q76/q82's ratio-only
    * scoring).
    *
    * Scale: document frequencies aggregate at TERM grain (|terms| rows,
    * broadcast back onto the matched postings); the corpus count rides
    * a broadcast 1-row cross join; top-50 is TakeOrderedAndProject
    * (per-partition heads merged on the driver, no global sort). */
  val q121RankedSearch: Q = Q.sql(
    "q121_ranked_search",
    """WITH w AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |hits AS (SELECT doc_id, w FROM w WHERE w IN ('hash', 'join', 'scan')),
      |df AS (SELECT w, COUNT(*) AS df FROM hits GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT h.doc_id, CAST(SUM(n.n // df.df) AS BIGINT) AS score
      |FROM hits h JOIN df USING (w) CROSS JOIN n
      |GROUP BY h.doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT 50""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // (doc_id, w) is already distinct (array_distinct) — the aggregate
    // exists to create a REUSABLE exchange boundary: without it the hit
    // list is a bare projection and the df branch's only option is a
    // second corpus scan. The extra shuffle moves only matched-term
    // rows (≤ |terms| per doc); the saved scan is the whole corpus.
    // coalesce keeps w non-nullable (no asymmetric isnotnull pushdown).
    val hits = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w0"))
      .select(col("doc_id"), coalesce(col("w0"), lit("")).as("w"))
      .filter(col("w").isin(SearchTerms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("occ"))
    val df = hits.groupBy(col("w")).agg(count(when(col("occ") >= 1, 1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    hits.join(broadcast(df), "w")
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      // when(occ >= 1, …) is always taken (occ is a group count); it
      // REFERENCES occ so this branch's partial aggregate matches the
      // df branch's and the hits exchange is reused (one corpus scan)
      .agg(sum(when(col("occ") >= 1, expr("n DIV df"))).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  /** BM25 (k1 = 1.2, b = 0.75) top-`k` ranking of `docs` (doc_id, text)
    * for the OR-query `terms`, in exact milli-unit fixed point — see
    * [[q129Bm25]] for the arithmetic and scale contract. */
  private[graft] def bm25Of(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val stats = d.agg(
      count(lit(1)).as("n"),
      expr("(sum(size(w)) * 1000) DIV count(1)").as("avgdl_milli"))
    // coalesce keeps t non-nullable so the df join pushes no asymmetric
    // isnotnull(t) into one branch of the f diamond (the q164 lesson)
    val f = d
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("t0"))
      .select(col("doc_id"), col("dl"), coalesce(col("t0"), lit("")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
    // (doc_id, t) is unique in f (dl is functionally dependent on
    // doc_id), so countDistinct(doc_id) ≡ count(*); count(tf >= 1)
    // additionally REFERENCES tf so this branch's partial aggregate
    // matches the join branch's and the f exchange is reused
    val dft = f.groupBy(col("t")).agg(count(when(col("tf") >= 1, 1)).as("df"))
    f.join(broadcast(dft), "t")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr("((2*n - 2*df + 1) * 1000) DIV (2*df + 1)").as("idf_milli"),
        expr("250 + (750 * ((dl * 1000000) DIV avgdl_milli)) DIV 1000").as("norm_milli"),
        col("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("(idf_milli * tf * 2200) DIV (tf*1000 + (1200 * norm_milli) DIV 1000)"))
        .as("score_milli"))
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(k)
  }

  /** BM25 ranking (k1 = 1.2, b = 0.75) for the [[SearchTerms]] OR-query —
    * the full Okapi scorer with term frequency AND length normalization,
    * completing the search family (q120 boolean containment, q121
    * quantized-IDF rarity, q129 BM25).
    *
    * All arithmetic is FIXED-POINT int64 (milli-units, integer DIV at
    * every step) so the score is bit-identical across engines and
    * aggregation orders — no ln/pow (libm results are not portable). The
    * idf is the rational core of Robertson-Sparck Jones,
    * `(N - df + ½)/(df + ½)` scaled ×1000, monotone in the classic log
    * idf, so ranking order is preserved. Bounds: exact while
    * `N·tf < 4·10¹⁴` (10⁹ docs × 10³ tf) — beyond that, drop one scale
    * factor.
    *
    * Scale: tf aggregates at (doc, term) grain with map-side combine
    * (only matched terms survive the scan-side IN filter); df is a
    * |terms|-row broadcast; corpus stats (N, avgdl) ride one 1-row
    * broadcast cross join; top-50 is TakeOrderedAndProject. */
  val q129Bm25: Q = Q.sql(
    "q129_bm25",
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |stats AS (
      |  SELECT COUNT(*) AS n, (SUM(len(w)) * 1000) // COUNT(*) AS avgdl_milli FROM d),
      |f AS (
      |  SELECT doc_id, dl, t, COUNT(*) AS tf
      |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM d)
      |  WHERE t IN ('hash', 'join', 'scan') GROUP BY doc_id, dl, t),
      |df AS (
      |  SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM f GROUP BY t),
      |scored AS (
      |  SELECT f.doc_id,
      |    ((2*s.n - 2*df.df + 1) * 1000) // (2*df.df + 1) AS idf_milli,
      |    250 + (750 * ((f.dl * 1000000) // s.avgdl_milli)) // 1000 AS norm_milli,
      |    f.tf AS tf
      |  FROM f JOIN df USING (t) CROSS JOIN stats s)
      |SELECT doc_id,
      |  CAST(SUM((idf_milli * tf * 2200) // (tf*1000 + (1200 * norm_milli) // 1000))
      |    AS BIGINT) AS score_milli
      |FROM scored GROUP BY doc_id
      |ORDER BY score_milli DESC, doc_id
      |LIMIT 50""".stripMargin
  ) { (s, dir) =>
    bm25Of(Tables.documents(s, dir), SearchTerms, 50)
  }

  /** Pairwise Jaccard overlap of distinct 5-gram shingle sets between
    * the groups of `groupCol` — see [[q142LangOverlap]]. Emits
    * (group_a, group_b, shared, jaccard); zero-overlap pairs absent. */
  private[graft] def shingleOverlapOf(docs: DataFrame, groupCol: String): DataFrame = {
    // the distinct (group, shingle-hash) vocabulary fans into THREE
    // consumers — both self-join sides and the per-group size table —
    // whose differing prunings/pushdowns defeat ReuseExchange, so the
    // corpus was re-scanned (split + explode + md5 per pass) per
    // consumer. CHECKPOINT it once (r15, guide §2.4): the self-join and
    // sizes then read the materialized (g, h) blocks — exactly the
    // per-subcorpus vocabulary table a production overlap run persists.
    val wl = Barrier.pin(docs
      .select(col(groupCol).as("__graft_g"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("__graft_g"), explode(Dedup.wordWindows(col("w"), 5, each = Hashes.hexLong)).as("h"))
      .distinct())
    val sz = wl.groupBy(col("__graft_g")).agg(count(lit(1)).as("n"))
    wl.as("a")
      .join(wl.as("b"),
        col("a.h") === col("b.h") && col("a.__graft_g") < col("b.__graft_g"))
      .groupBy(col("a.__graft_g").as("group_a"), col("b.__graft_g").as("group_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(sz.select(col("__graft_g").as("group_a"), col("n").as("na"))), "group_a")
      .join(broadcast(sz.select(col("__graft_g").as("group_b"), col("n").as("nb"))), "group_b")
      .select(col("group_a"), col("group_b"), col("shared"),
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
  }

  /** Cross-subcorpus contamination matrix: pairwise Jaccard overlap of
    * the distinct 5-gram shingle sets of each language — the "how much
    * do my data sources share" report a corpus-mixing pipeline runs
    * before weighting (and the symmetric generalization of q101's
    * one-directional eval-set decontamination).
    *
    * Scale (100 TB): everything runs at (lang, shingle-HASH) grain —
    * distinct-ified per subcorpus before the self-join, so the join
    * input is each subcorpus's vocabulary, not its token stream, and a
    * shingle present in L subcorpora yields only C(L,2) ≤ C(|langs|,2)
    * pairs. Join keys are 60-bit md5 longs (8 B), the q25 shuffle-
    * compactness rule. Zero-overlap pairs drop out (inner join) —
    * absent row = no shared shingle. */
  val q142LangOverlap: Q = Q.sql(
    "q142_lang_overlap",
    """WITH wl AS (
      |  SELECT DISTINCT lang, unnest(list_transform(range(1, len(w)-3),
      |      i -> CAST(concat('0x', substr(md5(
      |        concat(w[i],' ',w[i+1],' ',w[i+2],' ',w[i+3],' ',w[i+4])), 1, 15)) AS BIGINT))) AS h
      |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 5),
      |sz AS (SELECT lang, COUNT(*) AS n FROM wl GROUP BY lang),
      |inter AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS shared
      |  FROM wl a JOIN wl b ON a.h = b.h AND a.lang < b.lang
      |  GROUP BY 1, 2)
      |SELECT i.lang_a, i.lang_b, i.shared,
      |  round(CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared), 6) AS jaccard
      |FROM inter i
      |JOIN sz sa ON sa.lang = i.lang_a
      |JOIN sz sb ON sb.lang = i.lang_b
      |ORDER BY lang_a, lang_b""".stripMargin
  ) { (s, dir) =>
    shingleOverlapOf(Tables.documents(s, dir).select(col("lang"), col("text")), "lang")
      .withColumnsRenamed(Map("group_a" -> "lang_a", "group_b" -> "lang_b"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  /** Statistical-fluency score — the integer-portable stand-in for an
    * n-gram LM perplexity filter: each doc scored by the MEAN QUANTIZED
    * RARITY (N div df) of its adjacent bigrams. Text whose bigrams
    * rarely occur elsewhere in the corpus (garbled, boilerplate-free
    * noise, wrong-language fragments) scores high, formulaic text low —
    * the same signal a KenLM gate thresholds, minus the log-space
    * arithmetic that is not bit-portable across engines (q121's
    * quantized-idf recipe applied at bigram grain).
    *
    * Scale: (doc, bigram-hash) rows with map-side combine at hash grain
    * for the df table; the rarity join is hash-keyed equi (NOT broadcast
    * — bigram vocabulary scales with the corpus); the corpus count rides
    * a 1-row broadcast cross join. */
  val q152BigramRarity: Q = Q.sql(
    "q152_bigram_rarity",
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bi AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
      |    CAST(concat('0x', substr(md5(concat(w[i], ' ', w[i+1])), 1, 15)) AS BIGINT))) AS h
      |  FROM d WHERE len(w) >= 2),
      |df AS (SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM bi GROUP BY h),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(n.n // df.df) // COUNT(*) AS BIGINT) AS rarity_q
      |FROM bi b JOIN df USING (h) CROSS JOIN n
      |GROUP BY b.doc_id
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // ONE corpus pass: collapse to (h, doc_id) pair grain first, so the
    // df table (count of pairs per h ≡ countDistinct(doc_id)) derives
    // from the pair aggregate's own exchange — ReuseExchange serves the
    // join side from it instead of a second scan+explode. coalesce keeps
    // h non-nullable so the join pushes no isnotnull into one branch.
    val bi = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(Dedup.wordWindows(col("w"), 2)).as("bg"))
      .select(col("doc_id"), coalesce(Hashes.hexLong(col("bg")), lit(0L)).as("h"))
    val pairs = bi.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("occ"))
    // count(occ >= 1) ≡ count(*) (occ is a group count) but REFERENCES
    // occ, keeping this branch's partial aggregate identical to the join
    // branch's so the pairs exchange is reused (the q161 v trick)
    val df = pairs.groupBy(col("h")).agg(count(when(col("occ") >= 1, 1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    pairs.join(df, "h")
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_bigrams"), sum(col("occ") * expr("n DIV df")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("s DIV n_bigrams").as("rarity_q"))
      .orderBy(col("doc_id"))
  }

  /** Cohen's kappa between the langid prediction (q31) and the ground
    * truth — chance-corrected agreement, the metric that exposes
    * majority-class gaming where raw accuracy doesn't. ALL-INTEGER
    * core: κ = (N·Σdiag − Σ row_l·col_l) / (N² − Σ row_l·col_l), both
    * sides exact int64, reported in micro-units via integer DIV (exact
    * while N ≲ 3·10⁹; swap to DECIMAL beyond). The whole computation
    * runs on the |langs|²-row confusion table — corpus-scale work is
    * q31's one aggregation. */
  val q156LangidKappa: Q = Q.sql(
    "q156_langid_kappa",
    s"""WITH c AS (
       |  ${oracleLangConfusion.replace("\n", "\n  ")}),
       |m AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |        CAST(SUM(CASE WHEN lang = pred THEN n ELSE 0 END) AS BIGINT) AS diag
       |      FROM c),
       |rm AS (SELECT lang AS k, CAST(SUM(n) AS BIGINT) AS rn FROM c GROUP BY lang),
       |cm AS (SELECT pred AS k, CAST(SUM(n) AS BIGINT) AS cn FROM c GROUP BY pred),
       |e AS (SELECT CAST(SUM(rm.rn * cm.cn) AS BIGINT) AS chance
       |      FROM rm JOIN cm ON rm.k = cm.k)
       |SELECT m.nn AS n_docs, m.diag AS n_agree,
       |  CAST(((m.nn * m.diag - e.chance) * 1000000) // (m.nn * m.nn - e.chance)
       |    AS BIGINT) AS kappa_micro
       |FROM m CROSS JOIN e
       |ORDER BY n_docs""".stripMargin
  ) { (s, dir) =>
    val c = langConfusion(s, dir)
    val m = c.agg(
      sum(col("n")).as("nn"),
      sum(when(col("lang") === col("pred"), col("n")).otherwise(0L)).as("diag"))
    val rm = c.groupBy(col("lang").as("k")).agg(sum(col("n")).as("rn"))
    val cm = c.groupBy(col("pred").as("k")).agg(sum(col("n")).as("cn"))
    val e = rm.join(cm, "k").agg(sum(col("rn") * col("cn")).as("chance"))
    m.crossJoin(broadcast(e))
      .select(col("nn").as("n_docs"), col("diag").as("n_agree"),
        expr("((nn * diag - chance) * 1000000) DIV (nn * nn - chance)").as("kappa_micro"))
      .orderBy(col("n_docs")) // single row; total-sort contract
  }

  /** Gopher/MassiveText-style per-document repetition signals — the
    * standard corpus-repetition filter family, complementing
    * [[statsOf]]'s length/stopword battery and the corpus-grain passage
    * index (q128): dup2_frac / dup10_frac = the fraction of 2-gram /
    * 10-gram positions repeating an earlier in-document occurrence,
    * top2_share = the most frequent 2-gram's share of all 2-gram
    * positions. High values mark boilerplate loops and degenerate
    * machine text. Docs under 10 tokens carry no 10-gram signal and are
    * excluded.
    *
    * Determinism: all three signals divide exact integer counts and
    * round to 6 dp — partition- and engine-independent.
    *
    * Scale: fully ROW-LOCAL — n-gram arrays, distinct counts, and one
    * sorted-run fold per row; zero shuffle, the corpus streams through
    * map tasks (contrast q128, which must aggregate at corpus hash
    * grain to see CROSS-doc repetition). */
  private[graft] def repetitionSignalsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // longest equal run in the sorted 2-gram array == max 2-gram count;
    // an aggregate() fold beats a per-doc explode+count+max round trip
    // (no shuffle), and the null-safe <=> seeds the first run correctly
    val topRun =
      """aggregate(array_sort(g2),
        |  named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
        |  (s, x) -> named_struct(
        |    'prev', x,
        |    'run',  if(x <=> s.prev, s.run + 1L, 1L),
        |    'best', greatest(s.best, if(x <=> s.prev, s.run + 1L, 1L))),
        |  s -> s.best)""".stripMargin
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 10)
      .withColumn("g2", Dedup.wordWindows(col("w"), 2))
      .withColumn("g10", Dedup.wordWindows(col("w"), 10))
      // 6-dp rounding as exact int64 half-up — (2e6·a + b) DIV (2b) —
      // not round() of a double quotient: a ratio landing exactly on a
      // 6th-decimal half rounds differently through the two engines'
      // round() (the q161 sf0.1 lesson); the integer form is
      // bit-identical by construction
      .select(col("doc_id"),
        (expr("(2000000 * (size(g2) - size(array_distinct(g2))) + size(g2)) DIV (2 * size(g2))")
          / 1e6).as("dup2_frac"),
        (expr("(2000000 * (size(g10) - size(array_distinct(g10))) + size(g10)) DIV (2 * size(g10))")
          / 1e6).as("dup10_frac"),
        (expr(s"(2000000 * ($topRun) + size(g2)) DIV (2 * size(g2))") / 1e6)
          .as("top2_share"))
  }

  val q157Repetition: Q = Q.sql(
    "q157_repetition",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))] AS g2,
      |    [array_to_string(w[i:i+9], ' ') FOR i IN range(1, len(w) - 8)] AS g10
      |  FROM t WHERE len(w) >= 10),
      |c AS (SELECT doc_id, unnest(g2) AS gram FROM g),
      |top2 AS (
      |  SELECT doc_id, MAX(n) AS topn FROM (
      |    SELECT doc_id, gram, COUNT(*) AS n FROM c GROUP BY 1, 2)
      |  GROUP BY doc_id)
      |SELECT g.doc_id,
      |  CAST((2000000 * (len(g2) - len(list_distinct(g2))) + len(g2)) // (2 * len(g2)) AS BIGINT) / 1e6 AS dup2_frac,
      |  CAST((2000000 * (len(g10) - len(list_distinct(g10))) + len(g10)) // (2 * len(g10)) AS BIGINT) / 1e6 AS dup10_frac,
      |  CAST((2000000 * t2.topn + len(g2)) // (2 * len(g2)) AS BIGINT) / 1e6 AS top2_share
      |FROM g JOIN top2 t2 USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    repetitionSignalsOf(Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** Word-position n-gram array for [[gopherRepetitionOf]] — staged as a
    * real column per n so each is evaluated ONCE per row (CollapseProject
    * declines to inline non-cheap expressions, and downstream lambdas
    * only index into the column instead of re-deriving it). */
  private def gramCol(n: Int): String =
    s"transform(sequence(0, size(w) - $n), i -> array_join(slice(w, i + 1, $n), ' '))"

  /** Gopher-style repetition rules (Rae et al. 2021, "Scaling Language
    * Models: ...Gopher", Table A1), CHAR-weighted — the complement of
    * [[repetitionSignalsOf]]'s count-weighted q157 signals:
    *
    *  - `top{2,3,4}_char_frac`: characters of ALL occurrences of the
    *    single most frequent n-gram / total word characters (the paper's
    *    "fraction of characters in the most common n-gram"; occurrences
    *    may overlap, so the product is capped at 1). The winning gram is
    *    deterministic: max count, ties to the lexicographically smallest
    *    (the run-length fold over the SORTED gram array only replaces the
    *    champion on a strictly longer run).
    *  - `dup{5..10}_char_frac`: characters covered by AT LEAST ONE
    *    occurrence of a duplicated n-gram / total word characters (the
    *    paper's "fraction of characters in duplicate n-grams", counting
    *    each covered character once — the union-of-spans semantics that
    *    makes this ≤ 1 by construction, matching the public Gopher-rule
    *    reimplementations which mask positions rather than sum counts).
    *
    * The corpus has no line/paragraph structure (word streams), so the
    * paper's duplicate-line/paragraph rows have no analog here — q109 /
    * q221 cover the corpus-level segment grain instead.
    *
    * ASCII-input assumption (the q216 canonicalText lesson): the
    * tie-break compares gram STRINGS, and Java (UTF-16 code units)
    * disagrees with DuckDB (UTF-8 bytes) on the relative order of
    * supplementary-plane characters vs U+E000..U+FFFF. On ASCII the
    * two orders coincide, and only the TIE-BREAK is exposed — the dup
    * fractions group equal grams and never depend on sort order. A
    * non-ASCII corpus should canonicalize first ([[graft.ops.Dedup]]'s
    * ASCII-first discipline) or accept engine-specific tie-breaks on
    * exact count ties.
    *
    * Scale (100 TB): the entire battery is ONE row-local projection —
    * no shuffle, no UDF, no state; it runs at scan speed and Catalyst
    * fuses it into the scan's WholeStageCodegen span. Per-row cost is
    * O(L·n log L) from the array_sorts (duplicate-value detection via
    * sorted adjacency, never the O(L²) all-pairs count), L = doc words.
    * Fractions are 6-dp exact-integer half-up (the q161/q157 tie
    * discipline), so results are partition- and engine-invariant. */
  private[graft] def gopherRepetitionOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    var cur = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 10)
      .withColumn("tot", expr("aggregate(w, 0L, (a, x) -> a + length(x))"))
    for (n <- 2 to 4)
      // fold over the sorted grams: longest equal run = max count; 'bg'
      // replaced only on a STRICTLY longer run → smallest gram wins ties
      cur = cur.withColumn(s"top$n", expr(
        s"""aggregate(array_sort(${gramCol(n)}),
           |  named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L,
           |               'bg', cast(null as string)),
           |  (s, x) -> named_struct(
           |    'prev', x,
           |    'run',  if(x <=> s.prev, s.run + 1L, 1L),
           |    'best', greatest(s.best, if(x <=> s.prev, s.run + 1L, 1L)),
           |    'bg',   if(if(x <=> s.prev, s.run + 1L, 1L) > s.best, x, s.bg)),
           |  s -> named_struct('c', s.best, 'g', s.bg))""".stripMargin))
    for (n <- 5 to 10) {
      cur = cur
        .withColumn(s"g$n", expr(gramCol(n)))
        // duplicated gram VALUES via sorted adjacency (zip_with of the
        // sorted array against its own tail — no index arithmetic, safe
        // for single-gram docs where a sequence() would count down)
        .withColumn(s"dv$n", expr(
          s"""array_distinct(filter(zip_with(
             |  slice(array_sort(g$n), 1, size(g$n) - 1),
             |  slice(array_sort(g$n), 2, size(g$n) - 1),
             |  (a, b) -> if(a = b, a, cast(null as string))),
             |  x -> x is not null))""".stripMargin))
        // union of covered word positions, then their character mass
        .withColumn(s"dc$n", expr(
          s"""aggregate(array_distinct(flatten(transform(
             |  filter(sequence(0, size(g$n) - 1), j -> array_contains(dv$n, g$n[j])),
             |  j -> sequence(j, j + $n - 1)))),
             |  0L, (a, i) -> a + length(element_at(w, i + 1)))""".stripMargin))
    }
    cur.select(
      col("doc_id") +:
        (2 to 4).map(n => (least(lit(1000000L),
          expr(s"(2000000 * (top$n.c * (length(top$n.g) - ${n - 1})) + tot) DIV (2 * tot)"))
          / 1e6).as(s"top${n}_char_frac")) ++:
        (5 to 10).map(n => (expr(s"(2000000 * dc$n + tot) DIV (2 * tot)") / 1e6)
          .as(s"dup${n}_char_frac")): _*)
  }

  private def gopherOracle: String = {
    def gList(n: Int) =
      s"[array_to_string(w[i:i+${n - 1}], ' ') FOR i IN range(1, len(w) - ${n - 2})] AS g$n"
    val tops = (2 to 4).map { n =>
      s"""top$n AS (
         |  SELECT doc_id, c, gram FROM (
         |    SELECT doc_id, gram, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, gram) AS rn
         |    FROM (SELECT doc_id, unnest(g$n) AS gram FROM g) GROUP BY doc_id, gram)
         |  WHERE rn = 1)""".stripMargin
    }
    val dups = (5 to 10).map { n =>
      s"""p$n AS (SELECT doc_id, unnest(g$n) AS gram, unnest(range(0, len(g$n))) AS j FROM g),
         |d$n AS (SELECT doc_id, gram FROM p$n GROUP BY doc_id, gram HAVING COUNT(*) > 1),
         |c$n AS (SELECT DISTINCT p.doc_id, p.j + o.o AS pos
         |  FROM p$n p JOIN d$n d USING (doc_id, gram)
         |  CROSS JOIN generate_series(0, ${n - 1}) AS o(o)),
         |h$n AS (SELECT c.doc_id, SUM(len(b.w[c.pos + 1])) AS dc
         |  FROM c$n c JOIN b USING (doc_id) GROUP BY c.doc_id)""".stripMargin
    }
    val topSel = (2 to 4).map(n =>
      s"  LEAST(CAST((2000000 * (top$n.c * (len(top$n.gram) - ${n - 1})) + b.tot) // (2 * b.tot) AS BIGINT), 1000000) / 1e6 AS top${n}_char_frac")
    val dupSel = (5 to 10).map(n =>
      s"  CAST((2000000 * COALESCE(h$n.dc, 0) + b.tot) // (2 * b.tot) AS BIGINT) / 1e6 AS dup${n}_char_frac")
    s"""WITH b AS (
       |  SELECT doc_id, w, list_aggregate(list_transform(w, x -> len(x)), 'sum') AS tot
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= 10),
       |g AS (
       |  SELECT doc_id, ${(2 to 10).map(gList).mkString(",\n    ")}
       |  FROM b),
       |${(tops ++ dups).mkString(",\n")}
       |SELECT b.doc_id,
       |${(topSel ++ dupSel).mkString(",\n")}
       |FROM b JOIN top2 USING (doc_id) JOIN top3 USING (doc_id) JOIN top4 USING (doc_id)
       |  ${(5 to 10).map(n => s"LEFT JOIN h$n USING (doc_id)").mkString(" ")}
       |ORDER BY doc_id""".stripMargin
  }

  /** q220: the full Gopher char-weighted repetition battery — the oracle
    * replays gram construction, tie-breaking, and the covered-position
    * union relationally (positions × duplicated grams × offset series),
    * so the compare gates the union semantics, not just the counts. */
  val q220GopherRepetition: Q = Q.sql("q220_gopher_repetition", gopherOracle) {
    (s, dir) => gopherRepetitionOf(Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-`vocabSize` tokens — the tokenizer-prep question ("how much of
    * the corpus does a K-entry vocab cover, and which docs are OOV
    * outliers?"). Vocabulary rank ties break by token string, so the
    * vocab — and every rate — is a deterministic function of the corpus.
    *
    * Scale: the vocab is one map-side-combined token aggregate (shuffle
    * ∝ distinct tokens) topped by TakeOrderedAndProject (K rows), then
    * BROADCAST; the per-doc pass is one partial-aggregated groupBy on
    * doc_id. The corpus token stream itself never joins corpus-sized
    * state. */
  private[graft] def oovRateOf(docs: org.apache.spark.sql.DataFrame,
                               vocabSize: Int): org.apache.spark.sql.DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(vocabSize)
      .select(col("t"), lit(1).as("__graft_in_vocab"))
    tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__graft_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        // exact int64 half-up (the q161 6-dp-tie discipline)
        (expr("(2000000 * n_oov + n_tokens) DIV (2 * n_tokens)") / 1e6)
          .as("oov_rate"))
  }

  val q159OovRate: Q = Q.sql(
    "q159_oov_rate",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |vocab AS (
      |  SELECT t FROM (SELECT t, COUNT(*) AS n FROM tok GROUP BY 1)
      |  ORDER BY n DESC, t LIMIT 20),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    CAST(SUM(CASE WHEN t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
      |  FROM tok GROUP BY 1)
      |SELECT doc_id, n_tokens, n_oov,
      |  CAST((2000000 * n_oov + n_tokens) // (2 * n_tokens) AS BIGINT) / 1e6 AS oov_rate
      |FROM agg ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    oovRateOf(Tables.documents(s, dir), 20).orderBy(col("doc_id"))
  }

  /** Per-source n-gram diversity — the diversity-collapse diagnostic
    * (template-generated or spam sources repeat the same trigram
    * skeletons, so their trigram type-token ratio craters while unigram
    * TTR looks normal; the Self-BLEU intuition at corpus grain without
    * the quadratic doc-doc comparison). Reports unigram and trigram
    * type/token counts and TTRs per source.
    *
    * Scale: both grains aggregate at (source, gram) — vocabulary-grain
    * hash keys (the q152 discipline: vocabulary scales with the corpus,
    * so nothing broadcasts) — then collapse to |sources| rows. Exact
    * distinct counts via the two-level aggregate, never
    * countDistinct-over-everything in one step with giant hash sets. */
  val q165NgramDiversity: Q = Q.sql(
    "q165_ngram_diversity",
    """WITH tok AS (SELECT source, string_split(text, ' ') AS w FROM documents),
      |u AS (SELECT source, t, COUNT(*) AS c FROM (SELECT source, unnest(w) AS t FROM tok) GROUP BY 1, 2),
      |us AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_types FROM u GROUP BY 1),
      |tg AS (SELECT source, w[k+1] || ' ' || w[k+2] || ' ' || w[k+3] AS t, COUNT(*) AS c
      |       FROM (SELECT source, w, unnest(range(0, len(w) - 2)) AS k FROM tok) GROUP BY 1, 2),
      |ts AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_trigrams, CAST(COUNT(*) AS BIGINT) AS n_tri_types FROM tg GROUP BY 1)
      |SELECT us.source, n_tokens, n_types,
      |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr_uni,
      |  coalesce(n_trigrams, 0) AS n_trigrams, coalesce(n_tri_types, 0) AS n_tri_types,
      |  round(CAST(n_tri_types AS DOUBLE) / n_trigrams, 6) AS ttr_tri
      |FROM us LEFT JOIN ts ON ts.source = us.source ORDER BY us.source""".stripMargin
  ) { (s, dir) =>
    ngramDiversityOf(Tables.documents(s, dir), col("source")).orderBy(col("source"))
  }

  /** Generic form: per-`group` unigram/trigram type-token ratios over
    * whitespace tokens of `text`. Groups whose docs are all shorter
    * than three tokens get n_trigrams = 0 and a NULL ttr_tri. */
  private[graft] def ngramDiversityOf(docs: DataFrame, group: Column): DataFrame = {
    val tok = docs.select(group.as("source"), split(col("text"), " ").as("w"))
    val us = tok.select(col("source"), explode(col("w")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
    val ts = tok.where(size(col("w")) >= 3)
      .select(col("source"),
        slice(col("w"), lit(1), size(col("w")) - 2).as("a"),
        slice(col("w"), lit(2), size(col("w")) - 2).as("b"),
        slice(col("w"), lit(3), size(col("w")) - 2).as("c"))
      .select(col("source"), explode(arrays_zip(col("a"), col("b"), col("c"))).as("g"))
      .select(col("source"),
        concat_ws(" ", col("g.a"), col("g.b"), col("g.c")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_trigrams"), count(lit(1)).as("n_tri_types"))
    us.join(ts, Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr_uni"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_tri_types"), lit(0L)).as("n_tri_types"),
        round(col("n_tri_types").cast("double") / col("n_trigrams"), 6).as("ttr_tri"))
  }

  /** Intra-doc code-switch detection — the multilingual-curation filter
    * q31 can't express: q31 assigns each doc ONE language; this scores
    * how concentrated a doc's language-marker tokens are (top-language
    * share of all marker hits) and flags docs whose dominant language
    * holds under 80% of the evidence — the docs a per-language corpus
    * split should drop or segment. Same marker lists as q31.
    *
    * Scale: the marker table is a ≤|markers|-row broadcast; marker hits
    * aggregate at (doc, lang) grain with map-side combine, and both the
    * per-doc total and the top-language pick are derived from that ONE
    * aggregate (its exchange is reused — the q164 discipline). The
    * 80% test and the share are exact integer arithmetic (5·top < 4·T;
    * int64 half-up 6-dp — the q161 tie discipline). */
  val q169CodeSwitch: Q = Q.sql(
    "q169_code_switch",
    s"""WITH m(lang, t) AS (VALUES ${LangMarkers.flatMap { case (l, ms) =>
          ms.map(t => s"('$l', '$t')") }.mkString(", ")}),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |hits AS (SELECT doc_id, m.lang, COUNT(*) AS c FROM tok JOIN m ON m.t = tok.t GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_hits FROM hits GROUP BY 1),
       |top AS (SELECT doc_id, lang AS top_lang, c,
       |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, lang) AS rk FROM hits)
       |SELECT d.doc_id, coalesce(tot.n_hits, 0) AS n_hits, top.top_lang,
       |  CAST((2000000 * top.c + tot.n_hits) // (2 * tot.n_hits) AS BIGINT) / 1e6 AS top_share,
       |  coalesce(5 * top.c < 4 * tot.n_hits, FALSE) AS mixed
       |FROM documents d
       |LEFT JOIN tot ON tot.doc_id = d.doc_id
       |LEFT JOIN (SELECT * FROM top WHERE rk = 1) top ON top.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, dir) =>
    codeSwitchOf(s, Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** Generic form over (doc_id, text): (doc_id, n_hits, top_lang,
    * top_share, mixed); docs with zero marker hits get (0, null, null,
    * false). */
  private[graft] def codeSwitchOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val markers = broadcast(
      LangMarkers.flatMap { case (l, ms) => ms.map(t => (l, t)) }.toDF("lang", "t"))
    val ids = docs.select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"))
    val hits = docs
      .select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        explode(split(col("text"), " ")).as("t0"))
      .select(col("doc_id"), coalesce(col("t0"), lit("")).as("t"))
      .join(markers, "t")
      .groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("c"))
    // both consumers reference c so their partials match and the hits
    // exchange is reused (the q164 discipline)
    val tot = hits.groupBy(col("doc_id")).agg(sum(col("c")).as("n_hits"))
    val rkW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("c").desc, col("lang"))
    val top = hits.withColumn("rk", row_number().over(rkW)).filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("top_lang"), col("c"))
    ids.join(tot, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("top_lang"),
        (expr("(2000000 * c + n_hits) DIV (2 * n_hits)") / 1e6).as("top_share"),
        coalesce(lit(5) * col("c") < lit(4) * col("n_hits"), lit(false)).as("mixed"))
  }

  val all: Seq[Q] = Seq(q30TextStats, q31Langid, q32TokenCount, q76DistinctiveTerms,
    q82Collocations, q85DocChunks, q120BoolSearch, q121RankedSearch, q129Bm25,
    q142LangOverlap, q152BigramRarity, q156LangidKappa, q157Repetition, q159OovRate,
    q165NgramDiversity, q169CodeSwitch, q220GopherRepetition)
}
