package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.{Q, Tables}

/** W2 text-prep operators (SURVEY.md §2.7, model.py:39-122): stringified
  * -list parsing with singleton fallback, custom stopword filtering, a
  * deterministic suffix lemmatizer, prompt/template formatting, numbered
  * reformatting via the indexed transform lambda, substring membership
  * and default-if-empty. All pure column expressions (the reference's
  * pandas `.apply` row loops rewritten native per SURVEY §2.8) —
  * row-local, no shuffle before the output order, scan-speed at 100 TB.
  */
object Text {

  /** Custom stopword set (reference shape: english ∪ custom,
    * model.py:51-54) over the corpus vocabulary. */
  val Stopwords: Seq[String] = Seq("the", "a", "big", "small", "fast", "slow")

  /** Deterministic suffix-stripping lemmatizer (stand-in for the
    * reference's WordNet lemmatizer, model.py:50 — no Spark built-in;
    * SURVEY §7.3 calls for custom compute). Ordered rules:
    *   ies→y (len>4) · sses→ss · s→∅ (len>3, not -ss) · ing→∅ (len>5) ·
    *   ed→∅ (len>4).
    * The CASE text is shared verbatim by the Spark side (selectExpr) and
    * the DuckDB oracle so the rule chain cannot drift between engines
    * (endswith/ends_with differ in name only). */
  private def lemmaSql(v: String, endsWith: String): String =
    s"""CASE
       | WHEN $endsWith($v, 'ies') AND length($v) > 4 THEN substring($v, 1, length($v)-3) || 'y'
       | WHEN $endsWith($v, 'sses') THEN substring($v, 1, length($v)-2)
       | WHEN $endsWith($v, 's') AND NOT $endsWith($v, 'ss') AND length($v) > 3 THEN substring($v, 1, length($v)-1)
       | WHEN $endsWith($v, 'ing') AND length($v) > 5 THEN substring($v, 1, length($v)-3)
       | WHEN $endsWith($v, 'ed') AND length($v) > 4 THEN substring($v, 1, length($v)-2)
       | ELSE $v END""".stripMargin.replace("\n", " ")

  /** Stringified-list parse with singleton fallback (model.py:56-68:
    * ast.literal_eval, except ValueError → [raw]). Every 10th document
    * gets a deliberately malformed payload, so both branches are
    * exercised and oracle-checked: from_json returns NULL on malformed
    * input and coalesce falls back to the singleton array. */
  val q44FromJson: Q = Q.sql(
    "q44_from_json",
    """SELECT doc_id, n_items, first_item FROM (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0 THEN 1 ELSE least(len(w), 3) END AS n_items,
      |    CASE WHEN doc_id % 10 = 0 THEN 'not a list' ELSE w[1] END AS first_item
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val jsonArr = concat(
      lit("[\""),
      array_join(slice(split(col("text"), " "), 1, 3), "\",\""),
      lit("\"]"))
    val payload = when(col("doc_id") % 10 === 0, lit("not a list")).otherwise(jsonArr)
    Tables.documents(s, dir)
      .select(col("doc_id"), payload.as("payload"))
      .withColumn("parsed", from_json(col("payload"), ArrayType(StringType)))
      .withColumn("items", coalesce(col("parsed"), array(col("payload"))))
      .select(
        col("doc_id"),
        size(col("items")).as("n_items"),
        element_at(col("items"), 1).as("first_item"))
      .orderBy(col("doc_id"))
  }

  /** Custom stopword filtering (model.py:51-54,72) via the higher-order
    * filter — plus default-if-empty (model.py:72 `or "unknown"`). */
  val q45StopwordFilter: Q = Q.sql(
    "q45_stopword_filter",
    s"""SELECT doc_id, n_before, n_after,
       |  CASE WHEN n_after = 0 THEN 'unknown' ELSE kept[1] END AS first_kept
       |FROM (
       |  SELECT doc_id, len(w) AS n_before, len(kept) AS n_after, kept
       |  FROM (
       |    SELECT doc_id, w,
       |      list_filter(w, t -> NOT list_contains(${Stopwords.map("'" + _ + "'").mkString("[", ", ", "]")}, t)) AS kept
       |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)))
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .withColumn("kept",
        filter(col("w"), t => !array_contains(lit(Stopwords.toArray), t)))
      .select(
        col("doc_id"),
        size(col("w")).as("n_before"),
        size(col("kept")).as("n_after"),
        when(size(col("kept")) === 0, "unknown")
          .otherwise(element_at(col("kept"), 1)).as("first_kept"))
      .orderBy(col("doc_id"))
  }

  /** Suffix lemmatizer over constructed inflections: each part's first
    * name word spawns word/word+s/word+ing/word+ed, all lemmatized —
    * both rule-fires and rule-skips (length guards) are exercised. The
    * CASE chain text is SHARED with the oracle ([[lemmaSql]]). */
  val q46Lemmatize: Q = Q.sql(
    "q46_lemmatize",
    s"""SELECT p_partkey,
       |  array_to_string(list_transform(forms, t -> ${lemmaSql("t", "ends_with")}), ',') AS lemmas,
       |  len(list_filter(forms, t -> ${lemmaSql("t", "ends_with")} <> t)) AS n_changed
       |FROM (
       |  SELECT p_partkey, [w, w || 's', w || 'ing', w || 'ed'] AS forms
       |  FROM (SELECT p_partkey, string_split(lower(p_name), ' ')[1] AS w FROM part))
       |ORDER BY p_partkey""".stripMargin
  ) { (s, dir) =>
    Tables.part(s, dir)
      .selectExpr("p_partkey", "split(lower(p_name), ' ')[0] AS w")
      .selectExpr("p_partkey", "array(w, w || 's', w || 'ing', w || 'ed') AS forms")
      .selectExpr(
        "p_partkey",
        s"array_join(transform(forms, t -> ${lemmaSql("t", "endswith")}), ',') AS lemmas",
        s"size(filter(forms, t -> ${lemmaSql("t", "endswith")} <> t)) AS n_changed")
      .orderBy(col("p_partkey"))
  }

  /** Prompt + multi-field template formatting (model.py:76-77) with the
    * numbered-reformat indexed lambda (model.py:66 → SURVEY §2.7 row 48:
    * transform((x,i) -> ...) — note DuckDB's lambda index is 1-based
    * where Spark's is 0-based) and substring membership (model.py:228). */
  val q47PromptFormat: Q = Q.sql(
    "q47_prompt_format",
    """SELECT p_partkey,
      |  printf('Generate a structured recipe for: %s', p_name) AS prompt,
      |  'Title: ' || p_name || chr(10) || 'Brand: ' || p_brand || chr(10) || 'Type: ' || p_type AS card,
      |  array_to_string(list_transform(string_split(p_name, ' '), (x, i) -> i || '. ' || x), chr(10)) AS numbered,
      |  contains(p_name, 'red') AS mentions_red
      |FROM part
      |ORDER BY p_partkey""".stripMargin
  ) { (s, dir) =>
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        format_string("Generate a structured recipe for: %s", col("p_name")).as("prompt"),
        concat(lit("Title: "), col("p_name"), lit("\nBrand: "), col("p_brand"),
          lit("\nType: "), col("p_type")).as("card"),
        array_join(
          transform(split(col("p_name"), " "),
            (x, i) => concat((i + 1).cast("string"), lit(". "), x)),
          "\n").as("numbered"),
        col("p_name").contains("red").as("mentions_red"))
      .orderBy(col("p_partkey"))
  }

  val all: Seq[Q] = Seq(q44FromJson, q45StopwordFilter, q46Lemmatize, q47PromptFormat)
}
