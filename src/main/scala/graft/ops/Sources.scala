package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.{Q, Tables}

/** Non-parquet sources (SURVEY §2.1): multiline-JSON and CSV readers —
  * the only two formats the reference actually ingests (MLP.ipynb:34
  * `multiline=true` JSON; model.py:39 / category_model.ipynb:30 CSV with
  * quoted fields). The driver's testdata is parquet-only, so each query
  * materializes a fixture in the repo build dir (target/fixtures) from
  * the documents table, reads it back through the format under test with
  * an EXPLICIT schema, and aggregates; the DuckDB oracle computes the
  * same aggregate straight off the parquet — any reader defect
  * (quoting, escaping, header, multiline array parsing, type coercion)
  * breaks the hash match.
  *
  * Scale notes: the CSV fixture is written by a normal distributed
  * `df.write.csv` and read by Spark's splittable CSV scan. The JSON
  * fixture must be a single array-of-objects document (that is what
  * `multiline=true` means — MLP.ipynb's test.json shape), which is
  * inherently non-splittable: one file = one task, the documented cost
  * of that format at scale (prefer JSON Lines for bulk data). Fixture
  * generation collects one small table on the driver — test scaffolding
  * only, NOT an engine pattern.
  */
object Sources {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private[graft] def fixtureRoot(dir: String): String =
    s"/root/repo/target/fixtures/${Paths.get(dir).getFileName}"

  /** Shared oracle: per-language counts + exact char sum + a quote-
    * sensitive concat check (the text field roundtrips verbatim). */
  private val oracleAgg =
    """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(md5(text)) AS min_text_hash
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  private def agg(df: DataFrame): DataFrame =
    df.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        min(md5(col("text"))).as("min_text_hash"))
      .orderBy(col("lang"))

  /** CSV roundtrip: header + quote/escape options exercised with a text
    * field (commas impossible in the corpus, so quoting is additionally
    * forced via quoteAll). */
  val q53CsvScan: Q = Q.sql("q53_csv_scan", oracleAgg) { (s, dir) =>
    val path = s"${fixtureRoot(dir)}/documents_csv"
    // Always rewrite: a Files.exists early-exit would serve a stale fixture
    // the first time the testdata generator changes across rounds, turning a
    // data refresh into a false oracle failure. 500 rows at sf0.01 — cheap.
    Tables.documents(s, dir).write
      .option("header", "true").option("quoteAll", "true")
      .option("quote", "\"").option("escape", "\"")
      .mode("overwrite").csv(path)
    agg(s.read
      .schema(docSchema)
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      .csv(path))
  }

  /** Multiline JSON roundtrip: a single array-of-objects file, read with
    * multiline=true + explicit schema (MLP.ipynb:34 parity — the
    * reference relies on inference; we pin the schema per SURVEY §1.3). */
  val q54JsonMultiline: Q = Q.sql("q54_json_multiline", oracleAgg) { (s, dir) =>
    val path = s"${fixtureRoot(dir)}/documents_json/docs.json"
    // Always rewrite — same staleness rationale as the CSV fixture above.
    Files.createDirectories(Paths.get(path).getParent)
    val rows = Tables.documents(s, dir).orderBy(col("doc_id"))
      .toJSON.collect() // fixture scaffolding: one small table, driver-side
    Files.writeString(Paths.get(path), rows.mkString("[\n", ",\n", "\n]"))
    agg(s.read
      .schema(docSchema)
      .option("multiline", "true")
      .json(path))
  }

  /** Corrupt-record-tolerant ingestion: a JSON Lines fixture with two
    * planted malformed lines, read in PERMISSIVE mode with an explicit
    * `_corrupt` column — the raw-crawl reality at 100 TB, where a bad
    * record must land in an audit bucket instead of killing the job (or
    * silently vanishing, the DROPMALFORMED trap). Good rows aggregate
    * exactly as the parquet truth; corrupt rows surface as a sentinel
    * group whose size the oracle pins, so BOTH failure modes — dropping
    * bad rows and corrupting good ones — break the hash. JSON Lines
    * (unlike q54's multiline array) stays splittable, so the permissive
    * scan parallelizes like any text source. */
  val q126CorruptScan: Q = Q.sql(
    "q126_corrupt_scan",
    """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang
      |UNION ALL
      |SELECT '__corrupt', 2, 0
      |ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    val path = s"${fixtureRoot(dir)}/documents_jsonl/docs.jsonl"
    // Always rewrite — same staleness rationale as the CSV fixture above.
    Files.createDirectories(Paths.get(path).getParent)
    val rows = Tables.documents(s, dir).orderBy(col("doc_id"))
      .toJSON.collect() // fixture scaffolding: one small table, driver-side
    val planted = Seq("""{"doc_id": 999999, "text": "truncated""", "not json at all")
    Files.writeString(Paths.get(path), (rows ++ planted).mkString("\n"))
    val withCorrupt = StructType(docSchema.fields :+
      StructField("_corrupt", StringType))
    s.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .withColumn("lang",
        when(col("_corrupt").isNotNull, lit("__corrupt")).otherwise(col("lang")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Schema evolution: two parquet batches written under one dataset
    * root — an old batch WITHOUT the `source` column and a new batch
    * with it — read back through `mergeSchema`, old rows surfacing NULL
    * for the added column. The additive-column migration every
    * long-lived warehouse dataset goes through; the oracle replays the
    * NULL-for-old-rows rule directly against the source table, so a
    * reader that dropped old rows, misaligned columns, or defaulted the
    * NULLs would all hash-fail.
    *
    * Scale: mergeSchema unions footers at planning time; the scan
    * itself stays columnar/splittable and column pruning still reaches
    * both batches (the absent column reads as constant NULL). */
  val q147SchemaMerge: Q = Q.sql(
    "q147_schema_merge",
    """SELECT CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END AS source,
      |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1
      |ORDER BY source NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    val root = s"${fixtureRoot(dir)}/documents_evolved"
    val base = Tables.documents(s, dir)
    // Always rewrite — same staleness rationale as the CSV fixture above.
    base.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$root/v1")
    base.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      .write.mode("overwrite").parquet(s"$root/v2")
    s.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(q53CsvScan, q54JsonMultiline, q126CorruptScan, q147SchemaMerge)
}
