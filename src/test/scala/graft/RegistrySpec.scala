package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Registry-wide invariants — the contracts every entry must honor for
  * the driver's hash-compared gate to stay meaningful:
  *  - names are unique (a duplicate silently shadows in the Map views);
  *  - every oracle-paired query's plan ends in a GLOBAL sort (the
  *    determinism contract: without a total output order, a
  *    partition-count change reorders rows and flips the hash).
  * Heavy entries (inBench=false: iterative ML fits at plan-build time)
  * are exercised by Verify and their own suites instead. */
class RegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    val dup = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dup.isEmpty, s"duplicate query names: $dup")
    assert(names.size == SparkEntry.queries.size)
  }

  test("README facade table lists every public Graft method; its query names are registered") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    val section = readme.split("## Facade: `graft\\.Graft`") match {
      case Array(_, rest) => rest.split("\n## ")(0)
      case _ => fail("README.md must contain the '## Facade: `graft.Graft`' section")
    }
    val rows = section.linesIterator.filter(_.startsWith("| `")).toSeq
    val listed = rows.map(_.split("`")(1)).toSet
    // reflection over the facade object: public defs only (default-arg
    // and other compiler-synthesized members carry '$' in the name)
    val methods = Graft.getClass.getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName).filterNot(_.contains("$")).toSet
    assert(methods == listed,
      s"facade/table drift — undocumented: ${methods -- listed}; stale rows: ${listed -- methods}")
    val registered = SparkEntry.registry.map(_.name).toSet
    val qnames = rows.flatMap(r => "q\\d+[a-z0-9_]+".r.findAllIn(r)).distinct
    assert(qnames.nonEmpty && qnames.forall(registered),
      s"table references unregistered queries: ${qnames.filterNot(registered)}")
  }

  test("no scaladoc is stacked on another: a `*/` line is never followed by a `/**` line") {
    // scaladoc keeps only the last of two stacked blocks, so the first
    // documents nothing and its definition goes undocumented
    val files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    }
    val stacked = files.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
      lines.indices.drop(1).collect {
        case i if lines(i - 1).trim.endsWith("*/") && lines(i).trim.startsWith("/**") => s"$p:${i + 1}"
      }
    }
    assert(files.nonEmpty)
    assert(stacked.isEmpty, s"${stacked.size} stacked scaladoc blocks")
  }

  test("text is cut into n-word windows only by Dedup.wordWindows") {
    // the window is the format dedup, decontamination, stored indexes
    // and the DuckDB oracles must agree on: a second Spark-side spelling
    // agrees with it only by convention
    val spelling = """get\((col\("w"\)|w), |concat_ws\(' ', w\[i\]|array_join\(slice\(w, i""".r
    // (file, trimmed line) → why that spelling stays
    val allowed = Map(
      ("TextAnalysis.scala",
        """s"transform(sequence(0, size(w) - $n), i -> array_join(slice(w, i + 1, $n), ' '))"""") ->
        "gopher's gramCol is interpolated into SQL-string folds that PlanSpec pins to one scan")
    val files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    }
    val hits = files.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
      val name = p.getFileName.toString
      // the helper's own body: its `def` line to the first closing brace
      // at the def's indentation
      val d = if (name == "Dedup.scala") lines.indexWhere(_.contains("def wordWindows(")) else -1
      val helper = if (d < 0) Range(0, 0) else d to lines.indexWhere(_ == "  }", d)
      lines.indices.collect {
        case i if spelling.findFirstIn(lines(i)).nonEmpty && !helper.contains(i) &&
          !allowed.contains((name, lines(i).trim)) => s"$p:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(files.nonEmpty)
    assert(hits.isEmpty, s"${hits.size} window spellings outside Dedup.wordWindows:\n${hits.mkString("\n")}")
  }

  test("README scale-knob table matches Knobs; every knob is a real named facade parameter") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    // every table row of the section, so a stale row or one after the
    // generated table fails too
    val section = readme.split("\n## ").find(_.startsWith("Scale knobs\n"))
      .getOrElse(fail("README has no '## Scale knobs' section"))
    val rows = section.linesIterator.filter(_.startsWith("|")).toSeq
    assert(rows == Knobs.markdown.linesIterator.toSeq,
      "README '## Scale knobs' table drifted from graft.Knobs.markdown — regenerate it")
    // COMPILE-TIME exposure proof: each knob passed by NAME. The defs
    // are never invoked (several trigger eager ML fits / loops); losing
    // a knob parameter fails compilation, which is the point.
    import org.apache.spark.sql.functions.col
    def compileTimeKnobCheck(docs: org.apache.spark.sql.DataFrame,
                             vecs: org.apache.spark.sql.DataFrame): Unit = {
      Graft.jaccardNearDupPairs(docs, maxShingleDf = 2L)
      Graft.jaccardSweep(docs, maxShingleDf = 2L)
      Graft.lshRecall(docs, maxShingleDf = 2L)
      Graft.containmentPairs(docs, maxShingleDf = 2L)
      Graft.dupSpans(docs, maxPassageDf = 2L)
      Graft.basketLift(docs, col("b"), col("i"), maxBasketSize = 2)
      Graft.semDedup(vecs, maxClusterSize = 2)
      Graft.knnGraph(vecs, nPlanes = 4, maxBucketSize = 64)
      Graft.embedClusters(vecs, nPlanes = 4, maxBucketSize = 64)
      Graft.semanticDecontam(vecs, vecs, nPlanes = 4)
      Graft.topTerms(docs, k = 1, width = 4)
      Graft.windowedHeavyHitters(docs, width = 4)
      Graft.cmsFrequencies(docs, col("v"), docs, col("v"), width = 64)
      Graft.bpeMergesBatched(docs, 2, maxBatch = 2)
      Graft.bloomDecontaminate(docs, docs, bloomBits = 1024L, bloomHashes = 2)
      ()
    }
    assert(compileTimeKnobCheck _ != null) // defined ⇒ compiled ⇒ knobs exist
  }

  test("every oracle-paired query ends in a global total sort") {
    def topSortIsGlobal(p: LogicalPlan): Boolean = p match {
      case s: Sort => s.global
      case proj: Project => topSortIsGlobal(proj.child) // column pruning above the sort
      // sort-then-limit (TakeOrderedAndProject): ordered prefix, still total
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => topSortIsGlobal(l.child)
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => topSortIsGlobal(l.child)
      // a grouping-free aggregate emits exactly one row — trivially ordered
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a.groupingExpressions.isEmpty
      case _ => false
    }
    val offenders = SparkEntry.registry
      .filter(q => q.oracle.isDefined && q.inBench)
      .flatMap { q =>
        val plan = q.fn(spark, Sf0001).queryExecution.analyzed
        if (topSortIsGlobal(plan)) None else Some(q.name)
      }
    assert(offenders.isEmpty,
      s"oracle-paired queries without a global top-level ORDER BY: $offenders")
  }

  /** Queries where a BroadcastNestedLoopJoin is the DELIBERATE plan: a
    * constant-size broadcast side (probe set, 1-row total, 16 centroids,
    * md5-derived planes) joined under a non-equi or cross condition. Any
    * other appearance — or any CartesianProduct anywhere — is a
    * scale-killer that must fail this suite. */
  private val BnljAllowed = Set(
    "q27_ann_topk",            // bounded probe set × candidates, <> condition
    "q240_hybrid_rrf",         // bounded probe set × candidates (exact semantic leg) + 1-row corpus stats (BM25 leg)
    "q241_stored_bm25_refresh_serve", // 1-row corpus-stats cross join (the q236/q129 BNLJ, served from the refreshed artifact)
    "q60_ann_ivf",             // 16-row centroid table cross join
    "q82_collocations",        // 1-row corpus-size cross join
    "q84_mixture_report",      // 1-row totals cross join
    "q96_gapfill",             // dense-axis grid: hour sequence × 5-row type dim
    "q121_ranked_search",      // 1-row corpus-count cross join (IDF weight)
    "q125_rfm_features",       // 1-row corpus-max-ts cross join (recency)
    "q129_bm25",               // 1-row corpus-stats cross join (N, avgdl)
    "q132_temperature_mix",    // 1-row weight-total cross join
    "q134_abc_class",          // 1-row revenue-total cross join (share denominator)
    "q137_division",           // 1-row divisor-count cross join
    "q138_target_encode",      // 1-row global-prior cross join
    "q139_interpolate",        // dense-axis grid: hour sequence × 5-row type dim
    "q143_training_manifest",  // 1-row weight-total cross join (via temperature thresholds)
    "q144_market_basket",      // 1-row order-count cross join (lift denominator)
    "q148_ab_test",            // 1-row × 1-row group-moment join
    "q161_lm_quality",         // 1-row vocab-size cross join (Laplace V)
    "q164_dsir_select",        // 1-row top-N threshold cross join
    "q166_curriculum",         // 1-row corpus-count cross join (NTILE arithmetic)
    "q149_ks_drift",           // 1-row totals cross join (ECDF denominators)
    "q152_bigram_rarity",      // 1-row corpus-count cross join (rarity weight)
    "q153_hard_negatives",     // bounded probe set × candidates, <> label condition
    "q156_langid_kappa",       // 1-row × 1-row confusion-moment join
    "q181_pr_curve",           // 1-row positives-total cross join (recall denominator)
    "q184_bootstrap_ci",       // 1-row point-estimate × 1-row CI brackets cross joins
    "q185_chi2_assoc",         // 1-row totals cross join onto the cell frame
    "q187_phash_groups",       // dense-axis grid: doc ids × 65-row code-slot dim
    "q202_token_budget",       // 1-row budget/weight-total cross join
    "q209_ivf_refresh",        // 1-row sorted-centroid-array cross join (row-local argmin)
    "q219_ivf_search",         // k-row centroid cross joins (assign + probe top-2), q60's deliberate shape
    "q226_semdedup_frozen",    // 1-row sorted-centroid-array cross join (ivfAssign's row-local argmin)
    "q214_sketch_overlap",     // |sources|²-grain sketch-table self-join (< condition)
    "q215_cms_freq",           // 1-row CMS-state cross join (probes read cells row-local)
    "q230_pq_adc_frozen",      // 1-row codebook cross joins + bounded probe set × 8-byte codes, <> condition (q27's discipline over 32× less data)
    "q231_ivfpq_search",       // 1-row codebook / k-row centroid cross joins; the search itself is an equi-join on list_id
    "q242_stored_ann_serve",   // q231's stored-serve twin: same deliberate quantizer cross joins, codes from the artifact
    "q233_ivfpq_refresh",      // the same quantizer cross joins on both the stored-table and delta-encode sides
    "q236_batch_retrieval",    // 1-row corpus-stats cross join (q129's N/avgdl discipline, batched)
    "q237_mixture_plan")       // 1-row weight-total / sum_ok cross joins onto the |domains|-row plan

  test("no oracle-paired query can publish a value beyond int64 (gate-representation guard)") {
    // The driver's correctness gate hashes a TYPED representation of the
    // output; values representable only above signed-int64 (DuckDB
    // HUGEINT, Spark DECIMAL(p>18)) burn the hash even when every value
    // matches — it happened twice (r3 HUGEINT, r12 DECIMAL(38,0) q234/
    // q235). Make it structurally impossible: LongType cannot exceed
    // int64 by definition, and a DecimalType needs precision ≥ 19 to
    // hold 2^63 — so banning precision > 18 on the ENGINE side (nested
    // types included) is strictly stronger than any value-level sweep.
    // The ORACLE side is text: ban the two DuckDB spellings that
    // introduce >int64 output types (an un-CAST sum(BIGINT) promotes to
    // HUGEINT silently, which check_oracle.py's type norm also flags).
    def wideDecimals(dt: org.apache.spark.sql.types.DataType,
                     path: String): Seq[String] = dt match {
      case d: org.apache.spark.sql.types.DecimalType =>
        if (d.precision > 18) Seq(s"$path: $d") else Nil
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.flatMap(f => wideDecimals(f.dataType, s"$path.${f.name}")).toSeq
      case a: org.apache.spark.sql.types.ArrayType =>
        wideDecimals(a.elementType, s"$path[]")
      case m: org.apache.spark.sql.types.MapType =>
        wideDecimals(m.keyType, s"$path.key") ++ wideDecimals(m.valueType, s"$path.value")
      case _ => Nil
    }
    val offenders = SparkEntry.registry.filter(_.oracle.isDefined).flatMap { q =>
      val schemaHits = q.fn(spark, Sf0001).schema.fields
        .flatMap(f => wideDecimals(f.dataType, s"${q.name}/${f.name}"))
      val sql = q.oracle.get.toUpperCase
      val sqlHits =
        (if (sql.contains("HUGEINT")) Seq(s"${q.name}: oracle casts to HUGEINT") else Nil) ++
        (if (sql.replaceAll("\\s", "").contains("ASDECIMAL(38"))
          Seq(s"${q.name}: oracle outputs DECIMAL(38,..)") else Nil)
      schemaHits ++ sqlHits
    }
    assert(offenders.isEmpty,
      s"oracle-paired outputs that can exceed int64 (driver gate hashes typed values): $offenders")
  }

  test("no registry query plans a cartesian product; nested-loop joins only where deliberate") {
    SparkEntry.registry.filter(_.inBench).foreach { q =>
      val plan = q.fn(spark, Sf0001).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name} plans a CartesianProduct")
      if (!BnljAllowed(q.name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans an unexpected BroadcastNestedLoopJoin")
    }
  }
}
