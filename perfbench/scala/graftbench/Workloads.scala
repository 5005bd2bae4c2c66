package graftbench

import java.io.File
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, Tables}
import graft.allergen.{Labels, Train}
import graft.restaurants.{Cluster, Recommend}

/** One unit of timed work: a query, facade stage, fit, serve batch or
  * refresh. `run` returns the number of rows the op produced. */
final case class Op(name: String, kind: String, run: () => Long)

/** One output check; `op` names the op whose output it validates, so a
  * mismatch marks that op's timed instances as failed. */
final case class Check(name: String, op: String, ok: Boolean, detail: String)

/** A workload: the ops of one pass, a small fixed warm
  * basket for set-up, one-off preparation, and its output checks. */
trait Workload {
  def warmOps: Seq[Op]
  def prepareOps: Seq[Op] = Nil
  /** The untimed check pass (pass -1): it warms every timed code path and
    * its outputs are what the checks read. A workload without one runs its
    * checks before the timed passes instead, and they warm those paths. */
  def checkPassOps: Seq[Op]
  def passOps(pass: Int): Seq[Op]
  /** Untimed clean-up after a pass (temporary index generations). */
  def endPass(pass: Int): Unit = ()
  /** Checks over what the preparation, the check pass and the timed
    * passes left. */
  def checks(): Seq[Check]
  def info: Map[String, Any] = Map.empty
}

object Workloads {
  def apply(name: String, s: SparkSession, work: String, t: Tracer): Workload =
    name match {
      case "curate_train" => new CurateTrain(s, work, t)
      case "index_lifecycle" => new IndexLifecycle(s, work, t)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Rows of `df` as sorted strings: order-free equality for checks. */
  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `a` and `b` hold the same non-empty multiset of rows. */
  def same(name: String, op: String, a: DataFrame, b: DataFrame): Check = {
    val (ra, rb) = (rows(a), rows(b))
    Check(name, op, ra.nonEmpty && ra == rb, s"${ra.size} vs ${rb.size} rows")
  }

  /** Collect `df` and rebuild it as a driver-side relation, so the next
    * stage reads this stage's result instead of recomputing it and the
    * harness pins no blocks of its own. Rows are sorted, so the relation
    * (and any seeded split over it) is the same in every pass. */
  def local(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect().sortBy(_.toString): _*), df.schema)

  /** Run independent jobs on a few client threads and return their results
    * in order. Only for checks: they sit outside the timed passes, and each
    * is mostly driver-side planning and scheduling, which overlaps well. */
  def inParallel[T](jobs: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(4)
    try jobs.map(j => pool.submit(new Callable[T] { def call(): T = j() })).map(_.get())
    finally pool.shutdown()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** (bytes, files) under a directory tree. */
  def du(f: File): (Long, Long) =
    if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

import Workloads._

/** The paper's training-data pipeline, one pass: doc-grain curation through
  * the Graft facade (quality → near-dup pairs → connected components →
  * dedup → Bloom decontamination → token packing; every stage reads the
  * previous stage's collected result), then W1's allergen MLP fit on
  * TF-IDF, and W3's restaurants recommend from the clustering (PCA 95%,
  * KMeans 7) fitted once in preparation. */
final class CurateTrain(s: SparkSession, work: String, t: Tracer) extends Workload {
  private val corpus = s.read.parquet(s"$work/curate/corpus.parquet")
    .select(col("doc_id"), col("text"), col("lang"))
  private val evalSet = s.read.parquet(s"$work/curate/eval.parquet")
  /** W1's training set: the same for every seed (see gen.py). */
  private val trainDocs = s.read.parquet(s"$work/curate/train.parquet").select(col("text"))
  private val tables = s"$work/tables"
  /** Quality rule applied to textQuality's output. */
  private val MinWords = 12
  private val Budget = 4096L
  private val NumFeatures = 512
  private val MlpIterations = 3

  private final class Frames {
    var kept, pairs, comps, deduped, report, clean, packed: DataFrame = _
    /** Held-out (accuracy, f1, auc) per fit, and the recommended rows. */
    val fits = scala.collection.mutable.Map[String, (Double, Double, Double)]()
    var recommended: Seq[String] = Nil
  }
  private var checkFrames, firstFrames: Frames = _
  /** W3's clustering, fitted once in preparation; every pass recommends from it. */
  private var fitted: Cluster.Fitted = _

  private def stage(name: String, method: String)(body: => DataFrame)(keep: DataFrame => Unit): Op =
    Op(name, "stage", () => {
      val out = t.span(s"graft.$method")(local(s, body))
      keep(out)
      out.count()
    })

  private def fit(name: String, f: Frames)(body: DataFrame => (Any, (Double, Double, Double))): Op =
    Op(s"allergen.$name", "fit", () => {
      val data = trainDocs.select(Labels.tokens(col("text")).as("tokens"))
        .withColumn("label", Train.trainBinaryLabel(col("tokens")))
      f.fits(name) = body(data)._2
      1L
    })

  private def curate(f: Frames, docs: DataFrame): Seq[Op] = Seq(
    stage("quality", "textQuality")(Graft.textQuality(docs)) { q =>
      f.kept = docs.join(q.filter(col("n_words") >= MinWords).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    },
    stage("near_dup_pairs", "nearDupPairs")(Graft.nearDupPairs(f.kept))(f.pairs = _),
    stage("components", "connectedComponents")(
      Graft.connectedComponents(f.pairs.select(col("i"), col("j"))))(f.comps = _),
    stage("dedup", "dedup")(Graft.dedup(f.kept))(f.deduped = _),
    stage("decontaminate", "bloomDecontaminate")(
      Graft.bloomDecontaminate(f.deduped.select(col("doc_id"), col("text")), evalSet)) { r =>
      f.report = r
      f.clean = f.deduped.join(r.filter(col("contaminated")).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    },
    stage("pack", "packTokens")(Graft.packTokens(f.clean, Budget))(f.packed = _))

  private def train(f: Frames): Seq[Op] = Seq(
    fit("mlp", f)(d => t.span("allergen.binaryMLP")(Train.binaryMLP(d, NumFeatures, maxIter = MlpIterations))),
    Op("restaurants.recommend", "query", () => {
      val rows = t.span("restaurants.recommend")(
        Recommend.recommend(fitted, Seq("red", "ECONOMY"), 50).collect())
      f.recommended = rows.map(_.toString).toSeq
      rows.length.toLong
    }))

  override def prepareOps: Seq[Op] = Seq(Op("restaurants.fit", "fit", () => {
    fitted = t.span("restaurants.Cluster.fit")(Cluster.fit(s, tables))
    fitted.pcaK.toLong
  }))
  /** Warm basket: the quality stage over a 300-document slice. */
  def warmOps: Seq[Op] = curate(new Frames, corpus.filter(col("doc_id") < 300)).take(1)
  def checkPassOps: Seq[Op] = passOps(-1)
  def passOps(pass: Int): Seq[Op] = {
    val f = new Frames
    if (pass < 0) checkFrames = f
    if (pass == 0) firstFrames = f
    curate(f, corpus) ++ train(f)
  }

  def checks(): Seq[Check] = {
    val f = checkFrames
    val survivors = f.deduped.select(col("doc_id").as("id"))
    val perComponent = f.comps.join(survivors, Seq("id"), "left_semi")
      .groupBy(col("label")).count()
    val labels = f.comps.select(col("label")).distinct().count()
    val members = f.comps.count()
    val kept = f.kept.count()
    val badComponents = perComponent.filter(col("count") =!= 1L).count()
    val oneSurvivor = badComponents == 0L && perComponent.count() == labels &&
      survivors.count() == kept - members + labels
    val exact = Graft.decontaminate(f.deduped.select(col("doc_id"), col("text")), evalSet)
    val packed = f.packed.agg(sum(col("n_docs")), sum(col("sum_tokens"))).head()
    val tokens = f.clean.select(sum(size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))))
      .head().getLong(0)
    def inUnitRange(m: (Double, Double, Double)) =
      Seq(m._1, m._2, m._3).forall(v => v >= 0.0 && v <= 1.0)
    // Identical fits on identical rows; the evaluators' distributed sums
    // may still combine in a different order, so allow 1e-9 of drift.
    def close(a: (Double, Double, Double), b: (Double, Double, Double)) =
      Seq(a._1 - b._1, a._2 - b._2, a._3 - b._3).forall(d => math.abs(d) <= 1e-9)
    val first = Option(firstFrames)
    Seq(
      Check("dedup.one_survivor_per_component", "dedup", oneSurvivor && labels > 0,
        s"$labels components, $members members, $kept kept, $badComponents bad"),
      same("decontam.bloom_equals_exact", "decontaminate", f.report, exact),
      Check("decontam.flags_contaminated", "decontaminate",
        f.report.filter(col("contaminated")).count() > 0, "planted eval copies flagged"),
      Check("pack.conserves_docs_and_tokens", "pack",
        packed.getLong(0) == f.clean.count() && packed.getLong(1) == tokens,
        s"${packed.getLong(0)} docs, ${packed.getLong(1)} tokens")) ++
      Seq("mlp").flatMap { fit =>
        val (c, p0) = (f.fits.get(fit), first.flatMap(_.fits.get(fit)))
        Seq(
          Check(s"allergen.$fit.metrics_in_unit_range", s"allergen.$fit", c.exists(inUnitRange), c.toString),
          Check(s"allergen.$fit.repeats_at_seed", s"allergen.$fit", c.isDefined && p0.exists(close(_, c.get)),
            s"$c vs $p0"))
      } :+
      Check("restaurants.recommend.repeats_at_seed", "restaurants.recommend",
        f.recommended.nonEmpty && first.exists(_.recommended == f.recommended),
        s"${f.recommended.size} rows")
  }

  override def info: Map[String, Any] = Map("min_words" -> MinWords, "pack_budget" -> Budget,
    "num_features" -> NumFeatures, "mlp_iterations" -> MlpIterations,
    "fit_metrics" -> Option(checkFrames).map(_.fits.toMap.map { case (k, m) => k -> Seq(m._1, m._2, m._3) }))
}

/** The four stored-index families (ANN, Bloom, bands, BM25): built once
  * under a directory the benchmark owns; each pass then refreshes every
  * family from generation 0 with a seeded delta into a generation of its
  * own and serves one seeded batch from it (read:write 1:1 per family), in
  * a fixed family order. No check pass: the checks run first, and their
  * refreshes and serves warm every timed code path. */
final class IndexLifecycle(s: SparkSession, work: String, t: Tracer) extends Workload {
  private val in = s"$work/index"
  private val root = s"$work/idx"
  private val tables = s"$work/tables"
  private def pq(name: String) = s.read.parquet(s"$in/$name.parquet")
  private val docs = Tables.documents(s, tables).select(col("doc_id"), col("text"))
  private val emb = Tables.embeddings(s, tables).select(col("vec_id"),
    col("embedding").cast("array<double>").as("v"), col("label"))
  private val bloomEval = pq("bloom_eval").select(col("doc_id"), col("text"))
  private val bloomCorpus = pq("bloom_corpus").select(col("doc_id"), col("text"))
  private val Batches = 1
  private def queries(name: String, b: Int) = pq(name).filter(col("batch") === b).drop("batch")
  private def bloomBatch(b: Int) = bloomCorpus.filter(pmod(col("doc_id"), lit(Batches)) === b)

  val Families: Seq[String] = Seq("ann", "bloom", "band", "bm25")
  private def gen0(f: String) = s"$root/$f/gen0"
  private def genOf(f: String, pass: Int) = s"$root/$f/p$pass"
  /** (bytes, files) written by each timed refresh, per family. */
  val refreshWrites = scala.collection.mutable.Map[String, Seq[(Long, Long)]]().withDefaultValue(Nil)

  private def build(f: String): Op = Op(s"$f.build", "build", () => {
    val out = gen0(f)
    f match {
      case "ann" => t.span("graft.writeAnnIndex")(Graft.writeAnnIndex(emb, out))
      case "bloom" => t.span("graft.writeBloomIndex")(Graft.writeBloomIndex(bloomEval, out))
      case "band" => t.span("graft.writeBandIndex")(Graft.writeBandIndex(docs, out))
      case "bm25" => t.span("graft.writeBm25Index")(Graft.writeBm25Index(docs, out))
    }
    0L
  })

  private def refresh(f: String, pass: Int): Op = Op(s"$f.refresh", "refresh", () => {
    val out = genOf(f, pass)
    f match {
      case "ann" => t.span("graft.refreshStoredAnnIndex")(
        Graft.refreshStoredAnnIndex(s, gen0(f), pq("ann_delta"), out))
      case "bloom" => t.span("graft.refreshStoredBloomIndex")(
        Graft.refreshStoredBloomIndex(s, gen0(f), pq("bloom_delta"), out))
      case "band" => t.span("graft.refreshStoredBandIndex")(
        Graft.refreshStoredBandIndex(s, gen0(f), pq("band_delta"), out))
      case "bm25" => t.span("graft.refreshStoredBm25Index")(
        Graft.refreshStoredBm25Index(s, gen0(f), pq("bm25_delta"), out))
    }
    0L
  })

  /** Open the index at `path` cold and serve the family's batch `b` from it. */
  private def served(f: String, path: String, b: Int): DataFrame = f match {
    case "ann" => t.span("graft.annSearchStored")(
      Graft.annSearchStored(Graft.readAnnIndex(s, path), queries("ann_queries", b), nProbe = 2, topK = 5))
    case "bloom" => t.span("graft.bloomDecontaminateStored")(
      Graft.bloomDecontaminateStored(bloomBatch(b), Graft.readBloomIndex(s, path)))
    case "band" => t.span("graft.nearDupServeStored")(
      Graft.nearDupServeStored(queries("band_incoming", b), Graft.readBandIndex(s, path)))
    case "bm25" => t.span("graft.bm25SearchStored")(
      Graft.bm25SearchStored(Graft.readBm25Index(s, path), queries("bm25_queries", b), 10))
  }

  private def serve(f: String, pass: Int, b: Int): Op = Op(s"$f.serve.$b", "serve", () =>
    t.span("action.collect")(served(f, genOf(f, pass), b).collect().length.toLong))

  override def prepareOps: Seq[Op] = Families.map(build)
  def warmOps: Seq[Op] = Nil
  def checkPassOps: Seq[Op] = Nil
  def passOps(pass: Int): Seq[Op] =
    Families.flatMap(f => refresh(f, pass) +: (0 until Batches).map(serve(f, pass, _)))

  /** A timed pass's generations are measured and deleted. */
  override def endPass(pass: Int): Unit = if (pass >= 0) Families.foreach { f =>
    val dir = new File(genOf(f, pass))
    refreshWrites(f) = refreshWrites(f) :+ du(dir)
    deleteTree(dir)
  }

  def spaceBytes: Map[String, Long] = Families.map(f => f -> du(new File(gen0(f)))._1).toMap

  /** Stored serve == inline search over the same inputs, on generation 0. */
  private def serveCheck(f: String): Seq[Check] = {
    val (stored, inline) = f match {
      case "ann" =>
        val probes = emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("v").as("qv"))
        (Graft.annSearchStored(Graft.readAnnIndex(s, gen0(f)), probes, 2, 5),
          Graft.ivfPqSearch(emb, probeMax = 10L, nProbe = 2, topK = 5))
      case "bloom" => (served(f, gen0(f), 0), Graft.bloomDecontaminate(bloomBatch(0), bloomEval))
      case "band" => (served(f, gen0(f), 0), Graft.nearDupStream(queries("band_incoming", 0), docs))
      case "bm25" => (served(f, gen0(f), 0), Graft.bm25TopK(docs, queries("bm25_queries", 0), 10))
    }
    Seq(same(s"$f.serve_equals_inline", s"$f.serve.0", stored, inline))
  }

  /** A refresh of generation 0 (the timed refresh op, untimed, into a
    * generation of its own) == a rebuild over base + delta, piece for piece. */
  private def refreshCheck(f: String): Seq[Check] = {
    refresh(f, -1).run()
    val refreshed = genOf(f, -1)
    val rebuilt = s"$root/$f/rebuild"
    def eq(piece: String, a: DataFrame, b: DataFrame) =
      same(s"$f.refresh_equals_rebuild.$piece", s"$f.refresh", a, b)
    f match {
      case "bloom" =>
        Graft.writeBloomIndex(bloomEval.unionByName(pq("bloom_delta").select(col("doc_id"), col("text"))),
          rebuilt)
        val ((bl1, sh1), (bl2, sh2)) = (Graft.readBloomIndex(s, refreshed), Graft.readBloomIndex(s, rebuilt))
        Seq(eq("bitmap", bl1, bl2), eq("shingles", sh1, sh2))
      case "bm25" =>
        Graft.writeBm25Index(docs.unionByName(pq("bm25_delta").select(col("doc_id"), col("text"))), rebuilt)
        val ((po1, df1, st1), (po2, df2, st2)) =
          (Graft.readBm25Index(s, refreshed), Graft.readBm25Index(s, rebuilt))
        def dfMerged(d: DataFrame) = d.groupBy(col("t")).agg(sum(col("df")).as("df"))
        Seq(eq("postings", po1, po2), eq("df", dfMerged(df1), dfMerged(df2)), eq("stats", st1, st2))
      case "band" =>
        val delta = pq("band_delta")
        Graft.writeBandIndex(
          docs.join(delta.filter(col("status") =!= "added").select(col("doc_id")), Seq("doc_id"), "left_anti")
            .unionByName(delta.filter(col("status") =!= "removed").select(col("doc_id"), col("text"))),
          rebuilt)
        val ((ba1, bd1), (ba2, bd2)) = (Graft.readBandIndex(s, refreshed), Graft.readBandIndex(s, rebuilt))
        Seq(eq("bands", ba1, ba2), eq("docs", bd1, bd2))
      case "ann" =>
        // ANN quantizers are frozen across generations, so its rebuild is the
        // post-delta vector set encoded from scratch under generation 0's
        // quantizers: an empty code table refreshed with every vector added
        val delta = pq("ann_delta")
        val (cents, cb, codes0) = Graft.readAnnIndex(s, gen0(f))
        val all = emb.select(col("vec_id"), col("v"))
          .join(delta.filter(col("status") =!= "added").select(col("vec_id")), Seq("vec_id"), "left_anti")
          .unionByName(delta.filter(col("status") =!= "removed").select(col("vec_id"), col("v")))
          .withColumn("status", lit("added"))
        val expected = Graft.refreshIvfPqCodes(codes0.limit(0), all, cents, cb)
          .select(col("vec_id"), col("list_id").cast("int"), col("codes"))
        Seq(eq("codes", Graft.readAnnIndex(s, refreshed)._3, expected))
    }
  }

  def checks(): Seq[Check] =
    inParallel(Families.flatMap(f => Seq(() => serveCheck(f), () => refreshCheck(f)))).flatten

  override def info: Map[String, Any] = Map(
    "families" -> Families, "serve_batches_per_family" -> Batches, "refreshes_per_family" -> 1,
    "index_bytes" -> spaceBytes)
}
