package graft.ops

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._
import scala.util.chaining._

/** The one on-disk format of every stored-index generation (ANN, Bloom,
  * bands, BM25), and the only code that writes it. A generation is a
  * root holding one parquet directory per piece, `<root>/<piece>`, and
  * `<root>/manifest.json`: the format version, the family, and per
  * piece the generation roots holding its files plus its Spark schema.
  *
  *  - A family writes a generation through [[write]] (a build) or
  *    [[refresh]] (load → guard → its in-memory refresh), whose
  *    [[Writer]] `put`s one piece at a time. The first `put` removes a
  *    stale manifest: a body that fails before it leaves the root as it
  *    was, one that fails after leaves no manifest describing other
  *    data. The manifest is written when the body returns — through the
  *    Hadoop FS API, not a Spark job — so a generation with a manifest
  *    is a complete one.
  *  - Opening a piece passes the stored schema to the parquet reader:
  *    Spark's schema inference runs a job per read even with
  *    `mergeSchema=false`, so an index opens with none.
  *  - Piece roots are stored RELATIVE to the generation root, oldest
  *    first: a tree of generations moved or copied together stays
  *    readable. A refresh REFERENCES the pieces it does not change
  *    (ANN's frozen quantizers through `keep`, BM25's older
  *    postings/df segments, which a refresh's `put` extends) instead
  *    of copying them — so a generation must outlive every generation
  *    refreshed from it, and a refresh may not write into any root its
  *    base references.
  *  - A generation without a manifest (written before it existed)
  *    opens as before: by schema inference from `<root>/<piece>`, BM25
  *    segments from a legacy `segments.txt` when one is present, else
  *    the root alone. */
private[graft] object StoredIndex {

  val ManifestFile = "manifest.json"
  val FormatVersion = 1

  /** Each family's pieces; BM25's postings and df may span segments. */
  private val Layouts: Map[String, Seq[String]] = Map(
    "ann" -> Seq("centroids", "codebook", "codes"),
    "bloom" -> Seq("bitmap", "shingles"),
    "band" -> Seq("bands", "docs"),
    "bm25" -> Seq("postings", "df", "stats"))
  private val Segmented: Set[String] = Set("postings", "df")

  /** A piece: sub-directory `name` under each of `roots` (qualified,
    * oldest first), read with `schema` — None only for a piece of a
    * manifest-less generation. */
  final case class Piece(name: String, roots: Seq[Path], schema: Option[StructType])

  /** An opened generation: where it lives and where each piece is. */
  final case class Generation(root: Path, family: String, pieces: Seq[Piece]) {
    def piece(name: String): Piece = pieces.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"$family index at $root has no $name piece"))

    /** The piece as one DataFrame over all its roots. */
    def frame(s: SparkSession, name: String): DataFrame = {
      val p = piece(name)
      p.schema.fold(s.read)(s.read.schema).parquet(p.roots.map(r => new Path(r, name).toString): _*)
    }

    /** Every root this generation reads, its own included. */
    def roots: Seq[Path] = (root +: pieces.flatMap(_.roots)).distinct
  }

  private val Json = new ObjectMapper()

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sessionState.newHadoopConf())

  private def qualify(s: SparkSession, path: String): Path = {
    val p = new Path(path)
    fsOf(s, p).makeQualified(p)
  }

  /** The schema a parquet read of `written` returns: every field
    * nullable (Spark reads files that way) and the `partitionBy`
    * columns last. */
  def schemaOf(written: DataFrame, partitionBy: String*): StructType = {
    def nullable(t: DataType): DataType = t match {
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)).toSeq)
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    val (parts, data) = written.schema.fields.partition(f => partitionBy.contains(f.name))
    nullable(StructType((data ++ partitionBy.flatMap(n => parts.find(_.name == n))).toSeq))
      .asInstanceOf[StructType]
  }

  /** Open the `family` generation at `path` — from its manifest when it
    * has one (no Spark job), else from the legacy layout. */
  def load(s: SparkSession, path: String, family: String): Generation = {
    val names = Layouts(family)
    val root = qualify(s, path)
    val fs = fsOf(s, root)
    val mf = new Path(root, ManifestFile)
    val gen =
      if (fs.exists(mf)) parse(root, mf, readText(fs, mf))
      else {
        lazy val segs = legacySegments(s, fs, root)
        Generation(root, family, names.map(n =>
          Piece(n, if (family == "bm25" && Segmented(n)) segs else Seq(root), None)))
      }
    require(gen.family == family, s"index at $path is a ${gen.family} index, not $family")
    names.foreach(gen.piece)
    gen
  }

  /** Write a new `family` generation at `path`: `body` puts its pieces,
    * then the manifest is committed. */
  def write(s: SparkSession, path: String, family: String)(body: Writer => Unit): Unit = {
    val w = new Writer(s, path, family, None)
    body(w)
    w.commit()
  }

  /** Refresh the `family` generation at `path` into a new one at
    * `outPath`: `body` gets the opened base and a [[Writer]] for
    * `outPath`. `outPath` may not be a root the base reads: the refresh
    * would overwrite a piece that the base (and every generation
    * sharing it) still references; `fn` names the refusing call. */
  def refresh(fn: String, s: SparkSession, path: String, family: String, outPath: String)
             (body: (Generation, Writer) => Unit): Unit = {
    val base = load(s, path, family)
    require(!base.roots.contains(qualify(s, outPath)),
      s"$fn writes a new generation: outPath must differ from path " +
        s"and from every segment of its chain (${base.roots.mkString(", ")})")
    val w = new Writer(s, outPath, family, Some(base))
    body(base, w)
    w.commit()
  }

  /** Lays out one generation at `path`; the manifest lists the pieces
    * stored under `path` alone first, then those that reference other
    * roots, each in the order it was put or kept. */
  final class Writer private[StoredIndex] (s: SparkSession, path: String, family: String,
                                           base: Option[Generation]) {
    private val root = qualify(s, path)
    private val pieces = scala.collection.mutable.ArrayBuffer.empty[Piece]
    /** Removes a stale manifest, once, at the first `put`. */
    private lazy val retireStale: Unit = fsOf(s, root).delete(new Path(root, ManifestFile), false)

    /** Write `df` as piece `name` (partitioned by `partitionBy`). In a
      * refresh, a segmented piece (BM25's postings, df) adds a segment:
      * the base's roots, then this one, with the base's schema. */
    def put(name: String, df: DataFrame, partitionBy: String*): Unit = {
      retireStale
      val out = df.write.mode("overwrite")
      (if (partitionBy.isEmpty) out else out.partitionBy(partitionBy: _*)).parquet(s"$path/$name")
      pieces += (if (base.isDefined && Segmented(name)) kept(name).pipe(p => p.copy(roots = p.roots :+ root))
        else Piece(name, Seq(root), Some(schemaOf(df, partitionBy: _*))))
    }

    /** Piece `name` as put: a read typed by its recorded schema. */
    def stored(name: String): DataFrame =
      s.read.schema(pieces.find(_.name == name).get.schema.get).parquet(s"$path/$name")

    /** Reference the base's piece `name` unchanged. */
    def keep(name: String): Unit = pieces += kept(name)

    /** The base's piece with a known schema (a manifest-less base infers
      * it here, once). */
    private def kept(name: String): Piece = {
      val b = base.getOrElse(throw new IllegalStateException(s"a $family build has no base piece $name"))
      val p = b.piece(name)
      if (p.schema.isDefined) p else p.copy(schema = Some(b.frame(s, name).schema))
    }

    /** Write the manifest, LAST. */
    private[StoredIndex] def commit(): Unit = {
      require(pieces.map(_.name).sorted == Layouts(family).sorted,
        s"$family manifest must describe exactly ${Layouts(family).mkString(", ")}")
      val doc = Json.createObjectNode()
      doc.put("format", FormatVersion)
      doc.put("family", family)
      val arr = doc.putArray("pieces")
      pieces.sortBy(_.roots != Seq(root)).foreach { p =>
        val o = arr.addObject()
        o.put("name", p.name)
        val rs = o.putArray("roots")
        p.roots.foreach(r => rs.add(relativize(root, r)))
        o.set[JsonNode]("schema", Json.readTree(p.schema.get.json))
      }
      val mf = new Path(root, ManifestFile)
      val out = fsOf(s, mf).create(mf, true)
      try out.write(Json.writeValueAsBytes(doc))
      finally out.close()
    }
  }

  private def parse(root: Path, mf: Path, text: String): Generation = {
    val doc = scala.util.Try(Json.readTree(text)).toOption.filter(d => d != null && d.path("format").isInt)
      .getOrElse(throw new IllegalArgumentException(s"unreadable index manifest $mf"))
    val v = doc.get("format").asInt
    require(v == FormatVersion, s"index manifest $mf has format $v; this build reads format $FormatVersion")
    val pieces = doc.path("pieces").elements().asScala.map { o =>
      Piece(o.path("name").asText,
        o.path("roots").elements().asScala.map(r => resolve(root, r.asText)).toSeq,
        Some(DataType.fromJson(o.path("schema").toString).asInstanceOf[StructType]))
    }.toSeq
    Generation(root, doc.path("family").asText, pieces)
  }

  /** `to` relative to the generation root `from` ("." for itself, "../x"
    * for a sibling); another filesystem stays absolute. */
  private def relativize(from: Path, to: Path): String = {
    val (f, t) = (from.toUri, to.toUri)
    if (f.getScheme != t.getScheme || f.getAuthority != t.getAuthority) to.toString
    else {
      def segs(u: java.net.URI) = u.getPath.split('/').filter(_.nonEmpty).toSeq
      val (a, b) = (segs(f), segs(t))
      val common = a.zip(b).takeWhile { case (x, y) => x == y }.size
      (Seq.fill(a.size - common)("..") ++ b.drop(common)).mkString("/") match {
        case "" => "."
        case rel => rel
      }
    }
  }

  private def resolve(root: Path, rel: String): Path = {
    val p = new Path(rel)
    if (p.isAbsolute || p.toUri.getScheme != null) p
    else rel.split('/').foldLeft(root) {
      case (at, "" | ".") => at
      case (at, "..") => Option(at.getParent).getOrElse(
        throw new IllegalArgumentException(s"index root $rel escapes the filesystem root from $root"))
      case (at, seg) => new Path(at, seg)
    }
  }

  /** Segment roots of a manifest-less BM25 generation: its legacy
    * `segments.txt` (paths as written), else the root alone. */
  private def legacySegments(s: SparkSession, fs: FileSystem, root: Path): Seq[Path] = {
    val p = new Path(root, "segments.txt")
    if (!fs.exists(p)) Seq(root)
    else {
      val segs = readText(fs, p).linesIterator.filter(_.nonEmpty).toSeq
      require(segs.nonEmpty, s"BM25 index at $root has an empty segments.txt manifest")
      segs.map(qualify(s, _))
    }
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
