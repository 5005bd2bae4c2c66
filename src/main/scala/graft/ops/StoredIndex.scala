package graft.ops

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** The one manifest every stored-index generation (ANN, Bloom, bands,
  * BM25) carries at `<root>/manifest.json`: the format version, the
  * family, and per piece the generation roots holding its parquet
  * files plus its Spark schema.
  *
  *  - Written LAST by each write / refresh through the Hadoop FS API —
  *    metadata, not a Spark job — so a generation with a manifest is a
  *    complete one (a write first removes any stale manifest at its
  *    root).
  *  - Opening a piece passes the stored schema to the parquet reader:
  *    Spark's schema inference runs a job per read even with
  *    `mergeSchema=false`, so an index opens with none.
  *  - Piece roots are stored RELATIVE to the generation root, oldest
  *    first: a tree of generations moved or copied together stays
  *    readable. A refresh REFERENCES the pieces it does not change
  *    (ANN's frozen quantizers, BM25's older postings/df segments)
  *    instead of copying them — so a generation must outlive every
  *    generation refreshed from it, and a refresh may not write into
  *    any root its base references ([[requireNewGeneration]]).
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

    /** The piece with a known schema, for a manifest that references it
      * (a manifest-less base infers it here, once). */
    def described(s: SparkSession, name: String): Piece = {
      val p = piece(name)
      if (p.schema.isDefined) p else p.copy(schema = Some(frame(s, name).schema))
    }

    /** Every root this generation reads, its own included. */
    def roots: Seq[Path] = (root +: pieces.flatMap(_.roots)).distinct
  }

  private val Json = new ObjectMapper()

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sessionState.newHadoopConf())

  def qualify(s: SparkSession, path: String): Path = {
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

  /** Refuse an `outPath` that `base` reads from: the refresh would
    * overwrite a piece that `base` (and every generation sharing it)
    * still references. */
  def requireNewGeneration(fn: String, s: SparkSession, base: Generation, outPath: String): Unit =
    require(!base.roots.contains(qualify(s, outPath)),
      s"$fn writes a new generation: outPath must differ from path " +
        s"and from every segment of its chain (${base.roots.mkString(", ")})")

  /** Drop a stale manifest at `path` before its pieces are rewritten,
    * so a failed write never leaves a manifest describing other data. */
  def retire(s: SparkSession, path: String): Unit = {
    val mf = new Path(qualify(s, path), ManifestFile)
    fsOf(s, mf).delete(mf, false)
  }

  /** Write the manifest of the generation at `path`, LAST: `own` pieces
    * were written under `path` with the given schemas; `shared` pieces
    * carry their own roots (referenced generations, and for a BM25
    * segment list `path` itself). */
  def commit(s: SparkSession, path: String, family: String,
             own: Seq[(String, StructType)], shared: Seq[Piece] = Nil): Unit = {
    val root = qualify(s, path)
    val pieces = own.map { case (n, sch) => Piece(n, Seq(root), Some(sch)) } ++ shared
    require(pieces.map(_.name).sorted == Layouts(family).sorted,
      s"$family manifest must describe exactly ${Layouts(family).mkString(", ")}")
    val doc = Json.createObjectNode()
    doc.put("format", FormatVersion)
    doc.put("family", family)
    val arr = doc.putArray("pieces")
    pieces.foreach { p =>
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
