package graft.rio

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Format routing shared by the `LOAD` update and the [[graft.Graft]]
  * facade — ONE place decides which parser a path gets, so the two
  * entry points can never drift. Dispatch is PER PATH (a mixed-format
  * list parses each file with its own format), by extension:
  * `.nt`/`.nq` line formats, `.trig` graph blocks, `.rdf`/`.owl`/
  * `.xml` RDF/XML, `.jsonld` JSON-LD, Turtle otherwise — the same
  * extension table RDF4J's `Rio.getParserFormatForFileName` routes by
  * in the reference's delegated stack (which likewise maps only
  * `.jsonld`, not generic `.json`, to JSON-LD).
  */
object Rio {

  def stripFileScheme(p: String): String =
    p.stripPrefix("file://").stripPrefix("file:")

  /** Blank-node label scope of one source file: the first 8 bytes of
    * the MD5 of its path, in hex, then ':'. A 64-bit salt because a
    * 32-bit hashCode collides at ~77k files (birthday bound) and would
    * silently fuse blank nodes of different files.
    */
  def fileScope(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString + ":"

  private sealed trait Fmt
  private case object LineFmt extends Fmt
  private case object TrigFmt extends Fmt
  private case object XmlFmt extends Fmt
  private case object JsonLdFmt extends Fmt
  private case object TurtleFmt extends Fmt

  private def fmtOf(p: String): Fmt = {
    val lower = p.toLowerCase
    if (lower.endsWith(".nt") || lower.endsWith(".nq")) LineFmt
    else if (lower.endsWith(".trig")) TrigFmt
    else if (lower.endsWith(".rdf") || lower.endsWith(".owl") ||
      lower.endsWith(".xml")) XmlFmt
    else if (lower.endsWith(".jsonld")) JsonLdFmt
    else if (lower.endsWith(".json")) throw new IllegalArgumentException(
      s"rio: no RDF format registered for '$p' — generic .json is not " +
        "JSON-LD; rename to .jsonld if the content is JSON-LD")
    else TurtleFmt
  }

  /** Read RDF documents into a quads DataFrame `(g, s, p, o)`;
    * statements without their own graph label land in `defaultGraph`.
    */
  def readAuto(spark: SparkSession, paths: Seq[String],
      defaultGraph: String): DataFrame = {
    val cleaned = paths.map(stripFileScheme)
    cleaned.groupBy(fmtOf).map {
      case (LineFmt, ps) => NQuads.read(spark, ps, defaultGraph)
      case (TrigFmt, ps) => Turtle.readTriG(spark, ps, defaultGraph)
      case (XmlFmt, ps) => RdfXml.read(spark, ps, defaultGraph)
      case (JsonLdFmt, ps) => JsonLd.read(spark, ps, defaultGraph)
      case (TurtleFmt, ps) => Turtle.read(spark, ps, defaultGraph)
    }.reduce(_.unionByName(_))
  }
}
