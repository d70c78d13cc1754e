package graft.rio

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdf.Rdf
import Turtle.{Stmt, Term}

/** N-Triples / N-Quads parser and writer (the other line-oriented
  * formats the reference's delegated RDF4J Rio stack accepts alongside
  * Turtle, `GraphDBSystemAdapter.java:286`). N-Triples is the 3-term
  * subset; N-Quads adds an optional graph label (IRI or bnode) before
  * the terminating `.` (W3C RDF 1.1 N-Quads §2).
  *
  * The formats are stateless per statement — unlike Turtle there are
  * no prefixes or bnode property lists — which is exactly what makes
  * them the bulk-interchange format at scale: a file can be SPLIT at
  * any newline, so the Spark reader can parallelize within a file
  * (`spark.read.text` line splits), not just across files.
  */
object NQuads {

  /** Parse one N-Quads (or N-Triples) document. Graph label `""` =
    * default graph. `bnodeScope` salts blank-node labels per source
    * unit, mirroring [[Turtle.parseDoc]].
    */
  def parseDoc(doc: String, bnodeScope: String = ""): Seq[(String, Stmt)] =
    tokensToQuads(Turtle.tokenize(doc), bnodeScope)

  private def tokensToQuads(toks: Vector[Turtle.Tok],
      bnodeScope: String): Seq[(String, Stmt)] = {
    var pos = 0
    def peek: Option[Turtle.Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def next(): Turtle.Tok = { pos += 1; toks(pos - 1) }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"nquads: $msg at '${peek.map(_.text).getOrElse("<eof>")}'")

    def term(): Term = next() match {
      case Turtle.TIri(i) => Term(i, Rdf.IRI, "", "", None)
      case Turtle.TBNode(b) => Term(bnodeScope + b, Rdf.BNODE, "", "", None)
      case Turtle.TStr(s) =>
        peek match {
          case Some(Turtle.TLang(l)) => next(); Term(s, Rdf.LIT, Rdf.XsdString, l, None)
          case Some(Turtle.TPunct("^^")) =>
            next()
            val dt = next() match {
              case Turtle.TIri(i) => i
              case t => fail(s"datatype must be a full IRI, got ${t.text}")
            }
            if (dt == Rdf.XsdDecimal || dt == Rdf.XsdInteger || dt == "xsd:double")
              Turtle.canonNumTerm(s, dt)
            else Term(s, Rdf.LIT, dt, "", None)
          case _ => Term(s, Rdf.LIT, Rdf.XsdString, "", None)
        }
      case t => fail(s"unexpected ${t.text}")
    }

    val out = Seq.newBuilder[(String, Stmt)]
    while (peek.isDefined) {
      val s = term()
      val p = term()
      if (p.kind != Rdf.IRI) fail("predicate must be an IRI")
      val o = term()
      val g = peek match {
        case Some(Turtle.TPunct(".")) => ""
        case _ =>
          val gt = term()
          if (gt.kind != Rdf.IRI && gt.kind != Rdf.BNODE)
            fail("graph label must be an IRI or bnode")
          gt.lex
      }
      if (peek.contains(Turtle.TPunct("."))) next() else fail("expected .")
      out += ((g, Stmt(s, p, o)))
    }
    out.result()
  }

  // ---- emitters -------------------------------------------------------

  private def termStr(t: Term): String = t.kind match {
    case Rdf.IRI => s"<${t.lex}>"
    // shared codec with Turtle.emit — tokenization decodes, so salted
    // labels round-trip while output stays grammar-conformant
    case Rdf.BNODE => s"_:${Turtle.encodeBnodeLabel(t.lex)}"
    case _ =>
      val quoted = "\"" + t.lex.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r") + "\""
      if (t.lang.nonEmpty) s"$quoted@${t.lang}"
      else if (t.dt.nonEmpty && t.dt != Rdf.XsdString) s"$quoted^^<${t.dt}>"
      else quoted
  }

  /** The store's `g` column is a kind-less string; blank-node graph
    * labels are recognized by the salt convention every reader stamps
    * (`<16 hex chars>:label`, [[read]]/[[Turtle.readTriG]]) — an IRI
    * would need a 16-lowercase-hex scheme name to collide, which no
    * real scheme has. Without this, a store holding a bnode graph
    * would export it as an IRI containing the internal salt,
    * misrepresenting the term kind to external N-Quads parsers.
    */
  private val SaltedBnodeGraph = "^[0-9a-f]{16}:.*$".r
  private def graphStr(g: String): String =
    if (SaltedBnodeGraph.pattern.matcher(g).matches())
      s"_:${Turtle.encodeBnodeLabel(g)}"
    else s"<$g>"

  /** Serialize quads as N-Quads lines (graph `""` emits the 3-term
    * N-Triples form — a valid N-Quads default-graph statement).
    */
  def emit(quads: Seq[(String, Stmt)]): String =
    quads.map { case (g, st) =>
      val gs = if (g.isEmpty) "" else s" ${graphStr(g)}"
      s"${termStr(st.s)} ${termStr(st.p)} ${termStr(st.o)}$gs ."
    }.mkString("\n")

  /** Serialize quads as TriG: default-graph statements first, then a
    * `GRAPH <g> { … }` block per named graph (deterministic graph
    * order). Statement syntax is the N-Triples subset, which is valid
    * Turtle inside a block — [[Turtle.parseTriG]] round-trips it.
    */
  def emitTriG(quads: Seq[(String, Stmt)]): String = {
    def line(st: Stmt) = s"${termStr(st.s)} ${termStr(st.p)} ${termStr(st.o)} ."
    val (default, named) = quads.partition(_._1.isEmpty)
    val defaultLines = default.map(q => line(q._2))
    val blocks = named.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, qs) =>
      qs.map(q => "  " + line(q._2))
        .mkString(s"GRAPH ${graphStr(g)} {\n", "\n", "\n}")
    }
    (defaultLines ++ blocks).mkString("\n")
  }

  /** Column-expression N-Quads line — the DISTRIBUTED form of
    * [[emit]]: one output line per quad row, built entirely from
    * codegen'd string functions, so `df.select(lineCol(…)).write
    * .text(path)` dumps a store of any size as a map-only write (no
    * driver materialization, no shuffle; output partitioning follows
    * the input). Encoding matches [[emit]]/[[termStr]] exactly, so
    * [[read]] round-trips the files.
    */
  def lineCol(g: Column, s: Column, p: Column, o: Column): Column = {
    import org.apache.spark.sql.functions._
    def esc(c: Column): Column =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""),
        "\n", "\\\\n"), "\t", "\\\\t"), "\r", "\\\\r")
    def term(t: Column): Column =
      when(t("kind") === Rdf.IRI, concat(lit("<"), t("lex"), lit(">")))
        .when(t("kind") === Rdf.BNODE, concat(lit("_:"),
          regexp_replace(regexp_replace(t("lex"), "_", "__"), ":", "_c")))
        .otherwise(concat(lit("\""), esc(t("lex")), lit("\""),
          when(t("lang") =!= "", concat(lit("@"), t("lang")))
            .when(t("dt") =!= "" && t("dt") =!= Rdf.XsdString,
              concat(lit("^^<"), t("dt"), lit(">")))
            .otherwise(lit(""))))
    concat(term(s), lit(" "), term(p), lit(" "), term(o),
      when(g.isNull || g === "", lit(""))
        // salt-convention bnode graph labels (see graphStr) emit as
        // `_:` with the shared label codec, like any other bnode
        .when(g.rlike("^[0-9a-f]{16}:"), concat(lit(" _:"),
          regexp_replace(regexp_replace(g, "_", "__"), ":", "_c")))
        .otherwise(concat(lit(" <"), g, lit(">"))),
      lit(" ."))
  }

  /** Distributed export: write a quads DataFrame as partitioned
    * N-Quads text files readable by [[read]] (and any N-Quads parser
    * of the store's compact-IRI dialect).
    */
  def write(quads: DataFrame, path: String): Unit =
    quads.select(lineCol(org.apache.spark.sql.functions.col("g"),
        quads("s"), quads("p"), quads("o")).as("value"))
      .write.mode("overwrite").text(path)

  // ---- Spark reader ---------------------------------------------------

  /** Read N-Quads/N-Triples files into a quads DataFrame `(g, s, p,
    * o)` with term structs. Statements without a graph label land in
    * `defaultGraph`. Line-splittable: `spark.read.text` partitions
    * WITHIN files (`maxPartitionBytes`), so a single 1 TB dump still
    * fans out across the cluster — blank-node labels are salted per
    * FILE (label scope per RDF 1.1 N-Quads §3), not per split, via the
    * file-path metadata column.
    */
  def read(spark: SparkSession, paths: Seq[String], defaultGraph: String): DataFrame = {
    import spark.implicits._
    val parsed = spark.read.textFile(paths: _*)
      .select(col("value"), input_file_name().as("path"))
      .as[(String, String)]
      .mapPartitions { lines =>
        val scopes = collection.mutable.Map.empty[String, String]
        lines.flatMap { case (line, path) =>
          if (line.trim.isEmpty || line.trim.startsWith("#")) Iterator.empty
          else {
            parseDoc(line, scopes.getOrElseUpdate(path, Rio.fileScope(path))).iterator
          }
        }
      }
    parsed
      .select(when(col("_1") === "", defaultGraph).otherwise(col("_1")).as("g"),
        col("_2")("s").as("s"), col("_2")("p").as("p"), col("_2")("o").as("o"))
  }
}
