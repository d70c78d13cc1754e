package graft.rio

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdf.Rdf

/** Turtle parser (SURVEY §2.A A8: the reference bulk-loads Turtle
  * files into named graphs via
  * `repositoryConnection.add(inputFile, baseURI, RDFFormat.TURTLE,
  * context)`, `GraphDBSystemAdapter.java:286`).
  *
  * A document is tokenized whole, in one pass that is linear in its
  * length: one regex `Matcher` is advanced with `region` + `lookingAt`
  * rather than re-run on a copy of the remaining text ([[tokenize]]).
  *
  * Spark has no built-in RDF source, so ingestion is `binaryFile`
  * scan → per-file parse inside `mapPartitions` → `Dataset[Quad]`
  * (SURVEY §1.5). Turtle is stateful (@prefix declarations scope to
  * the document), so the parallel unit is one FILE per task — at
  * 100 TB the loader fans out over many files, not over bytes within
  * a file; that matches the reference's staging model where data
  * arrives as many chunked files (`GraphDBSystemAdapter.java:166-183`).
  *
  * Coverage: @prefix/@base, prefixed names, IRIs, `a`, blank node
  * labels (`_:x`, file-scoped), anonymous bnodes `[ ... ]` (with
  * embedded predicate-object lists, usable as subject or object),
  * collections `( ... )` (rdf:first/rdf:rest/rdf:nil chains, empty
  * `()` = rdf:nil), string literals with escapes + `@lang` /
  * `^^datatype`, numeric and boolean shorthand, `;` / `,`
  * predicate-object lists, `#` comments.
  */
object Turtle {

  final case class Term(lex: String, kind: Int, dt: String, lang: String, num: Option[Double])
  final case class Stmt(s: Term, p: Term, o: Term)

  // ---- tokenizer (shared shape with the SPARQL front-end) -------------

  private[rio] sealed trait Tok { def text: String }
  private[rio] case class TIri(text: String) extends Tok
  private[rio] case class TPName(text: String) extends Tok
  private[rio] case class TBNode(text: String) extends Tok
  private[rio] case class TStr(text: String) extends Tok
  private[rio] case class TNum(text: String) extends Tok
  private[rio] case class TLang(text: String) extends Tok
  private[rio] case class TWord(text: String) extends Tok
  private[rio] case class TPunct(text: String) extends Tok

  private val TokenRe =
    ("""\s+|#[^\n]*""" +
      """|<[^<>\s{}|^`\\]*>""" +
      // long strings FIRST (a short-string alternative would stop at
      // the empty string ""); [^"\\] spans newlines — multi-line
      // literals are the whole point of the form (Turtle §6.7)
      "|\"{3}(?:[^\"\\\\]|\\\\.|\"{1,2}(?!\"))*\"{3}" +
      "|'{3}(?:[^'\\\\]|\\\\.|'{1,2}(?!'))*'{3}" +
      """|"(?:[^"\\]|\\.)*"""" +
      "|'(?:[^'\\\\\\n]|\\\\.)*'" +
      """|_:[A-Za-z0-9_:-]+""" + // ':' allowed: file-scope-salted labels round-trip
      """|@[A-Za-z][A-Za-z0-9-]*""" +
      """|[+-]?\d+\.\d+(?:[eE][+-]?\d+)?|[+-]?\.\d+(?:[eE][+-]?\d+)?|[+-]?\d+(?:[eE][+-]?\d+)?""" +
      """|[A-Za-z_][A-Za-z0-9_]*:(?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?|:[A-Za-z0-9_.-]*[A-Za-z0-9_-]|:""" +
      """|\^\^|[;,.\[\](){}]""" +
      """|[A-Za-z_][A-Za-z0-9_]*""").r

  /** One pass over the document: a single `Matcher` is moved token by
    * token with `region(idx, len)` + `lookingAt()`. Matching against
    * `doc.subSequence(idx, len)` instead copies the whole remaining
    * document per token, which makes the parse quadratic. The region
    * always ends at `doc.length`, so with the default opaque, anchoring
    * bounds the match is the one the tail would give.
    */
  private[rio] def tokenize(doc: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val m = TokenRe.pattern.matcher(doc)
    var idx = 0
    while (idx < doc.length) {
      if (!m.region(idx, doc.length).lookingAt())
        throw new IllegalArgumentException(
          s"turtle: unrecognized input at '${doc.substring(idx).take(30)}'")
      val s = m.group()
      idx = m.end()
      val c = s.charAt(0)
      if (c.isWhitespace || c == '#') ()
      else if (c == '<') out += TIri(s.substring(1, s.length - 1))
      else if (s.startsWith("\"\"\"") || s.startsWith("'''"))
        out += TStr(unescape(s.substring(3, s.length - 3)))
      else if (c == '"' || c == '\'')
        out += TStr(unescape(s.substring(1, s.length - 1)))
      else if (s.startsWith("_:")) out += TBNode(decodeBnodeLabel(s.substring(2)))
      else if (c == '@') out += TLang(s.substring(1))
      else if (c.isDigit || ((c == '+' || c == '-' || c == '.') && s.length > 1))
        out += TNum(s)
      else if (s.contains(":")) out += TPName(s)
      else if (c.isLetter || c == '_') out += TWord(s)
      else out += TPunct(s)
    }
    out.result()
  }

  /** single left-to-right scan — sequential `replace` calls corrupt
    * an escaped backslash followed by n/t/r ("\\\\n" is backslash+'n',
    * not backslash+newline)
    */
  private def isHexDigit(c: Char): Boolean = Character.digit(c, 16) >= 0

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 'b' => b.append('\b'); i += 2
          case 'f' => b.append('\f'); i += 2
          case '"' => b.append('"'); i += 2
          case '\'' => b.append('\''); i += 2
          case '\\' => b.append('\\'); i += 2
          // UCHAR (Turtle §6.4 / N-Triples canonical form): \uXXXX and
          // \U00XXXXXX — canonical N-Triples escapes ALL non-ASCII this
          // way, so dropping these would corrupt every such literal
          case 'u' if i + 6 <= s.length &&
              s.substring(i + 2, i + 6).forall(isHexDigit) =>
            b.appendAll(Character.toChars(
              Integer.parseInt(s.substring(i + 2, i + 6), 16)))
            i += 6
          case 'U' if i + 10 <= s.length &&
              s.substring(i + 2, i + 10).forall(isHexDigit) =>
            b.appendAll(Character.toChars(
              Integer.parseInt(s.substring(i + 2, i + 10), 16)))
            i += 10
          case other => b.append('\\').append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Blank-node labels in emitted documents must stay inside the
    * BLANK_NODE_LABEL charset (Turtle and N-Quads both forbid ':',
    * which the engine's file-scope salt contains). Bijective codec:
    * '_' → "__", ':' → "_c" on emit, inverted on parse — so salted
    * labels round-trip and the output is accepted by conformant
    * parsers (RDF4J/Jena).
    */
  private[rio] def encodeBnodeLabel(l: String): String =
    l.replace("_", "__").replace(":", "_c")

  private[rio] def decodeBnodeLabel(l: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < l.length) {
      if (l.charAt(i) == '_' && i + 1 < l.length && l.charAt(i + 1) == '_') {
        b.append('_'); i += 2
      } else if (l.charAt(i) == '_' && i + 1 < l.length && l.charAt(i + 1) == 'c') {
        b.append(':'); i += 2
      } else { b.append(l.charAt(i)); i += 1 }
    }
    b.toString
  }

  /** Canonical numeric literal for an EXPLICIT numeric datatype: the
    * lexical follows the datatype (integer → integral form, decimal/
    * double → engine-wide scale-6 form), not the source text shape.
    */
  private[rio] def canonNumTerm(text: String, dt: String): Term = {
    val bd = BigDecimal(text).setScale(
      if (dt == Rdf.XsdInteger) 0 else 6, BigDecimal.RoundingMode.HALF_UP)
    Term(bd.bigDecimal.toPlainString, Rdf.LIT, dt, "", Some(text.toDouble))
  }

  // ---- document parser ------------------------------------------------

  /** Parse one Turtle document. `bnodeScope` salts blank-node labels so
    * labels from different files never collide (file-scoped identity,
    * RDF 1.1 Turtle §2.5.1-flavored).
    */
  def parseDoc(doc: String, bnodeScope: String = ""): Seq[Stmt] =
    parseImpl(doc, bnodeScope, trig = false).map(_._2)

  /** Parse one TriG document (RDF 1.2 TriG: Turtle + `{ }` graph
    * blocks, optionally introduced by `GRAPH <g>`; statements outside
    * any block land in the default graph, returned as graph `""`).
    */
  def parseTriG(doc: String, bnodeScope: String = ""): Seq[(String, Stmt)] =
    parseImpl(doc, bnodeScope, trig = true)

  private def parseImpl(doc: String, bnodeScope: String,
      trig: Boolean): Seq[(String, Stmt)] = {
    val toks = tokenize(doc)
    var pos = 0
    var prefixes = Map.empty[String, String]
    var baseIri = ""
    def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def next(): Tok = { pos += 1; toks(pos - 1) }
    def resolve(i: String): String = Rdf.resolveIri(i, baseIri)
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"turtle: $msg at '${peek.map(_.text).getOrElse("<eof>")}'")

    def expand(pn: String): String = {
      val i = pn.indexOf(':')
      prefixes.get(pn.substring(0, i)) match {
        case Some(base) => base + pn.substring(i + 1)
        case None => pn
      }
    }

    def canonNum(text: String): Term = {
      val isInt = !text.contains('.') && !text.toLowerCase.contains('e')
      // integer lexicals stay integral ("30", valid xsd:integer per
      // XSD 1.1); decimals canonicalize to the engine-wide scale-6 form
      val bd = BigDecimal(text)
        .setScale(if (isInt) 0 else 6, BigDecimal.RoundingMode.HALF_UP)
      Term(bd.bigDecimal.toPlainString, Rdf.LIT,
        if (isInt) Rdf.XsdInteger else Rdf.XsdDecimal, "", Some(text.toDouble))
    }

    val stmts = Seq.newBuilder[(String, Stmt)]
    var curGraph = "" // TriG graph context; "" = default graph
    def emitStmt(st: Stmt): Unit = stmts += ((curGraph, st))
    // fresh anonymous bnode labels: a leading '-' is not a legal first
    // character of a file-authored `_:label` (W3C Turtle PN_CHARS_U |
    // digit), so "-aN" never collides under the same scope salt, yet
    // stays inside the tokenizer's label charset for emit round-trips
    var anonN = 0
    def freshBnode(): Term = {
      anonN += 1
      Term(bnodeScope + "-a" + anonN, Rdf.BNODE, "", "", None)
    }
    def rdfIri(lex: String): Term = Term(lex, Rdf.IRI, "", "", None)

    def term(): Term = next() match {
      case TIri(i) => Term(resolve(i), Rdf.IRI, "", "", None)
      case TPName(pn) => Term(expand(pn), Rdf.IRI, "", "", None)
      case TBNode(b) => Term(bnodeScope + b, Rdf.BNODE, "", "", None)
      case TNum(n) => canonNum(n)
      case TWord(w) if w == "true" || w == "false" =>
        Term(w, Rdf.LIT, Rdf.XsdBoolean, "", Some(if (w == "true") 1.0 else 0.0))
      case TStr(s) =>
        peek match {
          case Some(TLang(l)) => next(); Term(s, Rdf.LIT, Rdf.XsdString, l, None)
          case Some(TPunct("^^")) =>
            next()
            val dt = next() match {
              case TIri(i) => i
              case TPName(pn) => expand(pn)
              case t => fail(s"bad datatype ${t.text}")
            }
            if (dt == Rdf.XsdDecimal || dt == Rdf.XsdInteger || dt == "xsd:double")
              canonNumTerm(s, dt)
            else Term(s, Rdf.LIT, dt, "", None)
          case _ => Term(s, Rdf.LIT, Rdf.XsdString, "", None)
        }
      case TPunct("[") => // anonymous bnode, optionally with properties
        val b = freshBnode()
        if (!peek.contains(TPunct("]"))) predObjList(b, closer = "]")
        if (peek.contains(TPunct("]"))) next() else fail("expected ]")
        b
      case TPunct("(") => // collection → rdf:first/rdf:rest/rdf:nil chain
        var items = Vector.empty[Term]
        while (!peek.contains(TPunct(")"))) {
          if (peek.isEmpty) fail("unterminated collection")
          items :+= term()
        }
        next() // ')'
        if (items.isEmpty) rdfIri("rdf:nil")
        else {
          val cells = items.map(_ => freshBnode())
          items.indices.foreach { i =>
            emitStmt(Stmt(cells(i), rdfIri("rdf:first"), items(i)))
            emitStmt(Stmt(cells(i), rdfIri("rdf:rest"),
              if (i == items.size - 1) rdfIri("rdf:nil") else cells(i + 1)))
          }
          cells.head
        }
      case t => fail(s"unexpected ${t.text}")
    }

    def predicate(): Term = peek match {
      case Some(TWord("a")) => next(); Term(Rdf.RdfType, Rdf.IRI, "", "", None)
      case _ => term() match {
        case t if t.kind == Rdf.IRI => t
        case t => fail(s"predicate must be an IRI, got ${t.lex}")
      }
    }

    /** `p o, o2 ; p2 o3 …` for subject `s`, up to `.` or the bnode
      * closer `]` (dangling `;` tolerated before either).
      */
    def predObjList(s: Term, closer: String): Unit = {
      var subjDone = false
      while (!subjDone) {
        val p = predicate()
        var objDone = false
        while (!objDone) {
          emitStmt(Stmt(s, p, term()))
          objDone = !peek.contains(TPunct(","))
          if (!objDone) next()
        }
        subjDone = !peek.contains(TPunct(";"))
        if (!subjDone) {
          next()
          // dangling ';' — only PUNCT terminators count (an IRI token
          // whose text happens to be "." or "]" must not end the list)
          if (peek.exists {
            case TPunct(x) => x == "." || x == closer
            case _ => false
          }) subjDone = true
        }
      }
    }

    /** `{ stmts }` with graph context `g`; optional trailing `.` */
    def graphBlock(g: String): Unit = {
      if (!peek.contains(TPunct("{"))) fail("expected {")
      next()
      val saved = curGraph
      curGraph = g
      while (!peek.contains(TPunct("}"))) {
        if (peek.isEmpty) fail("unterminated graph block")
        val subj = term()
        if (!peek.contains(TPunct(".")) && !peek.contains(TPunct("}")))
          predObjList(subj, closer = "}")
        if (peek.contains(TPunct("."))) next()
      }
      next() // '}'
      curGraph = saved
      if (peek.contains(TPunct("."))) next()
    }

    while (peek.isDefined) {
      peek match {
        case Some(TLang("prefix")) | Some(TWord("PREFIX")) => // @prefix / SPARQL-style
          next()
          val name = next() match {
            case TPName(t) => t.substring(0, t.indexOf(':'))
            case t => fail(s"bad prefix decl ${t.text}")
          }
          // prefix IRIs resolve against the in-scope base (§6.3)
          val iri = next() match {
            case TIri(i) => resolve(i); case t => fail(s"bad prefix IRI ${t.text}")
          }
          prefixes += (name -> iri)
          if (peek.exists(_.text == ".")) next()
        case Some(TLang("base")) | Some(TWord("BASE")) =>
          next()
          next() match {
            // a later @base resolves against the earlier one (§6.3)
            case TIri(i) => baseIri = resolve(i)
            case t => fail(s"bad base IRI ${t.text}")
          }
          if (peek.exists(_.text == ".")) next()
        case Some(TWord(w)) if trig && w.equalsIgnoreCase("graph") =>
          next()
          val g = term()
          if (g.kind != Rdf.IRI && g.kind != Rdf.BNODE)
            fail("graph label must be an IRI or bnode")
          graphBlock(g.lex)
        case Some(TPunct("{")) if trig => graphBlock("") // default-graph block
        case _ =>
          val s = term()
          // TriG allows `<g> { ... }` without the GRAPH keyword
          if (trig && peek.contains(TPunct("{"))) graphBlock(s.lex)
          else {
            // a bare `[ ... ] .` / `( ... ) .` statement is legal: the
            // embedded properties were already emitted by term()
            if (!peek.contains(TPunct("."))) predObjList(s, closer = ".")
            if (peek.contains(TPunct("."))) next() else if (peek.isDefined) fail("expected .")
          }
      }
    }
    stmts.result()
  }

  // ---- emitter --------------------------------------------------------

  /** Serialize statements as N-Triples-style lines (valid Turtle) —
    * the round-trip counterpart of [[parseDoc]].
    */
  def emit(stmts: Seq[Stmt]): String = {
    def term(t: Term): String = t.kind match {
      case Rdf.IRI => s"<${t.lex}>"
      case Rdf.BNODE => s"_:${encodeBnodeLabel(t.lex)}"
      case _ =>
        val quoted = "\"" + t.lex.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r") + "\""
        if (t.lang.nonEmpty) s"$quoted@${t.lang}"
        else if (t.dt.nonEmpty && t.dt != Rdf.XsdString) s"$quoted^^<${t.dt}>"
        else quoted
    }
    stmts.map(s => s"${term(s.s)} ${term(s.p)} ${term(s.o)} .").mkString("\n")
  }

  // ---- Spark reader ---------------------------------------------------

  /** Read Turtle files into a quads DataFrame `(g, s, p, o)` with term
    * structs, all statements landing in named graph `graph` — the
    * reference's versioned-load context (`GraphDBSystemAdapter.java:279`).
    * One file = one parse task (`binaryFile` scan → `mapPartitions`).
    */
  def read(spark: SparkSession, paths: Seq[String], graph: String): DataFrame = {
    import spark.implicits._
    val parsed = spark.read.format("binaryFile").load(paths: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { files =>
        files.flatMap { case (path, bytes) =>
          parseDoc(new String(bytes, java.nio.charset.StandardCharsets.UTF_8),
            Rio.fileScope(path))
        }
      }
    // case-class field order (lex, kind, dt, lang, num) matches the
    // engine term-struct layout ([[Rdf.term]]) exactly
    parsed.select(lit(graph).as("g"), col("s"), col("p"), col("o"))
  }

  /** Read TriG files into a quads DataFrame `(g, s, p, o)`: graph
    * labels come from the documents' own `GRAPH { }` blocks;
    * default-graph statements land in `defaultGraph`. Same
    * one-file-per-task unit as [[read]] (TriG is prefix-stateful).
    */
  def readTriG(spark: SparkSession, paths: Seq[String], defaultGraph: String): DataFrame = {
    import spark.implicits._
    val parsed = spark.read.format("binaryFile").load(paths: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { files =>
        files.flatMap { case (path, bytes) =>
          parseTriG(new String(bytes, java.nio.charset.StandardCharsets.UTF_8),
            Rio.fileScope(path))
        }
      }
    parsed.select(
      when(col("_1") === "", defaultGraph).otherwise(col("_1")).as("g"),
      col("_2")("s").as("s"), col("_2")("p").as("p"), col("_2")("o").as("o"))
  }
}
