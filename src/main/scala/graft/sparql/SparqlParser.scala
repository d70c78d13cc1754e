package graft.sparql

import Algebra._

/** Recursive-descent SPARQL 1.1 parser → [[Algebra]].
  *
  * Covers the query surface the reference exposes through
  * `prepareTupleQuery(QueryLanguage.SPARQL, …)`
  * (`GraphDBSystemAdapter.java:246`): SELECT/ASK with BGPs, OPTIONAL,
  * UNION, MINUS, FILTER (incl. (NOT) EXISTS), BIND, VALUES, GRAPH,
  * property paths (`^ / | * + ?` and negated sets incl. inverse
  * members and bare `!p`), blank nodes in patterns (`[ … ]` property
  * lists, `( … )` collections, `_:label` — all non-distinguished
  * variables, §4.1.4), sub-SELECT, GROUP BY / HAVING / aggregates,
  * ORDER BY / LIMIT / OFFSET, DISTINCT, FROM / FROM NAMED dataset
  * clauses (§13.2), and the §17 builtin/cast function set.
  *
  * PREFIX declarations expand prefixed names by plain string
  * concatenation; the engine treats IRIs as opaque strings (term
  * identity is lexical — see [[graft.rdf.Rdf]]).
  */
object SparqlParser {

  final case class ParseError(msg: String, at: String)
      extends RuntimeException(s"$msg at '$at'")

  // ---- tokenizer ------------------------------------------------------

  sealed trait Tok { def text: String }
  final case class TIri(text: String) extends Tok     // <...> content
  final case class TPName(text: String) extends Tok   // prefix:local as written
  final case class TVar(text: String) extends Tok     // without ? / $
  final case class TStr(text: String) extends Tok     // unquoted content
  final case class TNum(text: String) extends Tok
  final case class TWord(text: String) extends Tok    // keyword / function name
  final case class TPunct(text: String) extends Tok
  final case class TLang(text: String) extends Tok    // @tag content

  private val TokenRe =
    ("""\s+|#[^\n]*""" +                      // skip: whitespace, comments
      """|<[^<>\s{}|^`\\]*>""" +              // IRIREF
      // long strings before the short forms (SPARQL §19.8 shares
      // Turtle's string grammar; [^"\\] spans newlines)
      "|\"{3}(?:[^\"\\\\]|\\\\.|\"{1,2}(?!\"))*\"{3}" +
      "|'{3}(?:[^'\\\\]|\\\\.|'{1,2}(?!'))*'{3}" +
      """|"(?:[^"\\]|\\.)*"""" +              // STRING
      "|'(?:[^'\\\\\\n]|\\\\.)*'" +
      """|[?$][A-Za-z_][A-Za-z0-9_]*""" +     // VAR
      """|@[A-Za-z][A-Za-z0-9-]*""" +         // LANGTAG
      """|[+-]?\d+\.\d+(?:[eE][+-]?\d+)?|[+-]?\.\d+(?:[eE][+-]?\d+)?|[+-]?\d+(?:[eE][+-]?\d+)?""" + // NUMBER
      """|[A-Za-z_][A-Za-z0-9_]*:(?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?|:[A-Za-z0-9_.-]*[A-Za-z0-9_-]""" + // PNAME (no trailing '.')
      """|\^\^|&&|\|\||!=|<=|>=|[{}()\[\],;.|/^*+?!=<>-]""" +
      """|[A-Za-z_][A-Za-z0-9_]*""").r        // WORD

  def tokenize(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var idx = 0
    // previous emitted token: a sign glued to a number (`?x-1`) is an
    // INFIX operator when it follows a value-shaped token, per the
    // SPARQL additive grammar — only in prefix position is it a
    // NumericLiteralNegative
    var last: Tok = null
    def emit(t: Tok): Unit = { out += t; last = t }
    def valueShaped(t: Tok): Boolean = t match {
      case TVar(_) | TNum(_) | TIri(_) | TPName(_) => true
      case TPunct(")") => true
      case _ => false
    }
    // one Matcher moved by region + lookingAt: matching a copy of the
    // remaining text per token would make tokenizing quadratic
    val m = TokenRe.pattern.matcher(q)
    while (idx < q.length) {
      if (!m.region(idx, q.length).lookingAt())
        throw ParseError("unrecognized input", q.substring(idx).take(20))
      val s = m.group()
      idx = m.end()
      val c = s.charAt(0)
      if (c.isWhitespace || c == '#') ()
      else if (c == '<' && s.length > 1 && s.last == '>')
        emit(TIri(s.substring(1, s.length - 1)))
      else if (s.startsWith("\"\"\"") || s.startsWith("'''"))
        emit(TStr(unescape(s.substring(3, s.length - 3))))
      else if (c == '"' || c == '\'')
        emit(TStr(unescape(s.substring(1, s.length - 1))))
      // lone '?' is the zero-or-one path modifier, not a variable
      else if ((c == '?' || c == '$') && s.length > 1) emit(TVar(s.substring(1)))
      else if (c == '@') emit(TLang(s.substring(1)))
      else if (c.isDigit || (c == '.' && s.length > 1 && s(1).isDigit))
        emit(TNum(s))
      else if ((c == '+' || c == '-') && s.length > 1 && (s(1).isDigit || s(1) == '.')) {
        if (last != null && valueShaped(last)) {
          emit(TPunct(c.toString)); emit(TNum(s.substring(1)))
        } else emit(TNum(s))
      }
      else if (s.contains(":")) emit(TPName(s))
      else if (c.isLetter || c == '_')
        emit(TWord(s))
      else emit(TPunct(s))
    }
    out.result()
  }

  private def isHexDigit(c: Char): Boolean = Character.digit(c, 16) >= 0

  /** single left-to-right scan (sequential replaces corrupt "\\\\n") */
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
          // UCHAR escapes (SPARQL §19.2 shares Turtle's string grammar)
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

  // ---- parser state ---------------------------------------------------

  final class P(tokens: Vector[Tok]) {
    var pos = 0
    var prefixes = Map.empty[String, String]
    // dataset clauses (SPARQL 1.1 §13.2), filled by parseDatasetClauses
    var dsFrom = Vector.empty[String]
    var dsNamed = Vector.empty[String]
    // blank nodes in patterns are non-distinguished variables (§4.1.4):
    // `[ … ]` / `( … )` mint a fresh one, `_:label` is stable within
    // one GROUP GRAPH PATTERN. §19.6 forbids reusing a label across two
    // basic graph patterns — reference engines reject such queries
    // rather than silently joining, so scopes are a stack (one frame
    // per `{ … }` group) and reuse outside the minting frame is a
    // ParseError. A CONSTRUCT template runs in an isolated world: its
    // labels are per-solution-fresh output bnodes, never pattern
    // bindings and never in conflict with WHERE labels.
    private var anonN = 0
    private var bnodeStack: List[Map[String, String]] = List(Map.empty)
    private var closedBnodeLabels = Set.empty[String]
    def freshAnon(): String = { anonN += 1; Algebra.AnonVarPrefix + "b" + anonN }
    def pushBnodeScope(): Unit = bnodeStack ::= Map.empty
    def popBnodeScope(): Unit = {
      closedBnodeLabels ++= bnodeStack.head.keySet
      bnodeStack = bnodeStack.tail
    }
    // §19.6 is about BASIC graph patterns, not groups: triples separated
    // only by FILTER form ONE BGP (§5.2.2), while OPTIONAL / MINUS /
    // GRAPH / SERVICE / BIND / VALUES / a nested group all end the
    // current BGP. Called at each such element: the labels minted so
    // far in this group become closed (reuse after the break is the
    // cross-BGP reuse the spec forbids), while the group frame itself
    // stays open for labels minted by the NEXT run of triples.
    def closeBgpLabels(): Unit = {
      closedBnodeLabels ++= bnodeStack.head.keySet
      bnodeStack = Map.empty[String, String] :: bnodeStack.tail
    }
    def isolatedBnodeWorld[A](body: => A): A = {
      val (saveStack, saveClosed) = (bnodeStack, closedBnodeLabels)
      bnodeStack = List(Map.empty); closedBnodeLabels = Set.empty
      try body finally {
        bnodeStack = saveStack; closedBnodeLabels = saveClosed
      }
    }
    def bnodeVar(label: String): String = bnodeStack.head.getOrElse(label, {
      if (closedBnodeLabels(label) || bnodeStack.tail.exists(_.contains(label)))
        throw ParseError(
          "blank node label reused across basic graph patterns (§19.6)", label)
      val v = freshAnon()
      bnodeStack = (bnodeStack.head + (label -> v)) :: bnodeStack.tail
      v
    })

    // BASE prologue (§19.8): every IRIREF token downstream of the
    // declaration resolves against it at read time, so no use site
    // needs to know about relative references
    var baseIri = ""
    private def res(t: Tok): Tok = t match {
      case TIri(i) if baseIri.nonEmpty =>
        TIri(graft.rdf.Rdf.resolveIri(i, baseIri))
      case other => other
    }
    def peek: Option[Tok] =
      if (pos < tokens.length) Some(res(tokens(pos))) else None
    def next(): Tok = {
      if (pos >= tokens.length) throw ParseError("unexpected end of query", "")
      pos += 1; res(tokens(pos - 1))
    }
    def peekWord(w: String): Boolean = peek match {
      case Some(TWord(t)) => t.equalsIgnoreCase(w); case _ => false
    }
    def peekPunct(s: String): Boolean = peek match {
      case Some(TPunct(t)) => t == s; case _ => false
    }
    def eatWord(w: String): Boolean = { if (peekWord(w)) { pos += 1; true } else false }
    def eatPunct(s: String): Boolean = { if (peekPunct(s)) { pos += 1; true } else false }
    def expectPunct(s: String): Unit =
      if (!eatPunct(s)) throw ParseError(s"expected '$s'", peek.map(_.text).getOrElse("<eof>"))

    def expandPName(pn: String): String = {
      val i = pn.indexOf(':')
      val (pfx, local) = (pn.substring(0, i), pn.substring(i + 1))
      prefixes.get(pfx) match {
        case Some(base) => base + local
        case None => pn // unknown prefix: opaque compact IRI (our data dialect)
      }
    }
  }

  // ---- entry ----------------------------------------------------------

  /** Parsed query: algebra + form. `construct` carries the template
    * triples of a CONSTRUCT query (plain predicates, no paths);
    * `describe` the target IRIs/variables of a DESCRIBE query.
    * `fromGraphs`/`fromNamed` are the §13.2 dataset clauses: when either
    * is non-empty the query runs over an EXPLICIT dataset whose default
    * graph is the RDF merge of `fromGraphs` and whose named graphs are
    * exactly `fromNamed` — the reference accepts these through its
    * generic SPARQL entry (`GraphDBSystemAdapter.java:246`) and its
    * versioned `http://graph.version.N` layout (`:318`) makes "query
    * version N" a FROM clause.
    */
  final case class Query(op: Op, isAsk: Boolean,
      construct: Option[Seq[TriplePat]] = None,
      describe: Option[Seq[Node]] = None,
      fromGraphs: Seq[String] = Nil,
      fromNamed: Seq[String] = Nil)

  def parse(q: String): Query = {
    val out = parseInner(new P(tokenize(q)))
    out
  }

  /** SPARQL 1.1 Update §3.1.3 Modify, parsed as a grammar production:
    * `Prologue (WITH iri)? (DeleteClause InsertClause? | InsertClause)
    * UsingClause* WHERE GroupGraphPattern`. Templates parse as group
    * graph patterns (their consumer validates ground-triple shape);
    * each template gets an ISOLATED bnode world — template labels are
    * per-solution-fresh, never joined with WHERE pattern bnodes
    * (mirroring CONSTRUCT §16.2.1). Tokenizing the whole update means
    * string literals can never confuse clause splitting — a `{`, a
    * `USING <…>`, or a `WHERE {` INSIDE a literal is just characters
    * in a token.
    */
  final case class ModifyParsed(withGraph: Option[String],
      deleteTpl: Option[Op], insertTpl: Option[Op],
      usingGraphs: Seq[String], usingNamed: Seq[String], where: Op)

  def parseModify(text: String): ModifyParsed = {
    val p = new P(tokenize(text))
    parsePrologue(p)
    def iriOperand(): String = p.next() match {
      case TIri(i) => i
      case TPName(pn) => p.expandPName(pn)
      case t => throw ParseError("expected graph IRI", t.text)
    }
    val withG = if (p.eatWord("WITH")) Some(iriOperand()) else None
    val delT =
      if (p.eatWord("DELETE")) Some(p.isolatedBnodeWorld(parseGGP(p))) else None
    val insT =
      if (p.eatWord("INSERT")) Some(p.isolatedBnodeWorld(parseGGP(p))) else None
    if (delT.isEmpty && insT.isEmpty)
      throw ParseError("modify needs a DELETE or INSERT template", text.take(40))
    var ug = Vector.empty[String]
    var un = Vector.empty[String]
    while (p.eatWord("USING")) {
      val named = p.eatWord("NAMED")
      val g = iriOperand()
      if (named) un :+= g else ug :+= g
    }
    if (!p.eatWord("WHERE"))
      throw ParseError("modify needs a WHERE clause", text.take(40))
    val where = parseGGP(p)
    p.peek.foreach(t =>
      throw ParseError("unexpected trailing input after update", t.text))
    ModifyParsed(withG, delT, insT, ug, un, where)
  }

  /** `DELETE WHERE GroupGraphPattern` (§3.1.3 shorthand) — the pattern
    * doubles as the template; parsed through the grammar so literals
    * containing braces can never confuse the body extraction.
    */
  def parseDeleteWhere(text: String): Op = {
    val p = new P(tokenize(text))
    parsePrologue(p)
    if (!(p.eatWord("DELETE") && p.eatWord("WHERE")))
      throw ParseError("expected DELETE WHERE", text.take(40))
    val op = parseGGP(p)
    p.peek.foreach(t =>
      throw ParseError("unexpected trailing input after update", t.text))
    op
  }

  private def parseInner(p: P): Query = {
    val query = parseForms(p)
    // a token the grammar did not consume means a clause was silently
    // dropped (the bug class: trailing VALUES was once ignored and the
    // query ran unrestricted) — fail loudly instead of answering wrong
    p.peek.foreach(t =>
      throw ParseError("unexpected trailing input after query", t.text))
    query
  }

  private def parsePrologue(p: P): Unit = {
    // prologue: any interleaving of BASE and PREFIX declarations
    var prologue = true
    while (prologue) {
      if (p.eatWord("BASE")) {
        p.next() match {
          case TIri(t) => p.baseIri = t // next() already resolved nested BASEs
          case t => throw ParseError("expected IRI after BASE", t.text)
        }
      } else if (p.eatWord("PREFIX")) {
        val name = p.next() match {
          case TPName(t) => t.substring(0, t.indexOf(':'))
          case t => throw ParseError("expected prefix name", t.text)
        }
        val iri = p.next() match {
          case TIri(t) => t
          case t => throw ParseError("expected IRI", t.text)
        }
        p.prefixes += (name -> iri)
      } else prologue = false
    }
  }

  private def parseForms(p: P): Query = {
    parsePrologue(p)
    if (p.eatWord("ASK")) {
      parseDatasetClauses(p)
      p.eatWord("WHERE")
      Query(parseGGP(p), isAsk = true,
        fromGraphs = p.dsFrom, fromNamed = p.dsNamed)
    } else if (p.eatWord("CONSTRUCT")) {
      if (p.peekPunct("{")) {
        p.expectPunct("{")
        // template bnode labels live in their own scope: they are
        // per-solution-fresh output bnodes (§16.2.1), never shared with
        // (or bound by) the WHERE pattern's bnode variables
        val template = p.isolatedBnodeWorld(parseTriples(p))
        p.eatPunct(".")
        p.expectPunct("}")
        parseDatasetClauses(p)
        p.eatWord("WHERE")
        var op = parseGGP(p)
        var limit = -1L
        if (p.eatWord("LIMIT")) limit = p.next().text.toLong
        if (limit >= 0) op = Slice(op, 0, limit)
        Query(op, isAsk = false, construct = Some(template),
          fromGraphs = p.dsFrom, fromNamed = p.dsNamed)
      } else {
        // CONSTRUCT WHERE { triples } shorthand (§10.2.3): the WHERE
        // basic graph pattern doubles as the template
        parseDatasetClauses(p)
        if (!p.eatWord("WHERE"))
          throw ParseError("expected { or WHERE after CONSTRUCT",
            p.peek.map(_.text).getOrElse("<eof>"))
        p.expectPunct("{")
        val template = parseTriples(p)
        p.eatPunct(".")
        p.expectPunct("}")
        var op: Op = Bgp(template, None)
        var limit = -1L
        if (p.eatWord("LIMIT")) limit = p.next().text.toLong
        if (limit >= 0) op = Slice(op, 0, limit)
        Query(op, isAsk = false, construct = Some(template),
          fromGraphs = p.dsFrom, fromNamed = p.dsNamed)
      }
    } else if (p.eatWord("DESCRIBE")) {
      var targets = Vector.empty[Node]
      var more = true
      while (more) p.peek match {
        case Some(TVar(v)) => p.next(); targets :+= V(v)
        case Some(TIri(i)) => p.next(); targets :+= T(i)
        case Some(TPName(pn)) => p.next(); targets :+= T(p.expandPName(pn))
        case _ => more = false
      }
      parseDatasetClauses(p)
      val op = if (p.peekWord("WHERE") || p.peekPunct("{")) {
        p.eatWord("WHERE"); parseGGP(p)
      } else Unit0
      Query(op, isAsk = false, describe = Some(targets),
        fromGraphs = p.dsFrom, fromNamed = p.dsNamed)
    } else if (p.peekWord("SELECT")) {
      Query(parseSelect(p, top = true), isAsk = false,
        fromGraphs = p.dsFrom, fromNamed = p.dsNamed)
    } else throw ParseError("expected SELECT, ASK, CONSTRUCT or DESCRIBE",
      p.peek.map(_.text).getOrElse(""))
  }

  /** `FROM <g>` / `FROM NAMED <g>` dataset clauses (§13.2), any number,
    * stored on the parser state. Graph names may be IRIREFs or prefixed
    * names (expanded like every other IRI position).
    */
  private def parseDatasetClauses(p: P): Unit =
    while (p.eatWord("FROM")) {
      val named = p.eatWord("NAMED")
      val iri = p.next() match {
        case TIri(i) => i
        case TPName(pn) => p.expandPName(pn)
        case t => throw ParseError("expected graph IRI in dataset clause", t.text)
      }
      if (named) p.dsNamed :+= iri else p.dsFrom :+= iri
    }

  // ---- SELECT ---------------------------------------------------------

  private def parseSelect(p: P, top: Boolean = false): Op = {
    p.eatWord("SELECT")
    // REDUCED permits duplicate elimination (SPARQL §15.3.2); compiling
    // it as Distinct is both spec-compliant and the cheaper plan at
    // scale (map-side partial aggregation beats shipping duplicates)
    val distinct = p.eatWord("DISTINCT") | p.eatWord("REDUCED")
    var star = false
    // selectors: var | (expr AS ?v)
    var selectors = Vector.empty[(String, Option[Expr])]
    var done = false
    while (!done) {
      p.peek match {
        case Some(TVar(v)) => p.next(); selectors :+= (v, None)
        case Some(TPunct("*")) => p.next(); star = true
        case Some(TPunct("(")) =>
          p.next()
          val e = parseExpr(p)
          if (!p.eatWord("AS")) throw ParseError("expected AS", p.peek.map(_.text).getOrElse(""))
          val v = p.next() match {
            case TVar(x) => x; case t => throw ParseError("expected var", t.text)
          }
          p.expectPunct(")")
          selectors :+= (v, Some(e))
        case _ => done = true
      }
    }
    // dataset clauses sit between the select clause and WHERE; the
    // grammar's SubSelect production has no DatasetClause, so reject
    // them loudly in nested position instead of silently re-scoping
    // the whole query's dataset
    if (top) parseDatasetClauses(p)
    else if (p.peekWord("FROM"))
      throw ParseError("FROM/FROM NAMED is not allowed in a subquery",
        p.peek.map(_.text).getOrElse(""))
    p.eatWord("WHERE")
    var op = parseGGP(p)

    // GROUP BY / HAVING
    var groupKeys = Vector.empty[(String, Option[Expr])]
    var grouped = false
    if (p.eatWord("GROUP")) {
      if (!p.eatWord("BY")) throw ParseError("expected BY", "")
      grouped = true
      var more = true
      while (more) {
        p.peek match {
          case Some(TVar(v)) => p.next(); groupKeys :+= (v, None)
          case Some(TPunct("(")) =>
            p.next()
            val e = parseExpr(p)
            if (!p.eatWord("AS")) throw ParseError("expected AS in GROUP BY expr", "")
            val v = p.next() match { case TVar(x) => x; case t => throw ParseError("var", t.text) }
            p.expectPunct(")")
            groupKeys :+= (v, Some(e))
          case _ => more = false
        }
      }
    }
    var havingExpr: Option[Expr] = None
    if (p.eatWord("HAVING")) havingExpr = Some(parseExpr(p))

    // ORDER BY
    var orderKeys = Vector.empty[(Expr, Boolean)]
    if (p.eatWord("ORDER")) {
      if (!p.eatWord("BY")) throw ParseError("expected BY", "")
      var more = true
      while (more) {
        if (p.eatWord("ASC")) { p.expectPunct("("); orderKeys :+= (parseExpr(p), true); p.expectPunct(")") }
        else if (p.eatWord("DESC")) { p.expectPunct("("); orderKeys :+= (parseExpr(p), false); p.expectPunct(")") }
        else p.peek match {
          case Some(TVar(_)) | Some(TPunct("(")) => orderKeys :+= (parseExpr(p), true)
          case Some(TWord(w)) if !Set("LIMIT", "OFFSET", "GROUP", "HAVING", "VALUES")
              .contains(w.toUpperCase) => orderKeys :+= (parseExpr(p), true)
          case _ => more = false
        }
      }
    }
    var limit = -1L; var offsetN = 0L
    var more2 = true
    while (more2) {
      if (p.eatWord("LIMIT")) limit = p.next().text.toLong
      else if (p.eatWord("OFFSET")) offsetN = p.next().text.toLong
      else more2 = false
    }

    // trailing ValuesClause (§10.2.2): lexically after the solution
    // modifiers, semantically a JOIN with the query pattern (§18.2.4.4
    // joins the data block before modifiers apply)
    if (top && p.eatWord("VALUES")) op = Join(op, parseValues(p))

    // ---- assemble algebra ----
    val hasAgg = grouped || selectors.exists(_._2.exists(containsAgg)) ||
      havingExpr.exists(containsAgg) || orderKeys.exists(k => containsAgg(k._1))
    var projVars = Vector.empty[String]

    if (hasAgg) {
      var aggs = Vector.empty[(String, EAgg)]
      var postExtends = Vector.empty[(String, Expr)]
      var n = 0
      def liftAggs(e: Expr): Expr = e match {
        case ag: EAgg =>
          n += 1; val v = s"__agg_$n"; aggs :+= (v, ag); EVar(v)
        case ECall(o2, as2) => ECall(o2, as2.map(liftAggs))
        case other => other
      }
      selectors.foreach {
        case (v, None) => projVars :+= v
        case (v, Some(ag: EAgg)) => aggs :+= (v, ag); projVars :+= v
        case (v, Some(e)) =>
          val lifted = liftAggs(e)
          postExtends :+= (v, lifted); projVars :+= v
      }
      val having2 = havingExpr.map(liftAggs)
      // aggregates in ORDER BY keys evaluate in the same group context
      orderKeys = orderKeys.map { case (e, asc) => (liftAggs(e), asc) }
      op = Group(op, groupKeys, aggs)
      having2.foreach(h => op = Filter(h, op))
      postExtends.foreach { case (v, e) => op = Extend(op, v, e) }
    } else {
      selectors.foreach {
        case (v, None) => projVars :+= v
        case (v, Some(e)) => op = Extend(op, v, e); projVars :+= v
      }
    }
    // `*` projects the distinguished variables only — bnode-minted anon
    // vars are internal join plumbing (§4.1.4)
    if (star) projVars =
      Algebra.inScope(op).toVector.filterNot(Algebra.isAnonVar)

    // DISTINCT dedups projected rows, then ORDER sorts the deduped set
    // (with DISTINCT, SPARQL restricts sort keys to projected vars);
    // without DISTINCT, ORDER may reference any in-scope var, so it
    // runs before projection.
    if (distinct) {
      op = Distinct(Project(op, projVars))
      if (orderKeys.nonEmpty) op = OrderBy(op, orderKeys)
    } else {
      if (orderKeys.nonEmpty) op = OrderBy(op, orderKeys)
      op = Project(op, projVars)
    }
    if (limit >= 0 || offsetN > 0) op = Slice(op, offsetN, limit)
    op
  }

  private def containsAgg(e: Expr): Boolean = e match {
    case _: EAgg => true
    case ECall(_, as) => as.exists(containsAgg)
    case _ => false
  }

  // ---- group graph pattern -------------------------------------------

  private def parseGGP(p: P): Op = {
    p.expectPunct("{")
    p.pushBnodeScope()
    var current: Op = Unit0
    var filters = Vector.empty[Expr]

    def add(op: Op): Unit = current = (current, op) match {
      case (Unit0, x) => x
      case (Bgp(a, g1), Bgp(b, g2)) if g1 == g2 => Bgp(a ++ b, g1)
      case (l, r) => Join(l, r)
    }

    while (!p.peekPunct("}")) {
      // every GraphPatternNotTriples except FILTER ends the current
      // basic graph pattern for bnode-label scoping (§5.2.2, §19.6);
      // plain triple blocks (the else branch below) continue it
      val breaksBgp = p.peekPunct("{") ||
        Seq("OPTIONAL", "SERVICE", "MINUS", "GRAPH", "BIND", "VALUES")
          .exists(p.peekWord)
      if (breaksBgp) p.closeBgpLabels()
      if (p.eatWord("FILTER")) {
        filters :+= parseConstraint(p)
      } else if (p.eatWord("OPTIONAL")) {
        // hoist EVERY stacked top-level filter of the optional group
        // into the join condition — a filter left inside the right
        // side cannot see left-bound variables
        var inner = parseGGP(p)
        var conds = Vector.empty[Expr]
        var unwrapping = true
        while (unwrapping) inner match {
          case Filter(c, i) => conds :+= c; inner = i
          case _ => unwrapping = false
        }
        current = LeftJoin(current, inner,
          conds.reduceOption((a, b) => ECall("&&", Seq(a, b))))
      } else if (p.eatWord("SERVICE")) {
        // GraphDB executes SERVICE federation through its HTTP client
        // stack; this engine has no outbound transport, so endpoints
        // resolve against the in-process registry
        // (Sparql.registerService) and anything else fails fast at
        // compile time with a dedicated federation error.
        val silent = p.eatWord("SILENT")
        val target = p.next() match {
          case TIri(i) => i
          case TPName(pn) => p.expandPName(pn)
          case TVar(_) => throw new UnsupportedOperationException(
            "SERVICE (federated query) with a variable endpoint is not " +
              "supported: endpoint discovery needs a remote transport")
          case t => throw ParseError("expected SERVICE endpoint IRI", t.text)
        }
        add(Service(target, parseGGP(p), silent))
      } else if (p.eatWord("MINUS")) {
        current = Minus(current, parseGGP(p))
      } else if (p.eatWord("GRAPH")) {
        val g: Node = p.next() match {
          case TVar(v) => V(v)
          case TIri(i) => T(i)
          case TPName(pn) => T(p.expandPName(pn))
          case t => throw ParseError("expected graph name or var", t.text)
        }
        add(setGraph(parseGGP(p), g))
      } else if (p.eatWord("BIND")) {
        p.expectPunct("(")
        val e = parseExpr(p)
        if (!p.eatWord("AS")) throw ParseError("expected AS", "")
        val v = p.next() match { case TVar(x) => x; case t => throw ParseError("var", t.text) }
        p.expectPunct(")")
        // §10.1: the BIND target must not already be bound in the
        // group up to this point — re-binding is a syntax error, and
        // letting it through surfaces later as an obscure Spark
        // ambiguous-reference analysis failure
        if (Algebra.inScope(current).contains(v))
          throw ParseError(
            s"BIND target is already bound in this group (§10.1)", "?" + v)
        current = Extend(current, v, e)
      } else if (p.eatWord("VALUES")) {
        add(parseValues(p))
      } else if (p.peekPunct("{")) {
        // group → possible UNION chain or sub-select
        var g = parseGroupOrSubSelect(p)
        while (p.eatWord("UNION")) g = Union(g, parseGroupOrSubSelect(p))
        add(g)
      } else {
        add(Bgp(parseTriples(p)))
      }
      p.eatPunct(".")
    }
    p.expectPunct("}")
    p.popBnodeScope()
    filters.foldLeft(current)((op, f) => Filter(f, op))
  }

  private def parseGroupOrSubSelect(p: P): Op = {
    // '{ SELECT' → subquery
    val save = p.pos
    p.expectPunct("{")
    if (p.peekWord("SELECT")) {
      val sub = parseSelect(p)
      p.expectPunct("}")
      sub
    } else { p.pos = save; parseGGP(p) }
  }

  private def setGraph(op: Op, g: Node): Op = op match {
    case Bgp(pats, _) => Bgp(pats, Some(g))
    case Join(l, r) => Join(setGraph(l, g), setGraph(r, g))
    case LeftJoin(l, r, c) => LeftJoin(setGraph(l, g), setGraph(r, g), c)
    case Union(l, r) => Union(setGraph(l, g), setGraph(r, g))
    case Minus(l, r) => Minus(setGraph(l, g), setGraph(r, g))
    case Filter(c, i) => Filter(c, setGraph(i, g))
    case Extend(i, v, e) => Extend(setGraph(i, g), v, e)
    // sub-SELECT wrappers: the graph restriction reaches the patterns
    // inside (SPARQL §13.3 — the dataset is fixed for the subquery)
    case Project(i, vs) => Project(setGraph(i, g), vs)
    case Distinct(i) => Distinct(setGraph(i, g))
    case OrderBy(i, k) => OrderBy(setGraph(i, g), k)
    case Slice(i, o, l) => Slice(setGraph(i, g), o, l)
    case Group(i, k, a) => Group(setGraph(i, g), k, a)
    case Unit0 => Unit0
    case v: ValuesOp => v // inline data is graph-independent
    // a SERVICE block evaluates against the REMOTE endpoint's dataset;
    // the enclosing GRAPH restriction does not reach into it (§18.8)
    case s: Service => s
    case other => throw new IllegalArgumentException(
      s"GRAPH over unsupported operator: ${other.getClass.getSimpleName}")
  }

  private def parseConstraint(p: P): Expr = {
    if (p.eatWord("EXISTS")) EExists(parseGGP(p), positive = true)
    else if (p.peekWord("NOT")) {
      val save = p.pos; p.next()
      if (p.eatWord("EXISTS")) EExists(parseGGP(p), positive = false)
      else { p.pos = save; parseBracketed(p) }
    } else parseBracketed(p)
  }

  private def parseBracketed(p: P): Expr = {
    p.expectPunct("(")
    val e = parseExpr(p)
    p.expectPunct(")")
    e
  }

  private def parseValues(p: P): Op = {
    // VALUES ?v { t1 t2 } | VALUES (?a ?b) { (t1 t2) (t3 t4) }
    p.peek match {
      case Some(TVar(v)) =>
        p.next(); p.expectPunct("{")
        var rows = Vector.empty[Seq[Option[T]]]
        while (!p.peekPunct("}")) rows :+= Seq(parseValueTerm(p))
        p.expectPunct("}")
        ValuesOp(Seq(v), rows)
      case Some(TPunct("(")) =>
        p.next()
        var vars = Vector.empty[String]
        while (!p.eatPunct(")")) p.next() match {
          case TVar(v) => vars :+= v
          case t => throw ParseError("expected var", t.text)
        }
        p.expectPunct("{")
        var rows = Vector.empty[Seq[Option[T]]]
        while (!p.peekPunct("}")) {
          p.expectPunct("(")
          var row = Vector.empty[Option[T]]
          while (!p.eatPunct(")")) row :+= parseValueTerm(p)
          rows :+= row
        }
        p.expectPunct("}")
        ValuesOp(vars, rows)
      case t => throw ParseError("bad VALUES", t.map(_.text).getOrElse(""))
    }
  }

  private def parseValueTerm(p: P): Option[T] = {
    if (p.eatWord("UNDEF")) None
    else Some(parseTermToken(p))
  }

  // ---- triples & paths ------------------------------------------------

  private def parseTriples(p: P): Seq[TriplePat] = {
    var pats = Vector.empty[TriplePat]

    // `[ po-list ]` property lists and `( … )` collections desugar here:
    // nested triples append to `pats`, the node itself is the fresh
    // anonymous variable (§4.1.4 — query bnodes are variables)
    def parseNodeFull(): Node = p.peek match {
      case Some(TVar(v)) => p.next(); V(v)
      case Some(TPunct("[")) =>
        p.next()
        val b = V(p.freshAnon())
        if (!p.eatPunct("]")) { parsePoList(b); p.expectPunct("]") }
        b
      case Some(TPunct("(")) =>
        p.next()
        if (p.eatPunct(")")) T("rdf:nil") // empty collection is the IRI
        else {
          var items = Vector.empty[Node]
          while (!p.eatPunct(")")) items :+= parseNodeFull()
          val cells = items.indices.map(_ => V(p.freshAnon()))
          items.indices.foreach { i =>
            pats :+= TriplePat(cells(i), PLink("rdf:first"), items(i))
            pats :+= TriplePat(cells(i), PLink("rdf:rest"),
              if (i == items.size - 1) T("rdf:nil") else cells(i + 1))
          }
          cells.head
        }
      case Some(TPName(pn)) if pn.startsWith("_:") =>
        p.next(); V(p.bnodeVar(pn))
      case _ => parseTermToken(p)
    }

    def parsePoList(subj: Node): Unit = {
      var subjDone = false
      while (!subjDone) {
        val path = parsePath(p)
        var objDone = false
        while (!objDone) {
          val o = parseNodeFull()
          pats :+= TriplePat(subj, path, o)
          objDone = !p.eatPunct(",")
        }
        subjDone = !p.eatPunct(";")
        if (!subjDone &&
          (p.peekPunct(".") || p.peekPunct("}") || p.peekPunct("]")))
          subjDone = true
      }
    }

    var done = false
    while (!done) {
      val nested = p.peekPunct("[") || p.peekPunct("(")
      val s = parseNodeFull()
      // a TriplesNode subject (`[ … ] .`) may omit its property list
      if (!(nested && (p.peekPunct(".") || p.peekPunct("}")))) parsePoList(s)
      if (p.eatPunct(".")) {
        done = p.peek match {
          case Some(TVar(_)) | Some(TIri(_)) | Some(TPName(_)) | Some(TStr(_)) |
               Some(TNum(_)) => false
          case Some(TPunct("[")) | Some(TPunct("(")) => false
          case _ => true
        }
      } else done = true
    }
    pats
  }

  private def parseTermToken(p: P): T = p.next() match {
    case TIri(i) => T(i)
    case TPName(pn) => T(p.expandPName(pn))
    case TStr(s) =>
      p.peek match {
        case Some(TLang(l)) => p.next(); T(s, 2, "xsd:string", l)
        case Some(TPunct("^^")) =>
          p.next()
          val dt = p.next() match {
            case TIri(i) => i; case TPName(pn) => p.expandPName(pn)
            case t => throw ParseError("expected datatype", t.text)
          }
          if (dt == "xsd:decimal" || dt == "xsd:integer" || dt == "xsd:double")
            T.num(s).copy(dt = dt)
          else T(s, 2, dt)
        case _ => T(s, 2, "xsd:string")
      }
    case TNum(n) => T.num(n)
    case TWord(w) if w.equalsIgnoreCase("true") => T("true", 2, "xsd:boolean")
    case TWord(w) if w.equalsIgnoreCase("false") => T("false", 2, "xsd:boolean")
    case t => throw ParseError("expected RDF term", t.text)
  }

  private def parsePath(p: P): Path = {
    // single bare variable predicate
    p.peek match {
      case Some(TVar(v)) => p.next(); return PVar(v)
      case _ =>
    }
    parsePathAlt(p)
  }

  private def parsePathAlt(p: P): Path = {
    var l = parsePathSeq(p)
    while (p.eatPunct("|")) l = PAlt(l, parsePathSeq(p))
    l
  }

  private def parsePathSeq(p: P): Path = {
    var l = parsePathElt(p)
    while (p.eatPunct("/")) l = PSeq(l, parsePathElt(p))
    l
  }

  private def parsePathElt(p: P): Path = {
    val inv = p.eatPunct("^")
    var prim: Path =
      if (p.eatPunct("!")) {
        // PathNegatedPropertySet: bare member or '(' members ')', each
        // member `iri` or `^iri`. Split into a forward and a reverse
        // exclusion set; `!(F|^R)` ≡ `!(F) | ^(!(R))` (§9.1 — a match
        // is any forward edge with p∉F or any reverse edge with p∉R),
        // so mixed sets desugar onto the existing PNeg/PInv/PAlt nodes.
        var fwd = Vector.empty[String]
        var rev = Vector.empty[String]
        def member(): Unit =
          if (p.eatPunct("^")) rev :+= parseIriToken(p)
          else fwd :+= parseIriToken(p)
        if (p.eatPunct("(")) {
          if (!p.peekPunct(")")) { member(); while (p.eatPunct("|")) member() }
          p.expectPunct(")")
        } else member()
        if (rev.isEmpty) PNeg(fwd)
        else if (fwd.isEmpty) PInv(PNeg(rev))
        else PAlt(PNeg(fwd), PInv(PNeg(rev)))
      } else if (p.eatPunct("(")) {
        val inner = parsePathAlt(p); p.expectPunct(")"); inner
      } else PLink(parseIriToken(p))
    // postfix modifiers
    var more = true
    while (more) {
      if (p.eatPunct("*")) prim = PStar(prim)
      else if (p.eatPunct("+")) prim = PPlus(prim)
      else if (p.eatPunct("?")) prim = POpt(prim)
      else more = false
    }
    if (inv) PInv(prim) else prim
  }

  private def parseIriToken(p: P): String = p.next() match {
    case TIri(i) => i
    case TPName(pn) => p.expandPName(pn)
    case TPunct("a") => "rdf:type"
    case TWord("a") => "rdf:type"
    case t => throw ParseError("expected IRI in path", t.text)
  }

  // ---- expressions ----------------------------------------------------

  private def parseExpr(p: P): Expr = parseOr(p)

  private def parseOr(p: P): Expr = {
    var l = parseAnd(p)
    while (p.eatPunct("||")) l = ECall("||", Seq(l, parseAnd(p)))
    l
  }

  private def parseAnd(p: P): Expr = {
    var l = parseRel(p)
    while (p.eatPunct("&&")) l = ECall("&&", Seq(l, parseRel(p)))
    l
  }

  private def parseRel(p: P): Expr = {
    val l = parseAdd(p)
    val ops = Seq("=", "!=", "<", ">", "<=", ">=")
    p.peek match {
      case Some(TPunct(o)) if ops.contains(o) =>
        p.next(); ECall(o, Seq(l, parseAdd(p)))
      case Some(TWord(w)) if w.equalsIgnoreCase("IN") =>
        p.next(); ECall("in", l +: parseExprList(p))
      case Some(TWord(w)) if w.equalsIgnoreCase("NOT") =>
        p.next()
        if (!p.eatWord("IN")) throw ParseError("expected IN", "")
        ECall("notin", l +: parseExprList(p))
      case _ => l
    }
  }

  private def parseExprList(p: P): Seq[Expr] = {
    p.expectPunct("(")
    var es = Vector.empty[Expr]
    if (!p.peekPunct(")")) {
      es :+= parseExpr(p)
      while (p.eatPunct(",")) es :+= parseExpr(p)
    }
    p.expectPunct(")")
    es
  }

  private def parseAdd(p: P): Expr = {
    var l = parseMul(p)
    var more = true
    while (more) {
      if (p.eatPunct("+")) l = ECall("+", Seq(l, parseMul(p)))
      else if (p.eatPunct("-")) l = ECall("-", Seq(l, parseMul(p)))
      else more = false
    }
    l
  }

  private def parseMul(p: P): Expr = {
    var l = parseUnary(p)
    var more = true
    while (more) {
      if (p.eatPunct("*")) l = ECall("*", Seq(l, parseUnary(p)))
      else if (p.eatPunct("/")) l = ECall("/", Seq(l, parseUnary(p)))
      else more = false
    }
    l
  }

  private def parseUnary(p: P): Expr = {
    if (p.eatPunct("!")) ECall("!", Seq(parseUnary(p)))
    else if (p.eatPunct("-")) ECall("u-", Seq(parseUnary(p)))
    else if (p.eatPunct("+")) parseUnary(p)
    else parsePrimary(p)
  }

  private val aggNames = Set("count", "sum", "avg", "min", "max", "sample", "group_concat")

  private def parsePrimary(p: P): Expr = p.peek match {
    case Some(TPunct("(")) => parseBracketed(p)
    case Some(TVar(v)) => p.next(); EVar(v)
    case Some(TWord(w)) if w.equalsIgnoreCase("EXISTS") =>
      p.next(); EExists(parseGGP(p), positive = true)
    case Some(TWord(w)) if w.equalsIgnoreCase("NOT") =>
      p.next()
      if (p.eatWord("EXISTS")) EExists(parseGGP(p), positive = false)
      else throw ParseError("expected EXISTS after NOT", "")
    case Some(TWord(w)) if aggNames.contains(w.toLowerCase) =>
      p.next()
      p.expectPunct("(")
      val distinct = p.eatWord("DISTINCT")
      if (p.eatPunct("*")) {
        p.expectPunct(")")
        EAgg(w.toLowerCase, None, distinct, None)
      } else {
        val arg = parseExpr(p)
        var sep: Option[String] = None
        if (p.eatPunct(";")) {
          if (!p.eatWord("SEPARATOR")) throw ParseError("expected SEPARATOR", "")
          p.expectPunct("=")
          sep = Some(p.next() match {
            case TStr(s) => s; case t => throw ParseError("expected string", t.text)
          })
        }
        p.expectPunct(")")
        EAgg(w.toLowerCase, Some(arg), distinct, sep)
      }
    case Some(TWord(w)) if w.equalsIgnoreCase("true") => p.next(); EConst(T("true", 2, "xsd:boolean"))
    case Some(TWord(w)) if w.equalsIgnoreCase("false") => p.next(); EConst(T("false", 2, "xsd:boolean"))
    case Some(TWord(w)) =>
      p.next()
      ECall(w.toLowerCase, parseExprList(p))
    case Some(TPName(pn)) =>
      p.next()
      if (p.peekPunct("(")) ECall(pn, parseExprList(p)) // xsd:* casts
      else EConst(T(p.expandPName(pn)))
    case Some(TStr(_)) | Some(TNum(_)) | Some(TIri(_)) =>
      EConst(parseTermToken(p))
    case t => throw ParseError("expected expression", t.map(_.text).getOrElse("<eof>"))
  }
}
