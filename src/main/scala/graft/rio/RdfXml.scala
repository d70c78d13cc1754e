package graft.rio

import java.io.StringReader

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdf.Rdf
import Turtle.{Stmt, Term}

/** RDF/XML parser (the reference's delegated RDF4J Rio stack accepts
  * RDF/XML alongside Turtle — `GraphDBSystemAdapter.java:286` only
  * ever sends Turtle, so this closes the format gap of the delegated
  * engine, not a path the adapter itself exercises).
  *
  * Built on the JDK's StAX pull parser — no external XML dependency,
  * no DTD/external-entity resolution (both disabled: a bulk loader
  * must not fetch URLs found inside data files). The parallel unit is
  * one FILE per task, like [[Turtle]]: RDF/XML is document-stateful
  * (namespaces, xml:base, xml:lang scopes), so files fan out across
  * the cluster but never split within.
  *
  * Coverage (the fragment RDF4J's writer and common ontology dumps
  * emit): `rdf:RDF` roots and single-node documents, `rdf:Description`
  * and typed node elements, `rdf:about` / `rdf:ID` / `rdf:nodeID`,
  * property elements with `rdf:resource` / `rdf:nodeID` /
  * `rdf:datatype`, nested node elements, property attributes on node
  * elements, `rdf:parseType="Resource"` / `"Collection"` /
  * `"Literal"`, `rdf:li` container membership, `xml:lang` and
  * `xml:base` scoping (absolute bases). Reification attributes
  * (`rdf:ID` on a property element, `rdf:aboutEach`, `rdf:bagID`) are
  * rejected loudly rather than mis-parsed.
  *
  * IRI identity: the four W3C vocabularies are compacted to the
  * harness-wide prefixed forms (`rdf:` `rdfs:` `owl:` `xsd:`) the
  * whole engine keys on (e.g. [[Rdf.RdfType]], the OWL-Horst rule
  * matcher) — RDF/XML cannot spell `rdf:type` without its namespace
  * the way Turtle fixtures do, so the compaction is what makes an
  * ontology loaded from RDF/XML drive the same inference as one
  * loaded from Turtle. All other IRIs keep their document spelling.
  */
object RdfXml {

  private val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val XmlNs = "http://www.w3.org/XML/1998/namespace"

  private val wellKnown = Rdf.wellKnownNs

  private def compact(iri: String): String =
    wellKnown.collectFirst {
      case (ns, p) if iri.startsWith(ns) => p + iri.substring(ns.length)
    }.getOrElse(iri)

  private def numericDt(dt: String): Boolean =
    dt == Rdf.XsdInteger || dt == Rdf.XsdDecimal || dt == "xsd:double"

  /** Resolve `ref` against `base` — absolute refs (scheme present)
    * pass through; `#frag` replaces the base fragment; other relative
    * refs resolve against the base's last `/` segment. Pragmatic RFC
    * 3986 subset: enough for rdf:ID and same-document references.
    */
  private def resolve(base: String, ref: String): String = {
    val colon = ref.indexOf(':')
    val slash = ref.indexOf('/')
    val isAbsolute = colon > 0 && (slash < 0 || colon < slash)
    if (isAbsolute || base.isEmpty) ref
    else if (ref.isEmpty) base
    else if (ref.startsWith("#")) base.takeWhile(_ != '#') + ref
    else {
      val cut = base.lastIndexOf('/')
      if (cut < 0) ref else base.substring(0, cut + 1) + ref
    }
  }

  /** Parse one RDF/XML document into statements. `bnodeScope` salts
    * blank-node labels per source unit, mirroring [[Turtle.parseDoc]].
    */
  def parseDoc(doc: String, bnodeScope: String = ""): Seq[Stmt] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty("javax.xml.stream.isSupportingExternalEntities",
      java.lang.Boolean.FALSE)
    val r = f.createXMLStreamReader(new StringReader(doc))
    try parseStream(r, bnodeScope) finally r.close()
  }

  private def parseStream(r: XMLStreamReader, bnodeScope: String): Seq[Stmt] = {
    val out = Seq.newBuilder[Stmt]
    var anonN = 0
    def freshBnode(): Term = {
      anonN += 1
      Term(bnodeScope + "-x" + anonN, Rdf.BNODE, "", "", None)
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"rdfxml: $msg")
    def elemIri(): String = {
      val ns = Option(r.getNamespaceURI).getOrElse("")
      if (ns.isEmpty) fail(s"unnamespaced element <${r.getLocalName}>")
      compact(ns + r.getLocalName)
    }
    def iriTerm(lex: String): Term = Term(lex, Rdf.IRI, "", "", None)
    def emit(s: Term, p: String, o: Term): Unit =
      out += Stmt(s, iriTerm(p), o)

    final case class Attrs(about: Option[String], id: Option[String],
        nodeId: Option[String], resource: Option[String],
        datatype: Option[String], parseType: Option[String],
        base: Option[String], lang: Option[String],
        props: Seq[(String, String)])
    def readAttrs(): Attrs = {
      var about, id, nodeId, resource, datatype, parseType, base, lang =
        Option.empty[String]
      val props = Seq.newBuilder[(String, String)]
      for (i <- 0 until r.getAttributeCount) {
        val ns = Option(r.getAttributeNamespace(i)).getOrElse("")
        val local = r.getAttributeLocalName(i)
        val v = r.getAttributeValue(i)
        (ns, local) match {
          case (RdfNs, "about") => about = Some(v)
          case (RdfNs, "ID") => id = Some(v)
          case (RdfNs, "nodeID") => nodeId = Some(v)
          case (RdfNs, "resource") => resource = Some(v)
          case (RdfNs, "datatype") => datatype = Some(v)
          case (RdfNs, "parseType") => parseType = Some(v)
          case (RdfNs, bad @ ("aboutEach" | "aboutEachPrefix" | "bagID")) =>
            fail(s"rdf:$bad is not supported")
          case (XmlNs, "base") => base = Some(v)
          case (XmlNs, "lang") => lang = Some(v)
          case (XmlNs, _) => () // xml:space etc — ignore
          case ("", other) =>
            fail(s"unnamespaced attribute $other")
          case _ => props += ((compact(ns + local), v))
        }
      }
      Attrs(about, id, nodeId, resource, datatype, parseType, base, lang,
        props.result())
    }

    /** r is ON a node element's START_ELEMENT; consumes through its
      * END_ELEMENT; returns the node's subject term.
      */
    def nodeElement(base0: String, lang0: String): Term = {
      val name = elemIri()
      val a = readAttrs()
      val base = a.base.getOrElse(base0)
      val lang = a.lang.getOrElse(lang0)
      val subj = (a.about, a.id, a.nodeId) match {
        case (Some(ab), None, None) => iriTerm(compact(resolve(base, ab)))
        case (None, Some(i), None) => iriTerm(compact(resolve(base, "#" + i)))
        case (None, None, Some(n)) => Term(bnodeScope + n, Rdf.BNODE, "", "", None)
        case (None, None, None) => freshBnode()
        case _ => fail("node element with more than one of rdf:about/ID/nodeID")
      }
      if (name != "rdf:Description") emit(subj, Rdf.RdfType, iriTerm(name))
      a.props.foreach { case (p, v) =>
        if (p == Rdf.RdfType) emit(subj, p, iriTerm(compact(resolve(base, v))))
        else emit(subj, p, Term(v, Rdf.LIT, Rdf.XsdString, lang, None))
      }
      var liN = 0
      val nextLi = () => { liN += 1; liN }
      var depth = 1
      while (depth > 0) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          propertyElement(subj, base, lang, nextLi)
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (!r.isWhiteSpace)
            fail(s"stray text inside node element <$name>: '${r.getText.trim.take(30)}'")
        case _ => ()
      }
      subj
    }

    /** r is ON a property element's START_ELEMENT; consumes through its
      * END_ELEMENT. `nextLi` yields the parent's next 1-based rdf:li
      * index (incremented only when this element IS an rdf:li).
      */
    def propertyElement(subj: Term, base0: String, lang0: String,
        nextLi: () => Int): Unit = {
      val raw = elemIri()
      val pred = if (raw == "rdf:li") s"rdf:_${nextLi()}" else raw
      val a = readAttrs()
      if (a.id.isDefined) fail("rdf:ID reification on a property element is not supported")
      val base = a.base.getOrElse(base0)
      val lang = a.lang.getOrElse(lang0)

      def consumeEmpty(): Unit = {
        var depth = 1
        while (depth > 0) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            fail(s"unexpected child element inside <$pred> with a resource object")
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (!r.isWhiteSpace) fail(s"text alongside rdf:resource in <$pred>")
          case _ => ()
        }
      }

      (a.parseType, a.resource, a.nodeId) match {
        case (Some("Resource"), None, None) =>
          val obj = freshBnode()
          emit(subj, pred, obj)
          var innerLiN = 0
          val innerLi = () => { innerLiN += 1; innerLiN }
          var depth = 1
          while (depth > 0) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              propertyElement(obj, base, lang, innerLi)
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ => ()
          }
        case (Some("Collection"), None, None) =>
          val items = Seq.newBuilder[Term]
          var depth = 1
          while (depth > 0) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              items += nodeElement(base, lang)
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ => ()
          }
          val cells = items.result().map(v => (freshBnode(), v))
          val nil = iriTerm("rdf:nil")
          emit(subj, pred, cells.headOption.map(_._1).getOrElse(nil))
          cells.zipWithIndex.foreach { case ((cell, v), i) =>
            emit(cell, "rdf:first", v)
            emit(cell, "rdf:rest",
              if (i + 1 < cells.size) cells(i + 1)._1 else nil)
          }
        case (Some("Literal"), None, None) =>
          emit(subj, pred,
            Term(innerXml(r), Rdf.LIT, "rdf:XMLLiteral", "", None))
        case (Some(other), _, _) => fail(s"unsupported parseType '$other'")
        case (None, Some(res), None) =>
          val obj = iriTerm(compact(resolve(base, res)))
          emit(subj, pred, obj)
          a.props.foreach { case (p, v) => // property attrs describe the object
            emit(obj, p, Term(v, Rdf.LIT, Rdf.XsdString, lang, None))
          }
          consumeEmpty()
        case (None, None, Some(n)) =>
          emit(subj, pred, Term(bnodeScope + n, Rdf.BNODE, "", "", None))
          consumeEmpty()
        case (None, None, None) if a.props.nonEmpty =>
          // property attributes with no resource: the object is a fresh
          // bnode described by the attributes (RDF/XML §2.12)
          val obj = freshBnode()
          emit(subj, pred, obj)
          a.props.foreach { case (p, v) =>
            emit(obj, p, Term(v, Rdf.LIT, Rdf.XsdString, lang, None))
          }
          consumeEmpty()
        case (None, Some(_), Some(_)) =>
          fail(s"both rdf:resource and rdf:nodeID on <$pred>")
        case (None, None, None) =>
          // literal text, a nested node element, or empty
          val text = new StringBuilder
          var obj = Option.empty[Term]
          var depth = 1
          while (depth > 0) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              if (obj.isDefined) fail(s"multiple node elements inside <$pred>")
              obj = Some(nodeElement(base, lang))
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
              text.append(r.getText)
            case _ => ()
          }
          obj match {
            case Some(o) =>
              if (text.toString.trim.nonEmpty)
                fail(s"mixed text and node element inside <$pred>")
              emit(subj, pred, o)
            case None =>
              val lex = text.toString
              val dt = a.datatype.map(d => compact(d))
              val term = dt match {
                case Some(d) if numericDt(d) => Turtle.canonNumTerm(lex, d)
                case Some(d) => Term(lex, Rdf.LIT, d, "", None)
                case None => Term(lex, Rdf.LIT, Rdf.XsdString, lang, None)
              }
              emit(subj, pred, term)
          }
      }
    }

    /** Serialize the inner XML of a parseType="Literal" element (r ON
      * its START_ELEMENT) and consume through its END_ELEMENT.
      */
    def innerXml(r: XMLStreamReader): String = {
      val sb = new StringBuilder
      var depth = 1
      def esc(s: String): String =
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      while (depth > 0) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          sb.append('<').append(r.getName.getLocalPart)
          for (i <- 0 until r.getAttributeCount)
            sb.append(' ').append(r.getAttributeLocalName(i)).append("=\"")
              .append(esc(r.getAttributeValue(i))).append('"')
          sb.append('>')
        case XMLStreamConstants.END_ELEMENT =>
          depth -= 1
          if (depth > 0) sb.append("</").append(r.getName.getLocalPart).append('>')
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(esc(r.getText))
        case _ => ()
      }
      sb.toString
    }

    // ---- document root --------------------------------------------------
    while (r.hasNext && r.getEventType != XMLStreamConstants.START_ELEMENT)
      r.next()
    if (r.getEventType != XMLStreamConstants.START_ELEMENT)
      return Nil // empty document
    if (Option(r.getNamespaceURI).getOrElse("") + r.getLocalName == RdfNs + "RDF") {
      val a = readAttrs()
      val base = a.base.getOrElse("")
      val lang = a.lang.getOrElse("")
      var depth = 1
      while (depth > 0 && r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT => nodeElement(base, lang)
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ => ()
      }
    } else nodeElement("", "") // single node element document
    out.result()
  }

  // ---- emitter --------------------------------------------------------

  private def escText(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  private def escAttr(s: String): String =
    escText(s).replace("\"", "&quot;").replace("\n", "&#10;")
      .replace("\r", "&#13;").replace("\t", "&#9;")

  /** Split a predicate IRI into (namespace, NCName local part) for use
    * as an XML element name: well-known compact forms re-expand to
    * their full namespace; otherwise split after the last `#`, `/` or
    * `:`. Fails loudly when the local part is not a valid NCName
    * (RDF/XML genuinely cannot serialize such predicates — RDF4J's
    * writer throws the same way).
    */
  private def splitQName(iri: String): (String, String) = {
    val full = wellKnown.collectFirst {
      case (ns, p) if iri.startsWith(p) => ns + iri.substring(p.length)
    }.getOrElse(iri)
    val cut = full.lastIndexWhere(c => c == '#' || c == '/' || c == ':')
    val (ns, local) = (full.substring(0, cut + 1), full.substring(cut + 1))
    val ok = local.nonEmpty &&
      (local.head.isLetter || local.head == '_') &&
      local.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.')
    if (cut < 0 || ns.isEmpty || !ok) throw new IllegalArgumentException(
      s"rdfxml: predicate <$iri> has no XML-serializable local name")
    (ns, local)
  }

  /** Serialize statements (triples — RDF/XML has no named graphs) as
    * one `rdf:Description` per statement, the unambiguous normal form.
    * Round-trip counterpart of [[parseDoc]].
    */
  def emit(stmts: Seq[Stmt]): String = {
    // collect predicate namespaces → ns1..nsN declarations
    val nss = stmts.map(st => splitQName(st.p.lex)._1).distinct
      .filterNot(_ == RdfNs)
    val nsPrefix = nss.zipWithIndex.map { case (ns, i) => ns -> s"ns${i + 1}" }.toMap
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<rdf:RDF xmlns:rdf=\"").append(RdfNs).append('"')
    nsPrefix.toSeq.sortBy(_._2).foreach { case (ns, p) =>
      sb.append("\n         xmlns:").append(p).append("=\"")
        .append(escAttr(ns)).append('"')
    }
    sb.append(">\n")
    stmts.foreach { st =>
      val (pns, plocal) = splitQName(st.p.lex)
      val pq = if (pns == RdfNs) s"rdf:$plocal" else s"${nsPrefix(pns)}:$plocal"
      sb.append("  <rdf:Description ")
      if (st.s.kind == Rdf.BNODE)
        sb.append("rdf:nodeID=\"").append(escAttr(st.s.lex)).append('"')
      else sb.append("rdf:about=\"").append(escAttr(st.s.lex)).append('"')
      sb.append(">\n    <").append(pq)
      st.o.kind match {
        case Rdf.IRI =>
          sb.append(" rdf:resource=\"").append(escAttr(st.o.lex)).append("\"/>")
        case Rdf.BNODE =>
          sb.append(" rdf:nodeID=\"").append(escAttr(st.o.lex)).append("\"/>")
        case _ =>
          if (st.o.lang.nonEmpty)
            sb.append(" xml:lang=\"").append(escAttr(st.o.lang)).append('"')
          else if (st.o.dt.nonEmpty && st.o.dt != Rdf.XsdString)
            sb.append(" rdf:datatype=\"").append(escAttr(st.o.dt)).append('"')
          sb.append('>').append(escText(st.o.lex)).append("</").append(pq).append('>')
      }
      sb.append("\n  </rdf:Description>\n")
    }
    sb.append("</rdf:RDF>\n")
    sb.toString
  }

  /** Read RDF/XML files into a quads DataFrame `(g, s, p, o)` with all
    * statements landing in named graph `graph` — same shape and
    * file-per-task unit as [[Turtle.read]].
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
    parsed.select(lit(graph).as("g"), col("s"), col("p"), col("o"))
  }
}
