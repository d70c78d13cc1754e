package graft.rio

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdf.Rdf
import Turtle.{Stmt, Term}

/** JSON-LD parser (the reference's delegated RDF4J Rio stack accepts
  * JSON-LD alongside Turtle/RDF/XML; the adapter itself only ever
  * sends Turtle — `GraphDBSystemAdapter.java:286`).
  *
  * Jackson (already on every Spark classpath — Spark's own JSON
  * machinery is built on it) parses the tree; the JSON-LD → RDF
  * mapping implemented here is the pragmatic expanded/compacted
  * subset data dumps actually use:
  *
  *  - inline `@context`: term and prefix definitions (string values),
  *    expanded definitions `{"@id": …, "@type": "@id" | datatype}`
  *    (type coercion), `@vocab`, `@base`, `@language`, array contexts
  *    merged left-to-right. REMOTE contexts (string entries in a
  *    context array / string `@context`) are rejected loudly — a bulk
  *    loader must not fetch URLs found inside data files.
  *  - node objects: `@id` (IRI or `_:` bnode), `@type`, nested node
  *    objects (fresh bnodes when unlabelled), arrays as repeated
  *    values, `@graph` (both top-level named graphs and the
  *    default-graph array form).
  *  - values: JSON strings/numbers/booleans (integral numbers →
  *    `xsd:integer`, fractional → `xsd:double`, per the JSON-LD → RDF
  *    conversion rules), `{"@value": …}` with `@type` / `@language`,
  *    `{"@id": …}` references, `{"@list": […]}` → `rdf:first/rest`
  *    chains.
  *  - keys that expand to neither a keyword nor an IRI are DROPPED
  *    (JSON-LD's specified behavior for unmapped terms), counted and
  *    reported in one warning per document rather than silently.
  *
  * IRI identity matches [[RdfXml]]: the four W3C vocabularies compact
  * to the harness-wide `rdf:`/`rdfs:`/`owl:`/`xsd:` forms so a
  * JSON-LD-loaded ontology drives the same OWL-Horst rules as a
  * Turtle-loaded one; other IRIs keep their document spelling.
  */
object JsonLd {

  private val wellKnown = Seq(
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#" -> "rdf:",
    "http://www.w3.org/2000/01/rdf-schema#" -> "rdfs:",
    "http://www.w3.org/2002/07/owl#" -> "owl:",
    "http://www.w3.org/2001/XMLSchema#" -> "xsd:")

  private def compact(iri: String): String =
    wellKnown.collectFirst {
      case (ns, p) if iri.startsWith(ns) => p + iri.substring(ns.length)
    }.getOrElse(iri)

  private def numericDt(dt: String): Boolean =
    dt == Rdf.XsdInteger || dt == Rdf.XsdDecimal || dt == "xsd:double"

  /** One resolved term definition from `@context`. */
  private final case class TermDef(iri: String, coerceId: Boolean,
      datatype: Option[String], language: Option[String])

  private final case class Ctx(terms: Map[String, TermDef], vocab: String,
      base: String, language: String) {
    /** Expand a key/type/curie string to an IRI lex, or None when it
      * maps to nothing (unmapped term — dropped by the caller).
      */
    def expandIri(s: String, asVocab: Boolean): Option[String] = {
      if (s.startsWith("@")) return None // keyword in IRI position
      terms.get(s) match {
        case Some(td) => Some(td.iri)
        case None =>
          val i = s.indexOf(':')
          if (i > 0) {
            val (pfx, rest) = (s.substring(0, i), s.substring(i + 1))
            if (rest.startsWith("//")) Some(compact(s)) // absolute IRI
            else terms.get(pfx) match {
              case Some(td) => Some(compact(td.iri + rest)) // curie
              case None => Some(compact(s)) // opaque scheme:name — keep
            }
          } else if (asVocab && vocab.nonEmpty) Some(compact(vocab + s))
          else if (!asVocab && base.nonEmpty) Some(compact(base + s))
          else None
      }
    }
  }
  private val emptyCtx = Ctx(Map.empty, "", "", "")

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"jsonld: $msg")

  private def parseContext(node: JsonNode, start: Ctx): Ctx = {
    if (node.isArray)
      return node.elements().asScala.foldLeft(start)((c, n) => parseContext(n, c))
    if (node.isTextual)
      fail(s"remote @context '${node.asText}' is not supported (no fetching)")
    if (!node.isObject) fail("@context must be an object or array of objects")
    var ctx = start
    node.properties().asScala.foreach { e =>
      val (k, v) = (e.getKey, e.getValue)
      k match {
        case "@vocab" => ctx = ctx.copy(vocab = v.asText(""))
        case "@base" => ctx = ctx.copy(base = v.asText(""))
        case "@language" => ctx = ctx.copy(language = if (v.isNull) "" else v.asText(""))
        case "@version" => ()
        case term if v.isTextual =>
          val iri = ctx.expandIri(v.asText, asVocab = true)
            .getOrElse(compact(v.asText))
          ctx = ctx.copy(terms = ctx.terms + (term -> TermDef(iri, coerceId = false, None, None)))
        case term if v.isObject =>
          val id = Option(v.get("@id")).map(_.asText)
            .flatMap(s => ctx.expandIri(s, asVocab = true).orElse(Some(compact(s))))
            .orElse(ctx.expandIri(term, asVocab = true))
            .getOrElse(fail(s"term '$term' has no resolvable @id"))
          val ty = Option(v.get("@type")).map(_.asText)
          val lang = Option(v.get("@language")).map(n => if (n.isNull) "" else n.asText)
          ctx = ctx.copy(terms = ctx.terms + (term -> TermDef(id,
            coerceId = ty.contains("@id") || ty.contains("@vocab"),
            ty.filter(t => t != "@id" && t != "@vocab")
              .map(t => ctx.expandIri(t, asVocab = true).getOrElse(compact(t))),
            lang)))
        case term if v.isNull =>
          ctx = ctx.copy(terms = ctx.terms - term)
        case term => fail(s"unsupported @context entry for '$term'")
      }
    }
    ctx
  }

  /** Parse one JSON-LD document. Graph label `""` = default graph;
    * `bnodeScope` salts blank-node labels per source unit.
    */
  def parseDoc(doc: String, bnodeScope: String = ""): Seq[(String, Stmt)] = {
    val root = new ObjectMapper().readTree(doc)
    val out = Seq.newBuilder[(String, Stmt)]
    var anonN = 0
    var dropped = List.empty[String]
    def freshBnode(): Term = {
      anonN += 1
      Term(bnodeScope + "-j" + anonN, Rdf.BNODE, "", "", None)
    }
    def iriTerm(lex: String): Term = Term(lex, Rdf.IRI, "", "", None)
    def nodeTerm(s: String, ctx: Ctx): Term =
      if (s.startsWith("_:")) Term(bnodeScope + s.substring(2), Rdf.BNODE, "", "", None)
      else iriTerm(ctx.expandIri(s, asVocab = false).getOrElse(compact(s)))

    def literal(v: JsonNode, td: Option[TermDef], ctx: Ctx): Term = v match {
      case _ if v.isTextual =>
        td.flatMap(_.datatype) match {
          case Some(dt) if numericDt(dt) => Turtle.canonNumTerm(v.asText, dt)
          case Some(dt) => Term(v.asText, Rdf.LIT, dt, "", None)
          case None =>
            val lang = td.flatMap(_.language).getOrElse(ctx.language)
            Term(v.asText, Rdf.LIT, Rdf.XsdString, lang, None)
        }
      case _ if v.isIntegralNumber =>
        Term(v.asLong.toString, Rdf.LIT, Rdf.XsdInteger, "", Some(v.asDouble))
      case _ if v.isNumber =>
        Term(BigDecimal(v.asDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.toPlainString, Rdf.LIT, "xsd:double", "", Some(v.asDouble))
      case _ if v.isBoolean =>
        Term(v.asBoolean.toString, Rdf.LIT, Rdf.XsdBoolean, "",
          Some(if (v.asBoolean) 1.0 else 0.0))
      case _ => fail(s"unsupported literal ${v.getNodeType}")
    }

    /** Emit the statements of one node object into graph `g`; returns
      * the node's subject term.
      */
    def nodeObject(n: JsonNode, g: String, ctx0: Ctx): Term = {
      val ctx = Option(n.get("@context")).map(parseContext(_, ctx0)).getOrElse(ctx0)
      val subj = Option(n.get("@id")).map(id => nodeTerm(id.asText, ctx))
        .getOrElse(freshBnode())
      def emit(p: String, o: Term): Unit = out += ((g, Stmt(subj, iriTerm(p), o)))

      def valueTerm(v: JsonNode, td: Option[TermDef]): Option[Term] = v match {
        case _ if v.isObject && v.has("@value") =>
          val value = v.get("@value")
          val dt = Option(v.get("@type")).map(_.asText)
            .map(t => ctx.expandIri(t, asVocab = true).getOrElse(compact(t)))
          val lang = Option(v.get("@language")).map(_.asText)
          Some((dt, lang) match {
            case (Some(d), None) if numericDt(d) && value.isTextual =>
              Turtle.canonNumTerm(value.asText, d)
            case (Some(d), None) => literal(value, Some(TermDef("", false, Some(d), None)), ctx)
            case (None, Some(l)) => Term(value.asText, Rdf.LIT, Rdf.XsdString, l, None)
            case (None, None) => literal(value, None, ctx)
            case _ => fail("@value with both @type and @language")
          })
        case _ if v.isObject && v.has("@list") =>
          val items = v.get("@list").elements().asScala.toSeq
            .flatMap(valueTerm(_, td))
          val cells = items.map(t => (freshBnode(), t))
          cells.zipWithIndex.foreach { case ((cell, t), i) =>
            out += ((g, Stmt(cell, iriTerm("rdf:first"), t)))
            out += ((g, Stmt(cell, iriTerm("rdf:rest"),
              if (i + 1 < cells.size) cells(i + 1)._1 else iriTerm("rdf:nil"))))
          }
          Some(cells.headOption.map(_._1).getOrElse(iriTerm("rdf:nil")))
        case _ if v.isObject && v.properties().size == 1 && v.has("@id") =>
          Some(nodeTerm(v.get("@id").asText, ctx))
        case _ if v.isObject => Some(nodeObject(v, g, ctx))
        case _ if v.isNull => None
        case _ if v.isTextual && td.exists(_.coerceId) =>
          Some(nodeTerm(v.asText, ctx))
        case _ => Some(literal(v, td, ctx))
      }

      n.properties().asScala.foreach { e =>
        val (k, v) = (e.getKey, e.getValue)
        k match {
          case "@context" | "@id" => ()
          case "@type" =>
            val types = if (v.isArray) v.elements().asScala.toSeq else Seq(v)
            types.foreach { t =>
              emit(Rdf.RdfType, iriTerm(ctx.expandIri(t.asText, asVocab = true)
                .getOrElse(compact(t.asText))))
            }
          case "@graph" =>
            // named-graph contents when the node is a graph label;
            // subj also participates as a subject if it has properties
            val gName = Option(n.get("@id")).map(id =>
              nodeTerm(id.asText, ctx).lex).getOrElse("")
            v.elements().asScala.foreach(nodeObject(_, gName, ctx))
          case key if key.startsWith("@") =>
            fail(s"unsupported keyword $key")
          case key =>
            ctx.terms.get(key).map(td => (td.iri, Some(td)))
              .orElse(ctx.expandIri(key, asVocab = true).map(i => (i, None))) match {
              case None => dropped ::= key
              case Some((pred, td)) =>
                val vals = if (v.isArray) v.elements().asScala.toSeq else Seq(v)
                vals.foreach(valueTerm(_, td).foreach(emit(pred, _)))
            }
        }
      }
      subj
    }

    val ctx0 = Option(root.get("@context"))
      .filter(_ => root.isObject).map(parseContext(_, emptyCtx)).getOrElse(emptyCtx)
    root match {
      case _ if root.isArray =>
        root.elements().asScala.foreach(nodeObject(_, "", emptyCtx))
      case _ if root.isObject && root.has("@graph") && !root.has("@id") =>
        // default-graph array form: {"@context":…, "@graph":[…]}
        root.get("@graph").elements().asScala.foreach(nodeObject(_, "", ctx0))
      case _ if root.isObject => nodeObject(root, "", emptyCtx)
      case _ => fail("document root must be an object or array")
    }
    if (dropped.nonEmpty) System.err.println(
      s"[jsonld] dropped ${dropped.size} value(s) under unmapped key(s): " +
        dropped.distinct.take(5).mkString(", "))
    out.result()
  }

  // ---- emitter --------------------------------------------------------

  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Serialize quads as expanded-form JSON-LD (no context; one node
    * object per statement, full IRIs as keys — the unambiguous
    * interchange form). Default-graph statements sit directly in the
    * top-level `@graph` array; named graphs nest as
    * `{"@id": g, "@graph": […]}`. Round-trip counterpart of
    * [[parseDoc]].
    */
  def emit(quads: Seq[(String, Stmt)]): String = {
    def ref(t: Term): String =
      s"""{"@id": ${jstr(if (t.kind == Rdf.BNODE) "_:" + t.lex else t.lex)}}"""
    def value(t: Term): String = t.kind match {
      case Rdf.IRI | Rdf.BNODE => ref(t)
      case _ =>
        if (t.lang.nonEmpty)
          s"""{"@value": ${jstr(t.lex)}, "@language": ${jstr(t.lang)}}"""
        else if (t.dt.nonEmpty && t.dt != Rdf.XsdString)
          s"""{"@value": ${jstr(t.lex)}, "@type": ${jstr(t.dt)}}"""
        else s"""{"@value": ${jstr(t.lex)}}"""
    }
    def node(st: Stmt): String = {
      val id = if (st.s.kind == Rdf.BNODE) "_:" + st.s.lex else st.s.lex
      if (st.p.lex == Rdf.RdfType && st.o.kind == Rdf.IRI)
        s"""{"@id": ${jstr(id)}, "@type": ${jstr(st.o.lex)}}"""
      else s"""{"@id": ${jstr(id)}, ${jstr(st.p.lex)}: ${value(st.o)}}"""
    }
    // group by graph, first-occurrence order
    val graphs = quads.map(_._1).distinct
    val entries = graphs.map { g =>
      val nodes = quads.collect { case (`g`, st) => node(st) }
      if (g.isEmpty) nodes.mkString(",\n  ")
      else s"""{"@id": ${jstr(g)}, "@graph": [${nodes.mkString(",\n    ")}]}"""
    }
    s"""{"@graph": [\n  ${entries.mkString(",\n  ")}\n]}"""
  }

  /** Read JSON-LD files into a quads DataFrame `(g, s, p, o)`:
    * `@graph`-labelled statements keep their graph, the rest land in
    * `defaultGraph`. Same file-per-task unit as [[Turtle.readTriG]].
    */
  def read(spark: SparkSession, paths: Seq[String], defaultGraph: String): DataFrame = {
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
    parsed.select(
      when(col("_1") === "", defaultGraph).otherwise(col("_1")).as("g"),
      col("_2")("s").as("s"), col("_2")("p").as("p"), col("_2")("o").as("o"))
  }
}
