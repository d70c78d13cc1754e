package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Dictionary encoding of RDF terms into stable 64-bit ids — the
  * rebuild of GraphDB's entity pool (`owlim:entity-index-size` /
  * `owlim:entity-id-size "32"`, `repo-config.ttl:22-23`), widened to
  * 64-bit as SURVEY §1.5/§7 "hard parts" (5) prescribes for 100 TB.
  *
  * Ids are `xxhash64(lex, kind)` — content-derived, so:
  *  - no global sort or coordination to assign ids (appends at 100 TB
  *    never rendezvous with an id allocator — the reference's
  *    hash-table entity pool has the same property);
  *  - the same term always encodes to the same id across segments,
  *    loads, and sessions — joins on ids are consistent by
  *    construction;
  *  - collision risk n²/2⁶⁴ is checked explicitly by [[build]]
  *    (count(distinct id) must equal count(distinct term)); on the
  *    astronomically unlikely hit, fail loudly rather than corrupt.
  *
  * Joins over encoded quads shuffle 8-byte longs instead of lexical
  * strings — the dominant win at scale; decode happens once at the
  * result edge via a dictionary join (predicate/graph dictionaries are
  * small → broadcast).
  */
/** An id-encoded view of a quad dataset: `quads` is `(g, s_id, p_id,
  * o_id)` (8-byte term ids, [[TermDictionary.encode]]) and `dict` is
  * the `(id, term)` dictionary ([[TermDictionary.build]]). Handed to
  * the SPARQL compiler so BGP joins shuffle longs and decode once at
  * the solution edge.
  */
final case class EncodedQuads(quads: DataFrame, dict: DataFrame)

object TermDictionary {

  def termId(t: Column): Column = xxhash64(t("lex"), t("kind"))

  /** Driver-side term id of a constant `(lex, kind)` — the same
    * xxhash64 the column form computes, evaluated eagerly so pattern
    * constants become literal longs that push down to parquet min/max
    * on the encoded columns.
    */
  def litTermId(lex: String, kind: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // seed 42L = the default the xxhash64 SQL function constructs with
    XxHash64(Seq(Literal(lex), Literal(kind)), 42L).eval(null).asInstanceOf[Long]
  }

  /** Schema of [[build]]'s output — the store's `-dict` sidecar format:
    * the id and the quad term struct it resolves to.
    */
  val DictSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("term", Encoders.product[graft.rio.Turtle.Term].schema)))

  /** Distinct terms of the dataset with their ids: `(id, term)`.
    *
    * Resolution follows TERM IDENTITY — `(lex, kind)`, [[graft.rdf.Rdf]]'s
    * join semantics: if several stored structs share one identity (a
    * plain and a lang-tagged literal with the same lexical form), ONE
    * deterministic representative (the struct-least) resolves the id,
    * exactly as the struct path's `termEq` already treats them as the
    * same term in joins. The collision check accordingly compares
    * distinct identities against distinct ids, and still fails loudly
    * on a genuine hash collision between different identities.
    */
  def build(quads: DataFrame): DataFrame = {
    val terms = quads.select(col("s").as("term"))
      .unionByName(quads.select(col("p").as("term")))
      .unionByName(quads.select(col("o").as("term")))
      .distinct()
    val dict = terms.groupBy(termId(col("term")).as("id"))
      .agg(min(col("term")).as("term"))
    val nIdent = terms
      .select(col("term")("lex"), col("term")("kind")).distinct().count()
    val nIds = dict.count()
    require(nIdent == nIds,
      s"term-id collision: $nIdent distinct term identities, $nIds distinct ids — widen the id")
    dict
  }

  /** Cross-dictionary collision audit: given the UNION of several
    * segment dictionaries, fail loudly if two different term
    * IDENTITIES `(lex, kind)` share one id. Per-segment [[build]]
    * checks are segment-LOCAL — two terms that never co-occur in a
    * segment can only be caught here (or at compact()'s global
    * re-build). Cost is one aggregate over distinct terms, far smaller
    * than the data, so a streaming store can afford to run it
    * periodically instead of only at compaction.
    */
  def auditUnion(dicts: DataFrame): Unit = {
    val pairs = dicts.select(col("id"),
      col("term")("lex").as("lex"), col("term")("kind").as("kind"))
      .distinct()
    val counts = pairs.agg(
      countDistinct(col("id")).as("n_ids"),
      countDistinct(col("lex"), col("kind")).as("n_idents")).head()
    val (nIds, nIdent) = (counts.getLong(0), counts.getLong(1))
    require(nIds == nIdent,
      s"cross-segment term-id collision: $nIdent distinct term " +
        s"identities, $nIds distinct ids — widen the id")
  }

  /** Schema of [[encode]]'s output — the store's `-enc` sidecar format. */
  val EncodedSchema: StructType = StructType(StructField("g", StringType) +:
    Seq("s_id", "p_id", "o_id").map(StructField(_, LongType, nullable = false)))

  /** Encode quads to `(g, s_id, p_id, o_id)` — ids are pure column
    * expressions (no dictionary join needed on the encode side).
    */
  def encode(quads: DataFrame): DataFrame =
    quads.select(col("g"),
      termId(col("s")).as("s_id"), termId(col("p")).as("p_id"),
      termId(col("o")).as("o_id"))

  /** Decode id-quads back to term structs via dictionary joins (the
    * result-edge operation; dictionaries for p/g positions are small
    * and broadcast).
    */
  def decode(encoded: DataFrame, dict: DataFrame): DataFrame = {
    def join(d: DataFrame, idCol: String, out: String): DataFrame = {
      val dd = dict.select(col("id").as(s"__${out}_id"), col("term").as(out))
      d.join(dd, col(idCol) === col(s"__${out}_id"), "left")
        .drop(idCol, s"__${out}_id")
    }
    join(join(join(encoded, "s_id", "s"), "p_id", "p"), "o_id", "o")
      .select(col("g"), col("s"), col("p"), col("o"))
  }
}
