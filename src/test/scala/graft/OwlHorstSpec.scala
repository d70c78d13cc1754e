package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.infer.OwlHorst
import graft.rdf.TpchRdf
import graft.sparql.Sparql

/** OWL-Horst materializer semantics at sf0.001 (SURVEY §2.C). */
class OwlHorstSpec extends GraftSuite {

  lazy val mat: DataFrame =
    OwlHorst.materialize(spark, TpchRdf.graphDf(spark, sf)).cache()

  def q(text: String): Array[org.apache.spark.sql.Row] =
    Sparql.query(spark, mat, text).collect()

  test("subclass propagation: customers and suppliers are Agents and Things") {
    val nCust = q("SELECT ?x WHERE { ?x a :Customer }").length
    val nSup = q("SELECT ?x WHERE { ?x a :Supplier }").length
    val nAgent = q("SELECT ?x WHERE { ?x a :Agent }").length
    assert(nAgent == nCust + nSup)
  }

  test("domain/range typing: orders typed via :custkey") {
    val nOrd = q("SELECT ?x WHERE { ?x a :Order }").length
    assert(nOrd > 0)
  }

  test("transitive property: customer located in region via nation") {
    val rows = q("SELECT ?x WHERE { ?x :locatedIn reg:1 . ?x a :Customer }")
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).startsWith("cust:")))
  }

  test("sameAs: alias object answers match canonical") {
    val viaAlias = q("SELECT ?n WHERE { ?n :region regalias:2 . ?n a :Nation }")
      .map(_.getString(0)).toSet
    val viaCanon = q("SELECT ?n WHERE { ?n :region reg:2 . ?n a :Nation }")
      .map(_.getString(0)).toSet
    assert(viaAlias == viaCanon && viaAlias.nonEmpty)
  }

  test("distributed sameAs (GraphX CC) matches the driver union-find path") {
    val quads = TpchRdf.graphDf(spark, sf)
    def key(df: DataFrame) = df.select(col("g"), col("s")("lex"),
      col("p")("lex"), col("o")("lex")).distinct()
    sys.props("graft.sameas.broadcast.limit") = "0" // force distributed
    try {
      val dist = OwlHorst.materialize(spark, quads)
      assert(key(dist).except(key(mat)).isEmpty)
      assert(key(mat).except(key(dist)).isEmpty)
    } finally sys.props.remove("graft.sameas.broadcast.limit")
  }

  test("distributed sameAs scales to many classes with no driver pair set") {
    import spark.implicits._
    import graft.rdf.Rdf
    // 500 classes x 3 members (x~y, y~z; diameter 2) + one typed
    // statement per canonical member — class count, not class size,
    // is what the driver path cannot hold at entity-resolution scale
    val n = 500
    val triples =
      (0 until n).flatMap(i => Seq(
        (s"e:$i-x", "owl:sameAs", s"e:$i-y"),
        (s"e:$i-y", "owl:sameAs", s"e:$i-z"),
        (s"e:$i-x", Rdf.RdfType, ":Entity")))
    val quads = triples.toDF("sl", "pl", "ol").select(
      lit("g:x").as("g"), Rdf.iri(col("sl")).as("s"),
      Rdf.iri(col("pl")).as("p"), Rdf.iri(col("ol")).as("o"))
    sys.props("graft.sameas.broadcast.limit") = "0" // force distributed
    try {
      val m = OwlHorst.materialize(spark, quads).cache()
      // type expands to all 3 members of each class
      assert(m.filter(col("p")("lex") === Rdf.RdfType).count() == 3L * n)
      // 6 ordered cross pairs + 3 reflexive eq-ref statements per
      // class (expansion of (a sameAs b) by b→a yields a sameAs a)
      assert(m.filter(col("p")("lex") === "owl:sameAs").count() == 9L * n)
    } finally sys.props.remove("graft.sameas.broadcast.limit")
  }

  test("incremental maintenance equals full materialization") {
    val quads = TpchRdf.graphDf(spark, sf)
    val base = quads.filter(col("g") =!= "g:customer")
    val delta = quads.filter(col("g") === "g:customer")
    val matBase = assertCheckpointsOwned(OwlHorst.materialize(spark, base))
    val inc = assertCheckpointsOwned(OwlHorst.incremental(spark, matBase, delta))
    def key(df: DataFrame) = df.select(col("g"), col("s")("lex"), col("p")("lex"),
      col("o")("lex")).distinct()
    assert(key(inc).except(key(mat)).isEmpty && key(mat).except(key(inc)).isEmpty)
  }

  test("transitive closure crosses blank-node objects") {
    import spark.implicits._
    import graft.rdf.Rdf
    // _:b1 partOf _:b2 partOf ex:c with partOf transitive — bnode
    // intermediates must participate (only LITERAL objects are excluded)
    val rows = Seq(
      ("ex:partOf", Rdf.RdfType, "owl:TransitiveProperty", Rdf.IRI),
      ("b1", "ex:partOf", "b2", Rdf.BNODE),
      ("b2", "ex:partOf", "ex:c", Rdf.IRI))
    val quads = rows.toDF("sl", "pl", "ol", "ok").select(
      lit("g:x").as("g"),
      Rdf.term(col("sl"), when(col("sl").startsWith("b"), Rdf.BNODE)
        .otherwise(Rdf.IRI), lit(""), lit(""), lit(null).cast("double")).as("s"),
      Rdf.iri(col("pl")).as("p"),
      Rdf.term(col("ol"), col("ok"), lit(""), lit(""),
        lit(null).cast("double")).as("o"))
    val m = OwlHorst.materialize(spark, quads)
    assert(m.filter(col("s")("lex") === "b1" && col("p")("lex") === "ex:partOf" &&
      col("o")("lex") === "ex:c").count() == 1)
  }

  test("incremental: delta referencing a base-resident sameAs alias expands") {
    import spark.implicits._
    import graft.rdf.Rdf
    // base holds the sameAs class; the axiom-free delta only MENTIONS
    // the aliased term — expansion must still fire (round-1 harvest
    // reads the whole base, not just the delta)
    val base = Seq(("e:a", "owl:sameAs", "e:b"))
      .toDF("sl", "pl", "ol").select(lit("g:x").as("g"),
        Rdf.iri(col("sl")).as("s"), Rdf.iri(col("pl")).as("p"),
        Rdf.iri(col("ol")).as("o"))
    val matBase = OwlHorst.materialize(spark, base)
    val delta = Seq(("e:x", ":p", "e:a"))
      .toDF("sl", "pl", "ol").select(lit("g:x").as("g"),
        Rdf.iri(col("sl")).as("s"), Rdf.iri(col("pl")).as("p"),
        Rdf.iri(col("ol")).as("o"))
    val inc = OwlHorst.incremental(spark, matBase, delta)
    assert(inc.filter(col("s")("lex") === "e:x" && col("p")("lex") === ":p" &&
      col("o")("lex") === "e:b").count() == 1)
    // the same two frames with the sameAs edge as the INSERT: round 1
    // re-expands the base under the new class
    val matDelta = assertCheckpointsOwned(OwlHorst.materialize(spark, delta))
    val incSame = assertCheckpointsOwned(OwlHorst.incremental(spark, matDelta, base))
    assert(incSame.filter(col("s")("lex") === "e:x" && col("p")("lex") === ":p" &&
      col("o")("lex") === "e:b").count() == 1)
  }

  test("delta carrying ontology axioms falls back to full re-materialization") {
    import spark.implicits._
    val quads = TpchRdf.graphDf(spark, sf)
    val base = quads.filter(col("g") =!= "g:schema")
    val delta = quads.filter(col("g") === "g:schema")
    // schema arrives last: the semi-naive shortcut would miss base
    // premises, so incremental() must still produce the full closure
    val inc = OwlHorst.incremental(spark, OwlHorst.materialize(spark, base), delta)
    def key(df: DataFrame) = df.select(col("g"), col("s")("lex"), col("p")("lex"),
      col("o")("lex")).distinct()
    assert(key(inc).except(key(mat)).isEmpty && key(mat).except(key(inc)).isEmpty)
  }

  test("fixpoint terminates on cyclic class hierarchies") {
    import spark.implicits._
    import graft.rdf.Rdf
    // A ⊑ B ⊑ C ⊑ A (cycle) + one instance: materialization must
    // terminate and type the instance with all three classes
    val tris = Seq(
      (":A", "rdfs:subClassOf", ":B"),
      (":B", "rdfs:subClassOf", ":C"),
      (":C", "rdfs:subClassOf", ":A"),
      ("i:1", "rdf:type", ":A"))
    val quads = tris.toDF("sl", "pl", "ol").select(
      org.apache.spark.sql.functions.lit("g:t").as("g"),
      Rdf.iri(col("sl")).as("s"), Rdf.iri(col("pl")).as("p"),
      Rdf.iri(col("ol")).as("o"))
    val m = OwlHorst.materialize(spark, quads)
    val types = Sparql.query(spark, m, "SELECT ?t WHERE { i:1 a ?t }")
      .collect().map(_.getString(0)).toSet
    assert(types == Set(":A", ":B", ":C"))
  }

  // ---- pD* long-tail per-rule fixtures (round 4) ----

  private def iriQuads(tris: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    import graft.rdf.Rdf
    tris.toDF("sl", "pl", "ol").select(lit("g:t").as("g"),
      Rdf.iri(col("sl")).as("s"), Rdf.iri(col("pl")).as("p"),
      Rdf.iri(col("ol")).as("o"))
  }

  private def spo(m: DataFrame): Set[(String, String, String)] =
    m.select(col("s")("lex"), col("p")("lex"), col("o")("lex")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("rdfp1: functional property derives sameAs between its values") {
    val m = spo(OwlHorst.materialize(spark, iriQuads(Seq(
      ("ex:hq", "rdf:type", "owl:FunctionalProperty"),
      ("ex:c", "ex:hq", "ex:a"),
      ("ex:c", "ex:hq", "ex:b")))))
    assert(m(("ex:a", "owl:sameAs", "ex:b")) && m(("ex:b", "owl:sameAs", "ex:a")))
  }

  test("rdfp2: inverse-functional property derives sameAs between subjects") {
    val m = spo(OwlHorst.materialize(spark, iriQuads(Seq(
      ("ex:k", "rdf:type", "owl:InverseFunctionalProperty"),
      ("ex:a", "ex:k", "ex:w"),
      ("ex:b", "ex:k", "ex:w"),
      // a statement only ex:a carries: the derived class must copy it
      ("ex:a", "ex:q", "ex:z")))))
    assert(m(("ex:a", "owl:sameAs", "ex:b")))
    assert(m(("ex:b", "ex:q", "ex:z")), "derived sameAs must feed expansion")
  }

  test("rdfp14: hasValue types members (a) and derives value edges (b)") {
    val m = spo(OwlHorst.materialize(spark, iriQuads(Seq(
      ("ex:R", "owl:onProperty", "ex:p"),
      ("ex:R", "owl:hasValue", "ex:v"),
      ("ex:u", "ex:p", "ex:v"),
      ("ex:t", "rdf:type", "ex:R")))))
    assert(m(("ex:u", "rdf:type", "ex:R")), "rdfp14a")
    assert(m(("ex:t", "ex:p", "ex:v")), "rdfp14b")
  }

  test("rdfp14b rebuilds a typed-literal hasValue term exactly") {
    import spark.implicits._
    import graft.rdf.Rdf
    // ex:R has hasValue "5"^^xsd:integer on ex:p; ex:t is asserted a
    // member → rdfp14b must derive (ex:t, ex:p, "5"^^xsd:integer) with
    // the datatype AND numeric sidecar intact, not a plain string; ex:u
    // asserts the value edge → rdfp14a types it (datatype-sensitive join)
    val typed = Seq(("ex:R", "owl:hasValue"), ("ex:u", "ex:p"))
      .toDF("sl", "pl").select(lit("g:t").as("g"), Rdf.iri(col("sl")).as("s"),
        Rdf.iri(col("pl")).as("p"),
        Rdf.term(lit("5"), lit(Rdf.LIT), lit(Rdf.XsdInteger), lit(""),
          lit(5.0)).as("o"))
    val quads = iriQuads(Seq(
      ("ex:R", "owl:onProperty", "ex:p"),
      ("ex:t", "rdf:type", "ex:R"))).unionAll(typed)
    val m = OwlHorst.materialize(spark, quads)
    val derived = m.filter(col("s")("lex") === "ex:t" &&
        col("p")("lex") === "ex:p")
      .select(col("o")("lex"), col("o")("kind"), col("o")("dt"),
        col("o")("lang"), col("o")("num")).collect()
    assert(derived.length == 1, "rdfp14b derives exactly one value edge")
    val r = derived.head
    assert(r.getString(0) == "5" && r.getInt(1) == Rdf.LIT &&
      r.getString(2) == Rdf.XsdInteger && r.getString(3) == "" &&
      r.getDouble(4) == 5.0, s"typed term must round-trip, got $r")
    assert(spo(m)(("ex:u", "rdf:type", "ex:R")),
      "rdfp14a matches on the typed value")
  }

  test("single-premise dispatch keeps per-materialize task count bounded") {
    import java.util.concurrent.atomic.LongAdder
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // the full sf fixture exercises every single-premise family
    // (subClassOf, subPropertyOf, domain, range, symmetric, inverse,
    // hasValue) — with the compiled dispatch table each round runs ONE
    // broadcast join over the delta for all of them, so total task
    // count stays far below the one-scan-per-family shape (~25
    // branches × partitions × rounds; measured ~3900 tasks at local[4]
    // before the rule-table compilation, ~2400 after)
    val tasks = new LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.increment()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = OwlHorst.materialize(spark, TpchRdf.graphDf(spark, sf))
      assert(m.count() > 0)
      org.apache.spark.graft.ListenerSync.await(spark.sparkContext)
      val total = tasks.sum()
      assert(total < 3200,
        s"materialize ran $total tasks — the single-premise families are " +
          "scanning per-family again instead of through the dispatch table")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("two-premise families share one keyed join per round: materialize job budget") {
    // every rdfp1/2/15/16 and transitivity premise goes through one
    // keyed join per round; one shuffle join per family and a nested
    // transitive fixpoint per round ran ~150 jobs here
    val (n, jobs) = jobsIn(
      OwlHorst.materialize(spark, TpchRdf.graphDf(spark, sf)).count())
    assert(n > 0)
    assert(jobs <= 60, s"materialize ran $jobs Spark jobs (budget 60)")
  }

  test("40-hop transitive chain through sub-properties, sameAs and rdfp1 equals the driver closure") {
    // n0 → … → n40 over two sub-properties of a transitive property,
    // an owl:sameAs alias of the end node, and a functional property
    // asserted through a sub-property that merges n0 with ex:start
    val chain = (0 until 40).map(i =>
      (s"ex:n$i", if (i % 2 == 0) "ex:subA" else "ex:subB", s"ex:n${i + 1}"))
    val explicit = chain ++ Seq(
      ("ex:loc", "rdf:type", "owl:TransitiveProperty"),
      ("ex:subA", "rdfs:subPropertyOf", "ex:loc"),
      ("ex:subB", "rdfs:subPropertyOf", "ex:loc"),
      ("ex:alias", "owl:sameAs", "ex:n40"),
      ("ex:f", "rdf:type", "owl:FunctionalProperty"),
      ("ex:fsub", "rdfs:subPropertyOf", "ex:f"),
      ("ex:c", "ex:fsub", "ex:n0"),
      ("ex:c", "ex:f", "ex:start"))
    // the same rules on the driver: rdfs7, prp-trp, rdfp1 and the
    // sameAs symmetry, transitivity and subject/object replacement
    val sup = Map("ex:subA" -> "ex:loc", "ex:subB" -> "ex:loc", "ex:fsub" -> "ex:f")
    var facts = explicit.toSet
    var grew = true
    while (grew) {
      def by(p: String) = facts.filter(_._2 == p)
      val loc = by("ex:loc")
      val same = by("owl:sameAs")
      val fs = by("ex:f")
      val derived =
        facts.collect { case (s, p, o) if sup.contains(p) => (s, sup(p), o) } ++
          (for ((a, _, b) <- loc; (b2, _, c) <- loc if b == b2) yield (a, "ex:loc", c)) ++
          (for ((u, _, v) <- fs; (u2, _, w) <- fs if u == u2 && v != w)
            yield (v, "owl:sameAs", w)) ++
          same.map { case (a, p, b) => (b, p, a) } ++
          (for ((a, _, b) <- same; (b2, _, c) <- same if b == b2)
            yield (a, "owl:sameAs", c)) ++
          (for ((a, _, b) <- same; (s, p, o) <- facts if s == a || o == a)
            yield (if (s == a) (b, p, o) else (s, p, b)))
      val next = facts ++ derived
      grew = next.size > facts.size
      facts = next
    }
    val m = spo(OwlHorst.materialize(spark, iriQuads(explicit)))
    assert(facts(("ex:start", "ex:loc", "ex:alias")), "fixture reaches both aliases")
    assert(m -- facts == Set.empty, "materialize derived rows the rules do not")
    assert(facts -- m == Set.empty, "materialize missed rows the rules derive")
  }

  test("rdfp15: someValuesFrom types subjects whose value is typed") {
    val m = spo(OwlHorst.materialize(spark, iriQuads(Seq(
      ("ex:R", "owl:onProperty", "ex:p"),
      ("ex:R", "owl:someValuesFrom", "ex:C"),
      ("ex:u", "ex:p", "ex:x"),
      ("ex:x", "rdf:type", "ex:C"),
      // value not typed ex:C → no membership
      ("ex:n", "ex:p", "ex:y")))))
    assert(m(("ex:u", "rdf:type", "ex:R")))
    assert(!m(("ex:n", "rdf:type", "ex:R")))
  }

  test("rdfp16: allValuesFrom types the values of typed subjects") {
    val m = spo(OwlHorst.materialize(spark, iriQuads(Seq(
      ("ex:R", "owl:onProperty", "ex:p"),
      ("ex:R", "owl:allValuesFrom", "ex:C"),
      ("ex:u", "rdf:type", "ex:R"),
      ("ex:u", "ex:p", "ex:x"),
      // untyped subject → its values stay untyped
      ("ex:m", "ex:p", "ex:y")))))
    assert(m(("ex:x", "rdf:type", "ex:C")))
    assert(!m(("ex:y", "rdf:type", "ex:C")))
  }

  test("rdfp chain: derived sameAs + restriction types converge") {
    // IFP merges ex:a/ex:b; ex:a's p-edge copies to ex:b; hasValue then
    // types BOTH; multi-rule interaction across fixpoint rounds
    val m = spo(OwlHorst.materialize(spark, iriQuads(Seq(
      ("ex:k", "rdf:type", "owl:InverseFunctionalProperty"),
      ("ex:R", "owl:onProperty", "ex:p"),
      ("ex:R", "owl:hasValue", "ex:v"),
      ("ex:a", "ex:k", "ex:w"),
      ("ex:b", "ex:k", "ex:w"),
      ("ex:a", "ex:p", "ex:v")))))
    assert(m(("ex:a", "rdf:type", "ex:R")) && m(("ex:b", "rdf:type", "ex:R")))
  }

  test("distributed sameAs: multi-round fixpoint runs CC exactly once") {
    import graft.infer.SameAs
    // cascade forcing 4 fixpoint rounds alongside a 3-member sameAs
    // class: r1 types ex:u (rdfp14a) + seeds CC, r2 types ex:v1
    // (rdfp16), r3 derives ex:v1's hasValue edge (rdfp14b). Every
    // later round's delta re-derives sameAs expansion statements whose
    // endpoints already share a component — none may re-run CC.
    val quads = iriQuads(Seq(
      ("e:a", "owl:sameAs", "e:b"),
      ("e:b", "owl:sameAs", "e:c"),
      ("e:a", "ex:q", "ex:z"),
      ("ex:R1", "owl:onProperty", "ex:p1"),
      ("ex:R1", "owl:hasValue", "ex:v1"),
      ("ex:R1", "owl:allValuesFrom", "ex:C1"),
      ("ex:C1", "owl:onProperty", "ex:p2"),
      ("ex:C1", "owl:hasValue", "ex:v2"),
      ("ex:u", "ex:p1", "ex:v1")))
    sys.props("graft.sameas.broadcast.limit") = "0" // force distributed
    try {
      val before = SameAs.ccRuns.get()
      val m = spo(OwlHorst.materialize(spark, quads))
      val runs = SameAs.ccRuns.get() - before
      assert(m(("ex:u", "rdf:type", "ex:R1")))
      assert(m(("ex:v1", "rdf:type", "ex:C1")))
      assert(m(("ex:v1", "ex:p2", "ex:v2")))
      assert(m(("e:c", "ex:q", "ex:z")), "3-member class expansion")
      assert(runs == 1L, s"expected a single seed CC run, got $runs")
    } finally sys.props.remove("graft.sameas.broadcast.limit")
  }

  test("degenerate giant sameAs class is excluded from expansion with a warning") {
    import graft.infer.SameAs
    // one 12-member chain with cap 8: expansion must drop it (no
    // quadratic blowup) while a small class still expands
    val giant = (0 until 11).map(i => (s"g:$i", "owl:sameAs", s"g:${i + 1}"))
    val quads = iriQuads(giant ++ Seq(
      ("e:a", "owl:sameAs", "e:b"), ("e:a", "ex:q", "ex:z")))
    sys.props("graft.sameas.broadcast.limit") = "0"
    sys.props("graft.sameas.class.cap") = "8"
    try {
      val m = spo(OwlHorst.materialize(spark, quads))
      assert(m(("e:b", "ex:q", "ex:z")), "small class still expands")
      assert(!m.exists { case (s, p, o) =>
        p == "owl:sameAs" && s.startsWith("g:") && o.startsWith("g:") &&
          s != o && !giant.contains((s, "owl:sameAs", o)) },
        "capped class must not emit derived cross pairs")
    } finally {
      sys.props.remove("graft.sameas.broadcast.limit")
      sys.props.remove("graft.sameas.class.cap")
    }
  }

  test("inferred quads live in g:inferred, explicit untouched") {
    val inf = mat.filter(col("g") === "g:inferred").count()
    val exp = TpchRdf.graphDf(spark, sf).count()
    assert(inf > 0 && mat.count() == inf + exp)
  }

  // ---- DRed delete-incremental maintenance (r15) ----

  /** incremental-delete ≡ full re-materialization of the post-delete
    * explicit set, on (g, s, p, o) — the DRed equivalence contract.
    * Returns the maintained dataset for extra per-test asserts. The
    * delete runs in its deltas form under [[assertCheckpointsOwned]]:
    * it leaves persisted only the checkpoints its three frames read.
    */
  private def checkDelete(quads: DataFrame, baseMat: DataFrame,
      deleted: DataFrame): DataFrame = {
    val inc = assertCheckpointsOwned(
      OwlHorst.incrementalDeleteDeltas(spark, baseMat, deleted)).after
    // set difference, NOT a struct-keyed anti join: whole-struct join
    // keys trip Catalyst's nested-column pruning under the full
    // parallel suite (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — the same
    // class the engine-side tripSemiJoin flattening works around)
    val remaining = quads.except(
      deleted.select(col("g"), col("s"), col("p"), col("o")))
    val full = OwlHorst.materialize(spark, remaining)
    def key(df: DataFrame) = df.select(col("g"), col("s")("lex"),
      col("p")("lex"), col("o")("lex")).distinct()
    assert(key(inc).except(key(full)).isEmpty,
      "DRed kept/added rows the full re-materialization lacks")
    assert(key(full).except(key(inc)).isEmpty,
      "DRed lost rows the full re-materialization keeps")
    inc
  }

  test("DRed: instance-premise delete equals full re-materialization") {
    val quads = TpchRdf.graphDf(spark, sf)
    // cust:1 loses its :nation edge → its :locatedIn chain, :Located
    // typing and any hasValue membership must retract
    val del = quads.filter(col("s")("lex") === "cust:1" &&
      col("p")("lex") === ":nation")
    val inc = checkDelete(quads, mat, del)
    assert(spo(inc.filter(col("s")("lex") === "cust:1"))
      .forall(r => r._2 != ":locatedIn"))
    // untouched customers keep their derived chains
    assert(spo(inc).exists(r => r._2 == ":locatedIn" && r._1.startsWith("cust:")))
  }

  test("DRed: functional-premise delete collapses the derived sameAs class") {
    val quads = TpchRdf.graphDf(spark, sf)
    val del = quads.filter(col("s")("lex") === "corp:1" &&
      col("p")("lex") === ":hq" && col("o")("lex") === "hq:b")
    val inc = checkDelete(quads, mat, del)
    assert(!spo(inc).exists(r =>
      r._2 == "owl:sameAs" && (r._1.startsWith("hq:") || r._3.startsWith("hq:"))),
      "hq:a/hq:b sameAs class must die with its rdfp1 premise")
    // the unrelated rdfp2 class survives
    assert(spo(inc)(("dup:a", "owl:sameAs", "dup:b")))
  }

  test("DRed: mutual-support cycle dies (hasValue rdfp14a/b)") {
    // thing:9's :prio edge derives its :PriorityFive typing (14a) and
    // that typing derives the edge back (14b) — deleting the explicit
    // edge must kill BOTH (a rederive phase that consulted overdeleted
    // statements would wrongly resurrect each from the other)
    val quads = TpchRdf.graphDf(spark, sf)
    val del = quads.filter(col("s")("lex") === "thing:9" &&
      col("p")("lex") === ":prio")
    val inc = checkDelete(quads, mat, del)
    val t9 = spo(inc.filter(col("s")("lex") === "thing:9"))
    assert(t9.isEmpty, s"thing:9 rows must all retract, got $t9")
    // the restriction's OTHER member (typed explicitly) keeps its
    // derived value edge
    assert(spo(inc)(("special:2", ":prio", "5")))
  }

  test("DRed: explicit sameAs alias delete splits the class") {
    val quads = TpchRdf.graphDf(spark, sf)
    val del = quads.filter(col("s")("lex") === "regalias:2" &&
      col("p")("lex") === "owl:sameAs")
    val inc = checkDelete(quads, mat, del)
    assert(!spo(inc).exists(r => r._1 == "regalias:2" || r._3 == "regalias:2"),
      "every expansion onto the deleted alias must retract")
    // sibling alias classes keep their expansions
    assert(spo(inc).exists(r => r._3 == "regalias:1" && r._2 == ":region"))
  }

  test("DRed: transitive chain middle-edge delete retracts crossing pairs only") {
    val quads = iriQuads(Seq(
      ("ex:partOf", "rdf:type", "owl:TransitiveProperty"),
      ("ex:a", "ex:partOf", "ex:b"),
      ("ex:b", "ex:partOf", "ex:c"),
      ("ex:c", "ex:partOf", "ex:d")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("s")("lex") === "ex:b")
    val inc = checkDelete(quads, baseMat, del)
    val pairs = spo(inc).filter(_._2 == "ex:partOf").map(r => (r._1, r._3))
    assert(pairs == Set(("ex:a", "ex:b"), ("ex:c", "ex:d")))
  }

  test("DRed: parallel path survives a redundant transitive edge delete") {
    // a→b→d and a→c→d: deleting a→b must keep a→d (rederivable via c)
    val quads = iriQuads(Seq(
      ("ex:partOf", "rdf:type", "owl:TransitiveProperty"),
      ("ex:a", "ex:partOf", "ex:b"),
      ("ex:b", "ex:partOf", "ex:d"),
      ("ex:a", "ex:partOf", "ex:c"),
      ("ex:c", "ex:partOf", "ex:d")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("s")("lex") === "ex:a" &&
      col("o")("lex") === "ex:b")
    val inc = checkDelete(quads, baseMat, del)
    val pairs = spo(inc).filter(_._2 == "ex:partOf").map(r => (r._1, r._3))
    assert(pairs == Set(("ex:b", "ex:d"), ("ex:a", "ex:c"),
      ("ex:c", "ex:d"), ("ex:a", "ex:d")))
  }

  test("DRed: deleted-but-still-derivable triple moves into g:inferred") {
    import spark.implicits._
    import graft.rdf.Rdf
    val quads = Seq(
      ("g:schema", ":Customer", "rdfs:subClassOf", ":Agent"),
      ("g:i", "ex:x", "rdf:type", ":Customer"),
      ("g:j", "ex:x", "rdf:type", ":Agent"))
      .toDF("gl", "sl", "pl", "ol").select(col("gl").as("g"),
        Rdf.iri(col("sl")).as("s"), Rdf.iri(col("pl")).as("p"),
        Rdf.iri(col("ol")).as("o"))
    val baseMat = OwlHorst.materialize(spark, quads)
    // pre-delete: the :Agent typing is explicit, so NOT in g:inferred
    assert(baseMat.filter(col("g") === "g:inferred").isEmpty)
    val del = quads.filter(col("g") === "g:j")
    val inc = checkDelete(quads, baseMat, del)
    val agentRows = inc.filter(col("s")("lex") === "ex:x" &&
      col("o")("lex") === ":Agent").select(col("g"))
      .collect().map(_.getString(0)).toSeq
    assert(agentRows == Seq("g:inferred"),
      s"rederived typing must land in g:inferred, got $agentRows")
  }

  test("DRed: quad surviving in another graph leaves entailments untouched") {
    import spark.implicits._
    import graft.rdf.Rdf
    val quads = Seq(
      ("g:schema", ":A", "rdfs:subClassOf", ":B"),
      ("g:1", "ex:x", "rdf:type", ":A"),
      ("g:2", "ex:x", "rdf:type", ":A"))
      .toDF("gl", "sl", "pl", "ol").select(col("gl").as("g"),
        Rdf.iri(col("sl")).as("s"), Rdf.iri(col("pl")).as("p"),
        Rdf.iri(col("ol")).as("o"))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("g") === "g:1")
    val inc = checkDelete(quads, baseMat, del)
    assert(spo(inc)(("ex:x", "rdf:type", ":B")),
      "the g:2 copy still supports the derived typing")
  }

  test("DRed: distributed sameAs path (forced CC) equals full re-materialization") {
    // past the broadcast limit the taint hammer and the re-expansion
    // both run on the DISTRIBUTED pair table — force that branch and
    // replay the alias-delete class split
    val quads = TpchRdf.graphDf(spark, sf)
    sys.props("graft.sameas.broadcast.limit") = "0"
    try {
      val baseMat = OwlHorst.materialize(spark, quads)
      val del = quads.filter(col("s")("lex") === "regalias:2" &&
        col("p")("lex") === "owl:sameAs")
      val inc = checkDelete(quads, baseMat, del)
      assert(!spo(inc).exists(r => r._1 == "regalias:2" || r._3 == "regalias:2"))
    } finally sys.props.remove("graft.sameas.broadcast.limit")
  }

  test("DRed telemetry: a non-axiom delete NEVER re-closes the world") {
    val quads = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      ("i:1", "rdf:type", ":A"),
      ("i:2", "rdf:type", ":A")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val fullBefore = OwlHorst.fullCloseRuns.get()
    val dredBefore = OwlHorst.dredDeletes.get()
    val inc = OwlHorst.incrementalDelete(spark, baseMat,
      quads.filter(col("s")("lex") === "i:1"))
    inc.count()
    assert(OwlHorst.dredDeletes.get() == dredBefore + 1)
    assert(OwlHorst.fullCloseRuns.get() == fullBefore,
      "the DRed path must not run a closed-world materialization")
    // a SINGLE-axiom delete maintains incrementally too (r16): the
    // taint seeds from the lost rule's conclusions, no re-closure
    val aiBefore = OwlHorst.dredAxiomIncrementals.get()
    OwlHorst.incrementalDelete(spark, baseMat,
      quads.filter(col("p")("lex") === "rdfs:subClassOf")).count()
    assert(OwlHorst.dredAxiomIncrementals.get() == aiBefore + 1)
    assert(OwlHorst.fullCloseRuns.get() == fullBefore,
      "a single-axiom delete must not re-close the world")
    // a MULTI-axiom batch maintains incrementally too (r17 — the
    // closed rule-table diff is batch-exact); only an OVERSIZED batch
    // (past graft.infer.axiom.batch.max) takes the sanctioned full
    // re-closure — see "DRed axiom batch: oversized batch falls back"
    val quads2 = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      (":B", "rdfs:subClassOf", ":C"),
      ("i:1", "rdf:type", ":A")))
    val baseMat2 = OwlHorst.materialize(spark, quads2)
    val fbBefore = OwlHorst.dredAxiomFallbacks.get()
    val aiBefore2 = OwlHorst.dredAxiomIncrementals.get()
    val full2 = OwlHorst.fullCloseRuns.get()
    OwlHorst.incrementalDelete(spark, baseMat2,
      quads2.filter(col("p")("lex") === "rdfs:subClassOf")).count()
    assert(OwlHorst.dredAxiomFallbacks.get() == fbBefore)
    assert(OwlHorst.dredAxiomIncrementals.get() == aiBefore2 + 1)
    assert(OwlHorst.fullCloseRuns.get() == full2,
      "an in-cap axiom batch must not re-close the world")
  }

  test("DRed: tainted row restorable only by expansion of a survivor") {
    // delete `m qsub y` where qsub ⊑ q, `x q y` explicit, `x sameAs m`:
    // the tainted (m,q,y) has NO dispatch rederivation (its qsub premise
    // died) but remains derivable as the sameAs-expansion of the
    // surviving explicit (x,q,y). No sameAs row is tainted, so the
    // pre-r16 fast path (preClosed=true, no expansion rederive) lost it.
    val quads = iriQuads(Seq(
      ("ex:qsub", "rdfs:subPropertyOf", "ex:q"),
      ("ex:x", "ex:q", "ex:y"),
      ("ex:x", "owl:sameAs", "ex:m"),
      ("ex:m", "ex:qsub", "ex:y")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("p")("lex") === "ex:qsub")
    val inc = checkDelete(quads, baseMat, del)
    assert(spo(inc)(("ex:m", "ex:q", "ex:y")),
      "expansion of the surviving (x,q,y) must be rederived")
    assert(!spo(inc).exists(r => r._2 == "ex:qsub"),
      "the deleted edge and its expansions must retract")
  }

  test("DRed: expansion-restorable row in a class disjoint from tainted sameAs") {
    // same shape, but the delete ALSO splits an UNRELATED sameAs class
    // {a,b}: needP12=true takes the targeted-reseed path, which only
    // re-expands the affected {a,b} members — the restorable (m,q,y)
    // lives in the untouched {x,m} class and needs the r16 expansion
    // rederive under the surviving pre-delete pairs.
    val quads = iriQuads(Seq(
      ("ex:qsub", "rdfs:subPropertyOf", "ex:q"),
      ("ex:x", "ex:q", "ex:y"),
      ("ex:x", "owl:sameAs", "ex:m"),
      ("ex:m", "ex:qsub", "ex:y"),
      ("ex:a", "owl:sameAs", "ex:b"),
      ("ex:a", "ex:q", "ex:c")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("p")("lex") === "ex:qsub" ||
      (col("s")("lex") === "ex:a" && col("p")("lex") === "owl:sameAs"))
    val inc = checkDelete(quads, baseMat, del)
    assert(spo(inc)(("ex:m", "ex:q", "ex:y")),
      "untouched-class expansion of the surviving (x,q,y) must be rederived")
    assert(!spo(inc).exists(r => r._1 == "ex:b" || r._3 == "ex:b"),
      "the split class's expansions must retract")
  }

  test("DRed: expansion-only rederivation with distributed (forced-CC) pairs") {
    val quads = iriQuads(Seq(
      ("ex:qsub", "rdfs:subPropertyOf", "ex:q"),
      ("ex:x", "ex:q", "ex:y"),
      ("ex:x", "owl:sameAs", "ex:m"),
      ("ex:m", "ex:qsub", "ex:y")))
    sys.props("graft.sameas.broadcast.limit") = "0"
    try {
      val baseMat = OwlHorst.materialize(spark, quads)
      val del = quads.filter(col("p")("lex") === "ex:qsub")
      val inc = checkDelete(quads, baseMat, del)
      assert(spo(inc)(("ex:m", "ex:q", "ex:y")))
    } finally sys.props.remove("graft.sameas.broadcast.limit")
  }

  test("DRed: expansion-restorable row in the SAME class as a tainted sameAs edge") {
    // delete BOTH a qsub premise and one of the class's own sameAs
    // edges: the reseed re-clusters {x,m,z} → {x,m} + {z}, and the
    // restorable (m,q,y) needs expansion under the SURVIVING
    // re-clustered pair x~m (covered by reseed's member-touching
    // expansion AND the r16 validPairs rederive — this pins the
    // combined shape end to end)
    val quads = iriQuads(Seq(
      ("ex:qsub", "rdfs:subPropertyOf", "ex:q"),
      ("ex:x", "ex:q", "ex:y"),
      ("ex:x", "owl:sameAs", "ex:m"),
      ("ex:m", "owl:sameAs", "ex:z"),
      ("ex:m", "ex:qsub", "ex:y")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("p")("lex") === "ex:qsub" ||
      (col("s")("lex") === "ex:m" && col("p")("lex") === "owl:sameAs"))
    val inc = checkDelete(quads, baseMat, del)
    assert(spo(inc)(("ex:m", "ex:q", "ex:y")),
      "expansion under the surviving re-clustered pair must be rederived")
    assert(!spo(inc).exists(r => r._1 == "ex:z" && r._2 == "ex:q"),
      "the split-off member's expansions must retract")
  }

  test("cap fail-safe: taint fixpoint at the round cap re-materializes") {
    // x:A with A⊑B⊑C needs two taint rounds (x:B then x:C); cap 1 must
    // NOT commit the partial taint — it surrenders to a full re-close
    // of the post-delete world (r16: the caps fail safe, never silent)
    val quads = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      (":B", "rdfs:subClassOf", ":C"),
      ("i:1", "rdf:type", ":A"),
      ("i:2", "rdf:type", ":A")))
    val baseMat = OwlHorst.materialize(spark, quads)
    sys.props("graft.infer.taint.max.rounds") = "1"
    try {
      val before = OwlHorst.capFallbacks.get()
      val inc = checkDelete(quads, baseMat,
        quads.filter(col("s")("lex") === "i:1"))
      assert(OwlHorst.capFallbacks.get() == before + 1)
      assert(!spo(inc).exists(_._1 == "i:1"))
      assert(spo(inc)(("i:2", "rdf:type", ":C")))
    } finally sys.props.remove("graft.infer.taint.max.rounds")
  }

  test("cap fail-safe: delta insert fixpoint at the round cap full-closes") {
    val schema = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      (":B", "rdfs:subClassOf", ":C"),
      ("i:0", "rdf:type", ":C")))
    val baseMat = OwlHorst.materialize(spark, schema)
    val delta = iriQuads(Seq(("i:1", "rdf:type", ":A")))
    sys.props("graft.infer.delta.max.rounds") = "1"
    try {
      val before = OwlHorst.capFallbacks.get()
      val inc = OwlHorst.incremental(spark, baseMat, delta)
      assert(OwlHorst.capFallbacks.get() == before + 1)
      assert(spo(inc)(("i:1", "rdf:type", ":C")),
        "the full-close fallback must finish the cascade the capped " +
          "delta fixpoint could not")
    } finally sys.props.remove("graft.infer.delta.max.rounds")
  }

  test("cap fail-safe: unconverged full close fails loud") {
    val quads = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      (":B", "rdfs:subClassOf", ":C"),
      ("i:1", "rdf:type", ":A")))
    sys.props("graft.infer.fullclose.max.rounds") = "1"
    try {
      val ex = intercept[IllegalStateException] {
        OwlHorst.materialize(spark, quads).count()
      }
      assert(ex.getMessage.contains("did not converge"))
    } finally sys.props.remove("graft.infer.fullclose.max.rounds")
  }

  test("DRed: single-axiom delete maintains incrementally (r16)") {
    val quads = TpchRdf.graphDf(spark, sf)
    val del = quads.filter(col("s")("lex") === ":Nation" &&
      col("p")("lex") === "rdfs:subClassOf" &&
      col("o")("lex") === ":GeoSourced")
    val aiBefore = OwlHorst.dredAxiomIncrementals.get()
    val inc = checkDelete(quads, mat, del)
    assert(OwlHorst.dredAxiomIncrementals.get() == aiBefore + 1)
    // the rdfp16 restriction reached through the deleted subclass axiom
    // no longer TYPES regions (the allValuesFrom schema row itself
    // legitimately remains)
    assert(!spo(inc).exists(r => r._2 == "rdf:type" && r._3 == ":MappedRegion"))
  }

  test("DRed axiom: redundant subClassOf edge delete changes nothing") {
    // A⊑B explicit AND derivable via A⊑M⊑B: ontology() closes the
    // plane, so the rule diff is empty and every typing survives
    val quads = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      (":A", "rdfs:subClassOf", ":M"),
      (":M", "rdfs:subClassOf", ":B"),
      ("i:1", "rdf:type", ":A")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("s")("lex") === ":A" &&
      col("o")("lex") === ":B")
    val inc = checkDelete(quads, baseMat, del)
    assert(spo(inc)(("i:1", "rdf:type", ":B")),
      "the typing survives through the redundant path")
  }

  test("DRed axiom: TransitiveProperty typing delete retracts closure pairs") {
    val quads = iriQuads(Seq(
      ("ex:partOf", "rdf:type", "owl:TransitiveProperty"),
      ("ex:a", "ex:partOf", "ex:b"),
      ("ex:b", "ex:partOf", "ex:c"),
      ("ex:c", "ex:partOf", "ex:d")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("o")("lex") === "owl:TransitiveProperty")
    val inc = checkDelete(quads, baseMat, del)
    val pairs = spo(inc).filter(_._2 == "ex:partOf").map(r => (r._1, r._3))
    assert(pairs == Set(("ex:a", "ex:b"), ("ex:b", "ex:c"), ("ex:c", "ex:d")),
      "base edges stay, derived closure pairs retract")
  }

  test("DRed axiom: oversized taint seed surrenders to full re-materialization") {
    // the size guard: a lost transitive typing seeds the property's
    // whole inferred closure — a 66-node chain loses (65·64)/2 = 2,080
    // inferred pairs, past the 2,000-row taint seed cap, so the
    // incremental path must NOT collect it; it re-closes the world
    val nodes = (0 to 65).map(i => s"ex:n$i")
    val quads = iriQuads(("ex:partOf", "rdf:type", "owl:TransitiveProperty") +:
      nodes.zip(nodes.tail).map { case (a, b) => (a, "ex:partOf", b) })
    val baseMat = OwlHorst.materialize(spark, quads)
    val cfBefore = OwlHorst.capFallbacks.get()
    val inc = checkDelete(quads, baseMat,
      quads.filter(col("o")("lex") === "owl:TransitiveProperty"))
    assert(OwlHorst.capFallbacks.get() == cfBefore + 1)
    val pairs = spo(inc).filter(_._2 == "ex:partOf").map(r => (r._1, r._3))
    assert(pairs == nodes.zip(nodes.tail).toSet)
  }

  test("DRed axiom: FunctionalProperty typing delete collapses derived sameAs") {
    val quads = TpchRdf.graphDf(spark, sf)
    val del = quads.filter(col("s")("lex") === ":hq" &&
      col("p")("lex") === "rdf:type" &&
      col("o")("lex") === "owl:FunctionalProperty")
    val inc = checkDelete(quads, mat, del)
    assert(!spo(inc).exists(r =>
      r._2 == "owl:sameAs" && (r._1.startsWith("hq:") || r._3.startsWith("hq:"))),
      "the rdfp1-derived hq sameAs class dies with its axiom")
    // the rdfp2 class (inverse-functional :code) is untouched
    assert(spo(inc)(("dup:a", "owl:sameAs", "dup:b")))
  }

  test("DRed axiom: subPropertyOf edge delete retracts inherited statements") {
    val quads = iriQuads(Seq(
      ("ex:qsub", "rdfs:subPropertyOf", "ex:q"),
      ("ex:m", "ex:qsub", "ex:y"),
      ("ex:x", "ex:q", "ex:y")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("p")("lex") === "rdfs:subPropertyOf")
    val inc = checkDelete(quads, baseMat, del)
    assert(!spo(inc)(("ex:m", "ex:q", "ex:y")),
      "the inherited super-property copy retracts with the axiom")
    assert(spo(inc)(("ex:x", "ex:q", "ex:y")) &&
      spo(inc)(("ex:m", "ex:qsub", "ex:y")))
  }

  // ---- r17: multi-axiom batch deletes (the r16 verdict's #3) ---------

  test("DRed axiom batch: independent axioms maintain incrementally") {
    // two unrelated axioms in ONE batch: a subclass edge and a
    // FunctionalProperty typing — the closed rule-table diff loses
    // exactly both families' rules, no fallback
    val quads = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      ("i:1", "rdf:type", ":A"),
      ("ex:hq2", "rdf:type", "owl:FunctionalProperty"),
      ("corp:9", "ex:hq2", "site:a"),
      ("corp:9", "ex:hq2", "site:b")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(
      (col("s")("lex") === ":A" && col("p")("lex") === "rdfs:subClassOf") ||
        (col("s")("lex") === "ex:hq2" && col("p")("lex") === "rdf:type"))
    val aiBefore = OwlHorst.dredAxiomIncrementals.get()
    val afBefore = OwlHorst.dredAxiomFallbacks.get()
    val inc = checkDelete(quads, baseMat, del)
    assert(OwlHorst.dredAxiomIncrementals.get() == aiBefore + 1)
    assert(OwlHorst.dredAxiomFallbacks.get() == afBefore)
    assert(!spo(inc)(("i:1", "rdf:type", ":B")))
    assert(!spo(inc).exists(_._2 == "owl:sameAs"))
  }

  test("DRed axiom batch: INTERACTING chain axioms lose exactly the chained rules") {
    // delete A⊑B and B⊑C in one batch: the lost-rule set is the diff of
    // the CLOSED tables (A→B, A→C, B→C) — a per-axiom union could miss
    // A→C; i:2 keeps its B⊑C-independent :D typing via the surviving
    // A⊑D edge
    val quads = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      (":B", "rdfs:subClassOf", ":C"),
      (":A", "rdfs:subClassOf", ":D"),
      ("i:1", "rdf:type", ":A"),
      ("i:2", "rdf:type", ":B")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("p")("lex") === "rdfs:subClassOf" &&
      col("o")("lex").isin(":B", ":C"))
    val inc = checkDelete(quads, baseMat, del)
    assert(spo(inc)(("i:1", "rdf:type", ":D")))
    assert(!spo(inc)(("i:1", "rdf:type", ":B")) &&
      !spo(inc)(("i:1", "rdf:type", ":C")),
      "i:1 loses both chained typings (incl. the A→C composite)")
    assert(!spo(inc)(("i:2", "rdf:type", ":C")),
      "i:2 loses the B⊑C typing")
    assert(spo(inc)(("i:2", "rdf:type", ":B")),
      "i:2's EXPLICIT :B typing survives")
  }

  test("DRed axiom batch: mixed axiom + instance deletes in one batch") {
    val quads = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      ("i:1", "rdf:type", ":A"),
      ("i:2", "rdf:type", ":A"),
      ("ex:p", "rdf:type", "owl:TransitiveProperty"),
      ("ex:a", "ex:p", "ex:b"),
      ("ex:b", "ex:p", "ex:c")))
    val baseMat = OwlHorst.materialize(spark, quads)
    // one axiom (the subclass edge) + one instance premise (a chain
    // edge) in the same batch
    val del = quads.filter(
      (col("s")("lex") === ":A" && col("p")("lex") === "rdfs:subClassOf") ||
        (col("s")("lex") === "ex:b" && col("p")("lex") === "ex:p"))
    val inc = checkDelete(quads, baseMat, del)
    assert(!spo(inc).exists(r => r._2 == "rdf:type" && r._3 == ":B"))
    assert(spo(inc).filter(_._2 == "ex:p").map(r => (r._1, r._3)) ==
      Set(("ex:a", "ex:b")))
  }

  test("DRed axiom batch: oversized batch falls back (telemetry split)") {
    val quads = iriQuads(Seq(
      (":A", "rdfs:subClassOf", ":B"),
      (":C", "rdfs:subClassOf", ":D"),
      ("i:1", "rdf:type", ":A"),
      ("i:2", "rdf:type", ":C")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val del = quads.filter(col("p")("lex") === "rdfs:subClassOf")
    sys.props("graft.infer.axiom.batch.max") = "1"
    try {
      val afBefore = OwlHorst.dredAxiomFallbacks.get()
      val inc = checkDelete(quads, baseMat, del)
      assert(OwlHorst.dredAxiomFallbacks.get() == afBefore + 1,
        "a batch past graft.infer.axiom.batch.max must surrender")
      assert(!spo(inc).exists(r => r._3 == ":B" || r._3 == ":D"))
    } finally sys.props.remove("graft.infer.axiom.batch.max")
  }

  // ---- r17: driver-side taint fixpoint (the r16 verdict's #2) --------

  test("DRed driver taint: takes the driver path and equals full re-materialization") {
    // the fixture delete crosses every rule family (dispatch, functional
    // sameAs, hasValue cycle, transitive chains, class expansion) — it
    // must run on the collected-row path, and checkDelete pins the
    // maintained world against the full re-materialization
    val quads = TpchRdf.graphDf(spark, sf)
    val del = quads.filter(
      (col("s")("lex") === "cust:1" && col("p")("lex") === ":nation") ||
        (col("s")("lex") === "corp:1" && col("p")("lex") === ":hq" &&
          col("o")("lex") === "hq:b") ||
        (col("s")("lex") === "thing:9" && col("p")("lex") === ":prio"))
    val dtBefore = OwlHorst.dredDriverTaints.get()
    checkDelete(quads, mat, del)
    assert(OwlHorst.dredDriverTaints.get() == dtBefore + 1,
      "the collectable working set must take the driver taint path")
  }

  test("DRed driver taint: probe overflow falls back to re-materialization") {
    // probe cap 0 makes the first filtered collect overflow — the
    // delete surrenders to the full re-materialization (checkDelete
    // pins ≡ full re-materialization)
    val quads = TpchRdf.graphDf(spark, sf)
    val del = quads.filter(col("s")("lex") === "cust:1" &&
      col("p")("lex") === ":nation")
    sys.props("graft.infer.driver.probe.max") = "0"
    try {
      val dtBefore = OwlHorst.dredDriverTaints.get()
      val cfBefore = OwlHorst.capFallbacks.get()
      val inc = checkDelete(quads, mat, del)
      assert(OwlHorst.dredDriverTaints.get() == dtBefore,
        "an overflowing probe must not count as a driver-mode run")
      assert(OwlHorst.capFallbacks.get() == cfBefore + 1,
        "an overflowing probe must surrender to the full re-materialization")
      assert(spo(inc.filter(col("s")("lex") === "cust:1"))
        .forall(r => r._2 != ":locatedIn"))
    } finally sys.props.remove("graft.infer.driver.probe.max")
  }

  test("DRed: axiom delete past the taint working-set cap re-materializes") {
    // deleting A⊑B seeds the taint with all 2,100 inferred `:B`
    // typings — past the 2,000-row working-set cap the delete builds
    // no taint slice and re-closes the post-delete world
    val quads = iriQuads((":A", "rdfs:subClassOf", ":B") +:
      (1 to 2100).map(i => (s"i:$i", "rdf:type", ":A")))
    val baseMat = OwlHorst.materialize(spark, quads)
    val cfBefore = OwlHorst.capFallbacks.get()
    val inc = checkDelete(quads, baseMat,
      quads.filter(col("p")("lex") === "rdfs:subClassOf"))
    assert(OwlHorst.capFallbacks.get() == cfBefore + 1)
    assert(!spo(inc).exists(_._3 == ":B"))
  }
}
