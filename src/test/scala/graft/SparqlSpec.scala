package graft

import org.apache.spark.sql.DataFrame
import graft.rdf.TpchRdf
import graft.sparql.{Sparql, SparqlParser}

/** End-to-end SPARQL engine tests: text → parse → algebra → DataFrame
  * over the TPC-H-derived quads view at sf0.001.
  */
class SparqlSpec extends GraftSuite {

  lazy val quads: DataFrame = TpchRdf.graphDf(spark, sf).cache()

  def q(text: String): Array[org.apache.spark.sql.Row] =
    Sparql.query(spark, quads, text).collect()

  test("BGP star join: customers in ASIA nations") {
    val rows = q("""
      SELECT ?c ?nname WHERE {
        ?c a :Customer .
        ?c :nation ?n .
        ?n :name ?nname .
        ?n :region ?r .
        ?r :name "ASIA" .
      }""")
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).startsWith("cust:")))
  }

  test("OPTIONAL keeps unmatched left with nulls") {
    val rows = q("""
      SELECT ?s ?bal WHERE {
        ?s a :Supplier .
        OPTIONAL { ?s :acctbal ?bal . FILTER(?bal > 5000) }
      }""")
    val total = spark.read.parquet(s"$sf/supplier.parquet").count()
    assert(rows.length == total)
    assert(rows.exists(_.isNullAt(1)) && rows.exists(!_.isNullAt(1)))
  }

  test("UNION of nation and region names") {
    val rows = q("""
      SELECT ?name WHERE {
        { ?n a :Nation . ?n :name ?name } UNION { ?r a :Region . ?r :name ?name }
      }""")
    assert(rows.length == 30) // 25 nations + 5 regions
  }

  test("FILTER numeric comparison and regex") {
    val rows = q("""
      SELECT ?c WHERE {
        ?c a :Customer . ?c :acctbal ?b . ?c :name ?nm .
        FILTER(?b >= 9000 && REGEX(?nm, "Customer"))
      }""")
    assert(rows.nonEmpty)
  }

  test("MINUS removes matching solutions") {
    val all = q("SELECT ?c WHERE { ?c a :Customer }").length
    val asia = q("""
      SELECT ?c WHERE {
        ?c a :Customer . ?c :nation ?n . ?n :region ?r . ?r :name "ASIA" }""").length
    val rows = q("""
      SELECT ?c WHERE {
        ?c a :Customer .
        MINUS { ?c :nation ?n . ?n :region ?r . ?r :name "ASIA" . }
      }""")
    assert(rows.length == all - asia)
  }

  test("GRAPH variable binds graph names") {
    val rows = q("""
      SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g""")
    assert(rows.length == 6) // 5 table graphs + schema
  }

  test("property path seq: customer to region name") {
    val a = q("""SELECT ?c ?rn WHERE { ?c :nation/:region/:name ?rn . ?c a :Customer }""")
    val b = q("""
      SELECT ?c ?rn WHERE {
        ?c :nation ?n . ?n :region ?r . ?r :name ?rn . ?c a :Customer }""")
    assert(a.length == b.length && a.nonEmpty)
  }

  test("property path alternatives and inverse") {
    val rows = q("""SELECT ?x WHERE { ?x (:name|^:region) ?y . ?x a :Region }""")
    assert(rows.nonEmpty)
  }

  test("transitive closure: subClassOf+ reaches Thing") {
    val rows = q("""
      SELECT ?t WHERE { GRAPH g:schema { ?t rdfs:subClassOf+ :Thing } }""")
    val got = rows.map(_.getString(0)).toSet
    assert(got == Set(":Customer", ":Supplier", ":Agent", ":Nation", ":Region", ":Place"))
  }

  test("seeded closure from a constant subject walks forward") {
    val rows = q("""
      SELECT ?t WHERE { GRAPH g:schema { :Customer rdfs:subClassOf+ ?t } }""")
    assert(rows.map(_.getString(0)).toSet == Set(":Agent", ":Thing"))
  }

  test("zero-length path from a constant matches the constant itself") {
    // SPARQL §9.3 ZeroLengthPath over a bound term — even one absent
    // from the graph; the unseeded engine would need every graph term
    val rows = q("""
      SELECT ?y WHERE { GRAPH g:schema { :NoSuchClass rdfs:subClassOf* ?y } }""")
    assert(rows.map(_.getString(0)).toSeq == Seq(":NoSuchClass"))
  }

  test("seeded star path: constant subject reaches itself and ancestors") {
    val rows = q("""
      SELECT ?t WHERE { GRAPH g:schema { :Customer rdfs:subClassOf* ?t } }""")
    assert(rows.map(_.getString(0)).toSet == Set(":Customer", ":Agent", ":Thing"))
  }

  test("sequence path over a diamond follows §9.1 bag semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.rdf.Rdf
    // s→m1→t and s→m2→t: the fixed-length path TRANSLATES to triple
    // patterns with a fresh intermediate (§9.1), so each route is one
    // solution — two rows, collapsed by an explicit DISTINCT (the
    // pre-round-6 engine deduped implicitly; the translation semantics
    // is what reference engines produce)
    val diamond = Seq(("e:s", "e:m1"), ("e:s", "e:m2"),
        ("e:m1", "e:t"), ("e:m2", "e:t"))
      .toDF("sl", "ol").select(lit("g:d").as("g"), Rdf.iri(col("sl")).as("s"),
        Rdf.iri(lit(":p")).as("p"), Rdf.iri(col("ol")).as("o"))
    val rows = Sparql.query(spark, diamond,
      "SELECT ?x WHERE { e:s :p/:p ?x }").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("e:t", "e:t"))
    val distinct = Sparql.query(spark, diamond,
      "SELECT DISTINCT ?x WHERE { e:s :p/:p ?x }").collect()
    assert(distinct.map(_.getString(0)).toSeq == Seq("e:t"))
  }

  test("zero-length path from a constant agrees with and without GRAPH ?var") {
    val plain = q("""
      ASK { :NoSuchClass rdfs:subClassOf* :NoSuchClass }""").head.getString(0)
    val graphed = q("""
      ASK { GRAPH ?g { :NoSuchClass rdfs:subClassOf* :NoSuchClass } }""").head.getString(0)
    assert(plain == "true" && graphed == "true")
  }

  test("aggregates: avg balance per nation with HAVING and ORDER") {
    val rows = q("""
      SELECT ?nname (AVG(?bal) AS ?avgbal) (COUNT(*) AS ?n) WHERE {
        ?c a :Customer . ?c :nation ?nt . ?nt :name ?nname . ?c :acctbal ?bal .
      } GROUP BY ?nname HAVING (COUNT(*) >= 2) ORDER BY DESC(?avgbal) ?nname""")
    assert(rows.nonEmpty && rows.forall(r => r.getString(2).toDouble >= 2))
  }

  test("BIND and arithmetic") {
    val rows = q("""
      SELECT ?c ?boosted WHERE {
        ?c :acctbal ?bal . BIND(?bal * 1.1 AS ?boosted) FILTER(?bal > 0)
      } LIMIT 5""")
    assert(rows.length == 5 && rows.forall(!_.isNullAt(1)))
  }

  test("VALUES inline join") {
    val rows = q("""
      SELECT ?n ?rname WHERE {
        VALUES ?rname { "ASIA" "EUROPE" }
        ?r :name ?rname . ?n :region ?r .
      }""")
    assert(rows.length == 10) // 5 nations per region
  }

  test("a 5,000-row VALUES block parses in linear time and binds every row") {
    val text = (1 to 5000).map(i => s"""(<urn:v:$i> "row $i")""")
      .mkString("SELECT ?k ?v WHERE { VALUES (?k ?v) {\n", "\n", "\n} }")
    val t0 = System.nanoTime()
    SparqlParser.parse(text)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 10.0, f"5,000-row VALUES parse took $secs%.1f s")
    val rows = q(text)
    assert(rows.length == 5000)
    assert(rows.map(_.getString(0)).toSet == (1 to 5000).map(i => s"urn:v:$i").toSet)
  }

  test("unrecognized query input is quoted in the ParseError") {
    val e = intercept[SparqlParser.ParseError](
      SparqlParser.tokenize("SELECT ?x WHERE { ?x ~ ?y . ?y ?p ?o . ?o ?q ?r }"))
    assert(e.getMessage == "unrecognized input at '~ ?y . ?y ?p ?o . ?o'")
  }

  test("subquery: max balance then join") {
    val rows = q("""
      SELECT ?c ?bal WHERE {
        { SELECT (MAX(?b) AS ?bal) WHERE { ?x a :Customer . ?x :acctbal ?b } }
        ?c :acctbal ?bal . ?c a :Customer .
      }""")
    assert(rows.nonEmpty)
  }

  test("EXISTS / NOT EXISTS filters") {
    val withOrd = q("""
      SELECT ?c WHERE { ?c a :Customer . FILTER EXISTS { ?o :custkey ?c } }""").length
    val without = q("""
      SELECT ?c WHERE { ?c a :Customer . FILTER NOT EXISTS { ?o :custkey ?c } }""").length
    val all = q("SELECT ?c WHERE { ?c a :Customer }").length
    assert(withOrd + without == all && withOrd > 0)
  }

  test("ASK true and false") {
    assert(q("""ASK { ?r :name "ASIA" }""").head.getString(0) == "true")
    assert(q("""ASK { ?r :name "ATLANTIS" }""").head.getString(0) == "false")
  }

  test("DISTINCT, ORDER, LIMIT, OFFSET modifiers") {
    val rows = q("""
      SELECT DISTINCT ?seg WHERE { ?c :mktsegment ?seg } ORDER BY ?seg LIMIT 3 OFFSET 1""")
    assert(rows.length == 3)
    val segs = rows.map(_.getString(0))
    assert(segs.sameElements(segs.sorted))
  }

  test("DESCRIBE returns one-hop statements of constant and bound targets") {
    val byIri = q("DESCRIBE reg:0")
    assert(byIri.nonEmpty)
    assert(byIri.forall(r => r.getString(0) == "reg:0" || r.getString(2) == "reg:0"))
    val byVar = q("""DESCRIBE ?r WHERE { ?r :name "ASIA" . ?r a :Region }""")
    assert(byVar.nonEmpty)
    val asiaId = byVar.map(r => Set(r.getString(0), r.getString(2)))
      .reduce(_ intersect _)
    assert(asiaId.size == 1 && asiaId.head.startsWith("reg:"))
  }

  test("CONSTRUCT instantiates templates as distinct triples") {
    val rows = q("""
      CONSTRUCT { ?n :within ?r } WHERE { ?n :region ?r . ?n a :Nation }""")
    assert(rows.length == 25)
    assert(rows.forall(r => r.getString(1) == ":within" &&
      r.getString(0).startsWith("nat:") && r.getString(2).startsWith("reg:")))
  }

  test("builtin functions: STR/STRLEN/CONTAINS/SUBSTR/YEAR") {
    val rows = q("""
      SELECT ?o ?yr ?frag WHERE {
        ?o :orderdate ?d . BIND(YEAR(?d) AS ?yr) BIND(SUBSTR(STR(?o), 1, 4) AS ?frag)
        FILTER(CONTAINS(STR(?o), "ord:"))
      } LIMIT 4""")
    assert(rows.length == 4)
    assert(rows.forall(_.getString(2) == "ord:"))
    assert(rows.forall(r => r.getString(1).startsWith("199") || r.getString(1).startsWith("200")))
  }

  test("temporal casts: date↔dateTime round-trip, malformed → unbound") {
    val rows = q("""
      SELECT ?d ?dt ?d2 ?bad WHERE {
        ?o :orderdate ?d .
        BIND(xsd:dateTime(?d) AS ?dt)
        BIND(xsd:date(?dt) AS ?d2)
        BIND(xsd:dateTime("not a timestamp") AS ?bad)
      } LIMIT 5""")
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(0) + "T00:00:00")
      assert(r.getString(2) == r.getString(0))
      assert(r.isNullAt(3))
    }
  }

  test("temporal cast rejects IRIs and numbers, accepts full lexicals") {
    val rows = q("""
      SELECT ?a ?b ?c WHERE {
        BIND(xsd:dateTime("1998-07-01T12:30:00") AS ?a)
        BIND(xsd:dateTime(42) AS ?b)
        BIND(xsd:date("1998-07-01T12:30:00"^^xsd:dateTime) AS ?c)
      }""")
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "1998-07-01T12:30:00")
    assert(rows(0).isNullAt(1))
    assert(rows(0).getString(2) == "1998-07-01")
  }

  test("SERVICE fails fast with a dedicated federation error") {
    val e = intercept[UnsupportedOperationException] {
      q("""SELECT ?s WHERE { SERVICE <http://example.org/sparql> { ?s ?p ?o } }""")
    }
    assert(e.getMessage.contains("federated"))
  }

  test("SERVICE joins bindings from a registered in-process endpoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // "remote" store: per-region population facts under a separate IRI
    val remote = Seq(("reg:0", ":population", "1400"), ("reg:2", ":population", "750"))
      .toDF("sl", "pl", "ol").select(
        lit("urn:default").as("g"), graft.rdf.Rdf.iri(col("sl")).as("s"),
        graft.rdf.Rdf.iri(col("pl")).as("p"),
        graft.rdf.Rdf.strLit(col("ol")).as("o"))
    graft.sparql.Sparql.registerService("reg:endpoint/geo", remote)
    try {
      val rows = q("""
        SELECT ?rn ?pop WHERE {
          ?r :name ?rn . ?r a :Region .
          SERVICE <reg:endpoint/geo> { ?r :population ?pop } }""")
      assert(rows.length == 2)
      val byName = rows.map(r => r.getString(0) -> r.getString(1)).toMap
      assert(byName == Map("AFRICA" -> "1400", "ASIA" -> "750"))
    } finally graft.sparql.Sparql.unregisterService("reg:endpoint/geo")
  }

  test("SERVICE bound join: local bindings inject as VALUES into the endpoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val Sp = graft.sparql.Sparql
    // endpoint with facts for MANY subjects — only two join with the
    // local side, so a bound join restricts the endpoint evaluation
    // to those two instead of shipping all rows
    val remote = (Seq(("reg:0", "1400"), ("reg:2", "750")) ++
      (0 until 500).map(i => (s"x:$i", s"$i")))
      .toDF("sl", "ol").select(
        lit("urn:default").as("g"), graft.rdf.Rdf.iri(col("sl")).as("s"),
        graft.rdf.Rdf.iri(lit(":population")).as("p"),
        graft.rdf.Rdf.strLit(col("ol")).as("o"))
    Sp.registerService("reg:endpoint/geo2", remote)
    val query = """
      SELECT ?rn ?pop WHERE {
        ?r :name ?rn . ?r a :Region .
        SERVICE <reg:endpoint/geo2> { ?r :population ?pop } }"""
    try {
      val before = Sp.serviceBoundJoins.get()
      val optimized = q(query)
        .map(r => r.getString(0) -> r.getString(1)).toSet
      assert(Sp.serviceBoundJoins.get() == before + 1,
        "bound join did not fire for a small local side")
      // equivalence: the ship-whole-relation plan gives the same answer
      Sp.boundJoinMaxKeys = 0L
      val plain =
        try q(query).map(r => r.getString(0) -> r.getString(1)).toSet
        finally Sp.boundJoinMaxKeys = 10000L
      assert(optimized == plain &&
        optimized == Set("AFRICA" -> "1400", "ASIA" -> "750"))
      // a local side ABOVE the threshold falls back (no counter bump)
      Sp.boundJoinMaxKeys = 1L
      val b2 = Sp.serviceBoundJoins.get()
      try assert(q(query).map(r => r.getString(0) -> r.getString(1)).toSet
        == plain && Sp.serviceBoundJoins.get() == b2)
      finally Sp.boundJoinMaxKeys = 10000L
    } finally Sp.unregisterService("reg:endpoint/geo2")
  }

  test("SERVICE bound join: service-first order and var-free service fall back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val Sp = graft.sparql.Sparql
    val remote = Seq(("reg:0", "1400"), ("reg:2", "750"))
      .toDF("sl", "ol").select(
        lit("urn:default").as("g"), graft.rdf.Rdf.iri(col("sl")).as("s"),
        graft.rdf.Rdf.iri(lit(":population")).as("p"),
        graft.rdf.Rdf.strLit(col("ol")).as("o"))
    Sp.registerService("reg:endpoint/geo3", remote)
    try {
      // SERVICE written FIRST: the join sees (Service, local) — the
      // bound join must still fire and keep the same answer
      val before = Sp.serviceBoundJoins.get()
      val rows = q("""
        SELECT ?rn ?pop WHERE {
          SERVICE <reg:endpoint/geo3> { ?r :population ?pop }
          ?r :name ?rn . ?r a :Region . }""")
      assert(Sp.serviceBoundJoins.get() == before + 1)
      assert(rows.map(r => r.getString(0) -> r.getString(1)).toSet ==
        Set("AFRICA" -> "1400", "ASIA" -> "750"))
      // no shared vars → nothing to inject → plain (cross) join path
      val b2 = Sp.serviceBoundJoins.get()
      val free = q("""
        SELECT ?rn ?x ?pop WHERE {
          ?r :name ?rn . ?r a :Region .
          SERVICE <reg:endpoint/geo3> { ?x :population ?pop } }""")
      assert(Sp.serviceBoundJoins.get() == b2 && free.length == 5 * 2)
    } finally Sp.unregisterService("reg:endpoint/geo3")
  }

  test("SERVICE SILENT on an unregistered endpoint is the unit solution") {
    val rows = q("""
      SELECT ?rn ?pop WHERE {
        ?r :name ?rn . ?r a :Region .
        SERVICE SILENT <urn:nowhere> { ?r :population ?pop } }""")
    // unit solution joins without constraining: all regions, ?pop unbound
    val regions = spark.read.parquet(s"$sf/region.parquet").count()
    assert(rows.length == regions)
    assert(rows.forall(_.isNullAt(1)))
  }

  // ---- FROM / FROM NAMED dataset clauses (§13.2) ----

  test("FROM merges the listed graphs into the default graph, deduped") {
    // g:region listed twice: the merge is a SET union — each region
    // contributes its 2 triples once, not twice
    val regions = spark.read.parquet(s"$sf/region.parquet").count()
    val rows = q("""
      SELECT ?s (COUNT(*) AS ?n) FROM g:region FROM g:region
      WHERE { ?s ?p ?o } GROUP BY ?s""")
    assert(rows.length == regions)
    assert(rows.forall(_.getString(1) == "2"))
  }

  test("FROM restricts the default graph: other graphs invisible") {
    val rows = q("""SELECT ?s FROM g:region WHERE { ?s a :Customer }""")
    assert(rows.isEmpty)
  }

  test("FROM NAMED only: default graph is empty, GRAPH restricted") {
    // non-GRAPH pattern over the (empty) default graph → no rows
    assert(q("""SELECT ?s FROM NAMED g:region WHERE { ?s ?p ?o }""").isEmpty)
    // GRAPH ?g ranges over exactly the listed graphs
    val gs = q("""
      SELECT DISTINCT ?g FROM NAMED g:region FROM NAMED g:nation
      WHERE { GRAPH ?g { ?s :name ?nm } }""").map(_.getString(0)).toSet
    assert(gs == Set("g:region", "g:nation"))
    // a constant GRAPH outside the named set matches nothing
    assert(q("""
      SELECT ?s FROM NAMED g:region
      WHERE { GRAPH g:customer { ?s :name ?nm } }""").isEmpty)
  }

  test("FROM and FROM NAMED partition the dataset independently") {
    val rows = q("""
      SELECT ?rn ?nn FROM g:region FROM NAMED g:nation
      WHERE { ?r :name ?rn . GRAPH ?g { ?n :name ?nn . ?n :region ?r } }""")
    assert(rows.nonEmpty)
    // region names resolve from the default graph, nation names from
    // the named graph — both planes visible in one query
    assert(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("UNION of all-constant branches executes (placeholder typing)") {
    // each branch's BGP binds no variables → its output is a lone
    // placeholder column; Union widening fills the other branch's
    // placeholder with a nullTerm STRUCT, so the placeholder itself
    // must be struct-typed or unionByName throws
    val rows = q("""
      SELECT ?s WHERE {
        ?s a :Region .
        { reg:0 :name "AFRICA" } UNION { reg:1 :name "NOPE" } }""")
    val regions = spark.read.parquet(s"$sf/region.parquet").count()
    assert(rows.length == regions) // one matching branch = one unit solution
  }

  test("FROM in a subquery is rejected loudly") {
    val e = intercept[graft.sparql.SparqlParser.ParseError] {
      q("""SELECT ?s WHERE { { SELECT ?s FROM g:region WHERE { ?s ?p ?o } } }""")
    }
    assert(e.getMessage.contains("subquery"))
  }

  test("trailing VALUES clause restricts the whole query") {
    val rows = q("""
      SELECT ?name WHERE { ?n a :Nation . ?n :name ?name }
      VALUES ?name { "NATION_3" "NATION_7" }""")
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("NATION_3", "NATION_7"))
    // with ORDER/LIMIT present, VALUES still joins the pattern
    val one = q("""
      SELECT ?name WHERE { ?n a :Nation . ?n :name ?name }
      ORDER BY ?name LIMIT 1
      VALUES ?name { "NATION_7" "NATION_3" }""")
    assert(one.map(_.getString(0)).toSeq == Seq("NATION_3"))
  }

  test("CONSTRUCT WHERE shorthand: pattern doubles as template") {
    val full = Sparql.query(spark, quads,
      "CONSTRUCT { ?n :name ?nm } WHERE { ?n a :Nation . ?n :name ?nm }")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val short = Sparql.query(spark, quads,
      "CONSTRUCT WHERE { ?n a :Nation . ?n :name ?nm }")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    // the shorthand emits the type triples too; the name triples of
    // the explicit form must all be present
    assert(full.toSet.subsetOf(short.toSet))
    assert(short.size == 2 * full.size) // 25 type + 25 name triples
  }

  test("id-space path evaluation matches the struct plane") {
    // complex paths (closures, alternation, negated sets, seeded
    // walks, GRAPH ?var grouping) route through the encoded plane when
    // one is supplied; both planes must produce the same multiset
    val enc = graft.core.EncodedQuads(
      graft.core.TermDictionary.encode(quads),
      graft.core.TermDictionary.build(quads))
    val queries = Seq(
      // unseeded closure (both endpoints var)
      "SELECT ?a ?b WHERE { ?a (:nation/:region)+ ?b }",
      // seeded forward walk incl. zero-length from a constant
      "SELECT ?x WHERE { reg:0 (^:region)* ?x }",
      // alternation + optional-step
      "SELECT ?s ?o WHERE { ?s (:nation|:region)? ?o . ?s a :Customer }",
      // negated property set
      "SELECT ?s ?o WHERE { ?s !(:name|:acctbal|:mktsegment) ?o . ?s a :Customer }",
      // per-graph closure under GRAPH ?var
      "SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a (:nation/:region)+ ?b } }",
      // constant-object backward walk through a sequence
      "SELECT ?c WHERE { ?c :nation/:region reg:2 }",
      // constant-object backward walk through a closure of a sequence
      "SELECT ?c WHERE { ?c (:nation/:region)+ reg:2 }",
      // unseeded zero-length identity pairs over an alternation
      "SELECT ?a ?b WHERE { ?a (:nation|:region)* ?b }",
      // per-graph constant endpoint with zero-length pairs
      "SELECT ?g ?x WHERE { GRAPH ?g { reg:0 (^:region)* ?x } }",
      // per-graph identity pairs
      "SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a rdfs:subClassOf* ?b } }",
      // seeded forward walk through a closure of inverse steps
      "SELECT ?x WHERE { reg:0 (^:region/^:nation)+ ?x }")
    for (text <- queries) {
      val plain = Sparql.query(spark, quads, text).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val viaIds = Sparql.query(spark, quads, text, encoded = Some(enc)).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(viaIds == plain, s"encoded-plane divergence for: $text")
    }
  }

  test("id-plane DISTINCT/GROUP pushdown matches the struct plane") {
    val enc = graft.core.EncodedQuads(
      graft.core.TermDictionary.encode(quads),
      graft.core.TermDictionary.build(quads))
    // correlated EXISTS shapes the id plane refuses, so both runs take
    // the struct plane: a condition reading an outer-nullable key, a
    // hoisted BIND feeding an aggregate argument, an l-only condition
    // read under MINUS, and a MINUS sharing no var with the outer
    // (the bounded dependent cross join)
    val corrStruct = Seq(
      """SELECT ?c ?bal WHERE { { ?c :acctbal ?bal } UNION { ?s :acctbal ?bal }
           FILTER EXISTS { { SELECT ?c (COUNT(?o) AS ?n) WHERE {
               ?o :custkey ?c . FILTER(STR(?c) != STR(?bal)) }
             GROUP BY ?c HAVING(?n >= 2) } } }""",
      """SELECT ?c WHERE { ?c :acctbal ?bal . ?c a :Customer .
           FILTER EXISTS { { SELECT ?c (MAX(?z) AS ?m) WHERE {
               ?o :custkey ?c . BIND(?bal * 2 AS ?z) }
             GROUP BY ?c HAVING(?m >= 15000) } } }""",
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS { ?c :nation ?n . ?c :mktsegment ?m
             MINUS { ?c :nation ?n . FILTER(?m = "BUILDING" && ?bal > 5000) } } }""",
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS { ?r a :Region
             MINUS { ?r :name ?nm . FILTER(STRLEN(?nm) * 1000 > ?bal) } } }""")
    val queries = Seq(
      "SELECT ?t (COUNT(?x) AS ?n) WHERE { ?x a ?t } GROUP BY ?t",
      "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }",
      "SELECT ?g (COUNT(DISTINCT ?p) AS ?np) WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g",
      "SELECT DISTINCT ?n WHERE { ?c :nation ?n }",
      "SELECT DISTINCT ?p ?o WHERE { GRAPH g:region { ?s ?p ?o } }",
      // single-valued groups: SAMPLE deterministic on both planes
      "SELECT ?r (SAMPLE(?rn) AS ?sn) WHERE { ?n :region ?r . ?r :name ?rn } GROUP BY ?r",
      // Join-trees (GRAPH block + default-graph triples) stay id-plane
      "SELECT ?c ?nm WHERE { ?c :nation ?n . GRAPH g:nation { ?n :name ?nm } }",
      "SELECT ?nm (COUNT(?c) AS ?n) WHERE { ?c :nation ?n . GRAPH g:nation { ?n :name ?nm } } GROUP BY ?nm",
      "SELECT ?g (COUNT(*) AS ?n) WHERE { ?c a :Customer . GRAPH ?g { ?c :nation ?x } } GROUP BY ?g",
      "SELECT DISTINCT ?nm WHERE { ?c :nation ?n . GRAPH g:nation { ?n :name ?nm } }",
      // FILTER layers peel off: filter vars decode, keys stay ids
      "SELECT ?n (COUNT(?c) AS ?k) WHERE { ?c :nation ?n . ?c :acctbal ?b . FILTER(?b > 5000) } GROUP BY ?n",
      "SELECT DISTINCT ?n WHERE { ?c :nation ?n . ?c :mktsegment ?m . FILTER(?m = \"BUILDING\") }",
      "SELECT (COUNT(*) AS ?k) WHERE { ?c a :Customer . ?c :name ?nm . FILTER(REGEX(?nm, \"00\")) }",
      // UNION trees: dedup / aggregate across branches on ids
      "SELECT DISTINCT ?name WHERE { { ?n a :Nation . ?n :name ?name } UNION { ?r a :Region . ?r :name ?name } }",
      "SELECT ?x (COUNT(?x) AS ?k) WHERE { { ?x a :Nation } UNION { ?x :region ?r } } GROUP BY ?x",
      // branch-PARTIAL vars ride as NULL ids (r8 nullable widening):
      // dedup, grouping and aggregation over them must match the
      // struct plane's widened-null semantics exactly
      "SELECT DISTINCT ?name ?r WHERE { { ?n a :Nation . ?n :name ?name } UNION { ?r a :Region . ?r :name ?name } }",
      // COUNT over a partial var skips the branch that never binds it
      "SELECT (COUNT(?r) AS ?k) WHERE { { ?n a :Nation . ?n :name ?name } UNION { ?r a :Region . ?r :name ?name } }",
      // GROUP keyed on a partial var: the missing branch lands in the
      // unbound group
      "SELECT ?r (COUNT(*) AS ?k) WHERE { { ?n a :Nation } UNION { ?r a :Region } } GROUP BY ?r",
      // filter over a partial var: BOUND must see the widened rows
      "SELECT DISTINCT ?name WHERE { { ?n a :Nation . ?n :name ?name } UNION { ?r :region ?rr . ?rr :name ?name } FILTER(BOUND(?name)) }",
      "SELECT DISTINCT ?name ?r WHERE { { ?n a :Nation . ?n :name ?name } UNION { ?r a :Region . ?r :name ?name } FILTER(!BOUND(?r)) }",
      // SAMPLE over a partial var; all-unbound groups survive decode
      "SELECT ?name (SAMPLE(?r) AS ?sr) WHERE { { ?n a :Nation . ?n :name ?name } UNION { ?r a :Region . ?r :name ?name } } GROUP BY ?name",
      // a branch binding NOTHING kept: placeholder rows widen to an
      // all-unbound solution
      "SELECT DISTINCT ?bal WHERE { { ?x a :Region } UNION { ?c :acctbal ?bal } }",
      // nested unions accumulate nullability per branch
      "SELECT DISTINCT ?a ?b WHERE { { ?x a :Region . ?x :name ?a } UNION { { ?y a :Nation . ?y :name ?a } UNION { ?z :mktsegment ?b } } }",
      // GROUP BY without aggregates: one row per group (§18.2.4.1)
      "SELECT ?n WHERE { ?c :nation ?n } GROUP BY ?n",
      // EXISTS / NOT EXISTS / MINUS: id-plane semi/anti joins
      "SELECT ?n ?nm WHERE { ?n a :Nation ; :name ?nm . FILTER EXISTS { ?c :nation ?n . ?c :mktsegment \"BUILDING\" } }",
      "SELECT ?n ?nm WHERE { ?n a :Nation ; :name ?nm . FILTER NOT EXISTS { ?s a :Supplier ; :nation ?n } }",
      "SELECT ?c WHERE { ?c a :Customer . MINUS { ?c :nation ?n . ?n :region ?r . ?r :name \"ASIA\" } }",
      // MINUS with no shared vars removes nothing
      "SELECT ?r WHERE { ?r a :Region . MINUS { ?x a :Nation } }",
      // filters on either side of the probe peel with partial decode
      "SELECT ?c WHERE { ?c a :Customer . ?c :acctbal ?b . FILTER(?b > 0) . FILTER EXISTS { ?c :nation ?n . ?n :name ?nn . FILTER(STRLEN(?nn) > 5) } }",
      // OPTIONAL: id-plane left-outer joins, nullable right decode
      "SELECT ?s ?bal WHERE { ?s a :Supplier . OPTIONAL { ?s :acctbal ?bal . FILTER(?bal > 5000) } }",
      "SELECT ?r ?b WHERE { ?r a :Region . OPTIONAL { ?r :acctbal ?b } }",
      "SELECT ?n ?g ?x WHERE { ?n a :Nation . OPTIONAL { GRAPH ?g { ?n :acctbal ?x } } }",
      "SELECT ?s ?nm WHERE { ?s a :Supplier . ?s :acctbal ?b . FILTER(?b > 0) . OPTIONAL { ?s :nation ?n . ?n :name ?nm } }",
      // VALUES as an id leaf (constants become literal ids)
      "SELECT ?n ?nm WHERE { VALUES ?nm { \"ASIA\" \"AFRICA\" \"ATLANTIS\" } . ?r :name ?nm . ?n :region ?r }",
      "SELECT DISTINCT ?nm WHERE { VALUES ?nm { \"ASIA\" \"AFRICA\" } . ?r :name ?nm . ?n :region ?r }",
      // UNDEF keeps the struct plane; planes must agree
      "SELECT ?r ?nm WHERE { VALUES (?nm) { (\"ASIA\") (UNDEF) } . ?r :name ?nm . ?r a :Region }",
      // subquery leaves: plain and DISTINCT projections join as id frames
      "SELECT ?c ?n WHERE { ?c a :Customer . { SELECT ?c ?n WHERE { ?c :nation ?n } } }",
      "SELECT ?n (COUNT(*) AS ?k) WHERE { { SELECT DISTINCT ?c ?n WHERE { ?c :nation ?n . ?c :mktsegment \"BUILDING\" } } } GROUP BY ?n",
      // padded projection var → struct fallback on both planes
      "SELECT ?c ?zz WHERE { ?c a :Customer . { SELECT ?c ?zz WHERE { ?c :nation ?x } } }",
      // value aggregates: keys stay ids, only the arg column decodes
      "SELECT ?n (ROUND(SUM(?b)) AS ?sb) (COUNT(*) AS ?k) WHERE { ?c :nation ?n . ?c :acctbal ?b } GROUP BY ?n",
      "SELECT ?n (MIN(?nm) AS ?mn) (MAX(?b) AS ?mb) WHERE { ?c :nation ?n . ?c :name ?nm . ?c :acctbal ?b } GROUP BY ?n",
      "SELECT (ROUND(AVG(?b)) AS ?ab) WHERE { ?c :acctbal ?b }",
      "SELECT ?r (GROUP_CONCAT(?rn) AS ?gc) WHERE { ?n :region ?r . ?r :name ?rn } GROUP BY ?r",
      // HAVING above the id-plane aggregate (exact comparisons only —
      // a float-sum threshold could knife-edge between fold orders)
      "SELECT ?n (COUNT(*) AS ?k) WHERE { ?c :nation ?n } GROUP BY ?n HAVING (COUNT(*) >= 2)",
      "SELECT ?n (MAX(?b) AS ?mb) WHERE { ?c :nation ?n . ?c :acctbal ?b } GROUP BY ?n HAVING (MAX(?b) > 100)",
      // top-k with partial decode: total order (unique ?c tiebreak)
      "SELECT ?c ?bal WHERE { ?c a :Customer . ?c :acctbal ?bal } ORDER BY DESC(?bal) ?c LIMIT 7",
      "SELECT ?c WHERE { ?c a :Customer . ?c :acctbal ?bal . FILTER(?bal > 0) } ORDER BY ?c OFFSET 3 LIMIT 5",
      // ORDER BY on a non-projected var still orders the cut
      "SELECT ?nm WHERE { ?c :name ?nm . ?c :acctbal ?bal } ORDER BY DESC(?bal) ?c LIMIT 4",
      // correlated EXISTS shapes the id plane takes: plain semi join,
      // hoisted BIND, wide correlated UNION, per-key MINUS, OPTIONAL,
      // aggregation and empty-group HAVING
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS { ?c :nation ?n . FILTER(?bal >= 7500) } }""",
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS { ?c :nation ?n .
             BIND(?bal * 2 AS ?x) FILTER(?x >= 15000) } }""",
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS {
             { ?c :mktsegment "BUILDING" . FILTER(?bal > 1000) }
             UNION { ?c :mktsegment "AUTOMOBILE" . FILTER(?bal > 2000) }
             UNION { ?c :nation ?n . FILTER(?bal > 9000) }
             UNION { ?c a :Customer . FILTER(?bal < 0) } } }""",
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS { ?c :nation ?n
             MINUS { ?c :nation ?n . FILTER(?bal >= 7500) } } }""",
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS { ?c :nation ?n .
             OPTIONAL { ?n :name ?nm . FILTER(?bal >= 7500) }
             FILTER(BOUND(?nm)) } }""",
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS { { SELECT ?c (COUNT(?o) AS ?n) WHERE {
               ?o :custkey ?c . FILTER(?bal >= 7500) }
             GROUP BY ?c HAVING(?n >= 3) } } }""",
      """SELECT ?c ?bal WHERE { ?c :acctbal ?bal .
           FILTER EXISTS { { SELECT (COUNT(?o) AS ?n) WHERE {
               ?o :custkey ?c . FILTER(?bal >= 7500) }
             HAVING(?n = 0) } } }""") ++ corrStruct
    for (text <- queries) {
      val plain = Sparql.query(spark, quads, text).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val before = Sparql.corrIdExistsJoins.get()
      val viaIds = Sparql.query(spark, quads, text, encoded = Some(enc)).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      if (corrStruct.contains(text))
        assert(Sparql.corrIdExistsJoins.get() == before,
          s"the id plane took a correlated-EXISTS shape it refuses: $text")
      assert(viaIds == plain, s"pushdown divergence for: $text")
    }
  }

  test("top-k pushdown preserves the result sequence") {
    val enc = graft.core.EncodedQuads(
      graft.core.TermDictionary.encode(quads),
      graft.core.TermDictionary.build(quads))
    val text = "SELECT ?c ?bal WHERE { ?c a :Customer . ?c :acctbal ?bal } " +
      "ORDER BY DESC(?bal) ?c OFFSET 2 LIMIT 6"
    val plain = Sparql.query(spark, quads, text).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val viaIds = Sparql.query(spark, quads, text, encoded = Some(enc)).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    assert(viaIds == plain && plain.size == 6) // ORDER semantics: same sequence
  }

  // ---- blank nodes in query patterns (§4.1.4) ----

  test("bnode property list in object position is a nested join") {
    val sugar = q("""
      SELECT ?o ?nn WHERE {
        ?o a :Order ; :custkey [ :nation [ :name ?nn ] ] .
      }""").map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val plain = q("""
      SELECT ?o ?nn WHERE {
        ?o a :Order . ?o :custkey ?c . ?c :nation ?n . ?n :name ?nn .
      }""").map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(sugar == plain && sugar.nonEmpty)
  }

  test("bnode property list as subject") {
    val sugar = q("""SELECT ?nm WHERE { [ a :Region ; :name ?nm ] }""")
      .map(_.getString(0)).sorted.toSeq
    val plain = q("""SELECT ?nm WHERE { ?r a :Region . ?r :name ?nm }""")
      .map(_.getString(0)).sorted.toSeq
    assert(sugar == plain && sugar.size == 5)
  }

  test("labeled bnodes join like variables, scoped per label") {
    val sugar = q("""
      SELECT ?nm WHERE { _:n a :Nation . _:n :name ?nm . _:n :region _:r . _:r :name "ASIA" }""")
      .map(_.getString(0)).sorted.toSeq
    val plain = q("""
      SELECT ?nm WHERE { ?n a :Nation . ?n :name ?nm . ?n :region ?r . ?r :name "ASIA" }""")
      .map(_.getString(0)).sorted.toSeq
    assert(sugar == plain && sugar.size == 5)
  }

  test("SELECT * omits anonymous bnode variables") {
    val df = Sparql.query(spark, quads,
      """SELECT * WHERE { ?n a :Nation ; :name ?nm ; :region [ :name "ASIA" ] }""")
    assert(df.columns.toSet == Set("n", "nm"))
    assert(df.count() == 5)
  }

  test("empty bnode [] is a fresh wildcard variable") {
    // every order has a customer: [] adds no constraint beyond existence
    val n = q("""SELECT ?o WHERE { ?o a :Order ; :custkey [] }""").length
    val all = q("""SELECT ?o WHERE { ?o a :Order }""").length
    assert(n == all && n > 0)
  }

  test("negated property set with inverse members") {
    // !(:name|^:region) from a Region: forward edges except :name
    // (rdf:type) plus reverse edges except :region (sameAs aliases land
    // in the schema graph, excluded from the quads-view default graph)
    val sugar = q("""SELECT ?r ?x WHERE { ?r a :Region . ?r !(:name|^:region) ?x }""")
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val manual = q("""
      SELECT ?r ?x WHERE {
        ?r a :Region .
        { ?r !(:name) ?x } UNION { ?x ?p ?r . FILTER(?p != :region) }
      }""").map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(sugar == manual && sugar.nonEmpty)
  }

  test("bare negated property set member needs no parens") {
    val bare = q("""SELECT ?s ?o WHERE { GRAPH g:region { ?s !:name ?o } }""")
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val parens = q("""SELECT ?s ?o WHERE { GRAPH g:region { ?s !(:name) ?o } }""")
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(bare == parens && bare.nonEmpty)
  }

  test("collection syntax matches Turtle-loaded rdf lists") {
    val d = java.nio.file.Files.createTempDirectory("coll")
    java.nio.file.Files.writeString(d.resolve("l.ttl"), """
      ex:menu ex:items ( ex:tea ex:scone ) .
      ex:other ex:items ( ex:tea ex:jam ) .
      ex:solo ex:items ( ) .
    """)
    val store = new graft.ingest.QuadStore(spark, d.resolve("store").toString)
    store.loadVersion(Seq(d.resolve("l.ttl").toString))
    val snap = store.snapshot()
    val hit = Sparql.query(spark, snap,
      "SELECT ?s WHERE { ?s ex:items ( ex:tea ex:scone ) }").collect()
    assert(hit.map(_.getString(0)).toSeq == Seq("ex:menu"))
    // empty collection is the rdf:nil IRI, not a chain
    val empty = Sparql.query(spark, snap,
      "SELECT ?s WHERE { ?s ex:items ( ) }").collect()
    assert(empty.map(_.getString(0)).toSeq == Seq("ex:solo"))
    // partial-prefix match must fail (rest link is rdf:nil-terminated)
    val longer = Sparql.query(spark, snap,
      "SELECT ?s WHERE { ?s ex:items ( ex:tea ) }").collect()
    assert(longer.isEmpty)
  }

  test("UCHAR escapes decode in query string literals") {
    val bs = "\\"
    val rows = q("SELECT ?x WHERE { BIND(\"caf" + bs + "u00E9\" AS ?x) }")
    assert(rows.map(_.getString(0)).toSeq == Seq("café"))
  }

  test("BASE aligns relative IRIs between load and query") {
    val d = java.nio.file.Files.createTempDirectory("base")
    java.nio.file.Files.writeString(d.resolve("b.ttl"), """
      @base <http://ex.org/data/> .
      <item1> <schema/type> <#v1> .
    """)
    val store = new graft.ingest.QuadStore(spark, d.resolve("store").toString)
    store.loadVersion(Seq(d.resolve("b.ttl").toString))
    val rows = Sparql.query(spark, store.snapshot(),
      "BASE <http://ex.org/data/> SELECT ?o WHERE { <item1> <schema/type> ?o }")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("http://ex.org/data/#v1"))
  }

  test("long strings, single-quoted strings and dot-decimals parse") {
    val q3 = "\"\"\""
    val rows = q("SELECT ?x WHERE { BIND(" + q3 + "two\nlines" + q3 + " AS ?x) }")
    assert(rows.map(_.getString(0)).toSeq == Seq("two\nlines"))
    val single = q("SELECT ?x WHERE { BIND('hi' AS ?x) }")
    assert(single.map(_.getString(0)).toSeq == Seq("hi"))
    val frac = q("SELECT ?c WHERE { ?c a :Customer . ?c :acctbal ?b . FILTER(?b / 10000 > .5) }")
    val plain = q("SELECT ?c WHERE { ?c a :Customer . ?c :acctbal ?b . FILTER(?b / 10000 > 0.5) }")
    assert(frac.length == plain.length && frac.nonEmpty)
  }

  test("GROUP BY with no aggregates equals DISTINCT over the keys") {
    val g = q("SELECT ?n WHERE { ?c :nation ?n } GROUP BY ?n")
      .map(_.getString(0)).sorted.toSeq
    val d = q("SELECT DISTINCT ?n WHERE { ?c :nation ?n }")
      .map(_.getString(0)).sorted.toSeq
    assert(g == d && g.nonEmpty)
  }

  test("EXISTS inside BIND binds a boolean term") {
    val rows = q("""
      SELECT ?nm ?asian WHERE {
        ?n a :Nation ; :name ?nm .
        BIND(EXISTS { ?n :region [ :name "ASIA" ] } AS ?asian)
      }""")
    assert(rows.length == 25)
    assert(rows.count(_.getString(1) == "true") == 5)
    assert(rows.count(_.getString(1) == "false") == 20)
  }

  test("CONSTRUCT template bnodes are fresh per solution") {
    val g = Sparql.query(spark, quads, """
      CONSTRUCT { ?r :tag [ ] } WHERE { ?r a :Region }""").collect()
    assert(g.length == 5)
    // five distinct generated bnode objects — one per solution
    assert(g.map(_.getString(2)).distinct.length == 5)
    assert(g.map(_.getString(2)).forall(_.startsWith("_:")))
  }

  test("blank node label reuse across group graph patterns is rejected") {
    // §19.6: the same _:label may not occur in two different BGPs —
    // reference engines reject rather than join on a shared variable
    val e = intercept[graft.sparql.SparqlParser.ParseError] {
      q("""SELECT ?a ?b WHERE {
             { ?a :name _:x } UNION { ?b :comment _:x } }""")
    }
    assert(e.getMessage.contains("blank node label"))
    intercept[graft.sparql.SparqlParser.ParseError] {
      q("""SELECT ?a WHERE {
             ?a :name _:x . OPTIONAL { ?z :nation _:x } }""")
    }
    // ...but a label IS stable within one group (same BGP joins)
    val rows = q("""SELECT ?nm WHERE { _:n a :Nation . _:n :name ?nm }""")
    assert(rows.length == 25)
  }

  test("FILTER (NOT) EXISTS does not end the enclosing basic graph pattern") {
    // §5.2.2: triples separated only by a FILTER form ONE BGP, so a
    // label straddling a FILTER EXISTS is conformant and must join
    val straddle = q("""SELECT ?nm WHERE {
        _:n a :Nation . FILTER EXISTS { ?r a :Region }
        _:n :name ?nm }""")
    assert(straddle.length == 25)
    // and labels minted after a nested group still resolve in the
    // ENCLOSING group's frame (the r7 bug: they minted into a dead
    // inner frame, so the join was silently lost)
    val after = q("""SELECT ?nm WHERE {
        OPTIONAL { ?z :comment ?c }
        _:n a :Nation . _:n :name ?nm }""")
    assert(after.length == 25)
  }

  test("label reuse across a BGP break inside one group is rejected") {
    // OPTIONAL ends the BGP (§19.6): _:x before and after it is reuse
    val e = intercept[graft.sparql.SparqlParser.ParseError] {
      q("""SELECT ?a WHERE {
             ?a :name _:x . OPTIONAL { ?z :comment ?c } ?b :region _:x }""")
    }
    assert(e.getMessage.contains("blank node label"))
    // BIND ends the BGP too
    intercept[graft.sparql.SparqlParser.ParseError] {
      q("""SELECT ?a WHERE {
             ?a :name _:x . BIND(1 AS ?one) ?b :region _:x }""")
    }
  }

  test("BIND targeting an in-scope variable is a parse error") {
    val e = intercept[graft.sparql.SparqlParser.ParseError] {
      q("""SELECT ?b WHERE { ?c :acctbal ?b . BIND(?b + 1 AS ?b) }""")
    }
    assert(e.getMessage.contains("already bound"))
  }

  test("correlated FILTER EXISTS substitutes the outer binding (§18.6)") {
    // the inner FILTER reads ?b, bound only OUTSIDE — decorrelation
    // must substitute each outer row's ?b, equivalent to filtering
    // customers with a nation edge whose balance exceeds the bound
    val got = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS { ?c :nation ?n . FILTER(?b > 5000) } }""")
      .map(_.getString(0)).sorted.toSeq
    val want = q("""SELECT ?c WHERE {
             ?c :acctbal ?b . ?c :nation ?n0 . FILTER(?b > 5000) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // NOT EXISTS is the complement over customers with an acctbal
    val not = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER NOT EXISTS { ?c :nation ?n . FILTER(?b > 5000) } }""")
      .map(_.getString(0)).sorted.toSeq
    val all = q("""SELECT ?c WHERE { ?c :acctbal ?b }""")
      .map(_.getString(0)).sorted.toSeq
    assert((got ++ not).sorted == all)
    // correlated condition mixing OUTER and INNER vars: region name
    // alphabetically after the customer's own name-ish bound — inner
    // ?rn participates in the hoisted comparison
    val mix = q("""SELECT ?n ?b WHERE {
             ?n a :Nation . ?n :name ?b .
             FILTER EXISTS { ?n :region ?r . ?r :name ?rn . FILTER(?rn < ?b) } }""")
    val mixWant = q("""SELECT ?n ?b WHERE {
             ?n a :Nation . ?n :name ?b . ?n :region ?r2 . ?r2 :name ?rn2 .
             FILTER(?rn2 < ?b) }""")
    assert(mix.map(_.getString(0)).sorted.toSeq ==
      mixWant.map(_.getString(0)).sorted.toSeq && mix.nonEmpty)
    // the same shape with the var bound INSIDE the pattern still runs
    val ok = q("""SELECT ?c WHERE {
             ?c a :Customer .
             FILTER EXISTS { ?c :acctbal ?b . FILTER(?b > 5000) } }""")
    assert(ok.nonEmpty)
  }

  test("correlated EXISTS over MINUS decorrelates per key (§18.6)") {
    // the correlated condition sits in the MINUS RIGHT side — hoisting
    // past the negation is unsound, so the per-key MINUS must realize
    // it: r removes exactly l when ?b > 5000, so EXISTS ≡ has-nation
    // AND ?b <= 5000
    val got = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS { ?c :nation ?n
               MINUS { ?c :nation ?n . FILTER(?b > 5000) } } }""")
      .map(_.getString(0)).sorted.toSeq
    val want = q("""SELECT ?c WHERE {
             ?c :acctbal ?b . ?c :nation ?n0 . FILTER(?b <= 5000) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // NOT EXISTS complement over rows with an acctbal
    val not = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER NOT EXISTS { ?c :nation ?n
               MINUS { ?c :nation ?n . FILTER(?b > 5000) } } }""")
      .map(_.getString(0)).sorted.toSeq
    val all = q("""SELECT ?c WHERE { ?c :acctbal ?b }""")
      .map(_.getString(0)).sorted.toSeq
    assert((got ++ not).sorted == all)
    // the correlated condition mixes OUTER (?b) and INNER (?nn) vars
    // in one compound boolean: the nation edge is removed when the
    // outer balance is high OR the inner nation is the named one —
    // each customer has one nation, so EXISTS ≡ has-nation ∧ ¬cond
    val mix = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS { ?c :nation ?n
               MINUS { ?c :nation ?n . ?n :name ?nn .
                       FILTER(?b > 5000 || ?nn = "NATION_3") } } }""")
      .map(_.getString(0)).sorted.toSeq
    val mixWant = q("""SELECT ?c WHERE {
             ?c :acctbal ?b . ?c :nation ?n0 . ?n0 :name ?nn0 .
             FILTER(?b <= 5000 && ?nn0 != "NATION_3") }""")
      .map(_.getString(0)).sorted.toSeq
    assert(mix == mixWant && mix.nonEmpty)
    // disjoint l/r domains: the MINUS removes nothing whatever the
    // correlated condition says — short-circuits to plain EXISTS{l}
    val dis = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS { ?c :nation ?n
               MINUS { ?x :mktsegment ?m . FILTER(?b > 0) } } }""")
      .map(_.getString(0)).sorted.toSeq
    val disWant = q("""SELECT ?c WHERE {
             ?c :acctbal ?b . ?c :nation ?n0 }""")
      .map(_.getString(0)).sorted.toSeq
    assert(dis == disWant && dis.nonEmpty)
    // l shares nothing with the outer: the bounded dependent cross
    // join evaluates the per-key MINUS over the 5 region-name keys
    val cross = q("""SELECT ?r WHERE {
             ?r a :Region . ?r :name ?rname .
             FILTER EXISTS { ?s a :Supplier
               MINUS { ?s a :Supplier . FILTER(?rname = "ASIA") } } }""")
      .map(_.getString(0)).sorted.toSeq
    val crossWant = q("""SELECT ?r WHERE {
             ?r a :Region . ?r :name ?rname . FILTER(?rname != "ASIA") }""")
      .map(_.getString(0)).sorted.toSeq
    assert(cross == crossWant && cross.length == 4)
  }

  test("correlated EXISTS over MINUS: an oversized key frame fails loud and is freed") {
    // the shape of the bounded cross join above, keyed by the 1,500
    // distinct order prices: past the 1,000-key bound the guard frees
    // its checkpointed key frame and the query fails loud
    val all = q("SELECT ?o WHERE { ?o :totalprice ?p }")
    assert(all.length > 1000)
    val before = persistedRdds()
    val ex = intercept[UnsupportedOperationException] {
      q("""SELECT ?o WHERE { ?o :totalprice ?p .
             FILTER EXISTS { ?s a :Supplier
               MINUS { ?s a :Supplier . FILTER(?p > 100000) } } }""")
    }
    assert(ex.getMessage.contains("oversized-key-frame"))
    assert(persistedRdds() == before,
      s"the bail path left persisted: ${persistedRdds() -- before}")
  }

  test("correlated EXISTS decorrelates inside compound booleans and BIND") {
    // EXISTS && extra condition: the flag-column path must substitute
    val got = q("""SELECT ?c WHERE {
           ?c :acctbal ?b .
           FILTER(EXISTS { ?c :nation ?n . FILTER(?b > 5000) } && ?b < 9000) }""")
      .map(_.getString(0)).sorted.toSeq
    val want = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :nation ?n0 . FILTER(?b > 5000 && ?b < 9000) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // negated occurrence inside the compound
    val not = q("""SELECT ?c WHERE {
           ?c :acctbal ?b .
           FILTER(!EXISTS { ?c :nation ?n . FILTER(?b > 5000) } && ?b >= 0) }""")
      .map(_.getString(0)).sorted.toSeq
    val wantNot = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . FILTER(?b >= 0)
           FILTER NOT EXISTS { ?c :nation ?n . FILTER(?b > 5000) } }""")
      .map(_.getString(0)).sorted.toSeq
    assert(not == wantNot)
    // BIND(EXISTS … AS ?has) with a correlated inner filter
    val bind = q("""SELECT ?c ?has WHERE {
           ?c :acctbal ?b .
           BIND(EXISTS { ?c :nation ?n . FILTER(?b > 5000) } AS ?has) }""")
    val trues = bind.filter(_.getString(1) == "true")
      .map(_.getString(0)).sorted.toSeq
    val wantTrue = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :nation ?n0 . FILTER(?b > 5000) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(trues == wantTrue && bind.length ==
      q("""SELECT ?c WHERE { ?c :acctbal ?b }""").length)
  }

  test("correlated BIND inside EXISTS decorrelates by inlining (§18.6)") {
    // a correlated BIND whose var is never consumed cannot change
    // existence (BIND never eliminates rows) — the EXISTS reduces to
    // the residual pattern
    val unused = q("""SELECT ?c WHERE {
           ?c :acctbal ?b .
           FILTER EXISTS { ?c :nation ?n . BIND(?b + 1 AS ?x) } }""")
      .map(_.getString(0)).sorted.toSeq
    val wantUnused = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :nation ?n0 }""")
      .map(_.getString(0)).sorted.toSeq
    assert(unused == wantUnused && unused.nonEmpty)
    // a correlated BIND consumed by a spine FILTER: substitution
    // inlines the definition into the hoisted condition
    val used = q("""SELECT ?c WHERE {
           ?c :acctbal ?b .
           FILTER EXISTS { ?c :nation ?n . BIND(?b * 2 AS ?x) FILTER(?x > 10000) } }""")
      .map(_.getString(0)).sorted.toSeq
    val wantUsed = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :nation ?n0 . FILTER(?b * 2 > 10000) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(used == wantUsed && used.nonEmpty)
    // chained correlated BINDs inline transitively
    val chain = q("""SELECT ?c WHERE {
           ?c :acctbal ?b .
           FILTER EXISTS { ?c :nation ?n .
             BIND(?b + 1 AS ?x) BIND(?x * 2 AS ?y) FILTER(?y > 12000) } }""")
      .map(_.getString(0)).sorted.toSeq
    val wantChain = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :nation ?n0 . FILTER((?b + 1) * 2 > 12000) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(chain == wantChain && chain.nonEmpty)
    // NOT EXISTS complement over the same shape
    val not = q("""SELECT ?c WHERE {
           ?c :acctbal ?b .
           FILTER NOT EXISTS { ?c :nation ?n . BIND(?b * 2 AS ?x) FILTER(?x > 10000) } }""")
      .map(_.getString(0)).sorted.toSeq
    val all = q("""SELECT ?c WHERE { ?c :acctbal ?b }""")
      .map(_.getString(0)).sorted.toSeq
    assert((used ++ not).sorted == all)
  }

  test("correlated filter inside an EXISTS subquery decorrelates when projected") {
    // the correlated condition lives INSIDE { SELECT … }: hoisting
    // through the projection is sound because every var it reads is
    // projected (?rn) or correlated (?b)
    val got = q("""SELECT ?n ?b WHERE {
           ?n a :Nation . ?n :name ?b .
           FILTER EXISTS {
             { SELECT ?n ?rn WHERE { ?n :region ?r . ?r :name ?rn . FILTER(?rn < ?b) } } } }""")
      .map(_.getString(0)).sorted.toSeq
    val want = q("""SELECT ?n ?b WHERE {
           ?n a :Nation . ?n :name ?b . ?n :region ?r2 . ?r2 :name ?rn2 .
           FILTER(?rn2 < ?b) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // same condition OUTSIDE the subquery, reading its projection:
    // the plain spine hoist with the inner var riding along
    val outer = q("""SELECT ?n ?b WHERE {
           ?n a :Nation . ?n :name ?b .
           FILTER EXISTS {
             { SELECT ?n ?rn WHERE { ?n :region ?r . ?r :name ?rn } }
             FILTER(?rn < ?b) } }""")
      .map(_.getString(0)).sorted.toSeq
    assert(outer == want)
  }

  test("correlated EXISTS under a UNION branch distributes per branch") {
    // EXISTS { A UNION B } ≡ EXISTS{A} || EXISTS{B}: the correlated
    // branch decorrelates alone, the uncorrelated branch is a plain
    // semi-join — no condition leaks across branches
    val got = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS {
               { ?c :nation ?n . FILTER(?b > 5000) } UNION { ?c a :Customer } } }""")
      .map(_.getString(0)).sorted.toSeq
    val want = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER(EXISTS { ?c :nation ?n . FILTER(?b > 5000) } ||
                    EXISTS { ?c a :Customer }) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // the correlated branch must ADD the high-balance suppliers (they
    // have :nation but are not :Customer) — proves neither branch won
    val custOnly = q("""SELECT ?c WHERE {
             ?c :acctbal ?b . ?c a :Customer }""")
      .map(_.getString(0)).sorted.toSeq
    assert(got.toSet.diff(custOnly.toSet).nonEmpty)
    // NOT EXISTS dualizes: complement over the acctbal carriers
    val not = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER NOT EXISTS {
               { ?c :nation ?n . FILTER(?b > 5000) } UNION { ?c a :Customer } } }""")
      .map(_.getString(0)).sorted.toSeq
    val all = q("""SELECT ?c WHERE { ?c :acctbal ?b }""")
      .map(_.getString(0)).sorted.toSeq
    assert((got ++ not).sorted == all)
  }

  test("EXISTS drops OPTIONALs whose vars nothing reads (incl. correlated)") {
    // a left join never removes a left row, so an OPTIONAL whose
    // right-only vars (?x) neither the rest of the sub-pattern nor the
    // outer query reads cannot change EXISTS — it drops, and the
    // correlated condition inside it vanishes with it (previously the
    // loud §18.6 error)
    val got = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS {
               ?c :nation ?n . OPTIONAL { ?n :name ?x . FILTER(?b > 5000) } } }""")
      .map(_.getString(0)).sorted.toSeq
    val want = q("""SELECT ?c WHERE {
             ?c :acctbal ?b . FILTER EXISTS { ?c :nation ?n } }""")
      .map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // uncorrelated invisible OPTIONAL drops identically (plan-only)
    val plain = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS { ?c :nation ?n . OPTIONAL { ?n :name ?x } } }""")
      .map(_.getString(0)).sorted.toSeq
    assert(plain == want)
    // NOT EXISTS complement partitions the acctbal carriers
    val not = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER NOT EXISTS {
               ?c :nation ?n . OPTIONAL { ?n :name ?x . FILTER(?b > 5000) } } }""")
      .map(_.getString(0)).sorted.toSeq
    val all = q("""SELECT ?c WHERE { ?c :acctbal ?b }""")
      .map(_.getString(0)).sorted.toSeq
    assert((got ++ not).sorted == all)
  }

  test("visible-OPTIONAL EXISTS: spine binding survives an unmatched OPTIONAL") {
    // ?n is bound by the SPINE and re-read by the OPTIONAL's pattern;
    // §15.1/18.6: an unmatched LeftJoin solution carries the spine's
    // binding, so FILTER(isIRI(?n) || BOUND(?x)) must hold for EVERY
    // customer even though the embedded ?b < -100000 never fires.
    // (r14 regression: both key-frame planes resolved ?n from the
    // probe side, reading NULL on unmatched rows → EXISTS false.)
    val viaExists = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS {
               ?c :nation ?n . OPTIONAL { ?n :name ?x . FILTER(?b < -100000) } .
               FILTER(isIRI(?n) || BOUND(?x)) } }""")
      .map(_.getString(0)).toSet
    val direct = q("""SELECT ?c WHERE { ?c :acctbal ?b . ?c :nation ?n }""")
      .map(_.getString(0)).toSet
    assert(viaExists == direct,
      "unmatched-OPTIONAL rows must expose the spine's ?n binding")
    // mixed case: matched rows read the (compatible) merged value,
    // unmatched rows fall back to the spine value — both satisfy the
    // disjunction's first arm, so again every customer qualifies
    val mixed = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS {
               ?c :nation ?n . OPTIONAL { ?n :name ?x . FILTER(?b > 5000) } .
               FILTER(STRSTARTS(STR(?n), "nat:") || BOUND(?x)) } }""")
      .map(_.getString(0)).toSet
    assert(mixed == direct)
  }

  test("correlated EXISTS beyond the decorrelatable spine still fails loudly") {
    // correlated ref inside an OPTIONAL the sub-pattern DOES read
    // (?x consumed by a later FILTER): CLOSED in r11 — the key-frame
    // left join (compCorrExistsOptional) realizes the substitution
    // per distinct outer binding; since every nation has a :name,
    // BOUND(?x) holds exactly when the correlated ?b > 5000 fired
    val viaExists = q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS {
               ?c :nation ?n . OPTIONAL { ?n :name ?x . FILTER(?b > 5000) } .
               FILTER(BOUND(?x)) } }""")
      .map(_.getString(0)).toSet
    val direct = q("""SELECT ?c WHERE {
             ?c :acctbal ?b . ?c :nation ?n . ?n :name ?nm .
             FILTER(?b > 5000) }""")
      .map(_.getString(0)).toSet
    assert(viaExists == direct,
      "visible-OPTIONAL correlated EXISTS must equal the direct form")
    // right-only var shared with the OUTER scope: the semi-join keys
    // on it (compatibility semantics), so the OPTIONAL must stay
    val e1b = intercept[UnsupportedOperationException] {
      q("""SELECT ?c WHERE {
             ?c :acctbal ?b . ?c :name ?x .
             FILTER EXISTS {
               ?c :nation ?n . OPTIONAL { ?n :name ?x . FILTER(?b > 5000) } } }""")
    }
    assert(e1b.getMessage.contains("correlated EXISTS"))
    // a correlated BIND var consumed in a PATTERN position: inlining
    // cannot reach a triple pattern — must stay loud
    val e2 = intercept[UnsupportedOperationException] {
      q("""SELECT ?c WHERE {
             ?c :acctbal ?b .
             FILTER EXISTS { ?c :nation ?n . BIND(STR(?b) AS ?x) . ?n :name ?x } }""")
    }
    assert(e2.getMessage.contains("correlated EXISTS"))
    // a correlated condition whose reads ESCAPE the subquery
    // projection (?rn not projected) cannot hoist through it
    val e3 = intercept[UnsupportedOperationException] {
      q("""SELECT ?n ?b WHERE {
             ?n a :Nation . ?n :name ?b .
             FILTER EXISTS {
               { SELECT ?n WHERE { ?n :region ?r . ?r :name ?rn . FILTER(?rn < ?b) } } } }""")
    }
    assert(e3.getMessage.contains("correlated EXISTS"))
  }

  test("nested EXISTS decorrelates innermost-first against the key frame") {
    // expression escape: the inner EXISTS reads ?bal (outermost-only)
    // while its own site binds ?n (middle) — equivalent to the flat
    // conjunctive form since every customer has nation+region
    val nested = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal .
           FILTER EXISTS {
             ?c :nation ?n .
             FILTER EXISTS { ?n :region ?r . FILTER(?bal >= 7500) } } }""")
      .map(_.getString(0)).sorted.toSeq
    val flat = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c :nation ?n . ?n :region ?r .
           FILTER(?bal >= 7500) }""")
      .map(_.getString(0)).sorted.toSeq
    assert(nested.nonEmpty && nested == flat,
      "expression-escape nested EXISTS must equal the flat form")
    // pattern-position escape: the inner pattern NAMES ?seg from the
    // outermost scope (the pre-r13 silent compatibility hole) — "some
    // same-segment customer is strictly richer": exactly the non-max
    // customers of each segment
    val richer = q("""SELECT ?c WHERE {
           ?c :nation ?n . ?c :mktsegment ?seg .
           FILTER EXISTS {
             ?c :acctbal ?bal .
             FILTER EXISTS {
               ?c2 :mktsegment ?seg . ?c2 :acctbal ?b2 .
               FILTER(?b2 > ?bal) } } }""")
      .map(_.getString(0)).toSet
    val bySeg = q("""SELECT ?c ?seg ?bal WHERE {
           ?c :nation ?n . ?c :mktsegment ?seg . ?c :acctbal ?bal }""")
      .map(r => (r.getString(0), r.getString(1), r.getString(2).toDouble))
    val want = bySeg.groupBy(_._2).valuesIterator.flatMap { g =>
      val mx = g.map(_._3).max
      g.filter(_._3 < mx).map(_._1)
    }.toSet
    assert(richer.nonEmpty && richer == want,
      "pattern-position nested EXISTS must key on the outer segment")
    // NOT EXISTS dual partitions the outer rows
    val notRicher = q("""SELECT ?c WHERE {
           ?c :nation ?n . ?c :mktsegment ?seg .
           FILTER NOT EXISTS {
             ?c :acctbal ?bal .
             FILTER EXISTS {
               ?c2 :mktsegment ?seg . ?c2 :acctbal ?b2 .
               FILTER(?b2 > ?bal) } } }""")
      .map(_.getString(0)).toSet
    assert((richer & notRicher).isEmpty &&
      (richer ++ notRicher) == bySeg.map(_._1).toSet)
    // OFF-SPINE escape (under a UNION inside the sub-pattern): the
    // key frame cannot splice there — must stay LOUD, never silent
    val offSpine = intercept[UnsupportedOperationException] {
      q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c :mktsegment ?seg .
           FILTER EXISTS {
             { ?c :nation ?n .
               FILTER EXISTS { ?c2 :mktsegment ?seg } }
             UNION
             { ?c a :Customer } } }""")
    }
    assert(offSpine.getMessage.contains("correlated"))
  }

  test("correlated EXISTS over a 9-branch UNION: discriminator hoist, not distribution") {
    // 9 branches sit PAST the distribution cap (8) — before the r13
    // union-aware splitCorrelated this shape was loud; now the union
    // compiles as one branch-tagged probe and a single semi join
    val nine = q("""SELECT ?c WHERE {
           ?c :acctbal ?b .
           FILTER EXISTS {
             { ?c :mktsegment "BUILDING" . FILTER(?b > 100) }
             UNION { ?c :mktsegment "AUTOMOBILE" . FILTER(?b > 200) }
             UNION { ?c :mktsegment "MACHINERY" . FILTER(?b > 300) }
             UNION { ?c :mktsegment "HOUSEHOLD" . FILTER(?b > 400) }
             UNION { ?c :mktsegment "FURNITURE" . FILTER(?b > 500) }
             UNION { ?c :nation ?n . FILTER(?b > 9000) }
             UNION { ?c a :Customer . FILTER(?b < 0) }
             UNION { ?c :name ?nm . FILTER(?b > 9900) }
             UNION { ?c a :Supplier . FILTER(?b > 9990) } } }""")
      .map(_.getString(0)).sorted.toSeq
    val flat = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :mktsegment "BUILDING" . FILTER(?b > 100) }""")
      .map(_.getString(0)) ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :mktsegment "AUTOMOBILE" . FILTER(?b > 200) }""")
      .map(_.getString(0)) ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :mktsegment "MACHINERY" . FILTER(?b > 300) }""")
      .map(_.getString(0)) ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :mktsegment "HOUSEHOLD" . FILTER(?b > 400) }""")
      .map(_.getString(0)) ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :mktsegment "FURNITURE" . FILTER(?b > 500) }""")
      .map(_.getString(0)) ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :nation ?n . FILTER(?b > 9000) }""")
      .map(_.getString(0)) ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c a :Customer . FILTER(?b < 0) }""")
      .map(_.getString(0)) ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c :name ?nm . FILTER(?b > 9900) }""")
      .map(_.getString(0)) ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c a :Supplier . FILTER(?b > 9990) }""")
      .map(_.getString(0))
    // the outer pattern yields one row per acctbal carrier; EXISTS
    // keeps it if ANY branch matches — the distinct union of branches
    assert(nine.nonEmpty && nine.toSet == flat.toSet)
    assert(nine.distinct == nine,
      "EXISTS must not duplicate outer rows regardless of branch count")
  }

  test("nested EXISTS inside a conjunction splits to its own dispatch") {
    // the && split now runs before the compound loud checks, so each
    // conjunct — including one whose EXISTS carries a depth-2 escape —
    // compiles through the nested key-frame path
    val got = q("""SELECT ?c WHERE {
           ?c :nation ?n . ?c :mktsegment ?seg .
           FILTER(EXISTS {
             ?c :acctbal ?bal .
             FILTER EXISTS {
               ?c2 :mktsegment ?seg . ?c2 :acctbal ?b2 .
               FILTER(?b2 > ?bal) } } && ?seg != "BUILDING") }""")
      .map(_.getString(0)).toSet
    val direct = q("""SELECT ?c WHERE {
           ?c :nation ?n . ?c :mktsegment ?seg . FILTER(?seg != "BUILDING")
           FILTER EXISTS {
             ?c :acctbal ?bal .
             FILTER EXISTS {
               ?c2 :mktsegment ?seg . ?c2 :acctbal ?b2 .
               FILTER(?b2 > ?bal) } } }""")
      .map(_.getString(0)).toSet
    assert(got.nonEmpty && got == direct)
  }

  test("non-zero OFFSET under EXISTS stays loud when correlated") {
    // stripExistsTop strips ORDER BY and offset-0 LIMIT (emptiness-
    // preserving); an OFFSET > 0 slice observes solution COUNT, so a
    // correlated sub-pattern behind one must never silently strip
    val e = intercept[UnsupportedOperationException] {
      q("""SELECT ?c WHERE {
           ?c :acctbal ?bal .
           FILTER EXISTS { { SELECT ?c WHERE {
             ?c :nation ?n . FILTER(?bal >= 7500) } OFFSET 2 } } }""")
    }
    assert(e.getMessage.contains("correlated EXISTS"))
    // the offset-0 LIMIT form (the legal sibling) still compiles
    val ok = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal .
           FILTER EXISTS { { SELECT ?c WHERE {
             ?c :nation ?n . FILTER(?bal >= 7500) } LIMIT 2 } } }""")
    assert(ok.nonEmpty)
  }

  test("correlated EXISTS over aggregation: key-frame, constants, loud edges") {
    // per-key aggregation: NOT EXISTS dualizes the r_exists_agg_corr
    // shape — customers lacking (bal >= 7500 AND >= 3 orders)
    val notEx = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER NOT EXISTS { { SELECT ?c (COUNT(?o) AS ?n) WHERE {
               ?o :custkey ?c . FILTER(?bal >= 7500) }
             GROUP BY ?c HAVING(?n >= 3) } } }""")
      .map(_.getString(0)).toSet
    val ex = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER EXISTS { { SELECT ?c (COUNT(?o) AS ?n) WHERE {
               ?o :custkey ?c . FILTER(?bal >= 7500) }
             GROUP BY ?c HAVING(?n >= 3) } } }""")
      .map(_.getString(0)).toSet
    val allC = q("""SELECT ?c WHERE { ?c :acctbal ?bal . ?c a :Customer }""")
      .map(_.getString(0)).toSet
    assert((ex intersect notEx).isEmpty && (ex union notEx) == allC,
      "EXISTS/NOT EXISTS over aggregation must partition the customers")
    // implicit group, no HAVING: one row whatever the correlated spine
    // decides — EXISTS is constant true
    val const = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER EXISTS { { SELECT (COUNT(?o) AS ?n) WHERE {
               ?o :custkey ?c2 . FILTER(?bal < -1e18) } } } }""")
      .map(_.getString(0)).toSet
    assert(const == allC, "implicit-group EXISTS must be constant true")
    // implicit group WITH correlated HAVING (CLOSED r13): the key
    // frame LEFT-joins and masks, so a key whose candidates all fail
    // the substituted condition aggregates the EMPTY multiset —
    // COUNT({}) = 0, so HAVING(?n >= 0) holds for every key
    val always = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal .
           FILTER EXISTS { { SELECT (COUNT(?o) AS ?n) WHERE {
               ?o :custkey ?c2 . FILTER(?bal >= 7500) }
             HAVING(?n >= 0) } } }""")
      .map(_.getString(0)).toSet
    val allBal = q("""SELECT ?c WHERE { ?c :acctbal ?bal }""")
      .map(_.getString(0)).toSet
    assert(always == allBal, "COUNT of the empty group must be 0, not a dropped key")
    // HAVING(?n = 0) selects exactly the keys with NO surviving rows:
    // bal < 7500 (condition kills all candidates) or no orders at all
    val none = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER EXISTS { { SELECT (COUNT(?o) AS ?n) WHERE {
               ?o :custkey ?c . FILTER(?bal >= 7500) }
             HAVING(?n = 0) } } }""")
      .map(_.getString(0)).toSet
    val direct = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer . FILTER(?bal < 7500) }""")
      .map(_.getString(0)).toSet ++
      q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER NOT EXISTS { ?o :custkey ?c } }""")
      .map(_.getString(0)).toSet
    assert(none == direct)
    // §18.5.1 empty-group values: Sum({}) = 0, Avg({}) = 0,
    // Min({}) = unbound — exercised via HAVING reading each
    val sumZero = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER EXISTS { { SELECT (SUM(?tp) AS ?s2) WHERE {
               ?o :custkey ?c . ?o :totalprice ?tp . FILTER(?bal < -100000) }
             HAVING(?s2 = 0) } } }""")
      .map(_.getString(0)).toSet
    val avgZero = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER EXISTS { { SELECT (AVG(?tp) AS ?a2) WHERE {
               ?o :custkey ?c . ?o :totalprice ?tp . FILTER(?bal < -100000) }
             HAVING(?a2 = 0) } } }""")
      .map(_.getString(0)).toSet
    val minUnbound = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER EXISTS { { SELECT (MIN(?tp) AS ?m2) WHERE {
               ?o :custkey ?c . ?o :totalprice ?tp . FILTER(?bal < -100000) }
             HAVING(!BOUND(?m2)) } } }""")
      .map(_.getString(0)).toSet
    assert(sumZero == allC && avgZero == allC && minUnbound == allC,
      "empty-group SUM/AVG must be 0 and MIN unbound per §18.5.1")
  }

  test("predicateStats bounds driver state on a 1e6-predicate vocabulary") {
    import org.apache.spark.sql.functions._
    // pathological vocabulary: 1e6 distinct predicates, 2 rows each —
    // the stats collect must stay O(cap), not O(vocabulary)
    val synth = spark.range(2000000L).select(
      struct(concat(lit("p:"), (col("id") % 1000000L).cast("string"))
        .as("lex")).as("p"))
    val m = Sparql.predicateStats(synth, cap = 1000)
    assert(m.size == 1000, s"cap not applied: ${m.size}")
    assert(m.values.forall(_ == 2L))
    // a real (small) vocabulary sits under the cap: identical to the
    // full collect, so every benchmark join order is unchanged
    val capped = Sparql.predicateStats(quads)
    val uncapped = quads.groupBy(col("p")("lex")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped == uncapped && capped.nonEmpty)
  }

  test("correlated BIND inside a visible OPTIONAL: unmatched rows stay unbound") {
    // the hoisted BIND evaluates from the substituted outer binding,
    // but ONLY on rows where the optional side matched — an unmatched
    // left-outer row must see ?z UNBOUND, so BOUND(?z) fails and the
    // EXISTS verdict follows the correlated condition, not the bind
    val got = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c a :Customer .
           FILTER EXISTS { ?c :nation ?n .
             OPTIONAL { ?n :name ?nm . BIND(STR(?b) AS ?z) .
                        FILTER(?b > 5000) }
             FILTER(BOUND(?z)) } }""")
      .map(_.getString(0)).toSet
    val want = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c a :Customer . FILTER(?b > 5000) }""")
      .map(_.getString(0)).toSet
    val allC = q("""SELECT ?c WHERE { ?c :acctbal ?b . ?c a :Customer }""")
      .map(_.getString(0)).toSet
    assert(got == want && got.nonEmpty,
      "BOUND over a gated correlated BIND must track the optional match")
    assert(got != allC,
      "unmatched rows leaked a bound ?z — every customer passed")
    // dual: NOT EXISTS complements over the same frame
    val not = q("""SELECT ?c WHERE {
           ?c :acctbal ?b . ?c a :Customer .
           FILTER NOT EXISTS { ?c :nation ?n .
             OPTIONAL { ?n :name ?nm . BIND(STR(?b) AS ?z) .
                        FILTER(?b > 5000) }
             FILTER(BOUND(?z)) } }""")
      .map(_.getString(0)).toSet
    assert((got intersect not).isEmpty && (got union not) == allC)
  }

  test("correlated BIND feeding an aggregate argument inside EXISTS") {
    // the hoisted bind column must MATERIALIZE on the candidate frame:
    // MAX(?z) with ?z = 2·?bal from the outer binding — a
    // resolver-only layering nulled the aggregate (HAVING never fired)
    val ex = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer .
           FILTER EXISTS { { SELECT ?c (MAX(?z) AS ?m) WHERE {
               ?o :custkey ?c . BIND(?bal * 2 AS ?z) }
             GROUP BY ?c HAVING(?m >= 15000) } } }""")
      .map(_.getString(0)).toSet
    val want = q("""SELECT ?c WHERE {
           ?c :acctbal ?bal . ?c a :Customer . FILTER(?bal >= 7500) .
           FILTER EXISTS { ?o :custkey ?c } }""")
      .map(_.getString(0)).toSet
    assert(ex == want && ex.nonEmpty,
      "aggregate over a correlated-BIND column must see the per-key values")
    val allC = q("""SELECT ?c WHERE { ?c :acctbal ?bal . ?c a :Customer }""")
      .map(_.getString(0)).toSet
    assert(ex != allC && ex.size < allC.size)
  }
}
