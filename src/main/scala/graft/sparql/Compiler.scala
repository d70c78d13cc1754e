package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.rdf.Rdf
import Algebra._

/** SPARQL algebra → DataFrame compiler (SURVEY §2.B, §4.2).
  *
  * A solution sequence is a DataFrame with one term-struct column per
  * in-scope variable (unbound = NULL) — SURVEY §1.5's mapping of the
  * SPARQL "solution mapping". Every algebra operator compiles to a
  * declarative DataFrame transformation, so Catalyst owns predicate
  * pushdown, column pruning, join strategy (broadcast vs shuffle via
  * AQE) and whole-stage codegen; the only imperative loop is the
  * transitive-closure fixpoint for `p*`/`p+` paths, which Catalyst
  * cannot express (no recursion) — it runs driver-side as one
  * [[graft.plans.Rounds]] scope ([[graft.plans.Fixpoint]]) that
  * checkpoints its rounds and frees what its result does not read
  * (SURVEY §4.2).
  *
  * Join ordering inside a BGP uses a bound-term selectivity heuristic
  * (most-constant pattern first, then greedy shared-variable chaining) —
  * the role GraphDB's statistics optimizer plays behind the reference's
  * `prepareTupleQuery` call (`GraphDBSystemAdapter.java:246`,
  * `repo-config.ttl:46`). After ordering, plans are left fully
  * declarative so AQE can still pick broadcast sides at runtime.
  */
final class Compiler(spark: SparkSession, quads: DataFrame,
    stats: Map[String, Long] = Map.empty,
    fromGraphs: Seq[String] = Nil, fromNamed: Seq[String] = Nil,
    encoded: Option[graft.core.EncodedQuads] = None,
    namedAllGraphs: Boolean = false,
    statsCap: Int = Sparql.PredicateStatsCap) {
  import Rdf.{IRI, LIT, BNODE}

  // ---- dataset clauses (SPARQL 1.1 §13.2) ---------------------------
  // No clauses → GraphDB's default dataset: the default graph is the
  // union of all named graphs and GRAPH ranges over all of them. With
  // clauses, the dataset is EXACTLY what the clauses list: default
  // graph = RDF merge of `fromGraphs` (a set of triples — a triple
  // present in several listed graphs, the versioned-graph overlap case
  // of `GraphDBSystemAdapter.java:318`, appears once), named graphs =
  // `fromNamed` only. At scale the g filter is partition pruning over
  // the g-partitioned store; the merge dedup shuffles only the
  // selected graphs and only when more than one graph is listed.
  private val explicitDataset = fromGraphs.nonEmpty || fromNamed.nonEmpty

  private val defaultQuads: DataFrame =
    if (!explicitDataset) quads
    else if (fromGraphs.isEmpty) quads.limit(0) // FROM NAMED only: empty default graph
    else {
      val sel = quads.filter(col("g").isin(fromGraphs.distinct: _*))
      if (fromGraphs.distinct.sizeIs > 1)
        sel.select(col("s"), col("p"), col("o")).dropDuplicates()
          .select(lit(fromGraphs.head).as("g"), col("s"), col("p"), col("o"))
      else sel
    }

  // `namedAllGraphs` is the Update-side WITH mode (§3.1.3): the WITH
  // graph becomes the WHERE's default graph but — unlike USING — the
  // named-graph plane stays the FULL dataset (WITH only redirects
  // patterns that don't name a graph explicitly; GRAPH blocks still
  // range over everything)
  private val namedQuads: DataFrame =
    if (!explicitDataset || namedAllGraphs) quads
    else if (fromNamed.isEmpty) quads.limit(0) // FROM only: no named graphs
    else quads.filter(col("g").isin(fromNamed.distinct: _*))

  // the same dataset scoping over the id-encoded table (when supplied):
  // the two views MUST agree on what the default/named planes contain
  private val defaultEnc: Option[DataFrame] = encoded.map { e =>
    if (!explicitDataset) e.quads
    else if (fromGraphs.isEmpty) e.quads.limit(0)
    else {
      val sel = e.quads.filter(col("g").isin(fromGraphs.distinct: _*))
      if (fromGraphs.distinct.sizeIs > 1)
        sel.select(col("s_id"), col("p_id"), col("o_id")).dropDuplicates()
          .select(lit(fromGraphs.head).as("g"),
            col("s_id"), col("p_id"), col("o_id"))
      else sel
    }
  }

  private val namedEnc: Option[DataFrame] = encoded.map { e =>
    if (!explicitDataset || namedAllGraphs) e.quads
    else if (fromNamed.isEmpty) e.quads.limit(0)
    else e.quads.filter(col("g").isin(fromNamed.distinct: _*))
  }

  // SPARQL semantics are "error → unbound/false", i.e. legacy NULL-ing
  // casts and arithmetic, not ANSI exceptions (Spark 4 defaults to ANSI).
  spark.conf.set("spark.sql.ansi.enabled", "false")

  val termType: DataType = StructType(Seq(
    StructField("lex", StringType, nullable = false),
    StructField("kind", IntegerType, nullable = false),
    StructField("dt", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("num", DoubleType, nullable = true)))

  private def nullTerm: Column = lit(null).cast(termType)

  private def constCol(t: T): Column = Rdf.constTerm(t.lex, t.kind, t.dt, t.lang)

  /** term identity condition — (lex, kind), see [[Rdf]] */
  private def termEq(a: Column, b: Column): Column =
    a("lex") === b("lex") && a("kind") === b("kind")

  // ------------------------------------------------------------------
  // entry points
  // ------------------------------------------------------------------

  def compile(op: Op): DataFrame = compile(op, Set.empty)

  /** Compile with extra externally-consumed variables (CONSTRUCT
    * template vars, DESCRIBE targets) that the op tree itself does not
    * reference — they must survive the encoded path's late
    * materialization.
    */
  def compile(op: Op, extraNeeded: Set[String]): DataFrame = {
    // normalization: lift mid-group BINDs above their Joins (legality
    // checked per node) so a BIND between triple patterns doesn't
    // hide the BGP join tree from the id plane
    val norm = Algebra.hoistExtends(op)
    setNeeds(norm, extraNeeded)
    comp(norm)
  }

  private def setNeeds(op: Op, extraNeeded: Set[String]): Unit = {
    val (refs, counts) = collectNeeds(op, extraNeeded)
    refNeeded = refs
    leafCounts = counts
    valueNeeded = refs ++ counts.collect { case (v, n) if n > 1 => v }
  }

  // ---- late materialization (encoded path) --------------------------
  // A variable's TERM VALUE is needed only where something reads it:
  // projection, expressions (filters/binds/order/agg args/group keys),
  // or a join with a DIFFERENT leaf (solution joins above the BGP
  // compare term structs). A var bound in exactly one BGP and never
  // referenced — the `?p ?o` of a COUNT(*) pattern — never has to be
  // decoded at all: its dictionary join would be pure wasted shuffle.
  private var valueNeeded: Set[String] = Set.empty
  // the two ingredients of valueNeeded, kept separately so id-plane
  // join trees can tell "explicitly read" (must decode) apart from
  // "shared between leaves" (joins on ids, decodes only if also read
  // or shared with a leaf OUTSIDE the tree)
  private var refNeeded: Set[String] = Set.empty
  private var leafCounts: Map[String, Int] = Map.empty

  private def collectNeeds(root: Op, extra: Set[String]): (Set[String], Map[String, Int]) = {
    val leafCount = scala.collection.mutable.Map.empty[String, Int]
    val referenced = scala.collection.mutable.Set.empty[String] ++ extra
    def exprVars(e: Expr): Unit = e match {
      case EVar(v) => referenced += v
      case ECall(_, as) => as.foreach(exprVars)
      case EExists(sub, _) => walk(sub)
      case EAgg(_, arg, _, _) => arg.foreach(exprVars)
      case _ => ()
    }
    def countLeaf(vars: Seq[String]): Unit =
      vars.foreach(v => leafCount(v) = leafCount.getOrElse(v, 0) + 1)
    def walk(op: Op): Unit = op match {
      case b: Bgp => countLeaf(Algebra.inScope(b))
      case ValuesOp(vars, _) => countLeaf(vars)
      case FrameOp(_, vars, _, _) => countLeaf(vars)
      case Join(l, r) => walk(l); walk(r)
      case LeftJoin(l, r, c) => walk(l); walk(r); c.foreach(exprVars)
      case Union(l, r) => walk(l); walk(r)
      case Minus(l, r) => walk(l); walk(r)
      case Filter(c, i) => exprVars(c); walk(i)
      case Extend(i, v, e) => exprVars(e); walk(i)
      case Group(i, keys, aggs) =>
        keys.foreach { case (v, eo) => referenced += v; eo.foreach(exprVars) }
        aggs.foreach { case (_, a) => a.arg.foreach(exprVars) }
        walk(i)
      case Project(i, vars) => referenced ++= vars; walk(i)
      case Distinct(i) => walk(i)
      case OrderBy(i, keys) => keys.foreach(k => exprVars(k._1)); walk(i)
      case Slice(i, _, _) => walk(i)
      case Service(_, i, _) => walk(i)
      case Unit0 => ()
    }
    walk(root)
    (referenced.toSet, leafCount.toMap)
  }

  /** Result projection for the driver/oracle compare: one STRING column
    * per variable (the lexical form; numerics are canonical
    * DECIMAL(28,6) strings by construction).
    */
  def toStrings(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c)("lex").as(c)).toIndexedSeq: _*)

  /** CONSTRUCT — instantiate the template per solution; output is an
    * RDF graph, i.e. DISTINCT (s, p, o) lexical triples. Template
    * rows with an unbound variable are dropped (SPARQL §16.2).
    */
  def construct(solutions: DataFrame, template: Seq[TriplePat]): DataFrame = {
    // template blank nodes (parsed into anon vars the pattern never
    // binds) are FRESH per solution (§16.2.1): same label within one
    // solution = one bnode, across solutions = distinct. A row id
    // salts the label; the id column is map-side only (no shuffle).
    val templAnon = template.flatMap(tp =>
      Seq(tp.s, tp.o).collect { case V(x) if Algebra.isAnonVar(x) &&
        !solutions.columns.contains(x) => x }).distinct
    val rowIdCol = "@construct_row"
    val sols =
      if (templAnon.isEmpty) solutions
      else solutions.withColumn(rowIdCol, monotonically_increasing_id())
    def nodeCol(n: Node, df: DataFrame): Column = n match {
      case V(x) if templAnon.contains(x) =>
        concat(lit("_:t" + templAnon.indexOf(x) + "_"), df(rowIdCol))
      case V(x) => if (df.columns.contains(x)) df(x)("lex") else lit(null).cast("string")
      case t: T => lit(t.lex)
    }
    template.map { tp =>
      val p = tp.p match {
        case PLink(iri) => lit(iri)
        case PVar(v) =>
          if (sols.columns.contains(v)) sols(v)("lex")
          else lit(null).cast("string")
        case other => throw new IllegalArgumentException(
          s"CONSTRUCT template predicate must be an IRI or var, got $other")
      }
      sols.select(nodeCol(tp.s, sols).as("s"), p.as("p"),
        nodeCol(tp.o, sols).as("o"))
        // any unbound template position drops the instantiation (§16.2)
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
    }.reduce(_.unionByName(_)).distinct()
  }

  /** DESCRIBE — every statement whose subject or object is one of the
    * target resources (concise-bounded-description-lite: one hop, no
    * bnode closure). Targets are constants plus the bindings of the
    * target variables over the WHERE pattern.
    */
  def describe(solutions: DataFrame, targets: Seq[Node]): DataFrame = {
    val constTargets = targets.collect { case t: T => t.lex }
    val varTargets = targets.collect {
      case V(v) if solutions.columns.contains(v) => v }
    val targetDf = {
      val parts =
        (if (constTargets.nonEmpty)
          Seq(spark.createDataset(constTargets)(
            org.apache.spark.sql.Encoders.STRING).toDF("target"))
        else Nil) ++
        varTargets.map(v => solutions.select(solutions(v)("lex").as("target")))
      parts.reduceOption(_.unionByName(_))
        .map(_.distinct())
        .getOrElse(spark.range(0).select(col("id").cast("string").as("target")))
    }
    val t = broadcast(targetDf)
    defaultQuads // DESCRIBE reads the dataset's default graph
      .join(t, col("s")("lex") === col("target") || col("o")("lex") === col("target"))
      .select(col("s")("lex").as("s"), col("p")("lex").as("p"), col("o")("lex").as("o"))
      .distinct()
  }

  /** ASK — boolean existence, single row `(ask: boolean lexical)`. */
  def ask(op: Op): DataFrame = {
    setNeeds(op, Set.empty)
    val nonEmpty = !comp(op).isEmpty
    spark.range(1).select(lit(if (nonEmpty) "true" else "false").as("ask"))
  }

  // ------------------------------------------------------------------
  // operator compilation
  // ------------------------------------------------------------------

  private var fresh = 0
  private def freshName(p: String): String = { fresh += 1; s"__${p}_$fresh" }

  private def comp(op: Op): DataFrame = op match {
    case Unit0 => spark.range(1).drop("id")

    // compiler-internal spliced frame (nested-EXISTS key frame)
    case FrameOp(df, _, _, _) => df

    case Service(iri, inner, silent) =>
      Sparql.serviceQuads(iri) match {
        // the service block evaluates against the REGISTERED store's
        // own dataset (fresh sub-compiler: no stats, no dataset
        // clauses — those describe THIS query's dataset, not the
        // endpoint's)
        case Some(remote) => new Compiler(spark, remote).compile(inner, valueNeeded)
        case None if silent => comp(Unit0) // §18.8: SILENT failure = unit solution
        case None => throw new UnsupportedOperationException(
          s"SERVICE (federated query) endpoint <$iri> is not registered " +
            "and this engine has no remote SPARQL endpoint transport; " +
            "register an in-process store via Sparql.registerService")
      }

    case Bgp(pats, graph) => compBgp(pats, graph)

    case j @ Join(l, r) =>
      // a Join-tree of simple BGPs (GRAPH blocks mixed with default-
      // graph triples, grouped patterns) joins on the id plane: keep
      // what is explicitly read plus vars shared with leaves OUTSIDE
      // this tree (they join by termEq above, so must decode); vars
      // shared only BETWEEN these leaves join as ids and never decode.
      // WIDE scope: UNION leaves join with null-compat ids; their
      // branch-partial vars decode with a LEFT dictionary join back
      // to unbound terms (the struct plane's widened-null semantics)
      val pushed = idTreeScopeWide(j).flatMap { case (scope, nullable) =>
        val inTree = countTreeLeaves(j)
        val externalShared = scope.filter(v =>
          leafCounts.getOrElse(v, 0) > inTree.getOrElse(v, 0))
        idFrameOf(j, refNeeded ++ externalShared).map(df =>
          decodeCols(df, df.columns.toSet, nullable))
      }
      pushed.getOrElse {
        val bound = (l, r) match {
          case (s: Service, o) if !o.isInstanceOf[Service] =>
            boundServiceJoin(o, s, svcLeft = true)
          case (o, s: Service) if !o.isInstanceOf[Service] =>
            boundServiceJoin(o, s, svcLeft = false)
          case _ => None
        }
        bound.getOrElse(
          solJoin(comp(l), comp(r), "inner", maybeUnbound(l) ++ maybeUnbound(r)))
      }

    case LeftJoin(l, r, cond) =>
      leftJoinOverIds(l, r, cond).getOrElse(
        solLeftJoin(comp(l), comp(r), cond, maybeUnbound(l) ++ maybeUnbound(r)))

    case Union(l, r) =>
      val (ld, rd) = (comp(l), comp(r))
      val allVars = (ld.columns ++ rd.columns).distinct.toIndexedSeq
      def widen(d: DataFrame) =
        d.select(allVars.map(v =>
          (if (d.columns.contains(v)) d(v) else nullTerm).as(v)): _*)
      widen(ld).unionByName(widen(rd))

    case Minus(l, r) => compMinus(l, r)

    case Filter(cond0, input) =>
      val outerScope = Algebra.inScope(input).toSet
      // a correlated ref stuck under a UNION branch distributes into
      // per-branch EXISTS disjuncts first — each decorrelates alone
      val cond = distributeCorrExistsUnions(cond0, outerScope)
      cond match {
        // NESTED-EXISTS escape (§18.6 at depth ≥ 2): an EXISTS inside
        // the sub-pattern mentions vars only THIS outer scope binds
        // (expression reads — previously loud — or pattern positions —
        // previously a silent compatibility hole). Inject the distinct
        // key frame of those vars into the sub-pattern's conjunctive
        // spine so the inner level becomes an ordinary depth-1
        // correlation at its own compile site, then re-dispatch.
        case EExists(sub, positive)
            if nestedEscapeVars(sub, outerScope).nonEmpty =>
          compNestedExistsFilter(input, sub, positive, outerScope) match {
            case Some(df) => return df
            case None => () // off-spine site: the loud checks fire below
          }
        case _ => ()
      }
      cond match {
        // conjunctions containing EXISTS split into a filter stack
        // BEFORE the compound loud checks (r13): exclusion semantics
        // are identical (EBV false and error both exclude the row),
        // and each conjunct then takes its own full dispatch — direct
        // semi/anti join (id-plane eligible), correlated machinery,
        // or the nested key-frame splice — instead of the flag path;
        // a conjunct whose shape is genuinely unsupported still fails
        // loudly at ITS OWN dispatch
        case ECall("&&", as) if as.size >= 2 && as.exists(containsExists) =>
          return comp(as.foldRight(input)((c, acc) => Filter(c, acc)))
        case _ => ()
      }
      cond match {
        // correlated FILTER [NOT] EXISTS (§18.6): inner expressions
        // read outer-only vars → decorrelate (substitution realized as
        // extra join conditions) instead of evaluating them unbound
        case EExists(sub, positive)
            if corrVarsOf(sub, outerScope).nonEmpty =>
          return compCorrelatedExistsFilter(input, sub, positive, outerScope)
        // compound booleans: each nested EXISTS occurrence decorrelates
        // inside addExistsFlag — only non-splittable correlation rejects
        case _ => tolerateDepth1CorrelatedExists(cond, outerScope)
      }
      cond match {
        case EExists(sub, positive) =>
          val pushed = filterJoinOverIds(input, sub, positive)
          if (pushed.isDefined) return pushed.get
        // pure disjunction of EXISTS: partition the input by the FIRST
        // true disjunct — F(a ∨ b) = F(a, in) ∪ F(b, F(¬a, in)) — and
        // give every branch the direct semi/anti path. Exact because
        // EXISTS never errors (general ∨ cannot split this way: a row
        // whose first disjunct ERRORS but second holds must survive,
        // and Filter(¬a) would drop it). Replaces two flag semi-joins
        // + distinct-key frame + null-safe join-backs per disjunct
        // with one semi/anti join per branch (measured 4.9 s → direct
        // path costs on the union-correlated gate).
        // BOUNDED at 3 disjuncts: branch k's input stacks k−1 negated
        // guards, so the partition cascade is QUADRATIC in branches
        // (re-evaluating an ever-deeper unshared stack — measured 16 s
        // at sf0.1 on the 8-branch gate vs ~2 s through the linear
        // flag path); past the cutoff the flag machinery below wins
        case ECall("||", _) if orOfExists(cond) && {
          def width(e: Expr): Int = e match {
            case ECall("||", bs) => bs.map(width).sum
            case _ => 1
          }
          width(cond) <= 3
        } =>
          def flat(e: Expr): Seq[Expr] = e match {
            case ECall("||", bs) => bs.flatMap(flat)
            case o => Seq(o)
          }
          val ds = flat(cond)
          def negE(e: Expr): Expr = e match {
            case EExists(s2, pos) => EExists(s2, !pos)
            case other => other // unreachable: ds are EExists after flat
          }
          val parts = ds.zipWithIndex.map { case (d, i) =>
            comp(Filter(d,
              ds.take(i).map(negE).foldRight(input)((n, acc) => Filter(n, acc))))
          }
          // by NAME: branches may compile through different paths
          // (direct semi, correlated, id-plane) with different column
          // orders — a positional union would silently mis-zip
          return parts.reduce(_ unionByName _)
        case _ => ()
      }
      // value-expression FILTER over an encodable tree: the BGP joins
      // stay on the id plane; only the filter-read vars decode on the
      // wide (pre-filter) data — everything else materializes after
      // the filter, on the survivors (same partial-decode technique as
      // the value-aggregate pushdown)
      if (!containsExists(cond)) {
        val pushed = filterOverIds(Filter(cond, input))
        if (pushed.isDefined) return pushed.get
      }
      val in = comp(input)
      cond match {
        case EExists(sub, positive) =>
          val subDf = comp(sub)
          val shared = in.columns.intersect(subDf.columns).toIndexedSeq
          val joinType = if (positive) "left_semi" else "left_anti"
          if (shared.isEmpty) {
            val any = !subDf.isEmpty
            if (any == positive) in else in.limit(0)
          } else {
            val nullable = maybeUnbound(input) ++ maybeUnbound(sub)
            val renames = shared.map(v => v -> freshName(v)).toMap
            val rr = shared.foldLeft(subDf.select(shared.map(subDf(_)): _*)) {
              (d, v) => d.withColumnRenamed(v, renames(v))
            }
            // unbound shared vars are compatible with any binding;
            // null-tolerant form only where a var can be unbound
            val c = shared.map(v =>
              if (nullable(v))
                in(v).isNull || rr(renames(v)).isNull ||
                  termEq(in(v), rr(renames(v)))
              else termEq(in(v), rr(renames(v)))).reduce(_ && _)
            in.join(rr, c, joinType)
          }
        case _ =>
          // EXISTS nested inside a compound boolean (&&, ||, !, IF):
          // each occurrence becomes a precomputed boolean flag column
          // (distinct-key compatible semi-join, re-joined without row
          // duplication), and the expression reads the flag
          var cur = in
          def rewriteExists(e2: Expr): Expr = e2 match {
            case EExists(sub, positive) =>
              val flag = freshName("exists")
              cur = addExistsFlag(cur, sub, positive, flag,
                Algebra.maybeUnbound(input), keySource = in)
              ECall("__existsflag", Seq(EVar(flag)))
            case ECall(o2, as2) => ECall(o2, as2.map(rewriteExists))
            case other => other
          }
          val cond2 = rewriteExists(cond)
          val filtered = cur.filter(coalesce(compBool(cond2, resolver(cur)), lit(false)))
          filtered.select(in.columns.map(filtered(_)).toIndexedSeq: _*)
      }

    case Extend(input, v, e0) =>
      // BIND(… EXISTS{…} …): depth-1 correlation decorrelates inside
      // addExistsFlag (union branches distribute first); only
      // non-splittable correlation rejects
      val e = distributeCorrExistsUnions(e0, Algebra.inScope(input).toSet)
      tolerateDepth1CorrelatedExists(e, Algebra.inScope(input).toSet)
      // BIND over an encodable tree: join on ids, decode only the
      // expression-read vars, compute the bound term, materialize the
      // rest late (the new column is already a term struct, so
      // decodeSolutions passes it through)
      if (!containsExists(e)) {
        val pushed = extendOverIds(input, v, e)
        if (pushed.isDefined) return pushed.get
      }
      val in = comp(input)
      // BIND(… EXISTS{…} … AS ?v): same flag-column rewrite as the
      // compound-FILTER case — precompute each EXISTS as a boolean
      // column, let the expression read the flag, drop the plumbing
      var cur = in
      def rewriteExists(e2: Expr): Expr = e2 match {
        case EExists(sub, positive) =>
          val flag = freshName("exists")
          cur = addExistsFlag(cur, sub, positive, flag,
            Algebra.maybeUnbound(input), keySource = in)
          ECall("__existsflag", Seq(EVar(flag)))
        case ECall(o2, as2) => ECall(o2, as2.map(rewriteExists))
        case other => other
      }
      val e2 = rewriteExists(e)
      val ext = cur.withColumn(v, compExpr(e2, resolver(cur)))
      ext.select((in.columns :+ v).map(c => ext(c)).toIndexedSeq: _*)

    case ValuesOp(vars, rows) =>
      rowsFrame(vars, rows.map(_.map(_.map(constCol).getOrElse(nullTerm))))

    case Group(input, keys, aggs) =>
      val pushed = groupOverIds(input, keys, aggs)
      pushed.getOrElse {
        val in0 = comp(input)
        // bind key expressions first so groupBy sees plain columns
        val in = keys.foldLeft(in0) {
          case (d, (v, Some(e))) => d.withColumn(v, compExpr(e, resolver(d)))
          case (d, (_, None)) => d
        }
        val aggCols = aggs.map { case (out, a) => compAgg(a, in).as(out) }
        // an unbound group key groups every row under the single
        // unbound key (§18.2.4.1) rather than failing resolution
        def keyCol(k: (String, Option[Expr])) =
          (if (in.columns.contains(k._1)) in(k._1) else nullTerm).as(k._1)
        // GROUP BY with no aggregates (legal §18.2.4.1): one row per
        // group, i.e. DISTINCT over the key columns
        if (aggCols.isEmpty) in.select(keys.map(keyCol): _*).distinct()
        else if (keys.isEmpty) in.agg(aggCols.head, aggCols.tail: _*)
        else in.groupBy(keys.map(keyCol): _*).agg(aggCols.head, aggCols.tail: _*)
      }

    case Project(input, vars) =>
      val in = comp(input)
      in.select(vars.map(v =>
        (if (in.columns.contains(v)) in(v) else nullTerm).as(v)): _*)

    case Distinct(input) =>
      val pushed = input match {
        case Project(inner, vars) => distinctOverIds(inner, vars)
        case _ => None
      }
      pushed.getOrElse(comp(input).distinct())

    case OrderBy(input, keys) =>
      val in = comp(input)
      val sortCols = keys.map { case (e, asc) =>
        val k = Rdf.sortKey(compExpr(e, resolver(in)))
        if (asc) k.asc else k.desc
      }
      in.orderBy(sortCols: _*)

    case Slice(input, offset, limit) =>
      topKOverIds(input, offset, limit).getOrElse {
        var d = comp(input)
        if (limit >= 0) d = d.limit((offset + limit).toInt)
        if (offset > 0) d = d.offset(offset.toInt)
        d
      }
  }

  /** ORDER BY + LIMIT over an encodable tree: only the sort-key
    * columns decode before the cut (one dictionary join on the wide
    * data), the top-(offset+limit) rows are taken over ids via
    * Spark's TakeOrderedAndProject, and every other column decodes on
    * the handful of surviving rows. The final re-sort on the decoded
    * keys restores row order (the decode joins would drop it) at
    * ≤ limit rows.
    */
  private def topKOverIds(input: Op, offset: Long,
      limit: Long): Option[DataFrame] = input match {
    case Project(OrderBy(core0, keys), vars) if limit >= 0 =>
      val (core, conds) = stripFilters(core0)
      idTreeScope(core).flatMap { scope =>
        // sort keys may be arbitrary expressions — only the vars they
        // READ need decoding before the cut
        val keyVars = keys.flatMap(k => exprVarSet(k._1)).distinct
        val filterVarsAll = conds.flatMap(exprVarSet).toSet
          .intersect(Algebra.inScope(core).toSet)
        if (keys.exists(k => containsExists(k._1)) || keyVars.isEmpty ||
          vars.isEmpty || !vars.forall(scope) || !keyVars.forall(scope) ||
          !filterVarsAll.subsetOf(scope)) None
        else {
          val keep = vars.toSet ++ keyVars ++ filterVarsAll
          idFrameOf(core, keep).map { ids0 =>
            val ids = applyFilters(ids0, conds, filterVarsAll)
            val keyed = decodeCols(ids, keyVars.toSet)
            def sortCols(df: DataFrame) = keys.map { case (e, asc) =>
              val k = Rdf.sortKey(compExpr(e, resolver(df)))
              if (asc) k.asc else k.desc
            }
            var cut = keyed.orderBy(sortCols(keyed): _*)
              .limit((offset + limit).toInt)
            if (offset > 0) cut = cut.offset(offset.toInt)
            val selCols = (vars ++ keyVars).distinct
            val dec = decodeSolutions(
              cut.select(selCols.map(cut(_)): _*))
            dec.orderBy(sortCols(dec): _*)
              .select(vars.map(dec(_)): _*)
          }
        }
      }
    case _ => None
  }

  private def compMinus(l: Op, r: Op): DataFrame = {
    // both sides encodable trees → anti join on 8-byte ids
    filterJoinOverIds(l, r, positive = false, emptySharedKeepsAll = true) match {
      case Some(df) => df
      case None =>
        val (ld, rd) = (comp(l), comp(r))
        val shared = ld.columns.intersect(rd.columns).toIndexedSeq
        if (shared.isEmpty) ld // MINUS with disjoint domains removes nothing
        else {
          val nullable = maybeUnbound(l) ++ maybeUnbound(r)
          val renames = shared.map(v => v -> freshName(v)).toMap
          val rr = shared.foldLeft(rd.select(shared.map(rd(_)): _*)) {
            (d, v) => d.withColumnRenamed(v, renames(v))
          }
          // remove l when some r is COMPATIBLE (unbound matches anything)
          // AND the two solutions share at least one mutually BOUND var —
          // disjoint domains remove nothing (SPARQL §18.5, Minus). The
          // null-tolerant form only where a var can actually be unbound,
          // keeping the common all-bound case a hash-joinable equality.
          val compat = shared.map(v =>
            if (nullable(v))
              ld(v).isNull || rr(renames(v)).isNull ||
                termEq(ld(v), rr(renames(v)))
            else termEq(ld(v), rr(renames(v)))).reduce(_ && _)
          val overlap = shared.map(v =>
            if (nullable(v)) ld(v).isNotNull && rr(renames(v)).isNotNull
            else lit(true)).reduce(_ || _)
          ld.join(rr, compat && overlap, "left_anti")
        }
    }
  }

  private def resolver(df: DataFrame): String => Column =
    v => if (df.columns.contains(v)) df(v) else nullTerm

  // ------------------------------------------------------------------
  // solution joins
  // ------------------------------------------------------------------

  /** FedX-style bound join for `local ⋈ SERVICE <e> {inner}`: when the
    * local side's distinct shared bindings are few, inject them as a
    * `VALUES` block into the endpoint sub-query —
    * `SERVICE { VALUES (?shared…) {…} inner }` — so the endpoint
    * evaluates `inner` RESTRICTED to the bindings that can actually
    * join, instead of shipping its whole relation. This is the
    * standard federation optimization behind real SERVICE engines
    * (RDF4J/FedX, the stack the reference delegates to); at scale it
    * turns a full remote-relation transfer into one proportional to
    * the local side.
    *
    * Falls back to ship-whole-relation (None) when: the endpoint is
    * unregistered (the Service case handles SILENT/fail-fast), no
    * vars are shared (the restriction would be vacuous), a shared var
    * can be UNBOUND on the local side (unbound is compatible with
    * everything — a VALUES restriction would drop rows), or the
    * distinct-binding count exceeds [[Sparql.boundJoinMaxKeys]].
    */
  private def boundServiceJoin(local: Op, svc: Service,
      svcLeft: Boolean): Option[DataFrame] = {
    val remote = Sparql.serviceQuads(svc.iri).getOrElse(return None)
    val shared = Algebra.inScope(local)
      .intersect(Algebra.inScope(svc.inner)).distinct
    if (shared.isEmpty) return None
    val localNullable = maybeUnbound(local)
    if (shared.exists(localNullable)) return None
    val localDf = comp(local)
    if (shared.exists(v => !localDf.columns.contains(v))) return None
    // one bounded collect: up to max + 1 distinct bindings tell both
    // the empty and the oversized case apart from an injectable one
    val maxKeys = math.min(Sparql.boundJoinMaxKeys, Int.MaxValue - 1L).toInt
    if (maxKeys <= 0) return None
    val keys = localDf.select(shared.map(localDf(_)).toIndexedSeq: _*)
      .distinct().limit(maxKeys + 1).collect()
    if (keys.isEmpty || keys.length > maxKeys) return None
    val rows = keys.map { row =>
      shared.indices.map { i =>
        if (row.isNullAt(i)) Option.empty[T]
        else {
          val t = row.getStruct(i)
          Some(T(t.getString(0), t.getInt(1), t.getString(2),
            t.getString(3)))
        }
      }.toSeq
    }.toSeq
    Sparql.serviceBoundJoins.incrementAndGet()
    val injected = Join(ValuesOp(shared, rows), svc.inner)
    val remoteDf = new Compiler(spark, remote)
      .compile(injected, valueNeeded ++ shared)
    val nullable = localNullable ++ maybeUnbound(svc)
    Some(
      if (svcLeft) solJoin(remoteDf, localDf, "inner", nullable)
      else solJoin(localDf, remoteDf, "inner", nullable))
  }

  private def solJoin(l: DataFrame, r: DataFrame, joinType: String,
      nullable: Set[String] = Set.empty): DataFrame = {
    val shared = l.columns.intersect(r.columns).toIndexedSeq
    if (shared.isEmpty) return l.crossJoin(r)
    val renames = shared.map(v => v -> freshName(v)).toMap
    val rr = shared.foldLeft(r) { (d, v) => d.withColumnRenamed(v, renames(v)) }
    // compatible-mapping semantics (SPARQL §18.3): an UNBOUND shared
    // variable is compatible with anything and the merged solution
    // takes the bound side's term. The null-tolerant (non-equi)
    // condition applies ONLY to vars that can actually be unbound —
    // all-bound joins stay plain equalities so Catalyst hash-joins.
    val cond = shared.map(v =>
      if (nullable(v))
        l(v).isNull || rr(renames(v)).isNull || termEq(l(v), rr(renames(v)))
      else termEq(l(v), rr(renames(v))))
      .reduce(_ && _)
    val joined = l.join(rr, cond, joinType)
    joined.select((l.columns.map(c =>
      (if (shared.contains(c) && nullable(c))
        coalesce(joined(c), joined(renames(c)))
      else joined(c)).as(c)).toIndexedSeq ++
      r.columns.filterNot(shared.contains).map(joined(_)).toIndexedSeq): _*)
  }

  /** Attach a boolean column `flag` = [NOT] EXISTS(sub) per row of
    * `df`, without changing df's row multiplicity: the compatible
    * shared-variable combinations are computed over DISTINCT keys with
    * a semi-join, then re-attached with a null-safe equi-join (one
    * matched row per key, so no fan-out).
    */
  private def addExistsFlag(df: DataFrame, sub: Op, positive: Boolean,
      flag: String, outerNullable: Set[String] = Set.empty,
      keySource: DataFrame = null): DataFrame = {
    // the distinct-key frame reads only the outer's ORIGINAL columns
    // (flag columns are never shared with a sub-pattern), so chained
    // flags compute their keys off the pristine input — otherwise
    // flag k's distinct() re-executes the whole (k-1)-flag plan and
    // the cascade goes quadratic (measured 865 FileScans on the
    // 8-branch union gate)
    val keySrc = Option(keySource).getOrElse(df)
    // CORRELATED case (§18.6, EXISTS inside a compound boolean or a
    // BIND expression): same decorrelation as the direct-FILTER form —
    // hoist the spine's correlated conditions, evaluate the residual
    // once, and fold the conditions into the key-match join; the
    // outer's correlated columns join the distinct-key frame
    val corr = (exprRefVars(sub) -- Algebra.inScope(sub).toSet)
      .intersect(keySrc.columns.toSet)
    val (residual, corrConds, corrBinds) =
      if (corr.isEmpty) (sub, Seq.empty[Expr], Seq.empty[(String, Expr)])
      else splitCorrelated(sub, corr).getOrElse(
        throw new UnsupportedOperationException(
          "correlated EXISTS: inner expression references outer-only " +
            s"variable(s) ${corr.map("?" + _).mkString(", ")} from a " +
            "position where §18.6 substitution cannot be realized by " +
            "decorrelation"))
    if (corr.nonEmpty)
      walkExists(residual, df.columns.toSet ++ Algebra.inScope(residual))
    val subDf = comp(residual)
    val shared = keySrc.columns.intersect(subDf.columns).toIndexedSeq
    if (shared.isEmpty && corr.isEmpty) {
      val any = !subDf.isEmpty
      df.withColumn(flag, lit(any == positive))
    } else {
      // key columns: the pattern-shared vars plus the correlated vars
      // (each distinct outer correlated binding decides independently)
      val keyCols = (shared ++ corr.toSeq.filterNot(shared.contains)).toIndexedSeq
      val condInnerVars = (corrConds.flatMap(exprVarSet) ++
        corrBinds.flatMap(b => exprVarSet(b._2))).toSet
        .diff(corrBinds.map(_._1).toSet)
        .intersect(subDf.columns.toSet).diff(df.columns.toSet).toIndexedSeq
      val rrCols = (shared ++ condInnerVars).distinct
      val renames = rrCols.map(v => v -> freshName(v)).toMap
      val rr = rrCols.foldLeft(subDf.select(rrCols.map(subDf(_)): _*)) {
        (d, v) => d.withColumnRenamed(v, renames(v))
      }
      val keys = keySrc.select(keyCols.map(keySrc(_)): _*).distinct()
      // null-tolerant compatibility ONLY where a side can actually be
      // unbound — the OR-of-isNull form defeats equi-key extraction
      // and drops the semi-join to a BroadcastNestedLoopJoin (measured
      // 8 NL joins / 13.5 s on the 8-branch union gate); never-null
      // vars join on plain termEq, a hash-joinable equi key
      val sideNull = outerNullable ++ Algebra.maybeUnbound(residual)
      val compat = shared.map(v =>
        if (sideNull(v))
          keys(v).isNull || rr(renames(v)).isNull ||
            termEq(keys(v), rr(renames(v)))
        else termEq(keys(v), rr(renames(v))))
      val base: String => Column = v =>
        if (keyCols.contains(v) && renames.contains(v))
          coalesce(keys(v), rr(renames(v))) // substitution: outer wins
        else if (keyCols.contains(v)) keys(v)
        else if (renames.contains(v)) rr(renames(v))
        else nullTerm
      val res = layerBinds(corrBinds, base)
      val corrCond = corrConds
        .map(c => coalesce(compBool(c, res), lit(false)))
      val allCond = (compat ++ corrCond)
        .reduceOption(_ && _).getOrElse(lit(true))
      val mNames = keyCols.map(v => v -> freshName(v)).toMap
      val marker = s"__m_$flag"
      // an empty residual scope (rr has no columns) degenerates to a
      // per-key constant decided by the correlated conditions alone —
      // cross-join the 1-column-free rr is invalid, so guard via a
      // non-empty rr: Unit0 residual compiles to a single row
      val matched = keys.join(rr, allCond, "left_semi")
      val matchedR = matched
        .select(keyCols.map(v => matched(v).as(mNames(v))): _*)
        .withColumn(marker, lit(true))
      val eq = keyCols.map(v => df(v) <=> matchedR(mNames(v))).reduce(_ && _)
      val joined = df.join(matchedR, eq, "left_outer")
      joined.select((df.columns.map(c => joined(c).as(c)) :+
        (if (positive) joined(marker).isNotNull
         else joined(marker).isNull).as(flag)).toIndexedSeq: _*)
    }
  }

  /** OPTIONAL: left join; the embedded FILTER (if any) evaluates over
    * the merged row and failing matches become unmatched (NULL right).
    */
  private def solLeftJoin(l: DataFrame, r: DataFrame, filt: Option[Expr],
      nullable: Set[String] = Set.empty): DataFrame = {
    val shared = l.columns.intersect(r.columns).toIndexedSeq
    val renames = shared.map(v => v -> freshName(v)).toMap
    val rr = shared.foldLeft(r) { (d, v) => d.withColumnRenamed(v, renames(v)) }
    val eqCond = shared.map(v =>
      if (nullable(v))
        l(v).isNull || rr(renames(v)).isNull || termEq(l(v), rr(renames(v)))
      else termEq(l(v), rr(renames(v))))
    // §18.3 merge: a shared var UNBOUND on the left takes the right
    // side's binding on matched rows (coalesce; unmatched rows leave
    // the right rename NULL, so the left value — possibly unbound —
    // survives untouched); an always-bound left var short-circuits
    val resolveMerged: String => Column = v =>
      if (shared.contains(v) && nullable(v))
        coalesce(l(v), rr(renames(v)))
      else if (l.columns.contains(v)) l(v)
      else if (r.columns.contains(v)) rr(renames.getOrElse(v, v))
      else nullTerm
    val fCond = filt.map(e => coalesce(compBool(e, resolveMerged), lit(false)))
    val cond = (eqCond ++ fCond.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    val joined = l.join(rr, cond, "left_outer")
    joined.select((l.columns.map(c =>
      (if (shared.contains(c) && nullable(c))
        coalesce(joined(c), joined(renames(c)))
      else joined(c)).as(c)).toIndexedSeq ++
      r.columns.filterNot(shared.contains).map(joined(_)).toIndexedSeq): _*)
  }

  // ------------------------------------------------------------------
  // BGP: pattern → relation, selectivity-ordered joins
  // ------------------------------------------------------------------

  private def scopedQuads(graph: Option[Node]): (DataFrame, Option[String]) =
    graph match {
      case None => (defaultQuads, None) // dataset default graph
      case Some(T(iriLex, _, _, _)) =>
        (namedQuads.filter(col("g") === iriLex), None)
      case Some(V(gv)) => (namedQuads, Some(gv))
    }

  /** Estimated pattern cardinality — the role of GraphDB's statistics
    * optimizer (`repo-config.ttl:46`): a constant predicate starts
    * from its actual statement count when per-predicate stats were
    * supplied (one groupBy over the store, collected once per
    * dataset), then bound subject/object constants discount it. The
    * fallback (no stats) reduces to the classic bound-term heuristic.
    */
  // tail estimate for predicates absent from the stats map. The
  // min-bound ("every uncollected count ≤ the smallest collected
  // one") only holds when the top-N collect actually HIT the cap; a
  // sub-cap map is a complete vocabulary, where absence means the
  // predicate wasn't in the SNAPSHOT the stats were built from (it
  // may still exist in the queried view — e.g. OWL-materialized
  // quads add predicates the raw-quads stats never saw), so fall
  // back to the classic unknown-predicate default. The cap compared
  // against is the one the map was COLLECTED with (`statsCap`,
  // threaded by the caller) — a map built with a smaller cap that hit
  // it is still "possibly capped", not a complete vocabulary
  private lazy val statsTail: Double =
    if (stats.size >= statsCap)
      math.min(stats.values.min.toDouble, 5e5)
    else 5e5

  private def estimate(tp: TriplePat): Double = {
    val default = 1e6
    val base = tp.p match {
      case PLink(p) => stats.get(p).map(_.toDouble).getOrElse(statsTail)
      // under a hit cap the sum is a LOWER bound on total statements
      // (uncollected tail not included) — still the best available
      // anchor for an unconstrained-predicate scan
      case _: PVar => stats.values.sum.toDouble.max(default)
      case _ => default
    }
    val sFac = tp.s match { case _: T => 1e-4; case _ => 1.0 }
    val oFac = tp.o match { case _: T => 1e-3; case _ => 1.0 }
    base * sFac * oFac
  }

  private def scopedEnc(graph: Option[Node]): Option[(DataFrame, Option[String])] =
    graph match {
      case None => defaultEnc.map((_, None))
      case Some(T(iriLex, _, _, _)) =>
        namedEnc.map(q => (q.filter(col("g") === iriLex), None))
      case Some(V(gv)) => namedEnc.map((_, Some(gv)))
    }

  /** BGP over the id-encoded quad table (SURVEY §1.5/§7 hard-part (5),
    * the entity-pool role of `repo-config.ttl:22-23`): every pattern
    * relation carries 8-byte long ids, pattern constants are literal
    * long filters (parquet min/max prunable), the intra-BGP joins
    * shuffle longs instead of lexical term structs, and the solution
    * decodes ONCE at the BGP edge via dictionary joins — onto which
    * Catalyst pushes any later FILTER over the decoded term, i.e. range
    * filters evaluate against the (small) dictionary side, the
    * classical dictionary-RDF-store plan. Taken when an encoded view
    * exists and every predicate is a plain link/var (property paths
    * keep the struct machinery).
    */
  private def compBgpEnc(pats: Seq[TriplePat], scoped: DataFrame,
      gVar: Option[String]): DataFrame =
    decodeSolutions(compBgpEncIds(pats, scoped, gVar, valueNeeded))

  /** The id-plane half of [[compBgpEnc]]: solution relation whose
    * variable columns are still 8-byte term ids (graph var: raw string
    * graph name). `keep` bounds late materialization — columns it
    * rejects are dropped before any decode. Callers that can consume
    * ids directly (DISTINCT / GROUP BY pushdown) aggregate on this
    * frame and decode only the post-aggregate rows.
    */
  private def compBgpEncIds(pats: Seq[TriplePat], scoped: DataFrame,
      gVar: Option[String], keep: String => Boolean): DataFrame = {
    import graft.core.TermDictionary.litTermId
    def encPattern(tp: TriplePat): DataFrame = {
      var d = scoped
      tp.p match {
        case PLink(p) => d = d.filter(col("p_id") === lit(litTermId(p, IRI)))
        case _ => ()
      }
      tp.s match {
        case T(lx, k, _, _) => d = d.filter(col("s_id") === lit(litTermId(lx, k)))
        case V(_) => ()
      }
      tp.o match {
        case T(lx, k, _, _) => d = d.filter(col("o_id") === lit(litTermId(lx, k)))
        case V(_) => ()
      }
      var cols = Seq.empty[Column]
      (tp.s, tp.o) match {
        case (V(x), V(y)) if x == y =>
          d = d.filter(col("s_id") === col("o_id")); cols = Seq(col("s_id").as(x))
        case (V(x), V(y)) => cols = Seq(col("s_id").as(x), col("o_id").as(y))
        case (V(x), _) => cols = Seq(col("s_id").as(x))
        case (_, V(y)) => cols = Seq(col("o_id").as(y))
        // struct-typed placeholder: comp(Union) widens missing columns
        // with nullTerm, so a non-struct dummy would make unionByName
        // throw on the type mismatch
        case _ => cols = Seq(nullTerm.as(freshName("c")))
      }
      tp.p match {
        case PVar(pv) => cols = cols :+ col("p_id").as(pv)
        case _ => ()
      }
      gVar.foreach(gv => cols = cols :+ col("g").as(gv))
      d.select(cols: _*)
    }
    val rels = pats.map(tp => (tp, encPattern(tp)))
    val remaining = scala.collection.mutable.ArrayBuffer(
      rels.sortBy(r => estimate(r._1)): _*)
    var acc = remaining.remove(0)._2
    var accVars = acc.columns.toSet
    while (remaining.nonEmpty) {
      val idx = remaining.indexWhere(r => r._2.columns.exists(accVars.contains))
      val pick = if (idx >= 0) remaining.remove(idx) else remaining.remove(0)
      acc = idJoin(acc, pick._2)._1
      accVars = acc.columns.toSet
    }
    // late materialization: columns whose value nothing consumes are
    // dropped HERE, before the decode edge — their dictionary joins
    // would be pure wasted shuffle (COUNT(*) over `?s ?p ?o` decodes
    // nothing; desugared path intermediates never decode at all)
    val dead = acc.columns.filterNot(keep(_))
    if (dead.length == acc.columns.length)
      // keep multiplicity with no vars; struct-typed for Union widening
      acc.select(nullTerm.as(freshName("c")))
    else acc.drop(dead.toIndexedSeq: _*)
  }

  // ---- id-plane aggregation pushdown --------------------------------
  // DISTINCT / GROUP BY directly over a simple BGP run on the 8-byte
  // id frame: the wide pre-aggregate shuffle carries longs, and only
  // the post-aggregate rows (group keys, SAMPLE winners) decode via
  // the dictionary — the classical dictionary-store aggregation plan.
  // At 100 TB this is the difference between shuffling lexical term
  // structs for every quad and shuffling 8 bytes per column.

  /** Id-frame natural join. BGP vars are never null → plain long
    * equality, always hash-joinable (the graph var's string column
    * joins the same way). A shared var that can be NULL on either
    * side (a UNION leaf's branch-partial var) joins with the §18.3
    * null-compat form — `l IS NULL OR r IS NULL OR l = r`, the id
    * twin of [[solJoin]]'s nullable condition — and the output takes
    * the bound side via coalesce (ids share the term's (lex, kind)
    * identity, so the coalesced id decodes to exactly the term the
    * struct plane would have merged). The non-equi form applies ONLY
    * to vars that can actually be null: all-bound joins keep their
    * hash-joinable equality conjuncts.
    *
    * Returns the joined frame plus its nullable-var set: a shared var
    * stays nullable only when BOTH sides could be null (coalesce of
    * two nullables); a var one side binds non-null comes out bound.
    */
  private def idJoin(l: DataFrame, r: DataFrame,
      nullableL: Set[String] = Set.empty,
      nullableR: Set[String] = Set.empty): (DataFrame, Set[String]) = {
    val shared = l.columns.intersect(r.columns).toIndexedSeq
    val outNullable =
      shared.filter(v => nullableL(v) && nullableR(v)).toSet ++
        (nullableL -- shared) ++ (nullableR -- shared)
    if (shared.isEmpty) return (l.crossJoin(r), outNullable)
    val renames = shared.map(v => v -> freshName(v)).toMap
    val rr = shared.foldLeft(r) { (d, v) => d.withColumnRenamed(v, renames(v)) }
    def nullCompat(v: String) = nullableL(v) || nullableR(v)
    def project(joined: DataFrame): DataFrame =
      joined.select((l.columns.map(c =>
        (if (shared.contains(c) && nullCompat(c))
          coalesce(joined(c), joined(renames(c)))
        else joined(c)).as(c)).toIndexedSeq ++
        r.columns.filterNot(shared.contains).map(joined(_)).toIndexedSeq): _*)
    if (shared.exists(v => !nullCompat(v))) {
      // at least one always-bound equality conjunct → hash-joinable;
      // null-compat vars ride as join filters
      val cond = shared.map(v =>
        if (nullCompat(v))
          l(v).isNull || rr(renames(v)).isNull || l(v) === rr(renames(v))
        else l(v) === rr(renames(v))).reduce(_ && _)
      (project(l.join(rr, cond, "inner")), outNullable)
    } else {
      // EVERY shared var is null-compat: a single join's condition is
      // purely disjunctive and Spark can only plan a nested-loop/
      // cartesian over the FULL inputs. Partition on one var instead
      // (§18.3 semantics unchanged — the three branches tile the
      // (l null?, r null?) space exactly): the bound⋈bound branch
      // keeps a real equality conjunct and hash-joins the bulk; only
      // the null partitions — whose §18.3 fan-out is semantically
      // required — pay the nested-loop, over their (small) slices.
      // Prefer a var only one side can null: that drops a branch.
      val v0 = shared.find(v => !(nullableL(v) && nullableR(v)))
        .getOrElse(shared.head)
      def restCond(lf: DataFrame, rf: DataFrame, eqV0: Boolean): Column = {
        val cs = (if (eqV0) Seq(lf(v0) === rf(renames(v0))) else Nil) ++
          shared.filterNot(_ == v0).map(v =>
            lf(v).isNull || rf(renames(v)).isNull || lf(v) === rf(renames(v)))
        cs.reduceOption(_ && _).getOrElse(lit(true))
      }
      val lNN = l.filter(l(v0).isNotNull)
      val bound = lNN.join(rr.filter(rr(renames(v0)).isNotNull),
        restCond(lNN, rr, eqV0 = true), "inner")
      val parts = Seq(Some(project(bound)),
        // left-null branch: v0's condition holds against EVERY right row
        if (nullableL(v0))
          Some(project(l.filter(l(v0).isNull)
            .join(rr, restCond(l, rr, eqV0 = false), "inner")))
        else None,
        // right-null branch: pairs with a bound left (null-null pairs
        // are already in the left-null branch)
        if (nullableR(v0))
          Some(project(lNN.join(rr.filter(rr(renames(v0)).isNull),
            restCond(lNN, rr, eqV0 = false), "inner")))
        else None).flatten
      (parts.reduce(_ union _), outNullable)
    }
  }

  /** Variables a Join-tree of encodable simple BGPs binds; None when
    * `op` is not such a tree. The cheap pre-check for the id-plane
    * paths below (term ids hash the SAME `(lex, kind)` identity
    * [[graft.core.TermDictionary.termId]] that `termEq` compares, so
    * an id equi-join is exactly a struct-plane solution join over
    * never-null vars).
    */
  private def idTreeScope(op: Op): Option[Set[String]] = op match {
    case b: Bgp =>
      if (encodableBgp(b).isDefined) Some(Algebra.inScope(b).toSet) else None
    // a store-derived key frame (nested-EXISTS splice) hashes onto
    // the id plane on the fly — term identity is (lex, kind), the
    // same identity the store ids carry
    case f: FrameOp if f.idSafe && encoded.isDefined &&
      f.nullable.isEmpty => Some(f.vars.toSet)
    // VALUES with no UNDEF: constants encode to literal ids, so the
    // block joins as an id leaf (its vars are never unbound)
    case v: ValuesOp if encoded.isDefined &&
      v.rows.forall(_.forall(_.isDefined)) => Some(v.vars.toSet)
    case Join(a, b) => for (x <- idTreeScope(a); y <- idTreeScope(b)) yield x ++ y
    // UNION: only the vars bound in EVERY branch are id-plane reliable
    // (a branch-missing var widens to unbound on the struct plane);
    // consumers must restrict themselves to this common scope
    case Union(a, b) =>
      for (x <- idTreeScope(a); y <- idTreeScope(b)) yield x.intersect(y)
    // subquery leaves: `{ SELECT ?x … }` / `{ SELECT DISTINCT ?x … }`
    // over an encodable tree — visible scope is the projection, and
    // only when it pads nothing (a padded null var cannot live in an
    // id frame)
    case Project(i, vars) =>
      idTreeScope(i).filter(s => vars.forall(s)).map(_ => vars.toSet)
    case Distinct(inner) => idTreeScope(inner)
    case _ => None
  }

  /** Like [[idTreeScope]] but WIDE: returns (all vars, nullable vars)
    * where nullable = vars bound in some but not every UNION branch —
    * they surface as NULL ids (the id-plane twin of the struct plane's
    * null widening). A Join whose shared var can be null runs the
    * §18.3 null-compat id join ([[idJoin]]'s null-or-equal form); the
    * joined var stays nullable only when BOTH sides could be null
    * (the output coalesces to the bound side).
    */
  private def idTreeScopeWide(op: Op): Option[(Set[String], Set[String])] =
    op match {
      case b: Bgp =>
        if (encodableBgp(b).isDefined)
          Some((Algebra.inScope(b).toSet, Set.empty[String]))
        else None
      case f: FrameOp if f.idSafe && encoded.isDefined =>
        Some((f.vars.toSet, f.nullable))
      case v: ValuesOp if encoded.isDefined &&
        v.rows.forall(_.forall(_.isDefined)) =>
        Some((v.vars.toSet, Set.empty[String]))
      case Join(a, b) =>
        for {
          wa <- idTreeScopeWide(a)
          wb <- idTreeScopeWide(b)
        } yield ((wa._1 ++ wb._1),
          (wa._1 ++ wb._1).filter(v =>
            (wa._2(v) || !wa._1(v)) && (wb._2(v) || !wb._1(v))))
      case Union(a, b) =>
        for {
          wa <- idTreeScopeWide(a)
          wb <- idTreeScopeWide(b)
        } yield (wa._1 ++ wb._1,
          wa._2 ++ wb._2 ++ wa._1.diff(wb._1) ++ wb._1.diff(wa._1))
      case Project(i, vars) =>
        idTreeScopeWide(i).filter { case (all, _) => vars.forall(all) }
          .map { case (_, n) => (vars.toSet, n.intersect(vars.toSet)) }
      case Distinct(inner) => idTreeScopeWide(inner)
      case _ => None
    }

  /** Compile a Join-tree of encodable BGPs entirely on the id plane:
    * every leaf keeps (as ids) the columns in `keep` plus this tree's
    * cross-leaf join vars; leaves join greedily on shared id columns;
    * columns outside `keep` are dropped before the caller decodes or
    * aggregates. Returns None when `op` is not an encodable tree.
    */
  private def idFrameOf(op: Op, keep: Set[String]): Option[DataFrame] = op match {
    // top-level UNION: bag-union the branch id frames. Kept vars a
    // branch does not bind WIDEN to NULL ids (typed from the branch
    // that has them) — the id-plane form of the struct plane's union
    // widening; a DISTINCT or GROUP above then dedups/aggregates
    // across branches on (nullable) ids. Same-named columns must agree
    // on representation (a long id vs a raw-g string bails).
    case Union(a, b) =>
      for {
        fa <- idFrameOf(a, keep)
        fb <- idFrameOf(b, keep)
        keptA = fa.columns.filter(keep)
        keptB = fb.columns.filter(keep)
        if keptA.intersect(keptB).forall(c =>
          fa.schema(c).dataType == fb.schema(c).dataType)
      } yield {
        val all = (keptA ++ keptB).distinct.toIndexedSeq
        if (all.isEmpty) {
          // neither branch binds a kept var: placeholder rows only
          // (multiplicity carrier, as in the join-tree all-dead case)
          val ph = freshName("c")
          fa.select(nullTerm.as(ph)).unionByName(fb.select(nullTerm.as(ph)))
        } else {
          def widen(d: DataFrame, other: DataFrame) = d.select(all.map(c =>
            if (d.columns.contains(c)) d(c)
            else lit(null).cast(other.schema(c).dataType).as(c)): _*)
          widen(fa, fb).unionByName(widen(fb, fa))
        }
      }
    case _ => idFrameOfJoinTree(op, keep)
  }

  private def idFrameOfJoinTree(op: Op, keep: Set[String]): Option[DataFrame] = {
    def leaves(o: Op): Option[Seq[Op]] = o match {
      case Join(a, b) => for (x <- leaves(a); y <- leaves(b)) yield x ++ y
      case b: Bgp => Some(Seq(b))
      case v: ValuesOp if encoded.isDefined &&
        v.rows.forall(_.forall(_.isDefined)) => Some(Seq(v))
      // subquery leaves stay atomic: their frame is built recursively
      case p: Project if idTreeScope(p).isDefined => Some(Seq(p))
      case d: Distinct if idTreeScope(d).isDefined => Some(Seq(d))
      // a UNION joins as one atomic leaf: branch-partial vars ride as
      // NULL ids and join with idJoin's null-compat form
      case u: Union if idTreeScopeWide(u).isDefined => Some(Seq(u))
      // store-derived key frame: hashed onto the id plane on the fly
      case f: FrameOp if f.idSafe && encoded.isDefined => Some(Seq(f))
      case _ => None
    }
    leaves(op).flatMap { lvs =>
      val scopes = lvs.map(l => Algebra.inScope(l).toSet)
      val shared = scopes.flatMap(_.toSeq).groupBy(identity)
        .collect { case (v, occ) if occ.size > 1 => v }.toSet
      // every VALUES var must join a BGP leaf: a surviving row's ids
      // then come off the encoded table, so the decode dictionary
      // resolves them; a non-store-joined VALUES term may be absent
      // from the dictionary and would decode-drop its row
      val bgpVars = lvs.collect { case b: Bgp => Algebra.inScope(b).toSet }
        .foldLeft(Set.empty[String])(_ ++ _)
      val valuesOk = lvs.forall {
        case v: ValuesOp => v.vars.forall(bgpVars)
        case _ => true
      }
      val parts: Seq[Option[(DataFrame, Set[String])]] =
        if (!valuesOk) Seq(None)
        else lvs.map {
          case b: Bgp => encodableBgp(b).map(p =>
            (compBgpEncIds(p._1, p._2, p._3, keep ++ shared),
              Set.empty[String]))
          case v: ValuesOp => Some((valuesIdFrame(v), Set.empty[String]))
          // `{ SELECT ?x … }`: visibility-restricted inner frame, bag
          // multiplicity preserved (narrow-scope guard: never null)
          case Project(i, vars) =>
            idFrameOf(i, (keep ++ shared).intersect(vars.toSet))
              .map((_, Set.empty[String]))
          // `{ SELECT DISTINCT … }`: dedup over the FULL visible scope
          // on ids, then the tree keeps only what it needs
          case Distinct(i) =>
            idTreeScope(i).flatMap(s => idFrameOf(i, s).map(_.distinct()))
              .map((_, Set.empty[String]))
          case u: Union =>
            for {
              wide <- idTreeScopeWide(u)
              df <- idFrameOf(u, keep ++ shared)
            } yield (df, wide._2.intersect(df.columns.toSet))
          case f: FrameOp =>
            val kept = f.vars.filter(v => keep(v) || shared(v))
            if (kept.isEmpty) Some((f.frame.select(lit(1L).as(freshName("c"))),
              Set.empty[String]))
            else Some((f.frame.select(kept.map(v =>
              termKey(f.frame(v)).as(v)): _*),
              f.nullable.intersect(kept.toSet)))
          case _ => None
        }
      if (parts.exists(_.isEmpty)) None
      else {
        val remaining = scala.collection.mutable.ArrayBuffer(parts.map(_.get): _*)
        var (acc, accNullable) = remaining.remove(0)
        var typeClash = false
        while (remaining.nonEmpty && !typeClash) {
          val accVars = acc.columns.toSet
          val idx = remaining.indexWhere(_._1.columns.exists(accVars.contains))
          val pick = if (idx >= 0) remaining.remove(idx) else remaining.remove(0)
          // a shared var must carry ONE id representation on both
          // sides (a hashed long against a raw-g STRING graph column
          // would silently never match) — bail to the struct plane
          if (pick._1.columns.exists(c => accVars.contains(c) &&
              pick._1.schema(c).dataType != acc.schema(c).dataType))
            typeClash = true
          else {
            val (joined, nn) = idJoin(acc, pick._1, accNullable, pick._2)
            acc = joined; accNullable = nn
          }
        }
        if (typeClash) return None
        val dead = acc.columns.filterNot(keep)
        Some(
          if (dead.length == acc.columns.length)
            acc.select(nullTerm.as(freshName("c")))
          else acc.drop(dead.toIndexedSeq: _*))
      }
    }
  }

  /** VALUES rows as an id relation: every term becomes its literal
    * 64-bit id (driver-side xxhash64), so the block joins against the
    * encoded table as a tiny broadcastable long relation.
    */
  private def valuesIdFrame(v: ValuesOp): DataFrame = {
    import graft.core.TermDictionary.litTermId
    rowsFrame(v.vars, v.rows.map(_.map(t => lit(litTermId(t.get.lex, t.get.kind)))))
  }

  /** Constant rows as one relation: a one-row range exploding an array
    * of row structs. A union of one range per row is analysed again at
    * every `unionByName`, which is quadratic in the row count (a
    * 5,000-row VALUES block ran for over ten minutes).
    */
  private def rowsFrame(vars: Seq[String], rows: Seq[Seq[Column]]): DataFrame =
    spark.range(1)
      .select(explode(array(rows.map(r =>
        struct(vars.zip(r).map { case (v, c) => c.as(v) }: _*)): _*)).as("__row"))
      .select(vars.map(v => col("__row").getField(v).as(v)): _*)

  /** Simple BGP on the encoded plane → (desugared patterns, scoped
    * encoded table, graph var). None when no encoded view exists or a
    * predicate needs the struct path machinery.
    */
  private def encodableBgp(b: Bgp): Option[(Seq[TriplePat], DataFrame, Option[String])] = {
    if (b.pats.isEmpty || encoded.isEmpty) return None
    val flat = flattenPats(b.pats)
    val simple = flat.forall(tp => tp.p match {
      case PLink(_) | PVar(_) => true; case _ => false
    })
    if (!simple) None
    else scopedEnc(b.graph).map { case (enc, gv) => (flat, enc, gv) }
  }

  /** GROUP BY over ids, when every key is a plain BGP-bound variable
    * and every aggregate is id-safe: COUNT(*) / COUNT(?v) /
    * COUNT(DISTINCT ?v) (distinct ids = distinct full terms by
    * construction) and SAMPLE(?v) (the winning id decodes after).
    */
  private def groupOverIds(input: Op, keys: Seq[(String, Option[Expr])],
      aggs: Seq[(String, EAgg)]): Option[DataFrame] = {
    val (core, conds) = stripFilters(input)
    // WIDE scope: union-branch-partial vars group/aggregate as NULL
    // ids — null keys form the unbound group (§18.2.4.1), COUNT(?v)
    // skips nulls (unbound excluded from aggregation), SAMPLE ignores
    // nulls — matching the struct plane's widened-null semantics
    val scopeOpt = idTreeScopeWide(core)
    if (scopeOpt.isEmpty) return None
    val (scope, nullableVars) = scopeOpt.get
    def plainVar(o: Option[Expr]): Option[String] =
      o match { case Some(EVar(v)) if scope(v) => Some(v); case _ => None }
    // id-safe aggregates work on raw ids; value-bearing ones (SUM/AVG/
    // MIN/MAX/GROUP_CONCAT, or any aggregate over an EXPRESSION arg
    // like SUM(?a * ?b)) decode ONLY their argument's variables
    // pre-aggregate — the group keys still shuffle as longs
    val idSafe = Set("count", "sample")
    val valueFns = Set("sum", "avg", "min", "max", "group_concat")
    // plain-var keys group on raw ids; EXPRESSION keys (GROUP BY
    // (expr AS ?v)) compute over their decoded vars and group on the
    // computed term struct — mixed key lists work, and the id-plane
    // frame still serves every other column as longs
    val keyOk = keys.forall {
      case (v, None) => scope(v)
      case (_, Some(e)) =>
        !containsExists(e) && exprVarSet(e).subsetOf(scope)
    }
    // an aggregate runs on RAW IDS only when its arg is a plain
    // BGP-bound var (or COUNT(*)); everything else routes through the
    // generic struct aggregate over its decoded argument variables
    def idArg(a: EAgg): Boolean =
      (a.fn == "count" && a.arg.isEmpty) ||
        (idSafe(a.fn) && plainVar(a.arg).isDefined)
    val aggOk = aggs.forall { case (_, a) =>
      val vs = a.arg.map(exprVarSet).getOrElse(Set.empty)
      (idSafe(a.fn) || valueFns(a.fn)) &&
        !a.arg.exists(containsExists) && vs.subsetOf(scope) &&
        // SAMPLE needs a column to pick (plain var or expression)
        (a.fn != "sample" || a.arg.isDefined)
    }
    if (!keyOk || !aggOk) return None
    // a filter var bound in SOME branch but not the common scope
    // widens to unbound on rows of the other branches — the id frames
    // cannot represent that, so bail to the struct plane
    val filterVarsAll = conds.flatMap(exprVarSet).toSet
      .intersect(Algebra.inScope(core).toSet)
    if (!filterVarsAll.subsetOf(scope)) return None
    val decodeArgVars = aggs.collect {
      case (_, a) if !idArg(a) =>
        a.arg.map(exprVarSet).getOrElse(Set.empty)
    }.flatten.toSet
    val keyExprVars = keys.flatMap(_._2.map(exprVarSet)).flatten.toSet
    val keep = keys.collect { case (v, None) => v }.toSet ++ keyExprVars ++
      aggs.flatMap(kv => kv._2.arg.map(exprVarSet).getOrElse(Set.empty)) ++
      filterVarsAll
    val idsOpt = idFrameOf(core, keep)
    if (idsOpt.isEmpty) return None
    val ids0 = decodeCols(
      applyFilters(idsOpt.get, conds, filterVarsAll, nullableVars),
      decodeArgVars ++ keyExprVars, nullableVars)
    // bind computed key columns (term structs) before the groupBy
    val ids = keys.foldLeft(ids0) {
      case (d, (v, Some(e))) => d.withColumn(v, compExpr(e, resolver(d)))
      case (d, (_, None)) => d
    }
    val aggCols = aggs.map { case (out, a) =>
      (a.fn match {
        case "count" if a.arg.isEmpty =>
          // COUNT outputs are final xsd:integer terms already — the
          // decode edge passes structs through untouched
          termNumDt(count(lit(1)).cast("double"), Rdf.XsdInteger)
        case "count" if plainVar(a.arg).isDefined =>
          // BGP-bound vars are never unbound, so COUNT(?v) counts
          // rows; DISTINCT counts distinct ids = distinct terms (and
          // over an already-decoded struct, distinct representatives)
          val v = plainVar(a.arg).get
          if (a.distinct)
            termNumDt(countDistinct(col(v)).cast("double"), Rdf.XsdInteger)
          else termNumDt(count(col(v)).cast("double"), Rdf.XsdInteger)
        case "sample" if plainVar(a.arg).isDefined =>
          first(col(plainVar(a.arg).get), ignoreNulls = true)
        // value-bearing or expression-arg: the argument's vars are
        // decoded term structs, so the GENERIC aggregate compiler
        // applies verbatim
        case _ => compAgg(a, ids)
      }).as(out)
    }
    // computed (expression) keys exchange as 8-byte hashes of their
    // term IDENTITY — the same (lex, kind) id semantics plain-var keys
    // get from the dictionary — with the computed struct riding along
    // only as a combinable min() decode representative (struct-least,
    // matching TermDictionary.build's choice). A null flag joins the
    // group key so the all-unbound group (§18.2.4.1) can never merge
    // with a term whose hash happens to equal the null hash.
    val exprKeys = keys.collect { case (v, Some(_)) => v }
    val grouped =
      if (aggCols.isEmpty && exprKeys.isEmpty)
        ids.select(keys.map(k => ids(k._1)): _*).distinct()
      else if (keys.isEmpty) ids.agg(aggCols.head, aggCols.tail: _*)
      else {
        val ids2 = exprKeys.foldLeft(ids)((d, v) =>
          d.withColumn(s"__kid_$v", graft.core.TermDictionary.termId(d(v))))
        val groupCols = keys.map {
          case (v, None) => ids2(v)
          case (v, Some(_)) => ids2(s"__kid_$v")
        } ++ exprKeys.map(v => ids2(v).isNull.as(s"__knull_$v"))
        val reps = exprKeys.map(v => min(ids2(v)).as(v))
        val allAggs = reps ++ aggCols
        ids2.groupBy(groupCols.toIndexedSeq: _*)
          .agg(allAggs.head, allAggs.tail: _*)
          .select((keys.map(k => col(k._1)) ++
            aggs.map(a => col(a._1))).toIndexedSeq: _*)
      }
    // nullable-aware decode: a NULL group key is the unbound group and
    // a SAMPLE over a nullable arg can be null — left-join those back
    // to unbound terms instead of inner-join dropping their rows
    val nullableOut =
      keys.collect { case (v, None) if nullableVars(v) => v }.toSet ++
        aggs.collect {
          case (out, a) if a.fn == "sample" &&
            plainVar(a.arg).exists(nullableVars) => out
        }
    Some(decodeCols(grouped, grouped.columns.toSet, nullableOut))
  }

  /** SELECT DISTINCT over plain BGP-bound variables: dedup on ids,
    * decode only the surviving rows.
    */
  private def distinctOverIds(input: Op, vars: Seq[String]): Option[DataFrame] = {
    val (core, conds) = stripFilters(input)
    // WIDE scope: union-branch-partial vars ride as NULL ids — dedup
    // treats the null id as the unbound binding, exactly the struct
    // plane's widened-null semantics, and the decode edge left-joins
    // them back to unbound terms
    idTreeScopeWide(core).flatMap { case (all, nullable) =>
      val filterVarsAll = conds.flatMap(exprVarSet).toSet
        .intersect(Algebra.inScope(core).toSet)
      if (vars.isEmpty || !vars.forall(all) || !filterVarsAll.subsetOf(all)) None
      else idFrameOf(core, vars.toSet ++ filterVarsAll).map { ids0 =>
        val ids = applyFilters(ids0, conds, filterVarsAll, nullable)
        decodeCols(ids.select(vars.map(ids(_)): _*).distinct(),
          vars.toSet, nullable)
      }
    }
  }

  /** Per-var Bgp-leaf bind counts across a Join/Union tree — the
    * in-tree half of the external-shared computation (vars whose
    * global leaf count exceeds their in-tree count are joined by an
    * op OUTSIDE the tree and must decode).
    */
  private def countTreeLeaves(o: Op,
      acc: Map[String, Int] = Map.empty): Map[String, Int] = o match {
    case Join(a, b) => countTreeLeaves(b, countTreeLeaves(a, acc))
    case Union(a, b) => countTreeLeaves(b, countTreeLeaves(a, acc))
    case b: Bgp => Algebra.inScope(b).foldLeft(acc)((m, v) =>
      m.updated(v, m.getOrElse(v, 0) + 1))
    case v: ValuesOp => v.vars.foldLeft(acc)((m, x) =>
      m.updated(x, m.getOrElse(x, 0) + 1))
    // subquery leaves: count their INNER Bgp binds (the global
    // leafCounts does the same through its walk)
    case Project(i, _) => countTreeLeaves(i, acc)
    case Distinct(i) => countTreeLeaves(i, acc)
    case _ => acc
  }

  /** EXISTS / NOT EXISTS / MINUS where both the left tree and the
    * probe pattern are encodable: a left-semi/anti join on id columns.
    * At scale this is the id-plane version of the filter-join family:
    * the probe side ships 8-byte keys, the left side never decodes
    * rows the anti-join would discard. FILTER layers on either side
    * peel with partial decode (left-side conditions apply after the
    * semi-join — conjunctive, so order-free). Returns the DECODED
    * solution frame.
    */
  private def filterJoinOverIds(input: Op, sub: Op, positive: Boolean,
      emptySharedKeepsAll: Boolean = false): Option[DataFrame] = {
    val (core, conds) = stripFilters(input)
    val (subCore, subConds) = stripFilters(sub)
    (idTreeScope(core), idTreeScope(subCore)) match {
      case (Some(scope), Some(subScope)) =>
        val shared = scope.intersect(subScope)
        val subFilterVars = subConds.flatMap(exprVarSet).toSet
          .intersect(Algebra.inScope(subCore).toSet)
        val leftFilterVars = conds.flatMap(exprVarSet).toSet
          .intersect(Algebra.inScope(core).toSet)
        // a decoded (struct) column cannot serve as an id join key;
        // a filter var outside the common scope widens to unbound
        if (subFilterVars.exists(shared) || !subFilterVars.subsetOf(subScope) ||
          !leftFilterVars.subsetOf(scope)) return None
        // UNION-branch-partial vars (in a tree's full scope but not
        // its common scope) would join with null-compat semantics on
        // the struct plane — invisible to id frames, so bail
        val fullCore = Algebra.inScope(core).toSet
        val fullSub = Algebra.inScope(subCore).toSet
        if ((fullSub -- subScope).exists(fullCore) ||
          (fullCore -- scope).exists(fullSub)) return None
        val inTree = countTreeLeaves(subCore, countTreeLeaves(core))
        val external = scope.filter(v =>
          leafCounts.getOrElse(v, 0) > inTree.getOrElse(v, 0))
        // a branch-partial var the query consumes (or an outside op
        // joins on) cannot be dropped — only the struct plane widens it
        if ((fullCore -- scope).exists(v => refNeeded(v) ||
          leafCounts.getOrElse(v, 0) > inTree.getOrElse(v, 0))) return None
        val keepOut = (refNeeded ++ external).intersect(scope)
        val leftOpt = idFrameOf(core, keepOut ++ shared ++ leftFilterVars)
        val subOpt = idFrameOf(subCore, shared ++ subFilterVars)
        (leftOpt, subOpt) match {
          case (Some(leftIds), Some(subIds0)) =>
            val subIds = applyFilters(subIds0, subConds, subFilterVars)
            val joined =
              if (shared.isEmpty) {
                // MINUS with disjoint domains removes nothing (§18.5);
                // EXISTS is a global existence test
                if (emptySharedKeepsAll) leftIds
                else {
                  val any = !subIds.isEmpty
                  if (any == positive) leftIds else leftIds.limit(0)
                }
              } else {
                val sharedCols = shared.toIndexedSeq
                val renames = sharedCols.map(v => v -> freshName(v)).toMap
                val rr = sharedCols.foldLeft(
                  subIds.select(sharedCols.map(subIds(_)): _*)) {
                  (d, v) => d.withColumnRenamed(v, renames(v))
                }
                val cond = sharedCols.map(v =>
                  leftIds(v) === rr(renames(v))).reduce(_ && _)
                leftIds.join(rr, cond, if (positive) "left_semi" else "left_anti")
              }
            val filtered = applyFilters(joined, conds, leftFilterVars)
            val dead = filtered.columns.filterNot(keepOut)
            val kept =
              if (dead.length == filtered.columns.length)
                filtered.select(nullTerm.as(freshName("c")))
              else filtered.drop(dead.toIndexedSeq: _*)
            Some(decodeSolutions(kept))
          case _ => None
        }
      case _ => None
    }
  }

  /** OPTIONAL over id trees: left-outer join on 8-byte shared ids.
    * Right-only columns come back as nullable ids and decode with a
    * LEFT dictionary join (null id → unbound term). The embedded
    * condition's columns decode on their side before the join; left
    * FILTER layers apply after it (they read left columns only, and a
    * left-outer join preserves the left rows they would have removed,
    * so the order is interchangeable).
    *
    * WIDE scopes: either side may be (or contain) a UNION whose
    * branch-partial vars ride as NULL ids — a nullable shared var
    * joins with the §18.3 null-compat form and the merged output
    * takes the bound side (coalesce), exactly [[idJoin]]'s inner
    * shape; the all-bound vars keep hash-joinable equality conjuncts.
    */
  private def leftJoinOverIds(l: Op, r: Op,
      filt: Option[Expr]): Option[DataFrame] = {
    if (filt.exists(containsExists)) return None
    val (lCore, lConds) = stripFilters(l)
    (idTreeScopeWide(lCore), idTreeScopeWide(r)) match {
      case (Some((lScope, lNull)), Some((rScope, rNull))) =>
        val fullL = Algebra.inScope(lCore).toSet
        val fullR = Algebra.inScope(r).toSet
        if (fullL != lScope || fullR != rScope) return None
        val shared = lScope.intersect(rScope)
        val condVars = filt.map(exprVarSet).getOrElse(Set.empty)
          .intersect(fullL ++ fullR)
        val lCondVars = lConds.flatMap(exprVarSet).toSet.intersect(fullL)
        // a decoded condition column cannot double as an id join key
        if (condVars.exists(shared)) return None
        val inTree = countTreeLeaves(r, countTreeLeaves(lCore))
        val external = (lScope ++ rScope).filter(v =>
          leafCounts.getOrElse(v, 0) > inTree.getOrElse(v, 0))
        val keepOut = refNeeded ++ external
        val keepL = (keepOut ++ shared ++ condVars ++ lCondVars).intersect(fullL)
        val keepR = (keepOut ++ shared ++ condVars).intersect(fullR)
        (idFrameOf(lCore, keepL), idFrameOf(r, keepR)) match {
          case (Some(lIds0), Some(rIds0)) =>
            val lIds = decodeCols(lIds0, condVars.intersect(fullL), lNull)
            val rIds = decodeCols(rIds0, condVars.intersect(fullR), rNull)
            val sharedCols = shared.toIndexedSeq
              .filter(v => lIds.columns.contains(v) && rIds.columns.contains(v))
            val renames = rIds.columns.map(v => v -> freshName(v)).toMap
            val rr = rIds.columns.foldLeft(rIds) {
              (d, v) => d.withColumnRenamed(v, renames(v))
            }
            val eqCond = sharedCols.map(v =>
              if (lNull(v) || rNull(v))
                lIds(v).isNull || rr(renames(v)).isNull ||
                  lIds(v) === rr(renames(v))
              else lIds(v) === rr(renames(v)))
            val resolveMerged: String => Column = v =>
              if (sharedCols.contains(v) && lNull(v))
                coalesce(lIds(v), rr(renames(v)))
              else if (lIds.columns.contains(v)) lIds(v)
              else if (rIds.columns.contains(v)) rr(renames(v))
              else nullTerm
            val fCond = filt.map(e =>
              coalesce(compBool(e, resolveMerged), lit(false)))
            val cond = (eqCond ++ fCond.toSeq).reduceOption(_ && _)
              .getOrElse(lit(true))
            // when EVERY shared var is null-compat the condition is
            // purely disjunctive and the left-outer join can only plan
            // a nested loop over the FULL inputs. Left-outer semantics
            // are per-left-row, so partitioning the LEFT on a var the
            // right always binds is exact: the bound slice regains an
            // equality conjunct (hash/merge-joinable); only the null
            // slice — whose §18.3 fan-out is semantically required —
            // pays the nested loop, over its restricted partition.
            val hasEqConjunct =
              sharedCols.exists(v => !lNull(v) && !rNull(v))
            val splitV =
              if (hasEqConjunct) None
              else sharedCols.find(v => lNull(v) && !rNull(v))
            val joined0 = splitV match {
              case Some(v0) =>
                def pcond(eqV0: Boolean): Column = {
                  val eqs = sharedCols.map(v =>
                    if (v == v0)
                      (if (eqV0) lIds(v) === rr(renames(v)) else lit(true))
                    else if (lNull(v) || rNull(v))
                      lIds(v).isNull || rr(renames(v)).isNull ||
                        lIds(v) === rr(renames(v))
                    else lIds(v) === rr(renames(v)))
                  (eqs ++ fCond.toSeq).reduce(_ && _)
                }
                lIds.filter(lIds(v0).isNotNull)
                  .join(rr, pcond(eqV0 = true), "left_outer")
                  .union(lIds.filter(lIds(v0).isNull)
                    .join(rr, pcond(eqV0 = false), "left_outer"))
              case None => lIds.join(rr, cond, "left_outer")
            }
            val rightOnly = rIds.columns.filterNot(sharedCols.contains)
            val joined = joined0.select(
              (lIds.columns.map(c =>
                (if (sharedCols.contains(c) && lNull(c))
                  coalesce(joined0(c), joined0(renames(c)))
                else joined0(c)).as(c)) ++
                rightOnly.map(v => joined0(renames(v)).as(v))).toIndexedSeq: _*)
            val filtered = applyFilters(joined, lConds, lCondVars, lNull)
            val dead = filtered.columns.filterNot(keepOut)
            val kept =
              if (dead.length == filtered.columns.length)
                filtered.select(nullTerm.as(freshName("c")))
              else filtered.drop(dead.toIndexedSeq: _*)
            // nullable at decode: every right-side column (unmatched
            // left-outer rows) AND every left-nullable var — a UNION
            // branch-partial var that is NOT shared with the right
            // still carries NULL ids and must left-join the dictionary
            Some(decodeCols(kept, kept.columns.toSet,
              rightOnly.toSet ++ kept.columns.filter(v => lNull(v))))
          case _ => None
        }
      case _ => None
    }
  }

  /** Peel FILTER layers (without EXISTS — that needs the solution-join
    * machinery) off an op so the id-plane consumers can see the tree
    * beneath; returns (core, peeled conditions).
    */
  private def stripFilters(op: Op): (Op, Seq[Expr]) = op match {
    case Filter(c, i) if !containsExists(c) =>
      val (core, rest) = stripFilters(i)
      (core, c +: rest)
    case other => (other, Nil)
  }

  /** The keep-set bookkeeping every id-plane pushdown shares: for an
    * encodable `core` whose expressions read `exprVars`, returns the
    * id frame with (query-wide reads ∪ vars shared with leaves
    * OUTSIDE this tree ∪ `exprVars`) kept — cross-leaf join vars stay
    * ids and never decode. None when the tree is not encodable or an
    * expression reads outside the id-reliable scope (a UNION
    * branch-partial var must widen to unbound on the struct plane).
    */
  private def idFrameForExprs(core: Op, exprVars: Set[String]): Option[DataFrame] =
    idTreeScope(core).flatMap { scope =>
      if (!exprVars.subsetOf(scope)) None
      else {
        // a branch-partial var the query consumes cannot be dropped —
        // only the struct plane can widen it to unbound
        val fullCore = Algebra.inScope(core).toSet
        val inTree = countTreeLeaves(core)
        if ((fullCore -- scope).exists(v => refNeeded(v) ||
          leafCounts.getOrElse(v, 0) > inTree.getOrElse(v, 0))) None
        else {
          val externalShared = scope.filter(v =>
            leafCounts.getOrElse(v, 0) > inTree.getOrElse(v, 0))
          idFrameOf(core, refNeeded ++ externalShared ++ exprVars)
        }
      }
    }

  /** Value-expression FILTER stack over an encodable tree: id joins,
    * partial decode of the filter-read vars, filter, then late
    * materialization of the surviving rows.
    */
  private def filterOverIds(op: Op): Option[DataFrame] = {
    val (core, conds) = stripFilters(op)
    if (conds.isEmpty) return None
    val filterVars = conds.flatMap(exprVarSet).toSet
      .intersect(Algebra.inScope(core).toSet)
    idFrameForExprs(core, filterVars).map { ids =>
      decodeSolutions(applyFilters(ids, conds, filterVars))
    }
  }

  /** BIND over an encodable tree (FILTER layers peel too): id joins,
    * partial decode of the expression-read vars, compute the bound
    * term struct, late-materialize everything else.
    */
  private def extendOverIds(input: Op, v: String, e: Expr): Option[DataFrame] = {
    val (core, conds) = stripFilters(input)
    val inScopeCore = Algebra.inScope(core).toSet
    val eVars = exprVarSet(e).intersect(inScopeCore)
    val filterVars = conds.flatMap(exprVarSet).toSet.intersect(inScopeCore)
    idFrameForExprs(core, eVars ++ filterVars).map { ids0 =>
      val ids = applyFilters(ids0, conds, filterVars)
      val withArgs = decodeCols(ids, eVars)
      val ext = withArgs.withColumn(v, compExpr(e, resolver(withArgs)))
      decodeSolutions(ext)
    }
  }

  /** Decode just the filter-read columns of an id frame and apply the
    * conditions with the same EBV boxing the generic Filter case uses.
    */
  private def applyFilters(ids: DataFrame, conds: Seq[Expr],
      filterVars: Set[String],
      nullable: Set[String] = Set.empty): DataFrame =
    if (conds.isEmpty) ids
    else {
      // nullable (union-branch-partial) filter vars decode with a LEFT
      // join to a null term — the condition then evaluates over the
      // unbound var (usually error→false, but BOUND/COALESCE must see
      // the row) instead of the inner decode join dropping it
      val partial = decodeCols(ids, filterVars, nullable)
      conds.foldLeft(partial)((d, c) =>
        d.filter(coalesce(compBool(c, resolver(d)), lit(false))))
    }

  private def exprVarSet(e: Expr): Set[String] = e match {
    case EVar(v) => Set(v)
    case ECall(_, as) => as.flatMap(exprVarSet).toSet
    case EAgg(_, arg, _, _) => arg.map(exprVarSet).getOrElse(Set.empty)
    case _ => Set.empty
  }

  /** Variables referenced by EXPRESSIONS anywhere inside an op tree
    * (filter conditions, BIND/SELECT expressions, join conditions,
    * group keys, aggregate args, sort keys) — the inputs of the
    * correlated-EXISTS check: a var an inner expression reads without
    * the inner pattern binding it.
    */
  private def exprRefVars(op: Op): Set[String] = op match {
    case Bgp(_, _) | Unit0 | ValuesOp(_, _) | FrameOp(_, _, _, _) => Set.empty
    case Join(l, r) => exprRefVars(l) ++ exprRefVars(r)
    case LeftJoin(l, r, c) => exprRefVars(l) ++ exprRefVars(r) ++
      c.map(exprVarSet).getOrElse(Set.empty)
    case Union(l, r) => exprRefVars(l) ++ exprRefVars(r)
    case Minus(l, r) => exprRefVars(l) ++ exprRefVars(r)
    case Filter(c, i) => exprVarSet(c) ++ exprRefVars(i)
    case Extend(i, _, e) => exprVarSet(e) ++ exprRefVars(i)
    case Group(i, keys, aggs) => exprRefVars(i) ++
      keys.flatMap(_._2.map(exprVarSet)).flatten ++
      aggs.flatMap(a => exprVarSet(a._2))
    case Project(i, _) => exprRefVars(i)
    case Distinct(i) => exprRefVars(i)
    case OrderBy(i, ks) => exprRefVars(i) ++ ks.flatMap(k => exprVarSet(k._1))
    case Slice(i, _, _) => exprRefVars(i)
    case Service(_, i, _) => exprRefVars(i)
  }

  /** Outer-only vars an EXISTS sub-pattern's EXPRESSIONS read — the
    * §18.6 correlation set: the sub-pattern itself never binds them,
    * so substitution of the current outer binding is required.
    */
  private def corrVarsOf(sub: Op, outerScope: Set[String]): Set[String] =
    (exprRefVars(sub) -- Algebra.inScope(sub).toSet).intersect(outerScope)

  /** Depth-1 tolerance: an EXISTS whose correlation CAN decorrelate
    * (spine-splittable vs the immediate outer scope) passes — its
    * compile site ([[compCorrelatedExistsFilter]] / [[addExistsFlag]])
    * realizes the substitution; a non-splittable one still rejects
    * here, loudly. DEEPER nesting keeps the strict [[walkExists]]
    * check — substitution does not propagate through two EXISTS
    * levels, so a second-level correlated read must never compile
    * silently-unbound.
    */
  private def tolerateDepth1CorrelatedExists(e: Expr,
      outerScope: Set[String]): Unit = e match {
    case EExists(sub, _) =>
      val subScope = Algebra.inScope(sub).toSet
      val corr = (exprRefVars(sub) -- subScope).intersect(outerScope)
      if (corr.nonEmpty && splitCorrelated(sub, corr).isEmpty)
        throw new UnsupportedOperationException(
          "correlated EXISTS: inner expression references outer-only " +
            s"variable(s) ${corr.map("?" + _).mkString(", ")} from a " +
            "position where §18.6 substitution cannot be realized by " +
            "decorrelation (under UNION/OPTIONAL/MINUS/aggregation/" +
            "LIMIT, escaping a subquery projection, a BIND var used " +
            "in a pattern position, or nested EXISTS)")
      walkExists(sub, outerScope ++ subScope)
    case ECall(_, as) =>
      as.foreach(tolerateDepth1CorrelatedExists(_, outerScope))
    case _ => ()
  }

  /** Decorrelation split: peel the correlated FILTER conditions AND
    * correlated BIND definitions off the sub-pattern's CONJUNCTIVE
    * SPINE (Filter/Extend layers over Join trees — positions where
    * hoisting to the top preserves semantics). A peeled BIND's
    * variable resolves at the consumption site by inlining its
    * expression (that IS §18.6 substitution, realized set-based);
    * any spine FILTER that reads a peeled BIND variable hoists with
    * it. The walk also descends through subquery Project and
    * Distinct boundaries — σ/π and σ/δ commute exactly when the
    * hoisted refs stay within the projected (or correlated) vars,
    * which is checked per boundary.
    *
    * Returns (residual pattern, hoisted conditions, hoisted binds),
    * or None when a correlated reference sits somewhere hoisting
    * would be unsound (under UNION / OPTIONAL / MINUS / aggregation /
    * LIMIT, a peeled ref escaping its subquery projection, a peeled
    * BIND var consumed by a pattern position, or a nested EXISTS in
    * hoisted material).
    */
  private def splitCorrelated(sub: Op,
      corr: Set[String]): Option[(Op, Seq[Expr], Seq[(String, Expr)])] = {
    var failed = false
    def walk(op: Op): (Op, Seq[Expr], Seq[(String, Expr)]) = op match {
      case Filter(c, i) =>
        val (i2, cs, bs) = walk(i)
        val hv = bs.map(_._1).toSet
        if (exprVarSet(c).exists(v => corr(v) || hv(v))) (i2, cs :+ c, bs)
        else (Filter(c, i2), cs, bs)
      case Extend(i, v, e) =>
        val (i2, cs, bs) = walk(i)
        val hv = bs.map(_._1).toSet
        if (exprVarSet(e).exists(x => corr(x) || hv(x))) (i2, cs, bs :+ (v -> e))
        else (Extend(i2, v, e), cs, bs)
      case Join(l, r) =>
        val (l2, cl, bl) = walk(l)
        val (r2, cr, br) = walk(r)
        (Join(l2, r2), cl ++ cr, bl ++ br)
      // UNION (r13): hoisting a branch's correlated condition out of
      // its branch is sound when guarded by a branch DISCRIMINATOR —
      // each side gets BIND(__branch = k), and a hoisted condition c
      // becomes (__branch != k || c): rows of the other branch pass
      // it vacuously. The whole union then compiles as ONE probe and
      // ONE semi/anti join instead of per-branch distribution (the
      // 8-branch gate ran 8 probe pipelines — quadratic through the
      // partition path, a large linear constant through flags; this
      // path is a single shuffle). Nested unions compose: an inner
      // discriminator guard re-guards under the outer one, and
      // other-branch rows see the inner guard's var as unbound so the
      // outer guard short-circuits first. Correlated BINDs under a
      // union stay non-hoistable (inlining cannot be branch-guarded).
      case Union(l, r) =>
        val (l2, cl, bl) = walk(l)
        val (r2, cr, br) = walk(r)
        if (cl.isEmpty && cr.isEmpty && bl.isEmpty && br.isEmpty)
          (Union(l2, r2), Nil, Nil)
        else if (bl.nonEmpty || br.nonEmpty) { failed = true; (op, Nil, Nil) }
        else {
          val b = freshName("branch")
          val zero = EConst(T.num("0")); val one = EConst(T.num("1"))
          def guard(tag: Expr, cs: Seq[Expr]): Seq[Expr] =
            cs.map(c => ECall("||", Seq(ECall("!=", Seq(EVar(b), tag)), c)))
          (Union(Extend(l2, b, zero), Extend(r2, b, one)),
            guard(zero, cl) ++ guard(one, cr), Nil)
        }
      case Project(i, vs) =>
        val (i2, cs, bs) = walk(i)
        if (cs.isEmpty && bs.isEmpty) (op, Nil, Nil)
        else {
          val hv = bs.map(_._1).toSet
          val refs = (cs.flatMap(exprVarSet) ++
            bs.flatMap(b => exprVarSet(b._2))).toSet -- hv
          // hoisting past the projection is sound only if every ref
          // the hoisted material reads survives it (or is correlated,
          // resolved from the outer side); a peeled BIND var the
          // subquery PROJECTS would have to re-enter the residual —
          // not expressible set-based, so reject
          if (refs.forall(v => vs.contains(v) || corr(v)) &&
              !bs.exists(b => vs.contains(b._1)))
            (Project(i2, vs), cs, bs)
          else { failed = true; (op, Nil, Nil) }
        }
      case Distinct(i) =>
        val (i2, cs, bs) = walk(i)
        (Distinct(i2), cs, bs)
      case other => (other, Nil, Nil)
    }
    val (residual, conds, binds) = walk(sub)
    val hv = binds.map(_._1).toSet
    // a correlated/hoisted-bind ref the spine walk could not reach
    // (deep pattern, OPTIONAL condition, pattern position), or a
    // hoisted expression that itself contains an EXISTS, is not
    // decorrelatable this way
    if (failed) None
    else if ((exprRefVars(residual) ++ Algebra.inScope(residual))
      .exists(v => corr(v) || hv(v))) None
    else if ((conds ++ binds.map(_._2)).exists(containsExists)) None
    else Some((residual, conds, binds))
  }

  /** Is `e` a pure disjunction tree of EXISTS nodes? (the only shape
    * the partition-union filter split is exact for — EXISTS never
    * errors, so the negated guards are total)
    */
  private def orOfExists(e: Expr): Boolean = e match {
    case EExists(_, _) => true
    case ECall("||", as) => as.nonEmpty && as.forall(orOfExists)
    case _ => false
  }

  /** EVERY variable name mentioned anywhere in an op tree — pattern
    * positions (including subquery-hidden ones), expression reads,
    * BIND targets, group keys, projection lists. Deliberately an
    * over-approximation of visibility: used as the safety set for
    * [[dropUnreadOptionals]], where counting too much only keeps a
    * droppable OPTIONAL.
    */
  private def allVarMentions(op: Op): Set[String] = op match {
    case b: Bgp => Algebra.inScope(b).toSet
    case ValuesOp(vars, _) => vars.toSet
    case FrameOp(_, vars, _, _) => vars.toSet
    case Unit0 => Set.empty
    case Join(l, r) => allVarMentions(l) ++ allVarMentions(r)
    case LeftJoin(l, r, c) => allVarMentions(l) ++ allVarMentions(r) ++
      c.map(exprVarSet).getOrElse(Set.empty)
    case Union(l, r) => allVarMentions(l) ++ allVarMentions(r)
    case Minus(l, r) => allVarMentions(l) ++ allVarMentions(r)
    case Filter(c, i) => exprVarSet(c) ++ allVarMentions(i)
    case Extend(i, v, e) => allVarMentions(i) + v ++ exprVarSet(e)
    case Group(i, keys, aggs) => allVarMentions(i) ++ keys.map(_._1) ++
      keys.flatMap(_._2.map(exprVarSet)).flatten ++ aggs.map(_._1) ++
      aggs.flatMap(a => exprVarSet(a._2))
    case Project(i, vars) => allVarMentions(i) ++ vars
    case Distinct(i) => allVarMentions(i)
    case OrderBy(i, ks) => allVarMentions(i) ++ ks.flatMap(k => exprVarSet(k._1))
    case Slice(i, _, _) => allVarMentions(i)
    case Service(_, i, _) => allVarMentions(i)
  }

  /** EXISTS asks only non-emptiness, and a left join never removes a
    * left row — so an OPTIONAL inside the sub-pattern whose right-only
    * vars nothing else reads (not the rest of the sub-pattern, not the
    * outer scope the semi-join keys on) cannot influence the answer:
    * drop it. Both a plan simplification (one join less per EXISTS)
    * and the closer of the narrowest remaining §18.6 loud-error
    * class — correlation INSIDE such an OPTIONAL vanishes with it.
    *
    * Recursion stays out of Group/Slice/OrderBy interiors: dropping a
    * left join changes row MULTIPLICITY, which aggregates and LIMIT
    * observe even when the dropped vars are invisible.
    */
  /** TOP-level emptiness-preserving wrappers inside EXISTS: §18.6
    * only asks whether the sub-pattern has ≥1 solution, and ORDER BY
    * never changes that while `LIMIT n` (offset 0, n ≥ 1 or
    * unlimited) preserves exactly non-emptiness — so
    * `EXISTS { P ORDER BY … LIMIT n }` simplifies to `EXISTS { P }`,
    * and correlation under the stripped wrappers decorrelates like
    * any other (closing the LIMIT/ORDER-BY loud classes for the
    * offset-0 form; an OFFSET > 0 slice genuinely observes solution
    * COUNT and stays loud when correlated). Strictly top-of-pattern:
    * under a FILTER the slice decides WHICH rows the filter sees, so
    * recursing would be unsound.
    */
  private def stripExistsTop(op: Op): Op = op match {
    case OrderBy(i, _) => stripExistsTop(i)
    case Slice(i, 0, n) if n != 0 => stripExistsTop(i)
    case Distinct(i) => Distinct(stripExistsTop(i))
    case other => other
  }

  private def dropUnreadOptionals(sub: Op, outerScope: Set[String]): Op = {
    def go(op: Op, outside: Set[String]): Op = op match {
      case LeftJoin(l, r, c) =>
        val rOnly = Algebra.inScope(r).toSet -- Algebra.inScope(l).toSet
        if (rOnly.intersect(outside ++ allVarMentions(l)).isEmpty)
          go(l, outside)
        else LeftJoin(
          go(l, outside ++ allVarMentions(r) ++
            c.map(exprVarSet).getOrElse(Set.empty)),
          go(r, outside ++ allVarMentions(l) ++
            c.map(exprVarSet).getOrElse(Set.empty)), c)
      case Join(l, r) =>
        Join(go(l, outside ++ allVarMentions(r)),
          go(r, outside ++ allVarMentions(l)))
      case Union(l, r) =>
        Union(go(l, outside ++ allVarMentions(r)),
          go(r, outside ++ allVarMentions(l)))
      case Minus(l, r) =>
        Minus(go(l, outside ++ allVarMentions(r)),
          go(r, outside ++ allVarMentions(l)))
      case Filter(c, i) => Filter(c, go(i, outside ++ exprVarSet(c)))
      case Distinct(i) => Distinct(go(i, outside))
      case Project(i, vars) => Project(go(i, outside ++ vars), vars)
      case other => other
    }
    go(sub, outerScope)
  }

  /** Distribute a correlated EXISTS over the UNIONs on its sub-
    * pattern's conjunctive spine: `EXISTS { A UNION B }` ≡
    * `EXISTS{A} || EXISTS{B}` (bag union is non-empty iff either side
    * is), and `Join(X, A UNION B)` distributes to
    * `Join(X,A) UNION Join(X,B)` first — so a correlated condition
    * that sits UNDER a union branch becomes a per-branch EXISTS whose
    * correlation is spine-splittable and decorrelates through the
    * flag path. `NOT EXISTS` dualizes to a conjunction of per-branch
    * negations. Applied only when the un-distributed pattern cannot
    * decorrelate (a single semi-join beats N flag joins when both are
    * legal) and the expansion stays small.
    */
  private def distributeCorrExistsUnions(e: Expr,
      outerScope: Set[String]): Expr = e match {
    case EExists(sub0, pos) =>
      // invisible OPTIONALs go first: cheaper plan, and correlation
      // inside the dropped side decorrelates by vanishing
      val sub = dropUnreadOptionals(stripExistsTop(sub0), outerScope)
      val e1 = EExists(sub, pos)
      val corr = corrVarsOf(sub, outerScope)
      if (corr.isEmpty || splitCorrelated(sub, corr).isDefined) e1
      else {
        def alts(o: Op): Seq[Op] = o match {
          case Union(a, b) => alts(a) ++ alts(b)
          case Join(l, r) =>
            for (x <- alts(l); y <- alts(r)) yield Join(x, y)
          case Filter(c, i) => alts(i).map(Filter(c, _))
          case other => Seq(other)
        }
        val as = alts(sub)
        if (as.size <= 1 || as.size > 8) e1
        else {
          val parts: Seq[Expr] = as.map(a => EExists(a, pos))
          parts.reduce((x, y) => ECall(if (pos) "||" else "&&", Seq(x, y)))
        }
      }
    case ECall(o, args) =>
      ECall(o, args.map(distributeCorrExistsUnions(_, outerScope)))
    case other => other
  }

  /** Resolver layering for hoisted BIND definitions: a hoisted var
    * resolves by compiling its defining expression under the same
    * resolver (chains of correlated BINDs inline transitively —
    * textual substitution realized at the expression level); every
    * other var falls through to `base`. BIND's error-to-unbound
    * semantics carry over: an erroring definition yields NULL, and
    * the consuming hoisted FILTER's EBV treats it as false.
    */
  private def layerBinds(binds: Seq[(String, Expr)],
      base: String => Column): String => Column = {
    val defs = binds.toMap
    def res(v: String): Column = defs.get(v) match {
      case Some(e) => compExpr(e, res)
      case None => base(v)
    }
    res
  }

  /** [[layerBinds]] with every bind value gated on a non-null match
    * indicator: on an UNMATCHED left-outer row the bind vars must read
    * as UNBOUND (their Extend never ran — the optional side produced
    * no solution), not as the substituted-outer evaluation. Without
    * the gate, `EXISTS { l OPTIONAL { r BIND(f(?outer) AS ?z) }
    * FILTER(BOUND(?z)) }` wrongly passes BOUND on l-rows with no r
    * match. During join-condition evaluation the indicator is always
    * non-null (the right row is present), so matched semantics are
    * unchanged.
    */
  private def layerBindsGated(binds: Seq[(String, Expr)],
      base: String => Column, matched: Column): String => Column = {
    val defs = binds.toMap
    def res(v: String): Column = defs.get(v) match {
      case Some(e) => when(matched.isNotNull, compExpr(e, res))
      case None => base(v)
    }
    res
  }

  /** Free mentions (pattern vars ∪ expression reads, recursively
    * including deeper EXISTS levels) of every EExists nested inside
    * `op`'s expressions — NOT `op`'s own top-level reads. These are
    * the vars a second-level §18.6 substitution must deliver;
    * [[exprRefVars]] deliberately stops at EExists boundaries, so the
    * depth-1 machinery never sees them.
    */
  private def nestedExistsVars(op: Op): Set[String] = {
    def exprW(e: Expr): Set[String] = e match {
      case EExists(s, _) =>
        Algebra.inScope(s).toSet ++ exprRefVars(s) ++ nestedExistsVars(s)
      case ECall(_, as) => as.flatMap(exprW).toSet
      case EAgg(_, a, _, _) => a.map(exprW).getOrElse(Set.empty)
      case _ => Set.empty
    }
    op match {
      case Filter(c, i) => exprW(c) ++ nestedExistsVars(i)
      case Extend(i, _, e) => exprW(e) ++ nestedExistsVars(i)
      case Join(l, r) => nestedExistsVars(l) ++ nestedExistsVars(r)
      case LeftJoin(l, r, c) => nestedExistsVars(l) ++ nestedExistsVars(r) ++
        c.map(exprW).getOrElse(Set.empty)
      case Union(l, r) => nestedExistsVars(l) ++ nestedExistsVars(r)
      case Minus(l, r) => nestedExistsVars(l) ++ nestedExistsVars(r)
      case Group(i, keys, aggs) => nestedExistsVars(i) ++
        keys.flatMap(_._2.map(exprW)).flatten ++
        aggs.flatMap(a => exprW(a._2))
      case Project(i, _) => nestedExistsVars(i)
      case Distinct(i) => nestedExistsVars(i)
      case OrderBy(i, ks) => nestedExistsVars(i) ++ ks.flatMap(k => exprW(k._1))
      case Slice(i, _, _) => nestedExistsVars(i)
      case Service(_, i, _) => nestedExistsVars(i)
      case _ => Set.empty
    }
  }

  /** Vars a nested EExists inside `sub` mentions that `sub` itself
    * does not bind but the outer scope does — the depth-≥2 §18.6
    * correlation set. Under the engine's join-compatibility school
    * this covers BOTH an inner expression read of an outer var AND an
    * inner PATTERN position naming one (the latter compiled silently
    * unconstrained before r13).
    */
  private def nestedEscapeVars(sub: Op, outerScope: Set[String]): Set[String] =
    (nestedExistsVars(sub) -- Algebra.inScope(sub).toSet).intersect(outerScope)

  /** Inject the key frame `leaf` below every Filter / Extend on
    * `sub`'s conjunctive spine whose expressions mention a nested
    * EXISTS reaching an escaping var. Spine = Filter/Extend/Join/
    * Distinct chains only: below Group the extra key columns would
    * corrupt aggregate VALUES (multiplicity), below Project they
    * would be dropped before the outer semi-join could key on them,
    * and Union/Minus/LeftJoin/Slice interiors observe multiplicity or
    * scope in ways the splice would change. Returns the rewritten op
    * plus whether any splice shares no var with its input (the
    * dependent-cross case the caller must bound), or None when a
    * mentioning site is off-spine — the loud checks then fire.
    */
  private def injectNestedKeyFrame(sub: Op, leaf: FrameOp,
      esc: Set[String]): Option[(Op, Boolean)] = {
    def mentionsEsc(e: Expr): Boolean = e match {
      case EExists(s, _) =>
        (Algebra.inScope(s).toSet ++ exprRefVars(s) ++ nestedExistsVars(s))
          .intersect(esc).nonEmpty
      case ECall(_, as) => as.exists(mentionsEsc)
      case EAgg(_, a, _, _) => a.exists(mentionsEsc)
      case _ => false
    }
    var ok = true
    var cross = false
    def splice(i: Op): Op = {
      if (Algebra.inScope(i).toSet.intersect(leaf.vars.toSet).isEmpty)
        cross = true
      Join(leaf, i)
    }
    def walk(op: Op, onSpine: Boolean): Op = op match {
      case Filter(c, i) =>
        val i2 = walk(i, onSpine)
        if (!mentionsEsc(c)) Filter(c, i2)
        else if (onSpine) Filter(c, splice(i2))
        else { ok = false; op }
      case Extend(i, v, e) =>
        val i2 = walk(i, onSpine)
        if (!mentionsEsc(e)) Extend(i2, v, e)
        else if (onSpine) Extend(splice(i2), v, e)
        else { ok = false; op }
      case Join(l, r) => Join(walk(l, onSpine), walk(r, onSpine))
      case Distinct(i) => Distinct(walk(i, onSpine))
      case other =>
        if (nestedExistsVars(other).intersect(esc).nonEmpty) ok = false
        other
    }
    val out = walk(sub, onSpine = true)
    if (ok) Some((out, cross)) else None
  }

  /** `FILTER [NOT] EXISTS` whose sub-pattern contains a DEEPER EXISTS
    * mentioning outer-only vars (nested §18.6): realize the
    * substitution innermost-first against an extended key frame —
    * splice `K = distinct outer rows over (escaping vars ∪ outer∩sub
    * pattern vars)` into the sub-pattern's spine at each mentioning
    * site, which puts the escaping vars IN SCOPE there, so the inner
    * EXISTS compiles as an ordinary depth-1 correlation at its own
    * site (recursively: a third level re-enters this path). The outer
    * EXISTS then re-dispatches with the escapes resolved internally,
    * and its semi/anti join keys on shared ∪ escaping columns. The
    * shared pattern vars ride in K so the dependent join stays an
    * equi-join; a site sharing nothing falls back to a bounded
    * dependent cross (the key-frame guard shared with the MINUS /
    * OPTIONAL / aggregate classes).
    */
  private def compNestedExistsFilter(input: Op, sub: Op, positive: Boolean,
      outerScope: Set[String]): Option[DataFrame] = {
    val esc = nestedEscapeVars(sub, outerScope)
    val in = comp(input)
    if (!esc.subsetOf(in.columns.toSet)) return None
    val shared = in.columns.toSet.intersect(Algebra.inScope(sub).toSet)
    val keyVars = (esc ++ shared).toSeq.sorted
    val nullable = Algebra.maybeUnbound(input).intersect(keyVars.toSet)
    val kf = in.select(keyVars.map(in(_)): _*).distinct()
    // store-derived keys (no BIND/aggregate/VALUES provenance) let
    // the spliced frame ride the id plane at the inner compile site
    val idSafe = !keyVars.exists(syntheticVars(input))
    injectNestedKeyFrame(sub, FrameOp(kf, keyVars, nullable, idSafe), esc).map {
      case (sub2, crossSite) =>
        if (crossSite) {
          val n = kf.count()
          if (n > 1000) throw new UnsupportedOperationException(
            "correlated nested EXISTS: an injection site shares no " +
              s"variable with the key frame and the dependent cross " +
              s"join spans $n > 1000 distinct keys")
        }
        comp(Filter(EExists(sub2, positive), input))
    }
  }

  /** Id-plane probe frame for the correlated-EXISTS family (r14):
    * compiles `op` with the pattern vars in `keep` as 8-byte term-id
    * columns (the store's xxhash64(lex, kind) convention —
    * [[graft.core.TermDictionary.termId]], the SAME identity
    * [[termEq]] compares), skipping the result-edge dictionary decode
    * entirely. Two shapes beyond [[idFrameOf]]'s trees:
    *
    *  - `Extend(i, v, EConst(t))` — the union branch-DISCRIMINATOR
    *    [[splitCorrelated]]'s hoist emits: the bound var ships as a
    *    compact LONG TAG column (no dictionary involvement — the
    *    constant may not even exist in the store vocabulary; no
    *    struct in the exchange either), and the returned const map
    *    carries tag → constant so [[constTagCol]] reconstructs the
    *    term struct expression-side, after the shuffle;
    *  - residual uncorrelated FILTER layers (left in place by the
    *    split) — evaluated inside with a partial decode of just
    *    their read vars into throwaway columns, join keys untouched.
    *
    * Returns (frame, nullable kept vars — union-branch-partial ids
    * ride as NULL, the id twin of struct null-widening —, const var →
    * (tag column name, tag → constant)). None when a node is not
    * expressible; the caller stays on the struct plane.
    */
  private def corrProbeFrame(op: Op, keep: Set[String]): Option[ExSide] =
    op match {
    case Extend(i, v, EConst(t)) =>
      corrProbeFrame(i, keep - v).map { case (df, nul, cs) =>
        if (!keep.contains(v)) (df, nul, cs)
        else {
          val cn = freshName("k")
          fresh += 1
          val tag = fresh.toLong
          (df.withColumn(cn, lit(tag)), nul, cs + (v -> (cn, Map(tag -> t))))
        }
      }
    case Union(a, b) =>
      for {
        (fa, na, ca) <- corrProbeFrame(a, keep)
        (fb, nb, cb) <- corrProbeFrame(b, keep)
        // a var must not be a pattern id on one side and a const
        // struct on the other (mixed representation)
        if !ca.keySet.exists(fb.columns.contains) &&
          !cb.keySet.exists(fa.columns.contains)
        idVarsA = fa.columns.toSet -- ca.values.map(_._1)
        idVarsB = fb.columns.toSet -- cb.values.map(_._1)
        // same-named id columns must agree on representation (a long
        // id vs a raw-g string bails, as in idFrameOf's union)
        if idVarsA.intersect(idVarsB).forall(c =>
          fa.schema(c).dataType == fb.schema(c).dataType)
      } yield {
        val idVars = (idVarsA ++ idVarsB).toSeq.sorted
        val constVars = (ca.keySet ++ cb.keySet).toSeq.sorted
        val outConst = constVars.map { v =>
          val tags = ca.get(v).map(_._2).getOrElse(Map.empty[Long, T]) ++
            cb.get(v).map(_._2).getOrElse(Map.empty[Long, T])
          v -> (freshName("k"), tags)
        }.toMap
        def widen(f: DataFrame, cm: Map[String, (String, Map[Long, T])],
            other: DataFrame) =
          f.select((idVars.map(c =>
            (if (f.columns.contains(c)) f(c)
            else lit(null).cast(other.schema(c).dataType)).as(c)) ++
            constVars.map(v =>
              cm.get(v).map(p => f(p._1))
                .getOrElse(lit(null).cast(LongType))
                .as(outConst(v)._1)))
            .toIndexedSeq: _*)
        val out = widen(fa, ca, fb).unionByName(widen(fb, cb, fa))
        val nullable = na ++ nb ++
          (idVarsA diff idVarsB) ++ (idVarsB diff idVarsA) ++
          constVars.filterNot(v => ca.contains(v) && cb.contains(v))
        (out, nullable.intersect(keep), outConst)
      }
    case Filter(c, i) if !containsExists(c) =>
      val fv = exprVarSet(c).intersect(Algebra.inScope(i).toSet)
      corrProbeFrame(i, keep ++ fv).map { case (df, nul, cs) =>
        // const vars read by the condition resolve from their struct
        // columns; pattern vars decode into throwaway copies so the
        // id columns stay join keys
        val patFv = (fv -- cs.keySet).filter(df.columns.contains)
        val tmp = patFv.map(v => v -> freshName("fv")).toMap
        val copied = tmp.foldLeft(df) { case (d, (v, n)) =>
          d.withColumn(n, d(v))
        }
        val dec = decodeCols(copied, tmp.values.toSet,
          tmp.collect { case (v, n) if nul(v) => n }.toSet)
        val res: String => Column = v =>
          if (cs.contains(v)) constTagCol(dec(cs(v)._1), cs(v)._2)
          else if (tmp.contains(v)) dec(tmp(v))
          else nullTerm
        val filtered = dec
          .filter(coalesce(compBool(c, res), lit(false)))
          .drop(tmp.values.toSeq: _*)
        // keep the contract lean: columns pulled in only for the
        // filter drop out again
        val extraIds = (fv -- keep).filter(filtered.columns.contains)
        val extraConst = cs.view.filterKeys(v => fv(v) && !keep(v))
          .values.map(_._1).toSeq
        (filtered.drop((extraIds.toSeq ++ extraConst): _*), nul,
          cs.view.filterKeys(keep).toMap)
      }
    case _ =>
      idTreeScopeWide(op) match {
        case Some((_, nul)) =>
          idFrameOf(op, keep).map(f => (f, nul.intersect(keep), Map.empty))
        case None => None
      }
  }

  /** On-the-fly 8-byte id of a solution-frame term struct: the SAME
    * xxhash64(lex, kind) identity the store ids carry
    * ([[graft.core.TermDictionary.termId]]) — a join of this key
    * against an encoded column is exactly a [[termEq]] join. NULL
    * struct → NULL key (xxhash64 alone would fold nulls into the
    * seed and collide with nothing-in-particular).
    */
  private def termKey(c: Column): Column =
    when(c.isNull, lit(null).cast(LongType))
      .otherwise(graft.core.TermDictionary.termId(c))

  /** Vars whose bindings may NOT be store terms (BIND / aggregate /
    * VALUES / SERVICE provenance) — the dictionary may not contain
    * them, so a frame keyed on such a var must stay off the id plane
    * (its survivors could not re-decode). Conservative walk.
    */
  private def syntheticVars(op: Op): Set[String] = op match {
    case Extend(i, v, _) => syntheticVars(i) + v
    case Group(i, keys, aggs) => syntheticVars(i) ++ aggs.map(_._1) ++
      keys.collect { case (v, Some(_)) => v }
    case ValuesOp(vars, _) => vars.toSet
    case Service(_, i, _) => Algebra.inScope(i).toSet
    case FrameOp(_, vars, _, idSafe) =>
      if (idSafe) Set.empty else vars.toSet
    case Join(l, r) => syntheticVars(l) ++ syntheticVars(r)
    case LeftJoin(l, r, _) => syntheticVars(l) ++ syntheticVars(r)
    case Union(l, r) => syntheticVars(l) ++ syntheticVars(r)
    case Minus(l, r) => syntheticVars(l) ++ syntheticVars(r)
    case Filter(_, i) => syntheticVars(i)
    case Project(i, _) => syntheticVars(i)
    case Distinct(i) => syntheticVars(i)
    case OrderBy(i, _) => syntheticVars(i)
    case Slice(i, _, _) => syntheticVars(i)
    case Bgp(_, _) | Unit0 => Set.empty
  }

  /** Reconstruct a const-BIND var's term struct from its shipped long
    * tag (see [[corrProbeFrame]]): a CASE over the (small, per-query)
    * tag registry. A NULL tag (branch-partial discriminator) matches
    * nothing → NULL term = unbound, exactly the struct plane's union
    * widening. Pure expression layer — the exchange below shipped
    * only the 8-byte tag.
    */
  private def constTagCol(tagCol: Column, tags: Map[Long, T]): Column =
    tags.toSeq.sortBy(_._1).foldLeft(lit(null).cast(termType)) {
      case (acc, (tag, t)) => when(tagCol === lit(tag), constCol(t))
        .otherwise(acc)
    }

  /** Correlated `FILTER [NOT] EXISTS`: a spine-splittable sub-pattern
    * runs as the decorrelated semi/anti join ([[existsJoin]]); else a
    * top-level MINUS, visible OPTIONAL or aggregation interior runs
    * per key. Each evaluator runs on the id plane, else on the struct
    * plane ([[onExistsPlane]]).
    */
  private def compCorrelatedExistsFilter(input: Op, sub: Op,
      positive: Boolean, outerScope: Set[String]): DataFrame = {
    val corr = corrVarsOf(sub, outerScope)
    val splitOpt = splitCorrelated(sub, corr)
    if (splitOpt.isEmpty) sub match {
      // EXISTS { l MINUS r } with the correlation confined to r's
      // spine: hoisting past the negation is unsound, but the
      // key-frame machinery realizes it as a per-key MINUS
      case Minus(lOp, rOp) =>
        compCorrExistsMinus(input, lOp, rOp, outerScope, positive) match {
          case Some(df) => return df
          case None => ()
        }
      case _ =>
        // VISIBLE-OPTIONAL class (r11): filters stacked above a
        // top-level LeftJoin whose right-side vars they read, with the
        // correlation inside the OPTIONAL's embedded filter, its
        // spine, or the filters above — the key-frame machinery
        // extends to LeftJoin the same way it did to MINUS
        def peel(o: Op, acc: Seq[Expr]): (Op, Seq[Expr]) = o match {
          case Filter(c, i) => peel(i, c +: acc)
          case other => (other, acc)
        }
        peel(sub, Nil) match {
          case (LeftJoin(lOp, rOp, c), above) =>
            compCorrExistsOptional(input, lOp, rOp, c, above, corr,
              outerScope, positive) match {
              case Some(df) => return df
              case None => ()
            }
          case _ => ()
        }
        // AGGREGATION interior (r11): Project/Distinct/Filter wrappers
        // over Group, correlation in the HAVING filters or the
        // grouped pattern's conjunctive spine — the key frame joins
        // the pattern BEFORE aggregation and the group keys extend by
        // the key columns, realizing §18.6 substitution per key
        compCorrExistsAggregate(input, sub, corr, outerScope,
          positive) match {
          case Some(df) => return df
          case None => ()
        }
    }
    val (residual, conds, binds) = splitOpt.getOrElse(
      throw new UnsupportedOperationException(
        "correlated EXISTS: inner expression references outer-only " +
          s"variable(s) ${corr.map("?" + _).mkString(", ")} from a " +
          "position where §18.6 substitution cannot be realized by " +
          "decorrelation (under UNION/aggregation/OFFSET, a " +
          "non-top-level or oversized-key-frame MINUS or OPTIONAL, " +
          "escaping a subquery projection, a BIND var used in a " +
          "pattern position, or nested EXISTS)"))
    // nested EXISTS deeper in the residual see the widened scope
    walkExists(residual, outerScope ++ Algebra.inScope(residual))
    onExistsPlane(input, Seq(residual))(
      existsJoin(_, residual, conds, binds, positive)).get
  }

  /** Correlated `FILTER [NOT] EXISTS` via decorrelation: §18.6 says
    * the current outer binding substitutes into the EXISTS pattern;
    * for correlated conditions on the conjunctive spine that is
    * equivalent to evaluating the residual pattern ONCE (set-based,
    * no per-row re-execution) and turning each hoisted condition into
    * a JOIN condition between the outer row and the sub-solutions —
    * the classic subquery decorrelation, which is also the shape that
    * scales (one semi/anti join instead of |outer| pattern runs).
    * Substitution semantics for a var bound on BOTH sides: the outer
    * binding wins (that is what textual substitution would produce);
    * an outer-unbound shared var falls back to the inner binding. The
    * id plane refuses a condition that reads such a var.
    */
  private def existsJoin(p: ExistsPlane, residual: Op, conds: Seq[Expr],
      binds: Seq[(String, Expr)], positive: Boolean): Option[DataFrame] = {
    val shared = p.scope.intersect(p.innerScope(residual)).toSeq.sorted
    val condVars = condReads(conds, binds)
    if (p.ids && condVars.exists(shared.contains)) return None
    val condOuter = condVars.intersect(p.scope)
    val side = p.inner(residual, shared.toSet ++ (condVars -- p.scope), shared)
      .getOrElse(return None)
    val outer = p.outer(shared, condOuter).getOrElse(return None)
    val (left, oRead) =
      p.reads(outer, condOuter.map(v => v -> v).toMap, p.outerNull)
    val (rr, ren, iRead) = narrowInner(p, side, shared, condVars)
    val keyCond = shared.map(v =>
      p.compatible(p.outerNull(v) || side._2(v), left(v), rr(ren(v))))
    val base: String => Column = v =>
      (oRead.get(v).map(left(_)), iRead.get(v)) match {
        case (Some(o), Some(i)) => coalesce(o, i) // substitution: outer wins
        case (o, i) => o.orElse(i).getOrElse(nullTerm)
      }
    val cond = holds(conds, layerBinds(binds, base))
    Some(p.edge(left.join(rr, (keyCond :+ cond).reduce(_ && _),
      if (positive) "left_semi" else "left_anti")))
  }

  /** Vars the hoisted conditions and bind definitions read, the bind
    * targets excluded (those resolve through [[layerBinds]]).
    */
  private def condReads(conds: Seq[Expr], binds: Seq[(String, Expr)]): Set[String] =
    (conds.flatMap(exprVarSet) ++ binds.flatMap(b => exprVarSet(b._2))).toSet --
      binds.map(_._1)

  /** Every condition holds under `res`; an erroring one is false. */
  private def holds(conds: Seq[Expr], res: String => Column): Column =
    conds.map(c => coalesce(compBool(c, res), lit(false)))
      .reduceOption(_ && _).getOrElse(lit(true))

  /** An inner operand narrowed to the join vars `join`, its const tags
    * and the term columns of the vars in `read` it binds, every column
    * renamed fresh. Returns the frame, each join var's column name and
    * each read var's term column.
    */
  private def narrowInner(p: ExistsPlane, side: ExSide, join: Seq[String],
      read: Set[String]): (DataFrame, Map[String, String], Map[String, Column]) = {
    val (f, nul, consts) = side
    val (dec, rd) = p.reads(f, read.filter(v =>
      f.columns.contains(v) && !consts.contains(v)).map(v => v -> v).toMap, nul)
    val keep = (join.filter(dec.columns.contains) ++
      consts.values.map(_._1) ++ rd.values).distinct
    val ren = keep.map(c => c -> freshName(c)).toMap
    val rr = keep.foldLeft(dec.select(keep.map(dec(_)): _*))((d, c) =>
      d.withColumnRenamed(c, ren(c)))
    (rr, ren, rd.map { case (v, c) => v -> rr(ren(c)) } ++
      consts.map { case (v, (c, tags)) => v -> constTagCol(rr(ren(c)), tags) })
  }

  /** Step 1 of the per-key scheme ([[perKeyMinus]]): the distinct
    * outer rows over `keyCols`, renamed fresh (the returned map), plus
    * the term column of each key var in `read`.
    */
  private def keyFrame(p: ExistsPlane, outer: DataFrame,
      keyCols: Seq[String], read: Set[String])
      : (DataFrame, Map[String, String], Map[String, String]) = {
    val kRen = keyCols.map(v => v -> freshName(v)).toMap
    val keys = keyCols.foldLeft(
      outer.select(keyCols.map(outer(_)): _*).distinct())((d, v) =>
      d.withColumnRenamed(v, kRen(v)))
    val (kd, kRead) =
      p.reads(keys, read.map(v => v -> kRen(v)).toMap, p.outerNull)
    (kd, kRen, kRead)
  }

  /** Step 2 of the per-key scheme: cand = K ⋈ l, the per-key solutions
    * of the uncorrelated left operand — a dependent CROSS join, bounded
    * by [[boundedKeyFrame]], when l shares nothing with the outer.
    * Returns cand, an l var's value on a cand row (the outer key wins
    * where joined) and the term column of each var in `read`.
    */
  private def perKeyCand(p: ExistsPlane, keys: DataFrame,
      kRen: Map[String, String], sharedIL: Seq[String], l: ExSide,
      read: Set[String]): Option[(DataFrame, String => Column, Map[String, Column])] = {
    val (lf, lNull, _) = l
    val (ld, rd) =
      p.reads(lf, read.filter(lf.columns.contains).map(v => v -> v).toMap, lNull)
    val lRen = ld.columns.map(c => c -> freshName(c)).toMap
    val lr = ld.columns.foldLeft(ld)((d, c) => d.withColumnRenamed(c, lRen(c)))
    def nullable(v: String) = p.outerNull(v) || lNull(v)
    val cand = sharedIL.map(v =>
      p.compatible(nullable(v), keys(kRen(v)), lr(lRen(v))))
      .reduceOption(_ && _) match {
      case Some(c) => keys.join(lr, c)
      case None => boundedKeyFrame(keys).getOrElse(return None).crossJoin(lr)
    }
    def lVal(v: String): Column =
      if (sharedIL.contains(v) && nullable(v))
        coalesce(cand(kRen(v)), cand(lRen(v)))
      else if (sharedIL.contains(v)) cand(kRen(v))
      else cand(lRen(v))
    Some((cand, lVal, rd.map { case (v, c) => v -> cand(lRen(c)) }))
  }

  /** Step 4 of the per-key scheme: EXISTS(key) = the key has ≥ 1 row in
    * `surv`; the outer semi/anti joins on the key columns.
    */
  private def keyVerdict(p: ExistsPlane, outer: DataFrame,
      keyCols: Seq[String], kRen: Map[String, String], surv: DataFrame,
      positive: Boolean): DataFrame = {
    val ok = surv.select(keyCols.map(v => surv(kRen(v))): _*).distinct()
    val eq = keyCols.map(v => outer(v) <=> ok(kRen(v))).reduce(_ && _)
    p.edge(outer.join(ok, eq, if (positive) "left_semi" else "left_anti"))
  }

  /** The 1000-key guard of a dependent cross join on the struct plane:
    * the distinct key frame materializes ONCE, as one checkpoint that
    * both the bound test and the join read, and its row count comes
    * from the checkpoint's own job. `None` past the bound, with the
    * oversized frame's blocks freed by the scope at once — the bail
    * path is exactly where the leaf is big.
    */
  private def boundedKeyFrame(keys: DataFrame): Option[DataFrame] =
    graft.plans.Rounds { r =>
      val (ck, p) = r.probe(keys, count(lit(1)))
      if (p.getLong(0) > 1000) None else Some(ck)
    }

  private def compCorrExistsMinus(input: Op, l: Op, r: Op,
      outerScope: Set[String], positive: Boolean): Option[DataFrame] = {
    if (corrVarsOf(l, outerScope).nonEmpty) return None
    val corrR = corrVarsOf(r, outerScope)
    if (corrR.isEmpty) return None
    val (rRes, conds, binds) = splitCorrelated(r, corrR).getOrElse(return None)
    walkExists(l, outerScope ++ Algebra.inScope(l))
    walkExists(rRes, outerScope ++ Algebra.inScope(rRes))
    // disjoint domains: the MINUS removes nothing whatever the
    // correlated conditions decide — compile as plain EXISTS { l }
    val rScope = Algebra.inScope(rRes).toSet
    if (!Algebra.inScope(l).exists(rScope))
      return Some(comp(Filter(EExists(l, positive), input)))
    onExistsPlane(input, Seq(l, rRes))(
      perKeyMinus(_, l, rRes, conds, binds, corrR, positive))
  }

  /** `FILTER [NOT] EXISTS { l MINUS r }` with §18.6 expression
    * correlation confined to r's conjunctive spine (l uncorrelated).
    * Hoisting a condition OUT of the MINUS right side is unsound (it
    * sits under negation), so the substitution is realized per key:
    *
    *   1. key frame K = distinct outer rows over (outer∩l pattern
    *      vars ∪ correlated vars) — each distinct correlated binding
    *      decides independently;
    *   2. cand = K ⋈ l (the per-key l solutions; a dependent CROSS
    *      join only when l shares nothing with the outer, guarded by
    *      a key-count bound — that blowup is inherent to dependent
    *      negation, not an artifact);
    *   3. per-key MINUS = one anti join of cand against r's residual
    *      with [[compMinus]]'s compatibility + domain-overlap
    *      condition AND the hoisted correlated conditions reading the
    *      key columns (substitution, realized set-based);
    *   4. EXISTS(key) = key survives with ≥ 1 row; semi/anti join
    *      back to the outer on the key frame.
    *
    * Disjoint l/r domains short-circuit to plain `EXISTS { l }`
    * (MINUS removes nothing, §18.5). Correlation in r's PATTERN
    * positions is out of scope here as everywhere in the engine
    * (bottom-up evaluation school); only EXPRESSION refs correlate.
    * The id plane refuses the dependent cross and a condition that
    * reads an l-only var.
    */
  private def perKeyMinus(p: ExistsPlane, l: Op, rRes: Op, conds: Seq[Expr],
      binds: Seq[(String, Expr)], corrR: Set[String],
      positive: Boolean): Option[DataFrame] = {
    val lScope = p.innerScope(l)
    val rScope = p.innerScope(rRes)
    val sharedIL = p.scope.intersect(lScope).toSeq.sorted
    val keyCols = sharedIL ++ corrR.toSeq.sorted.filterNot(sharedIL.contains)
    if (!keyCols.forall(p.scope)) return None
    val condVars = condReads(conds, binds)
    // resolution priority: key, then r, then l
    val condR = condVars.intersect(rScope) -- keyCols
    val condL = condVars -- keyCols -- rScope
    if (p.ids && (sharedIL.isEmpty || condL.nonEmpty)) return None
    val minusShared = lScope.intersect(rScope).toSeq.sorted
    val outer = p.outer(keyCols, Set.empty).getOrElse(return None)
    val lSide = p.inner(l, sharedIL.toSet ++ minusShared,
      sharedIL ++ minusShared).getOrElse(return None)
    if (lSide._3.nonEmpty) return None
    val rSide = p.inner(rRes, minusShared.toSet ++ condR, minusShared)
      .getOrElse(return None)
    val (keys, kRen, kRead) =
      keyFrame(p, outer, keyCols, condVars.intersect(keyCols.toSet))
    val (cand, lVal, lRead) =
      perKeyCand(p, keys, kRen, sharedIL, lSide, condL).getOrElse(return None)
    val (rr, rRen, rRead) = narrowInner(p, rSide, minusShared, condR)
    val nullLR = lSide._2 ++ rSide._2
    val compat = minusShared.map(v =>
      p.compatible(nullLR(v), lVal(v), rr(rRen(v)))).reduce(_ && _)
    val overlap = minusShared.map(v =>
      if (nullLR(v)) lVal(v).isNotNull && rr(rRen(v)).isNotNull
      else lit(true)).reduce(_ || _)
    val res: String => Column = v => kRead.get(v).map(cand(_))
      .orElse(rRead.get(v)).orElse(lRead.get(v)).getOrElse(nullTerm)
    val surv = cand.join(rr,
      compat && overlap && holds(conds, layerBinds(binds, res)), "left_anti")
    Some(keyVerdict(p, outer, keyCols, kRen, surv, positive))
  }

  private def compCorrExistsOptional(input: Op, l: Op, r: Op,
      cond: Option[Expr], above: Seq[Expr], corr: Set[String],
      outerScope: Set[String], positive: Boolean): Option[DataFrame] = {
    if (corrVarsOf(l, outerScope).nonEmpty) return None
    // an r-ONLY pattern var also bound in the OUTER scope takes part
    // in the outer semi-join's compatibility (an optional extension
    // binding it differently is incompatible) — the key frame below
    // keys only on (outer∩l ∪ correlated) vars, so that class must
    // stay loud, and the EXISTS{l} short-circuit would drop it
    if ((Algebra.inScope(r).toSet -- Algebra.inScope(l).toSet)
        .intersect(outerScope).nonEmpty) return None
    if (above.isEmpty)
      return Some(comp(Filter(EExists(l, positive), input)))
    val corrR = corrVarsOf(r, outerScope)
    val (rRes, rConds, rBinds) =
      splitCorrelated(r, corrR).getOrElse(return None)
    walkExists(l, outerScope ++ Algebra.inScope(l))
    walkExists(rRes, outerScope ++ Algebra.inScope(rRes))
    onExistsPlane(input, Seq(l, rRes))(perKeyOptional(_, l, rRes, cond,
      above, rConds, rBinds, corr, positive))
  }

  /** `FILTER [NOT] EXISTS { l OPTIONAL { r } FILTER f… }` with §18.6
    * expression correlation anywhere in the OPTIONAL's embedded
    * filter, r's conjunctive spine, or the filters above — the
    * VISIBLE-OPTIONAL class (`?nm` IS read by `f`), which the
    * invisible-OPTIONAL drop cannot touch. Hoisting out of a left
    * join's right side is unsound (an unmatched row must yield
    * unbound, not a dropped condition), so the substitution is
    * realized per key, steps 1, 2 and 4 as in [[perKeyMinus]]; step
    * 3, the per-key OPTIONAL, is ONE left-outer join of cand against
    * r's residual with the l/r compatibility condition AND the
    * substituted correlated/join conditions (an unmatched cand row
    * keeps null r-columns — BOUND sees unbound, exactly §18.6's
    * per-binding evaluation, set-based), then the above-filters
    * evaluate post-join with the substituted resolver.
    *
    * With no filters above, a left join cannot remove l rows, so
    * `EXISTS { l OPTIONAL r }` short-circuits to `EXISTS { l }`
    * whatever the correlation inside r decides. The id plane refuses
    * the dependent cross.
    */
  private def perKeyOptional(p: ExistsPlane, l: Op, rRes: Op,
      cond: Option[Expr], above: Seq[Expr], rConds: Seq[Expr],
      rBinds: Seq[(String, Expr)], corr: Set[String],
      positive: Boolean): Option[DataFrame] = {
    val lScope = p.innerScope(l)
    val rScope = p.innerScope(rRes)
    val sharedIL = p.scope.intersect(lScope).toSeq.sorted
    if (p.ids && sharedIL.isEmpty) return None
    val keyCols = sharedIL ++ corr.toSeq.sorted.filterNot(sharedIL.contains)
    // a correlated var must be an outer COLUMN to key on
    if (!keyCols.forall(p.scope)) return None
    val condVars = condReads(above ++ cond.toSeq ++ rConds, rBinds)
    val ljShared = lScope.intersect(rScope).toSeq.sorted
    val outer = p.outer(keyCols, Set.empty).getOrElse(return None)
    // NOT minus rScope: a var bound by both sides must also read on
    // the l side — unmatched LeftJoin rows carry the SPINE's binding
    // (§15.1), so reads fall back l-ward when the r side is null
    val condL = condVars.intersect(lScope) -- keyCols
    val lSide = p.inner(l, sharedIL.toSet ++ ljShared ++ condL,
      sharedIL ++ ljShared).getOrElse(return None)
    if (lSide._3.nonEmpty) return None
    val condR = condVars.intersect(rScope) -- keyCols
    val rSide = p.inner(rRes, ljShared.toSet ++ condR, ljShared)
      .getOrElse(return None)
    val (keys, kRen, kRead) =
      keyFrame(p, outer, keyCols, condVars.intersect(keyCols.toSet))
    val (cand, lVal, lRead) =
      perKeyCand(p, keys, kRen, sharedIL, lSide, condL).getOrElse(return None)
    val (rr0, rRen, rRead) = narrowInner(p, rSide, ljShared, condR)
    // non-null iff the left-outer join found an r match — gates the
    // hoisted correlated BINDs (unmatched ⇒ unbound)
    val matched = freshName("matched")
    val rr = rr0.withColumn(matched, lit(true))
    val nullLR = lSide._2 ++ rSide._2
    val compat = ljShared.map(v =>
      p.compatible(nullLR(v), lVal(v), rr(rRen(v))))
      .reduceOption(_ && _).getOrElse(lit(true))
    val res: String => Column = v => kRead.get(v).map(cand(_)).getOrElse(
      (rRead.get(v), lRead.get(v)) match {
        // bound on BOTH sides: matched rows read the (compatible)
        // merged value, unmatched rows fall back to the spine's
        case (Some(rc), Some(lc)) => coalesce(rc, lc)
        case (rc, lc) => rc.orElse(lc).getOrElse(nullTerm)
      })
    val resB = layerBindsGated(rBinds, res, rr(matched))
    val joined = cand.join(rr, compat && holds(cond.toSeq ++ rConds, resB),
      "left_outer")
    Some(keyVerdict(p, outer, keyCols, kRen, joined.filter(holds(above, resB)),
      positive))
  }

  private def compCorrExistsAggregate(input: Op, sub: Op,
      corr: Set[String], outerScope: Set[String],
      positive: Boolean): Option[DataFrame] = {
    def peelToGroup(o: Op, hs: Seq[Expr]): Option[(Seq[Expr], Group)] =
      o match {
        case Project(i, _) => peelToGroup(i, hs)
        case Distinct(i) => peelToGroup(i, hs)
        case Filter(c, i) => peelToGroup(i, hs :+ c)
        case g: Group => Some((hs, g))
        case _ => None
      }
    val (havings, grp) = peelToGroup(sub, Nil).getOrElse(return None)
    val Group(i, gkeys, aggs) = grp
    // implicit group, no HAVING: exactly one row whatever the
    // correlated spine decides — EXISTS is constant
    if (gkeys.isEmpty && havings.isEmpty) {
      val in = comp(input)
      return Some(if (positive) in else in.limit(0))
    }
    if (havings.exists(containsExists)) return None
    // correlation must not reach aggregate args or group-key exprs
    val aggArgRefs = aggs.flatMap(_._2.arg.toSeq).flatMap(exprVarSet).toSet
    val gkeyRefs = gkeys.flatMap(_._2.toSeq).flatMap(exprVarSet).toSet
    if ((aggArgRefs ++ gkeyRefs).exists(corr)) return None
    val corrI = corrVarsOf(i, outerScope)
    val (iRes, iConds, iBinds) =
      splitCorrelated(i, corrI).getOrElse(return None)
    walkExists(iRes, outerScope ++ Algebra.inScope(iRes))
    onExistsPlane(input, Seq(iRes))(perKeyAggregate(_, iRes, iConds, iBinds,
      gkeys, aggs, havings, corr, positive))
  }

  /** `FILTER [NOT] EXISTS { SELECT … WHERE { i } GROUP BY g
    * HAVING h }` with §18.6 expression correlation in i's conjunctive
    * spine and/or the post-aggregation filters — the AGGREGATION
    * interior. Hoisting a condition out of a grouped pattern is
    * unsound (it decides which rows AGGREGATE), so the substitution is
    * realized per key INSIDE the aggregation:
    *
    *   1. key frame K = distinct outer rows over (outer∩i pattern
    *      vars ∪ correlated vars) — fully distributed (the key frame
    *      joins, it is never collected; the 1000-key count guard
    *      applies only to the pattern-disjoint dependent cross);
    *   2. cand = K ⋈ i's residual, pre-aggregation correlated spine
    *      conditions applied with the substituted resolver;
    *   3. ONE aggregation grouped by (group keys ++ key columns) —
    *      each outer key gets its own groups, which IS §18.6's
    *      per-binding evaluation, set-based;
    *   4. HAVING filters evaluate post-agg (agg outputs + group keys
    *      + substituted key columns); surviving keys semi/anti join
    *      back to the outer.
    *
    * With an IMPLICIT group (empty-group HAVING), aggregating ZERO
    * candidate rows still yields ONE group per outer key (§18.5.1:
    * Count/Sum/Avg of {} are 0, GroupConcat "", Min/Max/Sample
    * unbound): step 2 LEFT-joins the key frame and MASKS the
    * non-contributing rows instead of filtering them. Guards (stay
    * loud): correlation inside an aggregate argument or a group-key
    * expression; nested EXISTS in the filters. An implicit group with
    * NO having is constant-nonempty and short-circuits before any of
    * this. On the id plane the groups key on ids and only
    * condition-read key columns, non-COUNT aggregate arguments and
    * HAVING reads decode; it refuses hoisted binds, expression group
    * keys, the dependent cross, an outer-nullable condition-read key
    * and reads outside the key and pattern vars.
    */
  private def perKeyAggregate(p: ExistsPlane, iRes: Op, iConds: Seq[Expr],
      iBinds: Seq[(String, Expr)], gkeys: Seq[(String, Option[Expr])],
      aggs: Seq[(String, EAgg)], havings: Seq[Expr], corr: Set[String],
      positive: Boolean): Option[DataFrame] = {
    val emptyGroup = gkeys.isEmpty
    val iScope = p.innerScope(iRes)
    val sharedIK = p.scope.intersect(iScope).toSeq.sorted
    val keyCols = sharedIK ++ corr.toSeq.sorted.filterNot(sharedIK.contains)
    if (!keyCols.forall(p.scope)) return None
    val condVars = condReads(iConds, iBinds)
    val gkeyVars = gkeys.map(_._1)
    val hVars = havings.flatMap(exprVarSet).toSet
    val aggOut = aggs.map(_._1).toSet
    val aggArgVars = aggs.flatMap(_._2.arg.toSeq).flatMap(exprVarSet).toSet
    // args that feed anything beyond a plain COUNT need term values
    val decodeArgVars = aggs.filter(a => a._2.fn != "count" || a._2.distinct)
      .flatMap(_._2.arg.toSeq).flatMap(exprVarSet).toSet
    // an outer-nullable shared key a condition reads falls back to the
    // inner binding (outer-wins coalesce)
    val coalesced = condVars.filter(v => sharedIK.contains(v) && p.outerNull(v))
    if (p.ids && (iBinds.nonEmpty || gkeys.exists(_._2.nonEmpty) ||
        sharedIK.isEmpty || coalesced.nonEmpty ||
        !condVars.forall(v => keyCols.contains(v) || iScope(v)) ||
        !gkeyVars.forall(iScope) ||
        !hVars.forall(v => aggOut(v) || keyCols.contains(v) ||
          gkeyVars.contains(v)) ||
        !aggArgVars.forall(v => iScope(v) || keyCols.contains(v))))
      return None
    val condI = condVars.intersect(iScope) -- keyCols
    val (pf, pNull, pConst) = p.inner(iRes, sharedIK.toSet ++ gkeyVars ++
      aggArgVars.intersect(iScope) ++ condI, sharedIK ++ gkeyVars)
      .getOrElse(return None)
    if (decodeArgVars.exists(pConst.contains)) return None
    // a hoisted bind must not collide with a key column or a residual
    // column — the materialization below could not disambiguate the
    // occupied name (rare shadowing shapes stay loud)
    if (iBinds.exists(b => keyCols.contains(b._1) || pf.columns.contains(b._1)))
      return None
    val outer = p.outer(keyCols, Set.empty).getOrElse(return None)
    val (keys, kRen, kRead) =
      keyFrame(p, outer, keyCols, condVars.intersect(keyCols.toSet))
    val (pd, iRead) = p.reads(pf, (condI ++ coalesced).filter(v =>
      pf.columns.contains(v) && !pConst.contains(v)).map(v => v -> v).toMap, pNull)
    val pRen = pd.columns.map(c => c -> freshName(c)).toMap
    val pr0 = pd.columns.foldLeft(pd)((d, c) => d.withColumnRenamed(c, pRen(c)))
    // marker survives the left join on matched rows only
    val mk = freshName("m")
    val pr = if (emptyGroup) pr0.withColumn(mk, lit(true)) else pr0
    val cand0 = sharedIK.map(v => p.compatible(p.outerNull(v) || pNull(v),
        keys(kRen(v)), pr(pRen(v)))).reduceOption(_ && _) match {
      case Some(c) => keys.join(pr, c, if (emptyGroup) "left_outer" else "inner")
      case None =>
        val keysCk = boundedKeyFrame(keys).getOrElse(return None)
        if (emptyGroup) keysCk.join(pr, lit(true), "left_outer")
        else keysCk.crossJoin(pr)
    }
    // substituted resolver over a candidate frame: key (outer)
    // bindings win on shared vars, residual/bind columns otherwise
    val bRen = iBinds.map(b => b._1 -> freshName(b._1)).toMap
    def res(d: DataFrame)(v: String): Column =
      if (bRen.contains(v) && d.columns.contains(bRen(v))) d(bRen(v))
      else if (coalesced(v)) coalesce(d(kRead(v)), d(pRen(iRead(v))))
      else if (kRead.contains(v)) d(kRead(v))
      else if (pConst.contains(v))
        constTagCol(d(pRen(pConst(v)._1)), pConst(v)._2)
      else if (iRead.contains(v)) d(pRen(iRead(v)))
      else nullTerm
    // materialize the hoisted correlated BINDs as REAL columns of the
    // candidate frame (sound: pre-aggregation binds run on every row),
    // so an aggregate argument or plain-var group key reading a bind
    // var resolves to a column of `bound` below — a resolver-only
    // layering left those reads nullTerm, silently collapsing groups
    // and nulling aggregates
    val cand1 = iBinds.foldLeft(cand0) { case (d, (v, e)) =>
      d.withColumn(bRen(v), compExpr(e, res(d)))
    }
    val condCol = holds(iConds, res(cand1))
    val rowCols = pd.columns.toSeq.map(pRen) ++ iBinds.map(b => bRen(b._1))
    val cand =
      if (!emptyGroup) cand1.filter(condCol)
      else {
        // a key whose candidates all fail the substituted conditions
        // (or that matched nothing) must still aggregate the EMPTY
        // multiset: null out the contribution columns, keep the key
        val contrib = condCol && cand1(mk).isNotNull
        cand1.select((keyCols.map(v => cand1(kRen(v)).as(kRen(v))) ++
          rowCols.map(c => when(contrib, cand1(c)).as(c)) :+
          contrib.as(mk)): _*)
      }
    // non-COUNT aggregate arguments decode on the candidate frame
    // (nothing joins on them downstream); COUNT args stay ids
    val (cd, argRead) = p.reads(cand, decodeArgVars.filter(pd.columns.contains)
      .map(v => v -> pRen(v)).toMap, decodeArgVars) // masked rows are null
    // aggregate over a frame whose columns answer to their ORIGINAL
    // var names (compAgg resolves by name)
    val bound0 = cd.select((keyCols.map(v => cd(kRen(v))) ++
      pd.columns.map(c => cd(argRead.getOrElse(c, pRen(c))).as(c)) ++
      iBinds.map(b => cd(bRen(b._1)).as(b._1)) ++
      (if (emptyGroup) Seq(cd(mk)) else Nil)): _*)
    // bind group-key expressions (uncorrelated by the guard above)
    val bound = gkeys.foldLeft(bound0) {
      case (d, (v, Some(e))) => d.withColumn(v, compExpr(e, resolver(d)))
      case (d, (_, None)) => d
    }
    val groupCols = gkeyVars.map(v =>
      (if (bound.columns.contains(v)) bound(v) else nullTerm).as(v)) ++
      keyCols.map(v => bound(kRen(v)))
    val aggCols = aggs.map { case (out, a) =>
      // COUNT(*) over the masked frame must count CONTRIBUTING rows,
      // not the placeholder; Sum/Avg of the empty multiset are 0 per
      // §18.5.1 (Spark's all-null aggregates yield null), GroupConcat
      // of an empty collect is already "" — the rest stay unbound
      val base =
        if (emptyGroup && a.fn == "count" && a.arg.isEmpty)
          termNumDt(sum(when(col(mk), 1L).otherwise(0L)).cast("double"),
            Rdf.XsdInteger)
        else compAgg(a, bound)
      val fixed =
        if (!emptyGroup) base
        else a.fn match {
          case "sum" => coalesce(base, termNumDt(lit(0.0), Rdf.XsdInteger))
          case "avg" => coalesce(base, termNum(lit(0.0)))
          case _ => base
        }
      fixed.as(out)
    }
    val grouped =
      if (aggCols.isEmpty) bound.select(groupCols: _*).distinct()
      else bound.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
    // HAVING with substitution: agg outputs / group keys from the
    // grouped frame, correlated vars from the key columns — on the id
    // plane those still ids decode on the TINY grouped frame
    val hCols = (hVars -- aggOut).flatMap(v =>
      if (grouped.columns.contains(v)) Some(v -> v) else kRen.get(v).map(v -> _))
      .toMap
    val (gd, hRead) = p.reads(grouped, hCols,
      if (emptyGroup) hCols.keySet else p.outerNull ++ pNull)
    val hRes: String => Column = v =>
      if (aggOut(v)) gd(v) else hRead.get(v).map(gd(_)).getOrElse(nullTerm)
    Some(keyVerdict(p, outer, keyCols, kRen, gd.filter(holds(havings, hRes)),
      positive))
  }

  /** §18.6 requires substituting the CURRENT outer binding into an
    * EXISTS pattern; the direct `FILTER [NOT] EXISTS` form now
    * decorrelates (compCorrelatedExistsFilter), but an inner
    * expression reading an outer-only var from any OTHER position —
    * compound booleans, BIND, nested EXISTS — would silently evaluate
    * it as unbound (filter → false). Detect those and fail loudly
    * instead of returning silently-wrong rows. Shared PATTERN vars are
    * fine — join semantics realize the correlation exactly.
    */
  private def rejectCorrelatedExists(e: Expr, outerScope: Set[String]): Unit = e match {
    case EExists(sub, _) =>
      val subScope = Algebra.inScope(sub).toSet
      // expression reads, PATTERN-position sharing, and deeper-level
      // mentions all correlate under the join school once they reach
      // a scope no enclosing input binds — the walk already subtracted
      // locally-bound vars, which are depth-1 at their own compile
      // site (or key-frame-injected by compNestedExistsFilter)
      val corr = (exprRefVars(sub) ++ subScope ++ nestedExistsVars(sub))
        .intersect(outerScope)
      if (corr.nonEmpty) throw new UnsupportedOperationException(
        "correlated EXISTS: inner pattern or expression references " +
          s"outer-only variable(s) ${corr.map("?" + _).mkString(", ")} " +
          "from a position where §18.6 substitution cannot be realized " +
          "(no enclosing input binds them at the compile site)")
      // nested EXISTS inside the sub-pattern sees the widened scope
      walkExists(sub, outerScope ++ subScope)
    case ECall(_, as) => as.foreach(rejectCorrelatedExists(_, outerScope))
    case _ => ()
  }

  private def walkExists(op: Op, outerScope: Set[String]): Unit = op match {
    // vars the filter's own input binds are DEPTH-1 correlations when
    // compilation reaches this site — its own dispatch handles (or
    // loudly rejects) them; only TRUE escapes reject here
    case Filter(c, i) =>
      rejectCorrelatedExists(c, outerScope -- Algebra.inScope(i).toSet)
      walkExists(i, outerScope)
    case Extend(i, _, e) =>
      rejectCorrelatedExists(e, outerScope -- Algebra.inScope(i).toSet)
      walkExists(i, outerScope)
    case Join(l, r) => walkExists(l, outerScope); walkExists(r, outerScope)
    case LeftJoin(l, r, _) => walkExists(l, outerScope); walkExists(r, outerScope)
    case Union(l, r) => walkExists(l, outerScope); walkExists(r, outerScope)
    case Minus(l, r) => walkExists(l, outerScope); walkExists(r, outerScope)
    case Group(i, _, _) => walkExists(i, outerScope)
    case Project(i, _) => walkExists(i, outerScope)
    case Distinct(i) => walkExists(i, outerScope)
    case OrderBy(i, _) => walkExists(i, outerScope)
    case Slice(i, _, _) => walkExists(i, outerScope)
    case Service(_, i, _) => walkExists(i, outerScope)
    case _ => ()
  }

  private def containsExists(e: Expr): Boolean = e match {
    case EExists(_, _) => true
    case ECall(_, as) => as.exists(containsExists)
    case _ => false
  }

  /** Result-edge decode: every long column is a term id → dictionary
    * join back to its term struct; a string column is a raw graph name
    * (GRAPH ?var) → IRI term; anything else passes through. Inner
    * joins are safe — every id in a solution came out of the encoded
    * table, so the dictionary resolves it by construction.
    */
  private def decodeSolutions(df: DataFrame): DataFrame =
    decodeCols(df, df.columns.toSet)

  /** Partial decode: only the named columns resolve through the
    * dictionary (long id → term struct, raw graph string → IRI term);
    * every other column keeps its id. Lets a FILTER evaluate over just
    * the terms it reads while group keys stay 8-byte ids.
    */
  private def decodeCols(df: DataFrame, names: Set[String],
      nullable: Set[String] = Set.empty): DataFrame = {
    val dict = encoded.get.dict
    var d = df
    val outCols = df.schema.fields.map { f =>
      f.dataType match {
        case LongType if names(f.name) =>
          val idAlias = freshName("did")
          val dd = dict.select(col("id").as(idAlias), col("term").as(freshName("dterm")))
          val termCol = dd.columns(1)
          // a nullable id (OPTIONAL's unmatched right side) must keep
          // its row and decode to an unbound (null) term
          d = d.join(dd, d(f.name) === dd(idAlias),
            if (nullable(f.name)) "left" else "inner")
          col(termCol).as(f.name)
        case StringType if names(f.name) =>
          // nullable raw graph name (unmatched OPTIONAL side) → null
          // TERM, not a struct of nulls
          (if (nullable(f.name))
            when(col(f.name).isNull, nullTerm).otherwise(Rdf.iri(col(f.name)))
          else Rdf.iri(col(f.name))).as(f.name)
        case _ => col(f.name)
      }
    }
    d.select(outCols.toIndexedSeq: _*)
  }

  /** W3C §9.1 path translation for the FIXED-LENGTH fragment:
    * `s p/q o` ≡ `s p ?fresh . ?fresh q o` and `s ^p o` ≡ `o p s`,
    * applied recursively. The fresh intermediates are never referenced
    * by the query, so on the encoded path they join as longs and are
    * late-materialized away — a 2-hop path becomes two id joins with
    * zero decode for the middle node. Variable-length operators
    * (`* + ?`), alternation and negated sets stay Path nodes.
    */
  private def flattenPats(pats: Seq[TriplePat]): Seq[TriplePat] = {
    def expand(s: Node, p: Path, o: Node): Seq[TriplePat] = p match {
      case PSeq(l, r) =>
        val m = V(freshName("pv"))
        expand(s, l, m) ++ expand(m, r, o)
      case PInv(q) => expand(o, q, s)
      case other => Seq(TriplePat(s, other, o))
    }
    pats.flatMap(tp => expand(tp.s, tp.p, tp.o))
  }

  private def compBgp(pats: Seq[TriplePat], graph: Option[Node]): DataFrame = {
    if (pats.isEmpty) return comp(Unit0)
    val flat = flattenPats(pats)
    val simple = flat.forall(tp => tp.p match {
      case PLink(_) | PVar(_) => true; case _ => false
    })
    if (simple) scopedEnc(graph) match {
      case Some((encScoped, gVar)) => return compBgpEnc(flat, encScoped, gVar)
      case None => ()
    }
    // the struct path compiles the SAME desugared patterns, so the two
    // paths share one multiplicity semantics (§9.1 translation = bag
    // for the fixed-length fragment); evalPath's set-semantics
    // machinery remains only inside variable-length operators, where
    // ALP (§9.3) prescribes it
    val (scoped, gVar) = scopedQuads(graph)
    // id-encoded plane with the SAME dataset scoping — complex paths
    // (closures, alternation, negated sets) evaluate their pair
    // relation over ids and decode at the pattern edge
    val encSc = scopedEnc(graph).map(_._1)
    val rels = flat.map(tp => (tp, compPattern(tp, scoped, gVar, encSc)))
    // greedy ordering: smallest estimate first, then prefer shared-var joins
    val remaining = scala.collection.mutable.ArrayBuffer(rels.sortBy(r => estimate(r._1)): _*)
    var acc = remaining.remove(0)._2
    var accVars = acc.columns.toSet
    while (remaining.nonEmpty) {
      val idx = remaining.indexWhere(r => r._2.columns.exists(accVars.contains))
      val pick = if (idx >= 0) remaining.remove(idx) else remaining.remove(0)
      acc = solJoin(acc, pick._2, "inner")
      accVars = acc.columns.toSet
    }
    acc
  }

  /** One triple pattern → solution relation. */
  private def compPattern(tp: TriplePat, scoped: DataFrame,
      gVar: Option[String], encSc: Option[DataFrame] = None): DataFrame = {
    import graft.core.TermDictionary.litTermId
    val pairs: DataFrame = tp.p match {
      case PLink(p) =>
        scoped.filter(col("p")("lex") === p)
          .select((col("s").as("a") +: col("o").as("b") +:
            gVar.map(_ => col("g")).toSeq): _*)
      case PVar(pv) =>
        scoped.select((col("s").as("a") +: col("o").as("b") +:
          col("p").as(pv) +: gVar.map(_ => col("g")).toSeq): _*)
      case path =>
        val pl = pathPlane(path, scoped, encSc)
        if (gVar.isDefined) {
          // per-graph evaluation; pairs carry g, picked up below. A
          // CONSTANT endpoint matches zero-length paths in EVERY named
          // graph regardless of whether the term occurs there (§9.3
          // ZeroLengthPath with a bound term — same semantics the seeded
          // walk gives the non-GRAPH form)
          val base = pl.decode(evalPath(path, pl, grouped = true),
            Seq("a", "b"), needFull = pathHasZeroLength(path))
          val constEnd = (tp.s, tp.o) match {
            case (t: T, _) => Some(t)
            case (_, t: T) => Some(t)
            case _ => None
          }
          constEnd match {
            case Some(t) if pathHasZeroLength(path) =>
              base.unionByName(scoped.select(col("g")).distinct()
                .select(col("g"), constCol(t).as("a"), constCol(t).as("b")))
                .distinct()
            case _ => base
          }
        } else {
          // seeded outputs are {seed} ∪ predicate-incident nodes, so the
          // id plane's LOCAL dictionary + seed fallback always suffices;
          // only an unseeded top-level zero-length path surfaces
          // arbitrary universe terms and needs the full dictionary
          def walkFrom(t: T, fwd: Boolean) =
            pl.decode(walk(path, spark.range(1).select(pl.seed(t).as("n")), fwd, pl),
              Seq("n"), needFull = false, Map("n" -> constCol(t)))
          (tp.s, tp.o) match {
            case (t: T, _) => // constant subject: forward frontier walk
              walkFrom(t, fwd = true).select(constCol(t).as("a"), col("n").as("b"))
            case (_, t: T) => // constant object: backward frontier walk
              walkFrom(t, fwd = false).select(col("n").as("a"), constCol(t).as("b"))
            case _ =>
              pl.decode(evalPath(path, pl, grouped = false), Seq("a", "b"),
                needFull = pathHasZeroLength(path))
          }
        }
    }
    // bind/constrain s and o
    var d = pairs
    tp.s match {
      case T(lx, k, _, _) => d = d.filter(col("a")("lex") === lx && col("a")("kind") === k)
      case V(_) => ()
    }
    tp.o match {
      case t @ T(_, _, _, _) =>
        val c = constCol(t)
        d = d.filter(termEq(col("b"), c))
      case V(_) => ()
    }
    // project variables (handle repeated var ?x p ?x)
    var cols = Seq.empty[Column]
    (tp.s, tp.o) match {
      case (V(x), V(y)) if x == y =>
        d = d.filter(termEq(col("a"), col("b"))); cols = Seq(col("a").as(x))
      case (V(x), V(y)) => cols = Seq(col("a").as(x), col("b").as(y))
      case (V(x), _) => cols = Seq(col("a").as(x))
      case (_, V(y)) => cols = Seq(col("b").as(y))
      // struct-typed placeholder — see compBgpEnc: Union widening
      // fills missing columns with nullTerm structs
      case _ => cols = Seq(nullTerm.as(freshName("c")))
    }
    tp.p match {
      case PVar(pv) => cols = cols :+ d(pv)
      case _ => ()
    }
    gVar.foreach { gv => cols = cols :+ graft.rdf.Rdf.iri(d("g")).as(gv) }
    d.select(cols: _*)
  }

  // ------------------------------------------------------------------
  // correlated EXISTS term planes
  // ------------------------------------------------------------------

  /** An inner operand of a correlated-EXISTS shape on a term plane:
    * (frame, nullable vars, const-BIND var → (tag column, tag →
    * constant)); see [[corrProbeFrame]].
    */
  private type ExSide = (DataFrame, Set[String], Map[String, (String, Map[Long, T])])

  /** What the correlated-EXISTS evaluators ([[existsJoin]],
    * [[perKeyMinus]], [[perKeyOptional]], [[perKeyAggregate]]) differ in
    * between the two term planes. The struct plane compiles the outer
    * and each inner operand to term-struct frames and reads every
    * column as it is. The id plane keeps them as 8-byte term ids (id
    * equality ⟺ term identity): the key frame, the candidate joins and
    * the verdict exchange ship longs, only the vars a condition reads
    * decode (into throwaway copies; join keys stay ids), and the
    * surviving outer rows decode ONCE at the result edge. `scope` and
    * `outerNull` are the outer's vars and its nullable ones;
    * `outer(keys, extra)` its frame with `keys` as join columns;
    * `innerScope` an inner operand's vars and `inner(op, keep, keys)`
    * its side with `keys` as join columns; `same` node identity;
    * `edge` the result edge. `ids` marks the id plane, on which each
    * evaluator refuses the shapes it cannot realize over ids.
    */
  private final case class ExistsPlane(ids: Boolean, scope: Set[String],
      outerNull: Set[String],
      outer: (Seq[String], Set[String]) => Option[DataFrame],
      innerScope: Op => Set[String],
      inner: (Op, Set[String], Seq[String]) => Option[ExSide],
      same: (Column, Column) => Column, edge: DataFrame => DataFrame) {
    /** `a` and `b` are the same node, or one is unbound if `nullable` */
    def compatible(nullable: Boolean, a: Column, b: Column): Column =
      if (nullable) a.isNull || b.isNull || same(a, b) else same(a, b)
    /** `df` plus the term column each condition-read var (→ its column
      * in `df`) resolves to: the column itself on the struct plane, a
      * decoded copy on the id plane (`nul`: vars that may be unbound).
      */
    def reads(df: DataFrame, cols: Map[String, String], nul: Set[String])
        : (DataFrame, Map[String, String]) =
      if (!ids || cols.isEmpty) (df, cols)
      else {
        val tmp = cols.map { case (v, c) => v -> (c, freshName("cv")) }
        val copied = tmp.values.foldLeft(df) { case (d, (c, n)) =>
          d.withColumn(n, d(c))
        }
        (decodeCols(copied, tmp.values.map(_._2).toSet,
          tmp.collect { case (v, (_, n)) if nul(v) => n }.toSet),
          tmp.map { case (v, (_, n)) => v -> n })
      }
  }

  /** Run a correlated-EXISTS evaluator on the id plane, else on the
    * struct plane.
    */
  private def onExistsPlane(input: Op, inner: Seq[Op])(
      eval: ExistsPlane => Option[DataFrame]): Option[DataFrame] =
    existsIdPlane(input, inner).flatMap(eval)
      .orElse(eval(existsStructPlane(input, inner)))

  /** The id plane when the encoded view exists and the outer, its
    * FILTER layers peeled, is a wide id-expressible tree. The outer
    * frame keeps (query-wide reads ∪ vars shared with leaves OUTSIDE
    * the input∪inner trees) for late materialization; the edge applies
    * the peeled FILTERs, drops the rest, decodes once and bumps
    * [[Sparql.corrIdExistsJoins]].
    */
  private def existsIdPlane(input: Op, inner: Seq[Op]): Option[ExistsPlane] = {
    if (encoded.isEmpty) return None
    val (core, inConds) = stripFilters(input)
    val (scope, lNull) = idTreeScopeWide(core).getOrElse(return None)
    if (Algebra.inScope(core).toSet != scope) return None
    val filterVars = inConds.flatMap(exprVarSet).toSet.intersect(scope)
    val inTree = inner.foldLeft(countTreeLeaves(core))((m, o) =>
      countTreeLeaves(o, m))
    val keepOut = (refNeeded ++ scope.filter(v =>
      leafCounts.getOrElse(v, 0) > inTree.getOrElse(v, 0))).intersect(scope)
    def longs(f: DataFrame, vs: Seq[String]) = vs.forall(v =>
      f.columns.contains(v) && f.schema(v).dataType == LongType)
    def edge(joined: DataFrame): DataFrame = {
      val filtered = applyFilters(joined, inConds, filterVars,
        lNull.intersect(filterVars))
      val dead = filtered.columns.filterNot(keepOut)
      val kept =
        if (dead.length == filtered.columns.length)
          filtered.select(nullTerm.as(freshName("c")))
        else filtered.drop(dead.toIndexedSeq: _*)
      Sparql.corrIdExistsJoins.incrementAndGet()
      decodeCols(kept, kept.columns.toSet, kept.columns.filter(lNull).toSet)
    }
    Some(ExistsPlane(ids = true, scope, lNull,
      (keys, extra) => idFrameOf(core, keepOut ++ filterVars ++ keys ++ extra)
        .filter(longs(_, keys)),
      Algebra.inScope(_).toSet,
      (op, keep, keys) => corrProbeFrame(op, keep).filter { case (f, _, cs) =>
        !keys.exists(cs.contains) && longs(f, keys)
      },
      _ === _, edge))
  }

  /** The struct plane: `input` and each of `inner`, in that order,
    * compiled to term-struct frames.
    */
  private def existsStructPlane(input: Op, inner: Seq[Op]): ExistsPlane = {
    val in = comp(input)
    val frames = inner.map(o => o -> comp(o))
    def frame(op: Op) = frames.find(_._1 eq op).get._2
    ExistsPlane(ids = false, in.columns.toSet, maybeUnbound(input),
      (_, _) => Some(in), frame(_).columns.toSet,
      (op, _, _) => Some((frame(op), maybeUnbound(op), Map.empty)),
      termEq, identity)
  }

  // ------------------------------------------------------------------
  // property paths (SURVEY §2.B path table)
  // ------------------------------------------------------------------

  /** What the path operators differ in between the two term planes.
    * The struct plane runs over the scoped quads' term structs and
    * decodes nothing. The id plane runs over the encoded table's 8-byte
    * ids (id equality ⟺ term identity, collision-checked at encode) and
    * decodes ONCE at the pattern edge: every composition and every
    * fixpoint ROUND then shuffles longs instead of term structs — the
    * one place the §1.5 dictionary win multiplies by graph diameter.
    * `pred` is the predicate column and `predKey` an IRI's value in it;
    * `same` is node identity; `seed` a constant term's node value;
    * `dict` the id plane's decode dictionary, given `needFull`.
    */
  private final case class PathPlane(edges: DataFrame, s: String, o: String,
      pred: Column, predKey: String => Any, same: (Column, Column) => Column,
      seed: T => Column, dict: Option[Boolean => DataFrame]) {
    def link(iri: String): DataFrame = edges.filter(pred === predKey(iri))
    def negated(iris: Seq[String]): DataFrame =
      edges.filter(!pred.isin(iris.map(predKey): _*))
    /** node columns `names` back to term structs (see [[decodeIdCols]]) */
    def decode(df: DataFrame, names: Seq[String], needFull: Boolean,
        fallback: Map[String, Column] = Map.empty): DataFrame =
      dict.fold(df)(d => decodeIdCols(df, names, d(needFull), fallback))
  }

  /** The id plane when the encoded view exists and the path has a
    * closure; else the struct plane.
    */
  private def pathPlane(path: Path, scoped: DataFrame,
      encSc: Option[DataFrame]): PathPlane = encSc match {
    case Some(enc) if pathHasClosure(path) =>
      import graft.core.TermDictionary.litTermId
      PathPlane(enc, "s_id", "o_id", col("p_id"), litTermId(_, IRI), _ === _,
        t => lit(litTermId(t.lex, t.kind)),
        Some(needFull => pathDecodeDict(path, scoped, needFull)))
    case _ =>
      PathPlane(scoped, "s", "o", col("p")("lex"), identity, termEq, constCol, None)
  }

  /** Evaluate a path to a pair relation (a, b) over the plane's edges;
    * `grouped` (the `GRAPH ?var` case) carries the graph column `g` and
    * keeps every composition (join, closure, zero-length) WITHIN one
    * named graph, sharing one fixpoint across graphs. `p*`/`p+` run the
    * distinct-frontier transitive-closure fixpoint of
    * [[graft.plans.Fixpoint.closure]].
    */
  private def evalPath(p: Path, pl: PathPlane, grouped: Boolean): DataFrame = {
    val groupCols = if (grouped) Seq("g") else Nil
    val g = groupCols.map(col)
    def pairs(edges: DataFrame) =
      edges.select(g :+ col(pl.s).as("a") :+ col(pl.o).as("b"): _*)
    def close(q: Path) = graft.plans.Fixpoint.closure(
      evalPath(q, pl, grouped).distinct(), (f, s) => pl.same(f("b"), s("m")),
      groupCols = groupCols)
    p match {
      case PLink(iri) => pairs(pl.link(iri))
      case PVar(_) => pairs(pl.edges)
      case PNeg(iris) => pairs(pl.negated(iris))
      case PInv(q) =>
        evalPath(q, pl, grouped).select(g :+ col("b").as("a") :+ col("a").as("b"): _*)
      case PSeq(l, r) =>
        val ld = evalPath(l, pl, grouped)
        val r0 = evalPath(r, pl, grouped)
        val rd = (if (grouped) r0.withColumnRenamed("g", "g2") else r0)
          .withColumnRenamed("a", "m").withColumnRenamed("b", "b2")
        val sameNode = pl.same(ld("b"), rd("m"))
        ld.join(rd, if (grouped) sameNode && ld("g") === rd("g2") else sameNode)
          .select(groupCols.map(ld(_).as("g")) :+ ld("a").as("a") :+ col("b2").as("b"): _*)
          .distinct()
      case PAlt(l, r) =>
        evalPath(l, pl, grouped).unionByName(evalPath(r, pl, grouped)).distinct()
      case POpt(q) =>
        evalPath(q, pl, grouped).unionByName(identityPairs(pl, grouped)).distinct()
      case PPlus(q) => close(q)
      case PStar(q) => close(q).unionByName(identityPairs(pl, grouped)).distinct()
    }
  }

  /** zero-length path endpoints: every term of the plane's edges, per
    * named graph when `grouped` (SPARQL §9.3 ZeroLengthPath with both
    * ends unbound). Only reached when NEITHER endpoint is constant —
    * bound endpoints take the seeded [[walk]] instead, which never
    * enumerates the term universe.
    */
  private def identityPairs(pl: PathPlane, grouped: Boolean): DataFrame = {
    val g = if (grouped) Seq(col("g")) else Nil
    pl.edges.select(g :+ col(pl.s).as("t"): _*)
      .unionByName(pl.edges.select(g :+ col(pl.o).as("t"): _*))
      .distinct().select(g :+ col("t").as("a") :+ col("t").as("b"): _*)
  }

  /** Does the path contain a variable-length segment? Only closures
    * multiply the shuffle by round count — fixed-length fragments
    * desugar into the encoded BGP already, and single-step operators
    * (alternation, negated sets) are one scan for which the id
    * round-trip (encode filter + decode joins) is pure overhead.
    */
  private def pathHasClosure(p: Path): Boolean = p match {
    case PPlus(_) | PStar(_) => true
    case PInv(q) => pathHasClosure(q)
    case POpt(q) => pathHasClosure(q)
    case PSeq(l, r) => pathHasClosure(l) || pathHasClosure(r)
    case PAlt(l, r) => pathHasClosure(l) || pathHasClosure(r)
    case _ => false
  }

  /** The constant predicates a path can traverse, when enumerable
    * (None for PVar / negated sets, which can step over anything).
    */
  private def pathPreds(p: Path): Option[Seq[String]] = p match {
    case PLink(i) => Some(Seq(i))
    case PInv(q) => pathPreds(q)
    case POpt(q) => pathPreds(q)
    case PPlus(q) => pathPreds(q)
    case PStar(q) => pathPreds(q)
    case PSeq(l, r) => for { a <- pathPreds(l); b <- pathPreds(r) } yield a ++ b
    case PAlt(l, r) => for { a <- pathPreds(l); b <- pathPreds(r) } yield a ++ b
    case _ => None
  }

  /** Decode dictionary for a path relation. When the path's predicates
    * are enumerable and the relation cannot surface arbitrary terms via
    * top-level zero-length identity (`needFull`), the dictionary is
    * LOCAL to the path's edge slice — nodes incident to its predicates
    * — instead of the full store dictionary: a closure result is tiny
    * next to the term universe, and scanning the whole dictionary to
    * decode it would dominate small queries. Identity dedup mirrors
    * [[graft.core.TermDictionary.build]] (struct-least representative).
    */
  private def pathDecodeDict(path: Path, scoped: DataFrame,
      needFull: Boolean): DataFrame = {
    import graft.core.TermDictionary.termId
    val terms = pathPreds(path) match {
      case Some(preds) if !needFull =>
        val e = scoped.filter(col("p")("lex").isin(preds.distinct: _*))
        e.select(col("s").as("term")).unionByName(e.select(col("o").as("term")))
      case _ =>
        scoped.select(col("s").as("term")).unionByName(scoped.select(col("o").as("term")))
    }
    terms.distinct()
      .groupBy(termId(col("term")).as("id")).agg(min(col("term")).as("term"))
  }

  /** Decode named long columns to term structs via dictionary joins.
    * `fallback` supplies a constant for ids absent from the store —
    * only a seeded walk's own seed can be such an id (every other id
    * in a path relation came off the encoded table), so the left join
    * + coalesce is exact.
    */
  private def decodeIdCols(df: DataFrame, names: Seq[String], dict: DataFrame,
      fallback: Map[String, Column] = Map.empty): DataFrame = {
    var d = df
    val outCols = df.columns.map { c =>
      if (names.contains(c)) {
        val idAlias = freshName("did")
        val tAlias = freshName("dterm")
        val dd = dict.select(col("id").as(idAlias), col("term").as(tAlias))
        val joinType = if (fallback.contains(c)) "left" else "inner"
        d = d.join(dd, d(c) === dd(idAlias), joinType)
        fallback.get(c)
          .map(fb => coalesce(col(tAlias), fb))
          .getOrElse(col(tAlias)).as(c)
      } else col(c)
    }
    d.select(outCols.toIndexedSeq: _*)
  }

  /** Can the path match with zero steps? (`p*`, `p?`, compositions) */
  private def pathHasZeroLength(p: Path): Boolean = p match {
    case PStar(_) | POpt(_) => true
    case PSeq(l, r) => pathHasZeroLength(l) && pathHasZeroLength(r)
    case PAlt(l, r) => pathHasZeroLength(l) || pathHasZeroLength(r)
    case PInv(q) => pathHasZeroLength(q)
    case _ => false
  }

  /** Seeded path evaluation: push a node frontier (column `n`)
    * through the path, forward (`fwd`) or backward (for a constant
    * OBJECT endpoint). Closure segments BFS from the frontier via
    * [[graft.plans.Fixpoint.reachNodes]] — work proportional to the
    * REACHABLE subgraph, where the unseeded [[evalPath]] closes the
    * entire edge relation and (for `p*`/`p?`) enumerates every term
    * for the zero-length case. At store scale this is the difference
    * between a frontier of one and a full scan + fixpoint over
    * everything. Zero-length from a constant matches the constant
    * itself (SPARQL §9.3 ZeroLengthPath with a bound term), with no
    * occurs-in-graph requirement.
    */
  private def walk(p: Path, nodes: DataFrame, fwd: Boolean,
      pl: PathPlane): DataFrame = {
    // frontiers are node SETS (matching evalPath's distinct-pair
    // semantics): dedup each step so the frontier grows with reachable
    // NODES, not path multiplicity — on dense DAGs the difference is
    // exponential
    def step(edges: DataFrame): DataFrame = {
      val (from, to) = if (fwd) (pl.s, pl.o) else (pl.o, pl.s)
      edges.join(nodes, pl.same(edges(from), nodes("n")))
        .select(edges(to).as("n"))
        .distinct()
    }
    p match {
      case PLink(iri) => step(pl.link(iri))
      case PNeg(iris) => step(pl.negated(iris))
      case PVar(_) => step(pl.edges)
      case PInv(q) => walk(q, nodes, !fwd, pl)
      case PSeq(l, r) =>
        if (fwd) walk(r, walk(l, nodes, fwd, pl), fwd, pl)
        else walk(l, walk(r, nodes, fwd, pl), fwd, pl)
      case PAlt(l, r) =>
        walk(l, nodes, fwd, pl).unionByName(walk(r, nodes, fwd, pl)).distinct()
      case POpt(q) => nodes.unionByName(walk(q, nodes, fwd, pl)).distinct()
      case PPlus(q) =>
        graft.plans.Fixpoint.reachNodes(nodes, f => walk(q, f, fwd, pl))
      case PStar(q) =>
        nodes.unionByName(
          graft.plans.Fixpoint.reachNodes(nodes, f => walk(q, f, fwd, pl)))
          .distinct()
    }
  }

  // ------------------------------------------------------------------
  // expressions (SPARQL 1.1 §17) — all term-struct in, term-struct out
  // ------------------------------------------------------------------

  /** Effective boolean value (SPARQL §17.2.2): boolean literal → value;
    * numeric → ≠0; string → non-empty; otherwise type error (NULL,
    * which the enclosing FILTER coalesces to false).
    */
  def ebv(t: Column): Column =
    when(t.isNull, lit(null).cast("boolean"))
      .when(t("dt") === Rdf.XsdBoolean, t("lex") === "true")
      .when(t("num").isNotNull, t("num") =!= 0.0)
      .when(t("kind") === LIT && (t("dt") === Rdf.XsdString), length(t("lex")) > 0)
      .otherwise(lit(null).cast("boolean"))

  /** Boolean-level compilation: predicates and connectives evaluate as
    * native nullable BooleanType columns (NULL = SPARQL type error),
    * boxed into a term struct only at expression boundaries. Keeping
    * the boolean plane native is what holds FILTER plans inside
    * whole-stage codegen — round-tripping every subexpression through
    * a struct (termBool ∘ ebv) stacked CASE WHEN chains past janino's
    * method-size limits, and Spark silently fell back to interpreted
    * evaluation. Spark's 3-valued AND/OR/NOT match SPARQL §17.2's
    * error tables exactly (err AND false = false, err OR true = true).
    */
  private def compBool(e: Expr, resolve: String => Column): Column = e match {
    case ECall(op, args) =>
      def a(i: Int) = compExpr(args(i), resolve)
      def b(i: Int) = compBool(args(i), resolve)
      op match {
        case "__existsflag" => // precomputed nested-EXISTS boolean column
          args.head match {
            case EVar(f) => resolve(f)
            case other => throw new IllegalStateException(s"bad exists flag: $other")
          }
        case "&&" => b(0) && b(1)
        case "||" => b(0) || b(1)
        case "!" => !b(0)
        case "=" => cmpEq(a(0), a(1))
        case "!=" => !cmpEq(a(0), a(1))
        case "<" => cmpLt(a(0), a(1))
        case ">" => cmpLt(a(1), a(0))
        case "<=" => !cmpLt(a(1), a(0))
        case ">=" => !cmpLt(a(0), a(1))
        case "bound" => a(0).isNotNull
        case "strstarts" => a(0)("lex").startsWith(a(1)("lex"))
        case "strends" => a(0)("lex").endsWith(a(1)("lex"))
        case "contains" => a(0)("lex").contains(a(1)("lex"))
        case "regex" =>
          val flags = if (args.size > 2) a(2)("lex") else lit("")
          regexp_like(a(0)("lex"),
            concat(when(flags.contains("i"), lit("(?i)")).otherwise(lit("")),
              a(1)("lex")))
        case "langmatches" => // RFC 4647 basic filtering: exact tag or
          // range followed by a "-" subtag boundary, case-insensitive
          when(a(1)("lex") === "*", a(0)("lex") =!= "")
            .otherwise(lower(a(0)("lex")) === lower(a(1)("lex")) ||
              lower(a(0)("lex")).startsWith(concat(lower(a(1)("lex")), lit("-"))))
        case "sameterm" => termEq(a(0), a(1))
        case "isiri" | "isuri" => a(0)("kind") === IRI
        case "isblank" => a(0)("kind") === BNODE
        case "isliteral" => a(0)("kind") === LIT
        case "isnumeric" => a(0)("num").isNotNull
        case "in" => // empty list: IN () = false (SPARQL 17.4.1.9)
          args.tail.map(x => cmpEq(a(0), compExpr(x, resolve)))
            .reduceOption(_ || _).getOrElse(lit(false))
        case "notin" =>
          !args.tail.map(x => cmpEq(a(0), compExpr(x, resolve)))
            .reduceOption(_ || _).getOrElse(lit(false))
        case "xsd:boolean" =>
          when(a(0)("dt") === Rdf.XsdBoolean, a(0)("lex") === "true")
            .when(a(0)("num").isNotNull, a(0)("num") =!= 0.0)
            .otherwise(lit(null).cast("boolean"))
        case _ => ebv(compExpr(e, resolve))
      }
    case _ => ebv(compExpr(e, resolve))
  }

  private def termBool(c: Column): Column =
    when(c.isNull, nullTerm).otherwise(
      Rdf.term(when(c, "true").otherwise("false"), lit(LIT), lit(Rdf.XsdBoolean),
        lit(""), when(c, 1.0).otherwise(0.0)))

  private def termNum(c: Column): Column = termNumDt(c, Rdf.XsdDecimal)

  /** static-datatype variant: picks the lexical renderer at plan-build
    * time instead of emitting a constant-foldable CASE per term
    */
  private def termNumDt(c: Column, dt: String): Column =
    when(c.isNull, nullTerm).otherwise(
      Rdf.term(
        if (dt == Rdf.XsdInteger) Rdf.canonIntLex(c) else Rdf.canonNumLex(c),
        lit(LIT), lit(dt), lit(""), c.cast("double")))

  /** Numeric result with an explicit datatype — XPath-style promotion
    * keeps integer-typed results integer (DATATYPE(?x+?y) answers).
    * The lexical form follows the datatype: integer-typed terms render
    * an integer lexical (`"5"` — `"5.000000"` is not a valid
    * xsd:integer lexical per XSD 1.1), everything else the engine-wide
    * canonical DECIMAL(28,6) string. The DuckDB oracles mirror both
    * via [[Rdf.canonIntLexSql]]/[[Rdf.canonNumLexSql]].
    */
  private def termNumDt(c: Column, dt: Column): Column =
    when(c.isNull, nullTerm).otherwise(
      Rdf.term(
        when(dt === Rdf.XsdInteger, Rdf.canonIntLex(c))
          .otherwise(Rdf.canonNumLex(c)),
        lit(LIT), dt, lit(""), c.cast("double")))

  /** op:numeric promotion for +,-,*: integer ⊗ integer → integer,
    * anything else → decimal (division is always decimal).
    */
  private def promoteDt(l: Column, r: Column): Column =
    when(l("dt") === Rdf.XsdInteger && r("dt") === Rdf.XsdInteger,
      lit(Rdf.XsdInteger)).otherwise(lit(Rdf.XsdDecimal))

  /** unary numeric ops keep the operand's integer-ness */
  private def keepIntDt(t: Column): Column =
    when(t("dt") === Rdf.XsdInteger, lit(Rdf.XsdInteger))
      .otherwise(lit(Rdf.XsdDecimal))

  private def termStr(c: Column): Column =
    when(c.isNull, nullTerm).otherwise(Rdf.strLit(c))

  /** value comparison (SPARQL §17.3 operator mapping): numeric by value
    * when both sides are numeric, else lexical (ISO dates compare
    * correctly lexically; mixed-kind `=` falls back to term identity).
    */
  private def cmpLt(l: Column, r: Column): Column =
    when(l.isNull || r.isNull, lit(null).cast("boolean"))
      .when(l("num").isNotNull && r("num").isNotNull, l("num") < r("num"))
      // same-datatype non-numeric literals (strings, ISO dates) order
      // lexically; anything else — IRI/bnode operands or mixed
      // datatypes — is a type error (NULL → enclosing FILTER false)
      .when(l("kind") === LIT && r("kind") === LIT && l("dt") === r("dt"),
        l("lex") < r("lex"))
      .otherwise(lit(null).cast("boolean"))

  private def cmpEq(l: Column, r: Column): Column =
    when(l.isNull || r.isNull, lit(null).cast("boolean"))
      .when(l("num").isNotNull && r("num").isNotNull, l("num") === r("num"))
      .otherwise(l("lex") === r("lex") && l("kind") === r("kind"))

  /** XSD 1.1 lexical shapes for the temporal casts (fractional seconds
    * and an optional timezone suffix allowed on xsd:dateTime).
    */
  private val DateLexPat = "^\\d{4}-\\d{2}-\\d{2}(Z|[+-]\\d{2}:\\d{2})?$"
  private val DateTimeLexPat =
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})?$"

  def compExpr(e: Expr, resolve: String => Column): Column = e match {
    case EVar(v) => resolve(v)
    case EConst(t) => constCol(t)
    case EExists(_, _) =>
      throw new IllegalArgumentException("EXISTS only allowed directly under FILTER")
    case EAgg(_, _, _, _) =>
      throw new IllegalArgumentException("aggregate outside GROUP context")
    case ECall(op, args) =>
      def a(i: Int) = compExpr(args(i), resolve)
      op match {
        // boolean plane: evaluate natively, box once at the boundary
        case "&&" | "||" | "!" | "=" | "!=" | "<" | ">" | "<=" | ">=" |
             "bound" | "strstarts" | "strends" | "contains" | "regex" |
             "langmatches" | "sameterm" | "isiri" | "isuri" | "isblank" |
             "isliteral" | "isnumeric" | "in" | "notin" | "xsd:boolean" |
             "__existsflag" =>
          termBool(compBool(e, resolve))
        case "+" => termNumDt(a(0)("num") + a(1)("num"), promoteDt(a(0), a(1)))
        case "-" => termNumDt(a(0)("num") - a(1)("num"), promoteDt(a(0), a(1)))
        case "*" => termNumDt(a(0)("num") * a(1)("num"), promoteDt(a(0), a(1)))
        case "/" => termNum(a(0)("num") / a(1)("num")) // op:numeric-divide: decimal
        case "u-" => termNumDt(-a(0)("num"), keepIntDt(a(0)))
        case "str" => termStr(a(0)("lex"))
        case "lang" => termStr(a(0)("lang"))
        case "datatype" => Rdf.iri(a(0)("dt"))
        case "iri" | "uri" => Rdf.iri(a(0)("lex"))
        case "strlen" =>
          termNumDt(length(a(0)("lex")).cast("double"), Rdf.XsdInteger)
        case "substr" =>
          val from = a(1)("num").cast("int")
          val len = if (args.size > 2) a(2)("num").cast("int") else lit(Int.MaxValue)
          termStr(a(0)("lex").substr(from, len))
        case "ucase" => termStr(upper(a(0)("lex")))
        case "lcase" => termStr(lower(a(0)("lex")))
        case "strbefore" =>
          termStr(when(a(1)("lex") === "", lit(""))
            .when(a(0)("lex").contains(a(1)("lex")),
              call_function("substring_index", a(0)("lex"), a(1)("lex"), lit(1)))
            .otherwise(lit("")))
        case "strafter" =>
          val s0 = a(0)("lex"); val sep = a(1)("lex")
          val pos = call_function("instr", s0, sep)
          termStr(when(sep === "", s0)
            .when(pos > 0, s0.substr(pos + length(sep), length(s0)))
            .otherwise(lit("")))
        case "concat" => termStr(concat(args.map(x => compExpr(x, resolve)("lex")): _*))
        case "replace" =>
          termStr(regexp_replace(a(0)("lex"), a(1)("lex"), a(2)("lex")))
        case "abs" => termNumDt(abs(a(0)("num")), keepIntDt(a(0)))
        case "round" => termNumDt(round(a(0)("num"), 0), keepIntDt(a(0)))
        case "ceil" => termNumDt(ceil(a(0)("num")).cast("double"), keepIntDt(a(0)))
        case "floor" => termNumDt(floor(a(0)("num")).cast("double"), keepIntDt(a(0)))
        // date/time accessors work on the canonical ISO lexical forms
        // (xsd:date "YYYY-MM-DD", xsd:dateTime "YYYY-MM-DDTHH:MM:SS")
        case "year" =>
          termNumDt(substring(a(0)("lex"), 1, 4).cast("double"), Rdf.XsdInteger)
        case "month" =>
          termNumDt(substring(a(0)("lex"), 6, 2).cast("double"), Rdf.XsdInteger)
        case "day" =>
          termNumDt(substring(a(0)("lex"), 9, 2).cast("double"), Rdf.XsdInteger)
        case "hours" =>
          termNumDt(substring(a(0)("lex"), 12, 2).cast("double"), Rdf.XsdInteger)
        case "minutes" =>
          termNumDt(substring(a(0)("lex"), 15, 2).cast("double"), Rdf.XsdInteger)
        case "seconds" => termNum(substring(a(0)("lex"), 18, 2).cast("double"))
        case "tz" => // lexical offset suffix, "" when absent (SPARQL 17.4.5.9)
          termStr(regexp_extract(a(0)("lex"), "(Z|[+-]\\d{2}:\\d{2})$", 1))
        case "timezone" => // xsd:dayTimeDuration of the offset; none = error
          val off = regexp_extract(a(0)("lex"), "(Z|[+-]\\d{2}:\\d{2})$", 1)
          val hh = substring(off, 2, 2).cast("int")
          val mm = substring(off, 5, 2).cast("int")
          // canonical xsd:dayTimeDuration: zero components are omitted
          // ("-00:30" → "-PT30M", not "-PT0H30M")
          val dur = concat(
            when(off.startsWith("-"), lit("-")).otherwise(lit("")),
            lit("PT"),
            when(hh > 0, concat(hh.cast("string"), lit("H"))).otherwise(lit("")),
            when(mm > 0, concat(mm.cast("string"), lit("M"))).otherwise(lit("")))
          when(off === "", nullTerm)
            .when(off === "Z" || hh + mm === 0,
              Rdf.term(lit("PT0S"), lit(LIT), lit("xsd:dayTimeDuration"), lit(""),
                lit(null).cast("double")))
            .otherwise(Rdf.term(dur, lit(LIT), lit("xsd:dayTimeDuration"), lit(""),
              lit(null).cast("double")))
        case "now" =>
          Rdf.term(date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"),
            lit(LIT), lit("xsd:dateTime"), lit(""), lit(null).cast("double"))
        case "rand" => termNum(rand())
        case "uuid" => Rdf.iri(concat(lit("urn:uuid:"), uuid()))
        case "struuid" => termStr(uuid())
        case "bnode" =>
          if (args.isEmpty) Rdf.bnode(uuid()) else Rdf.bnode(a(0)("lex"))
        case "encode_for_uri" => termStr(url_encode(a(0)("lex")))
        case "strlang" => Rdf.langLit(a(0)("lex"), a(1)("lex"))
        case "strdt" =>
          Rdf.term(a(0)("lex"), lit(LIT), a(1)("lex"), lit(""),
            when(Rdf.numericDt(a(1)("lex")), a(0)("lex").cast("double"))
              .otherwise(lit(null).cast("double")))
        case "md5" => termStr(md5(a(0)("lex").cast("binary")))
        case "sha1" => termStr(sha1(a(0)("lex").cast("binary")))
        case "sha256" => termStr(sha2(a(0)("lex").cast("binary"), 256))
        case "sha384" => termStr(sha2(a(0)("lex").cast("binary"), 384))
        case "sha512" => termStr(sha2(a(0)("lex").cast("binary"), 512))
        case "if" =>
          when(coalesce(compBool(args(0), resolve), lit(false)), a(1)).otherwise(a(2))
        case "coalesce" =>
          coalesce(args.map(x => compExpr(x, resolve)): _*)
        // SPARQL casts: failure → error (NULL term), per §17.5
        case "xsd:integer" => // §17.5 casts TRUNCATE toward zero
          termNumDt(
            when(a(0)("num").isNotNull, a(0)("num"))
              .otherwise(a(0)("lex").cast("double"))
              .cast("long").cast("double"),
            lit(Rdf.XsdInteger))
        case "xsd:decimal" | "xsd:double" => termNum(
            when(a(0)("num").isNotNull, a(0)("num"))
              .otherwise(a(0)("lex").cast("double")))
        case "xsd:string" => termStr(a(0)("lex"))
        case "xsd:dateTime" | "xsd:datetime" =>
          // XPath casting (§17.5): xsd:date → midnight with the
          // timezone suffix carried; xsd:dateTime / full-lexical
          // string → identity. Anything else (malformed lexical,
          // numeric, IRI) is a type error → unbound.
          val x = a(0); val lex = x("lex")
          val tzSuf = regexp_extract(lex, "(Z|[+-]\\d{2}:\\d{2})$", 1)
          val res =
            when(x("dt") === Rdf.XsdDate && lex.rlike(DateLexPat),
              concat(substring(lex, 1, 10), lit("T00:00:00"), tzSuf))
            .when(lex.rlike(DateTimeLexPat), lex)
          when(x("kind") === LIT && res.isNotNull,
            Rdf.term(res, lit(LIT), lit(Rdf.XsdDateTime), lit(""),
              lit(null).cast("double")))
          .otherwise(nullTerm)
        case "xsd:date" =>
          val x = a(0); val lex = x("lex")
          val tzSuf = regexp_extract(lex, "(Z|[+-]\\d{2}:\\d{2})$", 1)
          val res =
            when(x("dt") === Rdf.XsdDateTime && lex.rlike(DateTimeLexPat),
              concat(substring(lex, 1, 10), tzSuf))
            .when(lex.rlike(DateLexPat), lex)
          when(x("kind") === LIT && res.isNotNull,
            Rdf.term(res, lit(LIT), lit(Rdf.XsdDate), lit(""),
              lit(null).cast("double")))
          .otherwise(nullTerm)
        case other => throw new IllegalArgumentException(s"unknown function: $other")
      }
  }

  // ------------------------------------------------------------------
  // aggregates
  // ------------------------------------------------------------------

  private def compAgg(a: EAgg, in: DataFrame): Column = {
    val res = resolver(in)
    def arg: Column = compExpr(a.arg.get, res)
    a.fn match {
      case "count" => // COUNT returns xsd:integer (SPARQL §18.5.1.2)
        a.arg match {
          case None => termNumDt(count(lit(1)).cast("double"), Rdf.XsdInteger)
          case Some(_) =>
            if (a.distinct)
              // distinct over FULL terms: "1"^^xsd:integer and "1"
              // (plain) are different values, as are "a"@en / "a"@fr
              termNumDt(
                countDistinct(arg("lex"), arg("kind"), arg("dt"), arg("lang"))
                  .cast("double"),
                Rdf.XsdInteger)
            else termNumDt(count(arg).cast("double"), Rdf.XsdInteger)
        }
      case "sum" => // XPath promotion: all-integer input sums to integer;
        // DISTINCT applies to the VALUE multiset (SPARQL §18.5.1)
        termNumDt(
          if (a.distinct) sum_distinct(arg("num")) else sum(arg("num")),
          when(every(arg("dt") === Rdf.XsdInteger), lit(Rdf.XsdInteger))
            .otherwise(lit(Rdf.XsdDecimal)))
      case "avg" => // AVG of integers is decimal
        if (a.distinct)
          termNum(sum_distinct(arg("num")) / countDistinct(arg("num")))
        else termNum(avg(arg("num")))
      // unbound inputs are skipped (a NULL ordering key is ignored by
      // min_by/max_by) — MIN over {unbound, 5} is 5, not unbound
      case "min" => min_by(arg, when(arg.isNotNull, Rdf.sortKey(arg))) // DISTINCT no-op
      case "max" => max_by(arg, when(arg.isNotNull, Rdf.sortKey(arg)))
      case "sample" => first(arg, ignoreNulls = true)
      case "group_concat" =>
        // DISTINCT dedups FULL terms, then projects lexicals — sorting
        // the (lex, kind, dt, lang) structs orders by lex first, so
        // the concatenation order matches the non-distinct sorted form
        termStr(concat_ws(a.sep.getOrElse(" "),
          if (a.distinct)
            transform(
              array_sort(collect_set(struct(arg("lex").as("lex"),
                arg("kind").as("kind"), arg("dt").as("dt"),
                arg("lang").as("lang")))),
              x => x("lex"))
          else array_sort(collect_list(arg("lex")))))
      case other => throw new IllegalArgumentException(s"unknown aggregate: $other")
    }
  }
}
