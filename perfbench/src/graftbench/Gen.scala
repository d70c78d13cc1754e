package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** A SELECT task: SPARQL text for the engine and DuckDB SQL over the
  * `quads` table (built from `TpchRdf.quadsSql`) for the answer check.
  */
final case class SelectTask(id: String, template: String, sparql: String, oracle: String)

/** A streamed `INSERT DATA` batch tagged with a unique marker IRI. */
final case class InsertBatch(id: String, marker: String, triples: Int, text: String)

/** Seeded input generator. Everything the engine sees is derived from the
  * TPC-H parquet under the data directory and the seed: the order of the
  * N-Triples lines across the chunk files, the SELECT parameters and the
  * insert batches.
  */
object Gen {
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** The sf graph as N-Triples lines (graph labels dropped: each load
    * phase lands in its own version graph).
    */
  def ntLines(spark: SparkSession, dataDir: String): Array[String] =
    graft.rdf.TpchRdf.graphDf(spark, dataDir)
      .select(graft.rio.NQuads.lineCol(lit(""), col("s"), col("p"), col("o")))
      .collect().map(_.getString(0))

  /** Shuffle the lines with the seed and write `n` files of near-equal size. */
  def writeChunkFiles(lines: Array[String], seed: Long, n: Int, dir: Path): Seq[Path] = {
    Files.createDirectories(dir)
    val shuffled = new Random(seed).shuffle(lines.toSeq)
    val per = (shuffled.length + n - 1) / n
    shuffled.grouped(per).zipWithIndex.map { case (part, i) =>
      val p = dir.resolve(f"chunk-$i%02d.nt")
      Files.write(p, part.mkString("", "\n", "\n").getBytes(UTF_8))
      p
    }.toSeq
  }

  /** Order keys, read off the subjects of the generated lines. */
  def orderKeys(lines: Array[String]): Array[Long] =
    lines.iterator.filter(_.startsWith("<ord:")).map(l => l.substring(5, l.indexOf('>')).toLong)
      .toArray.distinct.sorted

  private val AgentClosure =
    """WITH RECURSIVE scl(s, o) AS (
      |  SELECT s, o FROM quads WHERE p='rdfs:subClassOf'
      |  UNION SELECT scl.s, q.o FROM scl JOIN quads q ON q.p='rdfs:subClassOf' AND q.s=scl.o)
      |""".stripMargin

  /** Seven templates; each draws its parameters from a pool larger than
    * the number of tasks a run sends, so a query text rarely repeats.
    */
  val Templates: Seq[String] =
    Seq("bgp_join", "filter_range", "optional", "group_agg", "point", "path", "infer_type")

  private def task(id: String, template: String, r: Random, orderKeys: Array[Long]): SelectTask = {
    def nation = r.nextInt(25)
    def seg = Segments(r.nextInt(Segments.length))
    def bal = r.nextInt(10500) - 1000
    template match {
      case "bgp_join" =>
        val (n, s) = (nation, seg)
        SelectTask(id, template,
          s"""SELECT ?c ?name WHERE { ?c :nation nat:$n . ?c :mktsegment "$s" . ?c :name ?name }""",
          s"""SELECT a.s AS c, nm.o AS name FROM quads a
             |JOIN quads b ON b.s=a.s AND b.p=':mktsegment' AND b.o='$s'
             |JOIN quads nm ON nm.s=a.s AND nm.p=':name'
             |WHERE a.p=':nation' AND a.o='nat:$n'""".stripMargin)
      case "filter_range" =>
        val (s, lo) = (seg, bal)
        SelectTask(id, template,
          s"""SELECT ?c ?bal WHERE { ?c :mktsegment "$s" . ?c :acctbal ?bal . FILTER(?bal >= $lo && ?bal < ${lo + 500}) }""",
          s"""SELECT m.s AS c, b.o AS bal FROM quads m
             |JOIN quads b ON b.s=m.s AND b.p=':acctbal' AND b.onum >= $lo AND b.onum < ${lo + 500}
             |WHERE m.p=':mktsegment' AND m.o='$s'""".stripMargin)
      case "optional" =>
        val (n, t) = (nation, bal)
        SelectTask(id, template,
          s"""SELECT ?s ?name ?bal WHERE { ?s :nation nat:$n . ?s :name ?name . OPTIONAL { ?s :acctbal ?bal . FILTER(?bal > $t) } }""",
          s"""SELECT a.s AS s, nm.o AS name, b.o AS bal FROM quads a
             |JOIN quads nm ON nm.s=a.s AND nm.p=':name'
             |LEFT JOIN quads b ON b.s=a.s AND b.p=':acctbal' AND b.onum > $t
             |WHERE a.p=':nation' AND a.o='nat:$n'""".stripMargin)
      case "group_agg" =>
        val (n, t) = (nation, bal)
        SelectTask(id, template,
          s"""SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c :mktsegment ?seg . ?c :nation nat:$n . ?c :acctbal ?b . FILTER(?b > $t) } GROUP BY ?seg""",
          s"""SELECT m.o AS seg, CAST(count(*) AS VARCHAR) AS n FROM quads m
             |JOIN quads a ON a.s=m.s AND a.p=':nation' AND a.o='nat:$n'
             |JOIN quads b ON b.s=m.s AND b.p=':acctbal' AND b.onum > $t
             |WHERE m.p=':mktsegment' GROUP BY m.o""".stripMargin)
      case "point" =>
        val k = orderKeys(r.nextInt(orderKeys.length))
        SelectTask(id, template,
          s"""SELECT ?p ?o WHERE { ord:$k ?p ?o }""",
          s"""SELECT p, o FROM quads WHERE s='ord:$k'""")
      case "path" =>
        val (s, lo) = (seg, bal)
        SelectTask(id, template,
          s"""SELECT ?c ?nn WHERE { ?c :mktsegment "$s" . ?c :nation/:name ?nn . ?c :acctbal ?b . FILTER(?b >= $lo && ?b < ${lo + 1000}) }""",
          s"""SELECT m.s AS c, nm.o AS nn FROM quads m
             |JOIN quads b ON b.s=m.s AND b.p=':acctbal' AND b.onum >= $lo AND b.onum < ${lo + 1000}
             |JOIN quads a ON a.s=m.s AND a.p=':nation'
             |JOIN quads nm ON nm.s=a.o AND nm.p=':name'
             |WHERE m.p=':mktsegment' AND m.o='$s'""".stripMargin)
      case "infer_type" =>
        // :Agent is never asserted: every answer needs rdfs:subClassOf
        // entailment from the load-time OWL-Horst materialization
        val (n, t) = (nation, bal)
        SelectTask(id, template,
          s"""SELECT ?x WHERE { ?x a :Agent . ?x :nation nat:$n . ?x :acctbal ?b . FILTER(?b > $t) }""",
          AgentClosure +
            s"""SELECT DISTINCT ty.s AS x FROM quads ty
               |JOIN quads a ON a.s=ty.s AND a.p=':nation' AND a.o='nat:$n'
               |JOIN quads b ON b.s=ty.s AND b.p=':acctbal' AND b.onum > $t
               |WHERE ty.p='rdf:type' AND ty.o IN (SELECT s FROM scl WHERE o=':Agent')""".stripMargin)
    }
  }

  /** `n` SELECT tasks; templates are dealt in seeded rounds of all seven. */
  def selectTasks(seed: Long, n: Int, orderKeys: Array[Long]): Seq[SelectTask] = {
    val r = new Random(seed * 7919 + 17)
    Iterator.continually(r.shuffle(Templates)).flatten.take(n).zipWithIndex
      .map { case (t, i) => task(s"s$i", t, r, orderKeys) }.toSeq
  }

  /** `k` INSERT DATA batches of `size` triples, each under a unique marker. */
  def insertBatches(seed: Long, k: Int, size: Int): Seq[InsertBatch] = {
    val r = new Random(seed * 104729 + 3)
    (0 until k).map { i =>
      val marker = s"mark:$seed-$i"
      val body = (0 until size).map { j =>
        s"<ins:$seed-$i-$j> <bench:batch> <$marker> . <ins:$seed-$i-$j> <bench:val> \"${r.nextInt(1000000)}\" ."
      }.mkString("\n")
      InsertBatch(s"i$i", marker, 2 * size, s"INSERT DATA {\n$body\n}")
    }
  }

  /** SPARQL and expected rows of the marker-count check after the inserts. */
  def markerCheck(batches: Seq[InsertBatch]): (String, Seq[Seq[String]]) =
    ("SELECT ?m (COUNT(?s) AS ?n) WHERE { ?s <bench:batch> ?m } GROUP BY ?m",
      batches.map(b => Seq(b.marker, (b.triples / 2).toString)))
}
