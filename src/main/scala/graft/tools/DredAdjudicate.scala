package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.infer.OwlHorst

/** Timing main for DRed delete maintenance. On one session it
  * materializes the TPC-H graph once, then for each of three deletes
  * times (1) the incremental maintenance INCLUDING the store-level
  * inferred-plane deltas, forced end to end, and (2) the full
  * re-materialization of the post-delete world that the maintenance
  * replaces. The deletes:
  *  - `r_infer_delete`: the r_infer_delete gate's three instance
  *    premises (every rule family crossed);
  *  - `customer_subclass`: the axiom `:Customer rdfs:subClassOf :Agent`;
  *  - `customer_nation`: every customer's `:nation` edge.
  *
  * Prints one JSON line per delete on stdout. `path` names what the
  * maintenance ran, read from the OwlHorst counters: `driver` (the
  * collected-row DRed phases), `rematerialized` (a surrender, counted
  * in `capFallbacks`), or `distributed` when neither counter moved
  * (engines that still had distributed DRed loops).
  *
  * Usage: sbt "runMain graft.tools.DredAdjudicate [sfDir]"
  */
object DredAdjudicate {
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def lex(c: String): Column = col(c)("lex")

  private val Deletes: Seq[(String, Column)] = Seq(
    "r_infer_delete" ->
      ((lex("s") === "cust:1" && lex("p") === ":nation") ||
        (lex("s") === "corp:1" && lex("p") === ":hq" && lex("o") === "hq:b") ||
        (lex("s") === "thing:9" && lex("p") === ":prio")),
    "customer_subclass" -> (lex("s") === ":Customer" &&
      lex("p") === "rdfs:subClassOf" && lex("o") === ":Agent"),
    "customer_nation" ->
      (lex("s").startsWith("cust:") && lex("p") === ":nation"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.LocalIo.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val quads = graft.rdf.TpchRdf.graphDf(spark, sfDir).localCheckpoint()
    val (mat, tMat) = timed {
      val m = OwlHorst.materialize(spark, quads)
      m.count()
      m
    }
    Deletes.foreach { case (name, cond) =>
      val del: DataFrame = quads.filter(cond).localCheckpoint()
      val nDel = del.count()
      val (dt0, cf0) = (OwlHorst.dredDriverTaints.get(), OwlHorst.capFallbacks.get())
      val ((nAfter, nDrop, nAdd), tInc) = timed {
        val r = OwlHorst.incrementalDeleteDeltas(spark, mat, del)
        (r.after.count(), r.dropInf.count(), r.addInf.count())
      }
      val path =
        if (OwlHorst.capFallbacks.get() > cf0) "rematerialized"
        else if (OwlHorst.dredDriverTaints.get() > dt0) "driver"
        else "distributed"
      val (nFull, tFull) = timed {
        val remaining = quads.except(
          del.select(col("g"), col("s"), col("p"), col("o")))
        OwlHorst.materialize(spark, remaining).count()
      }
      println(s"""{"metric":"dred_maintenance","delete":"$name",""" +
        s""""sf_dir":"$sfDir","deleted":$nDel,"path":"$path",""" +
        f""""mat_sec":$tMat%.1f,"inc_sec":$tInc%.1f,"full_sec":$tFull%.1f,""" +
        s""""after_rows":$nAfter,"full_rows":$nFull,""" +
        s""""drop_inf":$nDrop,"add_inf":$nAdd}""")
    }
    spark.stop()
  }
}
