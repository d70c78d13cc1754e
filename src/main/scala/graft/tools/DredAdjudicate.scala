package graft.tools

import org.apache.spark.sql.functions._

/** Adjudication main for the DRed delete-maintenance cost (the r15/r16
  * verdicts' "re-measure at sf0.1" item): on one session it times
  * (1) the pre-delete full OWL-Horst materialization both paths start
  * from, (2) the incremental DRed maintenance INCLUDING the store-level
  * inferred-plane deltas (the r16 taint-bounded form), forced end to
  * end, and (3) the full re-materialization of the post-delete world
  * that the maintenance replaces. The delete is the r_infer_delete
  * gate's three instance premises (every rule family crossed). Prints
  * one JSON line on stdout.
  *
  * Usage: sbt "runMain graft.tools.DredAdjudicate [sfDir]"
  */
object DredAdjudicate {
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.LocalIo.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val quads = graft.rdf.TpchRdf.graphDf(spark, sfDir).localCheckpoint()
    val (mat, tMat) = timed {
      val m = graft.infer.OwlHorst.materialize(spark, quads)
      m.count()
      m
    }
    val del = quads.filter(
      (col("s")("lex") === "cust:1" && col("p")("lex") === ":nation") ||
        (col("s")("lex") === "corp:1" && col("p")("lex") === ":hq" &&
          col("o")("lex") === "hq:b") ||
        (col("s")("lex") === "thing:9" && col("p")("lex") === ":prio"))
      .localCheckpoint()
    val ((nAfter, nDrop, nAdd), tInc) = timed {
      val r = graft.infer.OwlHorst.incrementalDeleteDeltas(spark, mat, del)
      (r.after.count(), r.dropInf.count(), r.addInf.count())
    }
    val (nFull, tFull) = timed {
      val remaining = quads.except(
        del.select(col("g"), col("s"), col("p"), col("o")))
      graft.infer.OwlHorst.materialize(spark, remaining).count()
    }
    println(s"""{"metric":"dred_maintenance","sf_dir":"$sfDir",""" +
      f""""mat_sec":$tMat%.1f,"inc_sec":$tInc%.1f,"full_sec":$tFull%.1f,""" +
      s""""after_rows":$nAfter,"full_rows":$nFull,""" +
      s""""drop_inf":$nDrop,"add_inf":$nAdd}""")
    spark.stop()
  }
}
