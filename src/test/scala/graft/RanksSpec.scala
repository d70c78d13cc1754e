package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.Ranks

/** The distributed rank/prefix primitives must reproduce the window
  * formulations EXACTLY — including across partition boundaries,
  * which is where the carry logic lives. The suite runs with 4
  * shuffle partitions, so a hot key's run crosses several of them.
  */
class RanksSpec extends GraftSuite {

  import spark.implicits._

  // skewed fixture: key "hot" holds most rows (its run spans
  // partitions), several tiny interior keys, one singleton
  private def fixture = (
    (1 to 300).map(i => ("hot", i.toLong, (i * 37 % 101).toLong)) ++
    (1 to 7).map(i => ("a", 1000L + i, i.toLong)) ++
    (1 to 5).map(i => ("m", 2000L + i, (10 - i).toLong)) ++
    Seq(("z", 9999L, 42L))
  ).toDF("k", "id", "v")

  test("keyedRowIndex equals row_number/count over the key") {
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
    val want = fixture
      .withColumn("__rank", row_number().over(w).cast("long") - 1)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("k")))
      .orderBy("k", "id").collect().toSeq
    val got = Ranks.keyedRowIndex(fixture, Seq("k"),
        Seq(col("v").desc, col("id").asc), "__rank", "__n")
      .orderBy("k", "id").collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("keyedRowIndex with NO key equals a global row_number") {
    val w = Window.orderBy(col("v").asc, col("id").asc)
    val want = fixture
      .withColumn("__rank", row_number().over(w).cast("long") - 1)
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .orderBy("id").collect().toSeq
    val got = Ranks.keyedRowIndex(fixture, Nil,
        Seq(col("v").asc, col("id").asc), "__rank", "__n")
      .orderBy("id").collect().toSeq
    assert(got == want)
  }

  test("ntileExpr equals the ntile window for every k and frame size") {
    for (k <- Seq(2, 3, 4, 7); take <- Seq(1, 3, 12, 313)) {
      val base = fixture.limit(take)
      val w = Window.orderBy(col("v").asc, col("id").asc)
      val want = base
        .select(col("id"), ntile(k).over(w).cast("long").as("b"))
        .orderBy("id").collect().toSeq
      val got = Ranks.keyedRowIndex(base, Nil,
          Seq(col("v").asc, col("id").asc), "__rank", "__n")
        .select(col("id"), Ranks.ntileExpr("__rank", "__n", k).as("b"))
        .orderBy("id").collect().toSeq
      assert(got == want, s"ntile($k) over $take rows diverged")
    }
  }

  test("prefixMinLong equals the exclusive prefix-min window") {
    val w = Window.orderBy(col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = fixture
      .withColumn("pm", min("v").over(w))
      .orderBy("id").collect().toSeq
    val got = Ranks.prefixMinLong(fixture, Seq(col("id").asc), "v", "pm")
      .orderBy("id").collect().toSeq
    assert(got == want)
    // first row in sort order carries null (no preceding rows)
    assert(got.head.isNullAt(3))
  }

  test("prefixSumLong equals the inclusive running-sum window") {
    val w = Window.orderBy(col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = fixture
      .withColumn("ps", sum("v").over(w))
      .orderBy("id").collect().toSeq
    val got = Ranks.prefixSumLong(fixture, Seq(col("id").asc), "v", "ps")
      .orderBy("id").collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("primitives release their intermediate checkpoints deterministically") {
    // the r10/r12 leak class: every call used to pin a full-width
    // range-partitioned copy until GC; repeated callers accumulate.
    // After seal-and-release only the OUTPUT checkpoint (the caller's
    // reference) may remain persisted per call.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val outs = (1 to 3).map { _ =>
      val o = Ranks.keyedRowIndex(fixture, Seq("k"),
        Seq(col("v").asc, col("id").asc), "__r", "__n")
      o.count()
      o
    } ++ (1 to 2).map { _ =>
      val o = Ranks.prefixMinLong(fixture, Seq(col("id").asc), "v", "pm")
      o.count()
      o
    }
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == outs.size,
      s"expected ${outs.size} output checkpoints, found ${added.size} " +
        "persisted RDDs — an intermediate layout leaked")
  }

  test("prefixMinLong fails fast on a null value column") {
    val withNull = fixture.withColumn("v",
      when(col("id") === 1005L, lit(null)).otherwise(col("v")).cast("long"))
    val before = persistedRdds()
    val e = intercept[org.apache.spark.SparkException] {
      Ranks.prefixMinLong(withNull, Seq(col("id").asc), "v", "pm").count()
    }
    assert(e.getMessage.contains("prefixMinLong") ||
      Option(e.getCause).exists(_.getMessage.contains("prefixMinLong")))
    // the staged range layout is released on the throw, not leaked
    val leaked = persistedRdds() -- before
    assert(leaked.isEmpty, s"checkpoints left persisted by the failed call: $leaked")
  }

  test("empty and singleton inputs survive both primitives") {
    val empty = fixture.limit(0)
    assert(Ranks.keyedRowIndex(empty, Seq("k"),
      Seq(col("v").asc), "__r", "__n").count() == 0)
    assert(Ranks.prefixMinLong(empty, Seq(col("id").asc), "v", "pm")
      .count() == 0)
    val one = fixture.limit(1)
    val r = Ranks.keyedRowIndex(one, Nil, Seq(col("id").asc), "__r", "__n")
      .collect()
    assert(r.length == 1 && r(0).getLong(3) == 0L && r(0).getLong(4) == 1L)
  }
}
