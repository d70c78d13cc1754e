package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Similarity
import graft.functions.CosineSim

/** Native codegen'd cosine expression vs the higher-order-function
  * formulation: must agree bit-for-bit (same sequential double fold).
  */
class CosineSimSpec extends GraftSuite {

  test("kCenterSeeds: greedy farthest-point schedule on a known geometry") {
    import spark.implicits._
    // unit vectors: ids 1,2 coincide at (1,0); 3 at (0,1); 4 at (-1,0).
    // seed = min id (1); round 2 picks the antipode (4, dist 2e6);
    // round 3 the orthogonal point (3, dist 1e6); the duplicate of the
    // seed is never selected (min-dist 0)
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterSeeds(e, k = 3)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L, 0L), (2L, 4L, 2000000L), (3L, 3L, 1000000L)))
  }

  test("kCenterSeeds releases every round's checkpoint") {
    import spark.implicits._
    val e = (1 to 12).map(i => (i.toLong, Seq(math.cos(i).toFloat,
      math.sin(i).toFloat))).toDF("vec_id", "embedding")
    val got = assertCheckpointsOwned(Similarity.kCenterSeeds(e, k = 4))
    assert(got.count() == 4L)
  }

  test("marginTopMatch: hand-computed margin on a known neighborhood") {
    import spark.implicits._
    // query 0 at (1,0); neighborhood cosines 1.0, 0.8, 0.6, 0.0 —
    // mean 0.6, so the top match (id 1, cos 1.0) has margin 1/0.6
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.8f, 0.6f)), (3L, Seq(0.6f, 0.8f)),
      (4L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.marginTopMatch(
      e.filter(col("vec_id") === 0), e, k = 4).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 1.666667) < 1e-6)
  }

  test("hllRollingDaily: day window equals the union of daily registers") {
    import spark.implicits._
    import java.sql.Timestamp
    // disjoint user populations on 4 days with a gap (no day 3):
    // day 4's 3-day trailing window covers days {2, 4} only
    def ts(day: Int, i: Int) = Timestamp.valueOf(f"2026-01-0$day 0$i:00:00")
    val events = (for {
      (day, users) <- Seq(1 -> (1 to 40), 2 -> (41 to 90),
        4 -> (91 to 120), 5 -> (121 to 200))
      u <- users
    } yield (ts(day, u % 9), u.toLong)).toDF("ts", "user_id")
    val rolled = graft.ext.Sketches.hllRollingDaily(events, windowDays = 3)
      .collect().groupBy(_.getString(0))
      .map { case (d, rs) => d -> rs.map(r => r.getInt(1) -> r.getInt(2)).toMap }
    def dailyRegs(days: Seq[Int]): Map[Int, Int] =
      graft.ext.Sketches.hllRegisters(
        events.filter(dayofmonth(col("ts")).isin(days: _*))
          .select(col("user_id").cast("string").as("term")))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rolled.keySet ===
      Set("2026-01-01", "2026-01-02", "2026-01-04", "2026-01-05"))
    assert(rolled("2026-01-02") === dailyRegs(Seq(1, 2)))
    assert(rolled("2026-01-04") === dailyRegs(Seq(2, 4)))
    assert(rolled("2026-01-05") === dailyRegs(Seq(4, 5)))
  }

  test("CosineSim equals the aggregate/zip_with formulation exactly") {
    val e = Tables(spark, sf, "embeddings")
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id")).limit(500)
    val diff = pairs.select(
        CosineSim(col("a"), col("b")).as("native"),
        Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.isEmpty, "native and HOF cosine must agree exactly")
  }

  test("IVF and PQ results are invariant under corpus row order") {
    // the quantizer seeds are the N lowest seed-hash vectors — a set,
    // not a prefix — so reversing (or otherwise permuting) the corpus
    // row order must not change a single output row. The old
    // `vec_id < N` seeding had this property only by luck of id
    // assignment; at scale ingest order is clustered per source.
    val e = Tables(spark, sf, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val permuted = e.orderBy(col("vec_id").desc).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    assert(rows(Similarity.ivfTopK(queries, e, 5)) ==
      rows(Similarity.ivfTopK(queries, permuted, 5)))
    assert(rows(Similarity.pqTopK(queries, e, 5)) ==
      rows(Similarity.pqTopK(queries, permuted, 5)))
    permuted.unpersist()
  }

  test("kmeansAssign and semDedup are invariant under corpus row order") {
    // same seeding contract as IVF/PQ, plus the fixed-point centroid
    // sums must be partition/order-independent (integer addition)
    val e = Tables(spark, sf, "embeddings")
    val permuted = e.orderBy(col("vec_id").desc).repartition(7).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().toSeq
    assert(rows(Similarity.kmeansAssign(e, 8, 1)) ==
      rows(Similarity.kmeansAssign(permuted, 8, 1)))
    assert(rows(Similarity.semDedup(e, 8, 0.3)) ==
      rows(Similarity.semDedup(permuted, 8, 0.3)))
    permuted.unpersist()
  }

  test("semDedup keep set is minimal and closed under the drop rule") {
    // every dropped vector names a KEPT lower-id duplicate in its own
    // cluster (chains collapse onto survivors transitively is NOT
    // claimed — SemDeDup drops against any lower id; verify dup_of is
    // lower, same-cluster, and that keepers have no kept lower-id
    // partner above threshold is implied by construction)
    val out = Similarity.semDedup(Tables(spark, sf, "embeddings"), 8, 0.3).cache()
    val bad = out.where(col("keep") === false && (col("dup_of").isNull ||
      col("dup_of") >= col("vec_id"))).count()
    assert(bad == 0, "dropped rows carry a lower dup_of id")
    val keepAll = out.where(col("keep") === true && col("dup_of").isNotNull).count()
    assert(keepAll == 0, "keepers have no dup_of")
    assert(out.where(col("keep")).count() > 0)
    out.unpersist()
  }

  test("semDedup: derived k keeps candidate pairs linear in the corpus") {
    // the SemDeDup scaling rule: k = ceil(n/B) bounds the expected
    // within-cluster join to O(n*B); a FIXED k makes it O(n^2/k).
    // Evidence on the deterministic fixture: doubling the corpus
    // doubles candidate pairs under derived k (linear) but ~4x's them
    // under fixed k (quadratic).
    val e = Tables(spark, sf, "embeddings")
    val half = e.where(col("vec_id") % 2 === 0)
    val n = e.count() // 500
    val B = 32L
    def candPairs(df: org.apache.spark.sql.DataFrame, k: Int): Long =
      Similarity.semDedup(df, k, 0.3, B).groupBy("cluster").count()
        .collect().map(_.getLong(1)).map(c => c * (c - 1) / 2).sum
    val kExpect = ((n + B - 1) / B).toInt
    val derivedClusters = Similarity.semDedup(e, 0, 0.3, B)
      .select("cluster").distinct().count()
    assert(derivedClusters <= kExpect && derivedClusters > n / B / 2,
      s"derived cluster count $derivedClusters vs k=$kExpect")
    val dFull = candPairs(e, 0)
    val dHalf = candPairs(half, 0)
    assert(dFull <= n * B, s"derived-k candidate pairs $dFull exceed n*B=${n * B}")
    assert(dFull.toDouble / dHalf <= 3.0,
      s"derived k should scale ~linearly: $dFull vs $dHalf")
    val fFull = candPairs(e, 8)
    val fHalf = candPairs(half, 8)
    assert(fFull.toDouble / fHalf >= 3.5,
      s"fixed k should show the quadratic blowup the rule prevents: $fFull vs $fHalf")
  }

  test("semDedup and cosineNearDupPairs: derived paths release what their result does not read") {
    val e = Tables(spark, sf, "embeddings")
    val dedup = assertCheckpointsOwned(Similarity.semDedup(e, 0, 0.3, 32L))
    assert(dedup.count() == e.count())
    assert(dedup.columns.toSeq == Seq("vec_id", "cluster", "dup_of", "keep"))
    val pairs = assertCheckpointsOwned(Similarity.cosineNearDupPairs(e, 0.3))
    assert(pairs.count() ==
      Similarity.cosineNearDupPairs(e, 0.3, bits = 4).count())
  }

  test("self-similarity is 1, null on length mismatch") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val got = df.select(CosineSim(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got(0) == 1.0 && got(1) == 0.0)
    val mism = Seq((Array(1.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(CosineSim(col("a"), col("b"))).head
    assert(mism.isNullAt(0))
  }

  test("zero-norm vectors yield null (Divide-by-zero parity), never crash") {
    import spark.implicits._
    // Spark's Divide returns NULL on a zero divisor under the engine's
    // ANSI-off config, so the HOF path yields NULL — the native
    // expression matches instead of throwing from BigDecimal(NaN)
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    assert(df.select(CosineSim(col("a"), col("b"))).head.isNullAt(0))
  }

  test("null array elements propagate to a null result") {
    val df = spark.sql(
      "SELECT array(cast(1.0 as float), cast(null as float)) AS a, " +
        "array(cast(1.0 as float), cast(2.0 as float)) AS b")
    assert(df.select(CosineSim(org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b"))).head.isNullAt(0))
  }

  test("PolyHash equals the aggregate/split formulation exactly") {
    val docs = Tables(spark, sf, "documents")
    val toks = docs.select(explode(split(col("text"), " ")).as("t")).limit(2000)
    val diff = toks.select(
        graft.functions.PolyHash(col("t")).as("native"),
        graft.ext.TextAnalysis.polyHashHof(col("t")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.isEmpty, "native and HOF polyHash must agree exactly")
  }

  test("dimStats: hand-computed fixed-point sums and derived moments") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f)),
      (2L, Seq(0.25f, 0.5f))).toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.dimStats(df).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // dim 0: v = 1.0, 0.25 → Σmicro 1250000, Σ(milli²) 1000000+62500;
    // mean_micro 625000, exy_micro 531250, var_pico 531250e6−625000²
    assert(got(0) == ((2L, 1250000L, 1062500L, 625000L, 531250L,
      140625000000L)))
    // dim 1: v = -0.5, 0.5 → Σmicro 0, Σ(milli²) 2·250000
    assert(got(1) == ((2L, 0L, 500000L, 0L, 250000L, 250000000000L)))
  }

  test("gramMatrix: hand-computed moments; power iteration finds the dominant axis") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.5f)),
      (2L, Seq(0.5f, 1.0f))).toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.gramMatrix(df).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // milli² sums: (0,0): 1e6+0.25e6; (0,1): 2·0.5e6; (1,1): same as (0,0)
    // cov_pico = round(sum/n)·1e6 − mean_micro_i·mean_micro_j
    assert(got((0, 0)) == ((2L, 1250000L, 62500000000L, 0.0625)))
    assert(got((0, 1)) == ((2L, 1000000L, -62500000000L, -0.0625)))
    assert(got((1, 1)) == ((2L, 1250000L, 62500000000L, 0.0625)))
    // anisotropic cloud along (1,1): dominant component recovers it
    val cloud = (1 to 200).map { k =>
      val tAxis = (k % 21 - 10) / 10.0f          // spread along (1,1)
      val tOrth = (k % 7 - 3) / 30.0f            // small spread along (1,-1)
      (k.toLong, Seq(tAxis + tOrth, tAxis - tOrth))
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val pc = graft.ext.Similarity.topComponent(
      graft.ext.Similarity.gramMatrix(cloud))
    val inv = 1.0 / math.sqrt(2)
    assert(math.abs(math.abs(pc(0) * inv + pc(1) * inv) - 1.0) < 0.02,
      s"expected ±(1,1)/√2, got ${pc.toSeq}")
  }

  test("expression participates in whole-stage codegen") {
    val e = Tables(spark, sf, "embeddings")
    val plan = e.select(CosineSim(col("embedding"), col("embedding")).as("c"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"), s"expected codegen'd Project:\n$plan")
  }
}
