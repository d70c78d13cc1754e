package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Rounds

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a scale story:
  *  - [[bruteForceTopK]]: exact cosine top-k. Query side is broadcast
  *    (queries are small by construction); the corpus is scanned once,
  *    map-side scored, and top-k is a TakeOrdered per query — no
  *    corpus shuffle. Right answer when queries ≪ corpus.
  *  - [[lshTopK]]: IVF/LSH-bucketed ANN — corpus is pre-bucketed by a
  *    random-hyperplane signature; each query probes only its bucket.
  *    At 100 TB the bucket column is a partition key, so a probe is a
  *    partition-pruned scan instead of a full pass.
  *
  * All arithmetic is sequential-order double math (`zip_with` +
  * `aggregate`), deterministic and engine-independent.
  */
object Similarity {

  /** Cosine similarity of two float vectors, computed in double.
    * Native codegen'd Catalyst expression ([[graft.functions.CosineSim]]);
    * [[cosineHof]] keeps the built-in higher-order-function
    * formulation for cross-checking — both are the same sequential
    * double fold, so they agree bit-for-bit (and with the DuckDB
    * `list_reduce` oracle mirror).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** `aggregate(zip_with(...))` reference formulation (interpreted,
    * not codegen'd — kept for equivalence testing).
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, v) => u.cast("double") * v.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    round(dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b)), 6)
  }

  /** Exact top-k neighbours for each query vector.
    * @param queries (query_id, embedding) — small; broadcast.
    * @param corpus  (vec_id, embedding) — arbitrarily large.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(
        broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank").cast("int").as("rank"))
  }

  /** Hard-negative mining: for each query, the `k` most-similar
    * corpus vectors with a DIFFERENT class label (label = `vec_id %
    * nClasses`, the deterministic stand-in for a real label column) —
    * the contrastive-training primitive: a positive's near-duplicates
    * in other classes are the gradient-rich negatives. Broadcast
    * probes, map-only score + class filter, `row_number <= k` rank at
    * the sink (partial WindowGroupLimit below the exchange; bounded
    * rows per query at any corpus size).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      nClasses: Int): DataFrame = {
    val scored = corpus.join(
        broadcast(queries.select(col("vec_id").as("query_id"),
          (col("vec_id") % nClasses).as("q_cls"),
          col("embedding").as("q_emb"))),
        col("vec_id") =!= col("query_id") &&
          (col("vec_id") % nClasses) =!= col("q_cls"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"),
        col("rank").cast("int").as("rank"))
  }

  /** nDCG@k of an approximate ranking against the exact one — the
    * graded retrieval-quality metric (recall@k treats rank-1 and
    * rank-k hits alike; nDCG weights by position). Relevance of an
    * approx item = k+1 − its EXACT rank (0 outside the exact top-k);
    * each position's gain rounds to micro-units BEFORE the per-query
    * sum (order-independent, cross-engine exact); log2 is realized as
    * ln(x)/ln(2) so both engines run the identical IEEE ops. The
    * ideal DCG is a k-only constant, computed once on the driver.
    * Scale shape: one join of two k-bounded rankings + a combinable
    * per-query sum.
    */
  def ndcgAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val idcgMicro = (1 to k).map(j =>
      math.round((k - j + 1) * 1e6 / (math.log(j + 1) / math.log(2)))).sum
    val rel = exact.select(col("query_id"), col("vec_id"),
      (lit(k + 1) - col("rank").cast("long")).as("rel"))
    approx.select(col("query_id"), col("vec_id"),
        col("rank").cast("long").as("arank"))
      .join(rel, Seq("query_id", "vec_id"), "left")
      .withColumn("c_micro", when(col("rel").isNull, lit(0L))
        .otherwise(round(col("rel") * 1e6 /
          (log(col("arank") + 1) / log(lit(2.0))), 0).cast("long")))
      .groupBy("query_id")
      .agg(sum("c_micro").as("dcg_micro"))
      .select(col("query_id"), col("dcg_micro"),
        round(col("dcg_micro").cast("double") * lit(1e6)
          / lit(idcgMicro.toDouble), 0).cast("long").as("ndcg_micro"))
  }

  /** Margin-based match mining (Artetxe & Schwenk): the best match
    * per query scored RELATIVE to the query's k-NN neighborhood —
    * margin = cos(x, y₁) / mean(top-k cos of x). An absolute cosine
    * threshold can't separate "genuine translation/duplicate pair"
    * from "hub vector similar to everything"; the margin can, which
    * is why it's the standard mining score for bitext and
    * cross-corpus alignment. Broadcast probes + map-only scoring +
    * partial WindowGroupLimit rank (the [[hardNegatives]] shape); the
    * neighborhood mean sums micro-unit longs so it is
    * order-independent and cross-engine exact.
    */
  def marginTopMatch(queries: DataFrame, corpus: DataFrame,
      k: Int = 4): DataFrame = {
    val scored = corpus.join(
        broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val top = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    val stats = top.groupBy("query_id")
      .agg(sum(round(col("cos") * 1e6, 0).cast("long")).as("sum_micro"))
    top.where(col("rank") === 1)
      .join(broadcast(stats), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"),
        round(col("cos") / (col("sum_micro") / lit(k.toDouble) / 1e6), 6)
          .as("margin"))
  }

  /** Range (radius) search: every corpus vector with cosine ≥
    * `threshold` per query — the recall-oriented sibling of top-k
    * (dedup and retrieval audits ask "everything this similar", not
    * "the k best"). Broadcast probes, map-only score + filter: no
    * window, no per-query state, nothing but the corpus scan at any
    * scale.
    */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame =
    corpus.join(
        broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .where(col("cos") >= threshold)

  /** Int8 coarse top-k: score with the integer dot product of the
    * symmetric int8 quantizations ([[int8Scale]] per vector) — exact
    * integer arithmetic, engine-independent by construction. The
    * production first stage of two-stage retrieval: codes are 4×
    * smaller than fp32 and the scan is integer math; at store scale
    * the codes are a precomputed column and the fp32 embeddings are
    * never read. Broadcast probes, map-only scoring, `row_number <= k`
    * partial WindowGroupLimit — the [[bruteForceTopK]] shape.
    */
  def int8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    def coded(df: DataFrame, id: String, code: String): DataFrame =
      df.select(col("vec_id").as(id),
          col("embedding").as(s"__e_$id"),
          int8Scale(col("embedding")).as(s"__sc_$id"))
        .select(col(id), transform(col(s"__e_$id"),
          x => round(x.cast("double") * col(s"__sc_$id"), 0).cast("long"))
          .as(code))
    val scored = coded(corpus, "vec_id", "cv")
      .join(broadcast(coded(queries, "query_id", "qv")),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("qv"), col("cv"), (u, v) => u * v),
          lit(0L), (a, v) => a + v).as("idot"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("idot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("idot"),
        col("rank").cast("int").as("rank"))
  }

  /** Two-stage retrieval: int8 coarse scan keeps `coarse` candidates
    * per query (integer dot product, ties to the lower vec_id), the
    * exact cosine rescores them and emits the final top `k` — the
    * standard quantized-index + rescore pipeline (quantization error
    * cancels in the rescore as long as the true neighbours survive
    * the coarse cut). The corpus embedding rides through the coarse
    * rank window here; at store scale the rescore re-reads the fp32
    * column for only `coarse` rows per query instead.
    */
  def int8RescoreTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      coarse: Int): DataFrame = {
    def coded(df: DataFrame, id: String, emb: String, code: String): DataFrame =
      df.select(col("vec_id").as(id), col("embedding").as(emb),
          int8Scale(col("embedding")).as("__sc"))
        .select(col(id), col(emb), transform(col(emb),
          x => round(x.cast("double") * col("__sc"), 0).cast("long")).as(code))
    val coarseScored = coded(corpus, "vec_id", "embedding", "cv")
      .join(broadcast(coded(queries, "query_id", "q_emb", "qv")),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("q_emb"), col("embedding"),
        aggregate(zip_with(col("qv"), col("cv"), (u, v) => u * v),
          lit(0L), (a, v) => a + v).as("idot"))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("idot").desc, col("vec_id").asc)
    val ws = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    coarseScored.withColumn("crank", row_number().over(wc))
      .where(col("crank") <= coarse)
      .select(col("query_id"), col("vec_id"), col("idot"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(ws))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("idot"), col("cos"),
        col("rank").cast("int").as("rank"))
  }

  /** Reciprocal-rank fusion (RRF) of two retriever rank lists — the
    * standard hybrid-retrieval combiner (dense + lexical, dense +
    * quantized, …): score = Σ 1/(kConst + rank) over the lists that
    * returned the item, missing membership contributing 0. Rank-based,
    * so the two retrievers' score scales never need calibrating. A
    * full-outer join on (query_id, vec_id) of two ALREADY-truncated
    * lists — per-query candidate volume is bounded by the list
    * lengths, independent of corpus size.
    */
  def rrfFusion(a: DataFrame, b: DataFrame, k: Int,
      kConst: Int = 60): DataFrame = {
    val fused = a.select(col("query_id"), col("vec_id"),
        col("rank").as("rank_a"))
      .join(b.select(col("query_id"), col("vec_id"),
        col("rank").as("rank_b")), Seq("query_id", "vec_id"), "full_outer")
      .select(col("query_id"), col("vec_id"),
        (coalesce(lit(1.0) / (lit(kConst) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kConst) + col("rank_b")), lit(0.0)))
          .as("rrf_raw"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_raw").desc, col("vec_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("rrf_raw") * lit(1e6), 0).cast("long").as("rrf_micro"),
        col("rank").cast("int").as("rank"))
  }

  /** Random-hyperplane (sign-LSH) bucket id: `bits` pseudo-random
    * hyperplanes, deterministic coefficients from (plane, dim) via a
    * fixed LCG — engine-independent, no trained state to ship.
    */
  /** Per-dimension corpus statistics over the embedding column — the
    * normalization/whitening-prep pass (feature means for centering,
    * second moments for scaling). One `posexplode` + a combinable
    * groupBy onto exactly `dim` keys: map-side partial sums make the
    * shuffle `O(partitions × dim)` regardless of corpus size, so this
    * is a single cheap pass at 100 TB. Sums are FIXED-POINT integers
    * (micro-units for Σv, milli² units for Σv²) so the distributed
    * sum is order-independent and cross-engine exact. The derived
    * moments stay on the INTEGER plane: `round(q)` of a deterministic
    * double quotient is engine-exact (both engines decide the same
    * binary value against the same half-integer boundary), whereas
    * `round(q, 6)` as a hashed DOUBLE is not — Spark rounds the
    * shortest decimal repr decimally while DuckDB scales by 1e6 in
    * binary first, and the two disagree on half-boundary values.
    * `var_pico = exy_micro·1e6 − mean_micro²` is pure 64-bit integer
    * arithmetic (|exy_micro| ≤ 1e6 ⇒ no overflow at any corpus size).
    */
  def dimStats(corpus: DataFrame, emb: String = "embedding"): DataFrame = {
    val vMicro = round(col("v").cast("double") * 1e6, 0).cast("long")
    val vMilli = round(col("v").cast("double") * 1e3, 0).cast("long")
    corpus.select(posexplode(col(emb))).toDF("dim", "v")
      .groupBy(col("dim").cast("int").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(vMicro).as("sum_micro"),
        sum(vMilli * vMilli).as("sumsq_milli2"))
      .withColumn("mean_micro",
        round(col("sum_micro").cast("double") / col("n"), 0).cast("long"))
      .withColumn("exy_micro",
        round(col("sumsq_milli2").cast("double") / col("n"), 0).cast("long"))
      .withColumn("var_pico",
        col("exy_micro") * lit(1000000L) - col("mean_micro") * col("mean_micro"))
  }

  /** Embedding DRIFT between two corpus halves (r14 — the embedding
    * column's sibling of the text-side NLL/KL curation gates): per
    * dimension, the mean/variance delta between the reference slice
    * (even ids — standing in for the ingest-time snapshot) and the
    * current slice (odd ids). ONE combinable aggregate of 2×3
    * conditional fixed-point sums onto exactly `dim` keys — the
    * shuffle is `O(partitions × dim)` at any corpus size, no join of
    * two stats passes, no second scan. All derived moments follow
    * [[dimStats]]'s integer-plane discipline (micro / milli² / pico
    * units; round-to-integer of deterministic quotients), so the
    * drift deltas are cross-engine exact. A production pipeline
    * watches `mean_diff_micro` / `var_diff_pico` per dim for feature
    * shift before it poisons retrieval or training.
    */
  def dimDrift(corpus: DataFrame, emb: String = "embedding",
      idCol: String = "doc_id"): DataFrame = {
    val vMicro = round(col("v").cast("double") * 1e6, 0).cast("long")
    val vMilli = round(col("v").cast("double") * 1e3, 0).cast("long")
    def half(h: Int, c: Column): Column =
      sum(when(col("h") === h, c).otherwise(lit(0L)))
    // an empty half (all-even or all-odd ids) yields NULL moments and
    // NULL deltas rather than a NaN→engine-divergent division
    def meanOf(sumC: String, nC: String): Column =
      when(col(nC) > 0,
        round(col(sumC).cast("double") / col(nC), 0).cast("long"))
    corpus.select(col(idCol).as("id"), posexplode(col(emb)))
      .toDF("id", "dim", "v")
      .withColumn("h", pmod(col("id"), lit(2)).cast("int"))
      .groupBy(col("dim").cast("int").as("dim"))
      .agg(half(0, lit(1L)).as("n_a"), half(1, lit(1L)).as("n_b"),
        half(0, vMicro).as("sum_micro_a"), half(1, vMicro).as("sum_micro_b"),
        half(0, vMilli * vMilli).as("sumsq_milli2_a"),
        half(1, vMilli * vMilli).as("sumsq_milli2_b"))
      .withColumn("mean_micro_a", meanOf("sum_micro_a", "n_a"))
      .withColumn("mean_micro_b", meanOf("sum_micro_b", "n_b"))
      .withColumn("var_pico_a",
        meanOf("sumsq_milli2_a", "n_a") * lit(1000000L)
          - col("mean_micro_a") * col("mean_micro_a"))
      .withColumn("var_pico_b",
        meanOf("sumsq_milli2_b", "n_b") * lit(1000000L)
          - col("mean_micro_b") * col("mean_micro_b"))
      .select(col("dim"), col("n_a"), col("n_b"),
        col("mean_micro_a"), col("mean_micro_b"),
        (col("mean_micro_b") - col("mean_micro_a")).as("mean_diff_micro"),
        col("var_pico_a"), col("var_pico_b"),
        (col("var_pico_b") - col("var_pico_a")).as("var_diff_pico"))
  }

  /** Apply [[dimStats]] as a per-dimension z-score (whitening without
    * rotation): broadcast the 64-row stats table, explode, normalize
    * map-only. Zero-variance dimensions map to 0 rather than NaN.
    * Output is `z_milli` — the z-score in integer milli-units — so
    * the hashed column is a LONG derived from a deterministic double
    * expression (mirrored verbatim by the oracle), never a rounded
    * DOUBLE sitting on a decimal half-boundary.
    */
  def whiten(corpus: DataFrame, emb: String = "embedding"): DataFrame = {
    val stats = dimStats(corpus, emb).select("dim", "mean_micro", "var_pico")
    corpus.select(col("vec_id"), posexplode(col(emb))).toDF("vec_id", "dim", "v")
      .join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        when(col("var_pico") > 0,
          round(((col("v").cast("double")
              - col("mean_micro").cast("double") / lit(1e6))
            / sqrt(col("var_pico").cast("double") / lit(1e12))) * lit(1e3), 0)
            .cast("long"))
          .otherwise(lit(0L)).as("z_milli"))
  }

  /** Upper-triangle Gram/covariance matrix of the embedding corpus —
    * the PCA/whitening cross-moment pass. Scale shape: the d²-fold
    * row amplification is map-LOCAL (two chained generators, fully
    * pipelined); hash partial aggregation folds every partition down
    * to at most d(d+1)/2 keys before the shuffle, so the exchange is
    * O(partitions × d²) longs no matter the corpus size. Second
    * moments are fixed-point milli² sums (order-independent, cross-
    * engine exact); covariance stays on the INTEGER plane:
    * `cov_pico = round(sum_milli2/n)·1e6 − mean_micro_i·mean_micro_j`
    * is a LONG fully determined by engine-exact integer sums plus one
    * round-to-integer of a deterministic quotient, so it cannot land
    * on the decimal half-boundary that made a hashed `round(x, 6)`
    * DOUBLE environment-sensitive. The derived double `cov` (for
    * [[topComponent]]) is cov_pico/1e12 — not part of the hash gate.
    */
  def gramMatrix(corpus: DataFrame, emb: String = "embedding"): DataFrame = {
    val milli = (c: Column) => round(c.cast("double") * 1e3, 0).cast("long")
    val pairs = corpus
      .select(col(emb).as("e"), posexplode(col(emb))).toDF("e", "i", "vi")
      .select(col("i"), col("vi"), posexplode(col("e"))).toDF("i", "vi", "j", "vj")
      .filter(col("j") >= col("i"))
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        (milli(col("vi")) * milli(col("vj"))).as("prod"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum("prod").as("sum_milli2"))
    val means = dimStats(corpus, emb).select(col("dim"), col("mean_micro"))
    pairs
      .join(broadcast(means.withColumnRenamed("dim", "i")
        .withColumnRenamed("mean_micro", "mean_micro_i")), Seq("i"))
      .join(broadcast(means.withColumnRenamed("dim", "j")
        .withColumnRenamed("mean_micro", "mean_micro_j")), Seq("j"))
      .select(col("i"), col("j"), col("n"), col("sum_milli2"),
        (round(col("sum_milli2").cast("double") / col("n"), 0).cast("long")
          * lit(1000000L)
          - col("mean_micro_i") * col("mean_micro_j")).as("cov_pico"))
      .withColumn("cov", col("cov_pico").cast("double") / lit(1e12))
  }

  /** Top principal component from a [[gramMatrix]] result: bounded
    * deterministic power iteration on the driver — the matrix is
    * d×d by construction (a few KB at any corpus size), so this is
    * the correct place for the eigen-solve; only the PROJECTION of
    * the corpus onto the component is distributed (map-only).
    */
  def topComponent(gram: DataFrame, iters: Int = 20): Array[Double] = {
    val entries = gram.select("i", "j", "cov").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
    val d = entries.map(_._1._2).max + 1
    val m = Array.ofDim[Double](d, d)
    entries.foreach { case ((i, j), c) => m(i)(j) = c; m(j)(i) = c }
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    (1 to iters).foreach { _ =>
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => m(i)(j) * v(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      v = if (n == 0) v else w.map(_ / n)
    }
    // deterministic sign convention: first nonzero coordinate positive
    val s = v.find(math.abs(_) > 1e-12).map(x => math.signum(x)).getOrElse(1.0)
    v.map(_ * s)
  }

  def lshBucket(emb: Column, bits: Int = 8): Column = {
    val planes = (0 until bits).map { p =>
      // per-dimension pseudo-random weight in [-1,1): frac((p+1)*i*phi)
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (v, i) => v.cast("double") *
            ((lit((p + 1) * 0.61803398875) * i) % 1.0 * 2.0 - 1.0)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    planes.reduce(_ + _)
  }

  /** ANN top-k: probe only the query's LSH bucket. Recall < 1 by design;
    * the bench pairs it with [[bruteForceTopK]] as ground truth.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 8): DataFrame = {
    val bucketed = corpus.withColumn("bucket", lshBucket(col("embedding"), bits))
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("bucket", lshBucket(col("q_emb"), bits)))
    val scored = bucketed.join(q, Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank").cast("int").as("rank"))
  }

  private def dotd(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (u, v) => u.cast("double") * v.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm of a float vector (double math, left-fold order). */
  def l2Norm(emb: Column): Column = sqrt(dotd(emb, emb))

  /** Greedy k-center (Gonzalez) diverse-subset selection: seed with
    * the smallest id, then `k−1` rounds of "pick the point farthest
    * from its nearest chosen center". THE coreset / diversity-sampling
    * primitive for training-data selection — a k-center subset covers
    * the embedding space within 2× the optimal radius.
    *
    * Determinism at fixed-point: vectors are L2-normalized (left-fold
    * double math), each dimension's product rounds to MICRO-UNIT longs
    * before the sum, so the cosine distance `1e6 − Σ round(aᵢbᵢ·1e6)`
    * is an integer — order-independent, cross-engine exact; argmax
    * ties break on the smaller vec_id.
    *
    * Scale shape: each round is one map-only distance update against a
    * BROADCAST constant center (a k·d driver state, KBs) plus a top-1
    * reduction; `min-dist` carries forward so round r never rescans
    * the r−1 previous centers. O(k) passes, no pairwise work.
    */
  def kCenterSeeds(corpus: DataFrame, k: Int = 3,
      emb: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def distTo(c: Seq[Double]): Column =
      lit(1000000L) - aggregate(
        zip_with(col("en"), typedLit(c),
          (a, b) => round(a * b * lit(1e6), 0).cast("long")),
        lit(0L), (acc, x) => acc + x)
    Rounds { r =>
      val en = r.keep(corpus.select(col("vec_id"),
        transform(col(emb), x => x.cast("double") / l2Norm(col(emb))).as("en")))
      require(k >= 1, s"kCenterSeeds: k >= 1 (got $k)")
      val firstArr = en.orderBy(col("vec_id").asc).limit(1).collect()
      require(firstArr.nonEmpty, "kCenterSeeds: empty corpus")
      val first = firstArr(0)
      var chosen = List((first.getLong(0), first.getSeq[Double](1), 0L))
      var pts = r.keep(en.filter(col("vec_id") =!= first.getLong(0))
        .withColumn("mind", distTo(first.getSeq[Double](1))))
      for (_ <- 2 to k) {
        val nxtArr = pts.orderBy(col("mind").desc, col("vec_id").asc).limit(1)
          .collect()
        require(nxtArr.nonEmpty,
          s"kCenterSeeds: k=$k exceeds the number of distinct vectors")
        val nxt = nxtArr(0)
        chosen ::= ((nxt.getLong(0), nxt.getSeq[Double](1), nxt.getLong(2)))
        pts = r.swap(pts, pts.filter(col("vec_id") =!= nxt.getLong(0))
          .withColumn("mind", least(col("mind"), distTo(nxt.getSeq[Double](1)))))
      }
      chosen.reverse.zipWithIndex
        .map { case ((id, _, d), i) => (i + 1L, id, d) }
        .toDF("round", "vec_id", "dist_micro")
    }
  }

  /** int8 quantization scale `127 / max|x|` (guarded against the
    * all-zero vector). Quantize with `round(x * scale)` — the standard
    * symmetric per-row scheme for shipping embeddings at 1/4 the
    * bytes; map-only, no shuffle.
    */
  def int8Scale(emb: Column): Column =
    lit(127.0) / greatest(array_max(transform(emb, x => abs(x.cast("double")))),
      lit(1e-12))

  /** Deterministic dense random projection to `dims` components —
    * same fixed coefficient family as [[lshBucket]] (no trained state
    * to ship; any executor recomputes the same planes). The classic
    * cheap dimensionality reduction ahead of clustering/ANN.
    */
  def randomProjection(emb: Column, dims: Int = 8): Seq[Column] =
    (0 until dims).map { p =>
      round(aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (v, i) => v.cast("double") *
            ((lit((p + 1) * 0.61803398875) * i) % 1.0 * 2.0 - 1.0)),
        lit(0.0), (acc, v) => acc + v), 6).as(s"proj$p")
    }

  /** Order-independent seed rank: a Knuth multiplicative hash of the
    * vector id (`(id * 2654435761) mod 4294967291`, golden-ratio
    * multiplier, largest 32-bit prime modulus). Seeding quantizers
    * from the N LOWEST hash values is a uniform pseudo-random sample
    * of the corpus that does not depend on ingest order or id
    * locality — at scale, `vec_id < N` would take every seed from one
    * corner of a per-source id range and recall would collapse. The
    * arithmetic stays inside int64 for any id below ~3.4e9 per shard
    * and is portable to the DuckDB oracle verbatim (which has no
    * xxhash64).
    */
  def seedHash(id: Column): Column = (id * lit(2654435761L)) % lit(4294967291L)

  /** IVF-style ANN: a training-free coarse quantizer — the `cells`
    * corpus vectors with the lowest [[seedHash]] are the cell
    * centroids (an order-independent uniform sample) — assigns every
    * corpus vector to its nearest cell once (the cell id is a
    * partition/bucket column at store scale, so a probe is a
    * partition-pruned scan); each query scores only its `nprobe`
    * nearest cells. Deterministic end to end: cosine ties break on
    * the lower cell index. Recall < 1 by design; [[bruteForceTopK]]
    * is the ground truth it trades against.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      cells: Int = 16, nprobe: Int = 2): DataFrame = {
    val (cents, assigned) = ivfIndex(corpus, cells)
    ivfProbe(cents, assigned, queries, k, nprobe)
  }

  // (−cos, cid) structs sort best-first with the lower cid on ties
  private def nearestCells(cents: Array[Seq[Float]], emb: Column,
      n: Int): Column =
    transform(slice(array_sort(array(
      cents.zipWithIndex.map { case (c, i) =>
        struct((-cosine(emb, typedLit(c))).as("negccos"), lit(i).as("cid"))
      }: _*)), 1, n), x => x("cid"))

  /** The nprobe-INDEPENDENT half of [[ivfTopK]]: collect the
    * hash-seeded centroids and assign every corpus vector to its
    * nearest cell ONCE — a probe sweep (`s_ivf_nprobe_curve`) reuses
    * this index across its points instead of rebuilding the
    * quantizer per nprobe, which is the whole reason an IVF index
    * exists. The quantizer is tiny and ships WITH THE PLAN:
    * centroids are collected once (same legitimacy class as the
    * broadcast ontology) and inlined as array literals, so cell
    * assignment is a pure map-side expression — zero join, zero
    * shuffle over the corpus. orderBy+limit is a distributed
    * TakeOrdered: the driver only ever holds the `cells` winners.
    */
  def ivfIndex(corpus: DataFrame,
      cells: Int = 16): (Array[Seq[Float]], DataFrame) = {
    val cents: Array[Seq[Float]] = corpus
      .orderBy(seedHash(col("vec_id")).asc, col("vec_id").asc).limit(cells)
      .select("embedding").collect()
      .map(_.getSeq[Float](0))
    // FAIL LOUD on an empty corpus (the diameterSweep empty-input
    // lesson): zero centroids would make nearestCells build
    // slice(array_sort(array()), …) and assign NULL cells silently.
    // Fewer-than-`cells` centroids is a legitimate degenerate
    // quantizer (every vector is its own cell); zero is an error.
    require(cents.nonEmpty,
      "ivfIndex: empty corpus — no centroids to quantize against")
    val assigned = corpus.withColumn("cell", cellOf(cents, col("embedding")))
    (cents, assigned)
  }

  /** Nearest-cell id of `emb` under prebuilt centroids — the
    * map-side assignment half of [[ivfIndex]] exposed on its own for
    * the STREAMING ingest path ([[graft.streaming.StreamOps
    * .ivfAssignStreaming]]): the index is trained offline (a batch
    * job), arriving vectors assign with zero shuffle.
    */
  def cellOf(cents: Array[Seq[Float]], emb: Column): Column =
    element_at(nearestCells(cents, emb, 1), 1)

  /** The probe half of [[ivfTopK]] over a prebuilt [[ivfIndex]]. */
  def ivfProbe(cents: Array[Seq[Float]], assigned: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probes = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .select(col("query_id"), col("q_emb"),
        explode(nearestCells(cents, col("q_emb"), nprobe)).as("cell")))
    val scored = assigned.join(probes, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"),
        col("rank").cast("int").as("rank"))
  }

  /** Cross-modal paired-retrieval eval (r15, the r14 verdict's item
    * 7c): the TEXT tower queries the IMAGE tower and the metric is
    * the rank of the PAIRED item — the CLIP-style retrieval benchmark
    * (recall@k = fraction of queries whose pair ranks ≤ k). The
    * second modality is a deterministic fixed transform of the
    * stored embedding (vector reversal — an orthogonal permutation,
    * so norms are preserved and the pair is NOT trivially rank 1),
    * keyed by the same `vec_id`; a real deployment feeds two
    * separately-encoded tables with the same key, and nothing here
    * depends on how `imgEmb` was produced. Scale shape: queries
    * broadcast, ONE map-side scan of the image tower scores all
    * pairs, per-query rank is a bounded window — never an all-pairs
    * materialization.
    */
  def crossModalPairedRank(queries: DataFrame, corpus: DataFrame,
      k: Int = 5): DataFrame = {
    val img = corpus.select(col("vec_id").as("img_id"),
      reverse(col("embedding")).as("img_emb"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = img.crossJoin(q)
      .select(col("query_id"), col("img_id"),
        cosine(col("q_emb"), col("img_emb")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("img_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("img_id") === col("query_id"))
      .select(col("query_id"), col("rank").cast("long").as("paired_rank"),
        (col("rank") <= k).as("hit"))
  }

  /** Recall@k of an approximate ANN result against the exact one:
    * per query, the fraction of the true top-k the ANN returned. The
    * standard accuracy metric every recall/latency trade (LSH, IVF,
    * PQ) is tuned against; both inputs are (query_id, vec_id, …)
    * top-k frames, so the join is k·|queries| rows — driver never
    * sees data.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select("query_id", "vec_id")
      .join(approx.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
        Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") * lit(1e6) / k, 0)
          .cast("long").as("recall_micro"))

  /** Product-quantization ANN (PQ + asymmetric distance computation):
    * the fourth ANN family next to brute-force / sign-LSH / IVF, and
    * the memory-scale one — each corpus vector stores only
    * `subspaces` small codes (8 bytes here vs 256 bytes of floats).
    *
    * Codebook = the subvectors of the `codebookSize` corpus vectors
    * with the lowest [[seedHash]] (deterministic, order-independent,
    * no trained state — same legitimacy class as the IVF centroids).
    * It is collected once and inlined as literals, so
    * ENCODING is a pure map-side expression: per subspace, the
    * argmin-L2 codeword id (ties → lower id). SCORING (ADC) is one
    * scan of the code table against broadcast queries: the
    * approximate distance is the sum over subspaces of
    * L2²(query-subvector, codeword) — no shuffle except the final
    * per-query top-k.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      subspaces: Int = 8, codebookSize: Int = 16): DataFrame = {
    val cwords: Array[Seq[Float]] = corpus
      .orderBy(seedHash(col("vec_id")).asc, col("vec_id").asc)
      .limit(codebookSize).select("embedding").collect()
      .map(_.getSeq[Float](0))
    val dims = cwords.head.length
    val sub = dims / subspaces
    // codeword SUBVECTORS as literals: the hot expressions below fold
    // over 8-element arrays, never re-slicing the 64-float vectors per
    // comparison. zip_with(slice(a), slice(b)) ≡ slice-then-zip — the
    // sequential double fold stays bit-identical to the DuckDB mirror.
    def cwSub(i: Int, j: Int): Seq[Float] = cwords(i).slice(j * sub, j * sub + sub)
    def l2sq(a: Column, b: Column): Column =
      aggregate(
        zip_with(a, b,
          (u, v) => (u.cast("double") - v.cast("double")) *
            (u.cast("double") - v.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    def subCols(emb: Column): Seq[Column] =
      (0 until subspaces).map(j => slice(emb, j * sub + 1, sub).as(s"sub$j"))
    // per-subspace codeword tables (codebookSize × sub 2D literals)
    val cwSubLits = (0 until subspaces)
      .map(j => typedLit((0 until codebookSize).map(i => cwSub(i, j))))
    // argmin over the codeword table as ONE transform lambda per
    // subspace (a per-codeword expression chain makes Catalyst
    // analysis/codegen the bottleneck — seconds of fixed plan cost);
    // array_position takes the FIRST occurrence of the min, i.e. the
    // lowest codeword id on ties, matching the oracle's (d, cid) order
    def codeFor(j: Int): Column = {
      val ds = transform(cwSubLits(j), c => l2sq(col(s"sub$j"), c))
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }
    val enc = corpus.select(col("vec_id") +: subCols(col("embedding")): _*)
      .select(col("vec_id") +:
        (0 until subspaces).map(j => codeFor(j).as(s"code$j")): _*)
    val scored = enc
      .join(broadcast(queries
        .select(col("vec_id").as("query_id") +: subCols(col("embedding")): _*)
        .select(col("query_id") +:
          (0 until subspaces).map(j => col(s"sub$j").as(s"qsub$j")): _*)),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (0 until subspaces).map(j =>
          l2sq(col(s"qsub$j"), element_at(cwSubLits(j), col(s"code$j") + 1)))
          .reduce(_ + _).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("adist"), 6).as("adist"),
        col("rank").cast("int").as("rank"))
  }

  /** Best (centroid id, cosine) for an embedding against a small
    * centroid set shipped as literals: argmax cosine, ties to the
    * lower centroid id — the (−cos, cid) struct sorts best-first.
    * Pure map-side expression (same legitimacy class as the IVF
    * centroids: the quantizer ships WITH THE PLAN).
    */
  private def bestCell(emb: Column, cents: Seq[(Int, Seq[Double])]): Column =
    element_at(array_sort(array(cents.map { case (i, c) =>
      struct((-cosine(emb, typedLit(c))).as("negcos"), lit(i).as("cid"))
    }: _*)), 1)

  private def seedCentroids(corpus: DataFrame, k: Int): Seq[(Int, Seq[Double])] =
    corpus.orderBy(seedHash(col("vec_id")).asc, col("vec_id").asc).limit(k)
      .select("embedding").collect().toSeq.zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](0).map(_.toDouble) }

  /** Distributed k-means (Lloyd) over the embedding column with fully
    * deterministic, engine-independent arithmetic:
    *
    *  - seeds = the `k` vectors with the lowest [[seedHash]] (uniform,
    *    ingest-order-free — same scheme as IVF/PQ);
    *  - assignment = argmax cosine, ties to the lower centroid id, as
    *    a map-only expression over literal centroids;
    *  - update = per-(cell, dim) MEAN computed by summing components
    *    in FIXED-POINT micro-units (`round(x·1e6)` as long). Integer
    *    addition is associative and commutative, so the distributed
    *    sum is bit-identical regardless of partitioning/order — the
    *    scalable alternative to both non-deterministic double sums
    *    and unscalable sorted-collect folds. The shuffle carries k·d
    *    longs after partial aggregation; the driver holds k·d
    *    doubles, never data.
    *
    * Returns (vec_id, cluster, cos) after `iters` Lloyd refinements.
    */
  def kmeansAssign(corpus: DataFrame, k: Int = 8, iters: Int = 1): DataFrame = {
    var cents = seedCentroids(corpus, k)
    for (_ <- 0 until iters) {
      val assigned = corpus.withColumn("cell",
        bestCell(col("embedding"), cents)("cid"))
      cents = assigned
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy("cell", "pos")
        .agg(sum(round(col("col").cast("double") * 1e6, 0).cast("long")).as("sm"),
          count(lit(1)).as("n"))
        // centroid components as INTEGER micro-units (round-to-integer
        // of the quotient is engine-exact; a round(q,6) double is not)
        .select(col("cell"), col("pos"),
          (round(col("sm").cast("double") / col("n"), 0).cast("long")
            .cast("double") / lit(1e6)).as("v"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
        .toSeq.sortBy(_._1)
    }
    val b = bestCell(col("embedding"), cents)
    corpus.select(col("vec_id"), b("cid").as("cluster"),
      (-b("negcos")).as("cos"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with
    * the training-free coarse quantizer (nearest seed centroid — the
    * k-means seeding above, no Lloyd pass, so the gate is independent
    * of [[kmeansAssign]]'s refinement), then compare pairs ONLY
    * within a cluster and drop every vector that has a lower-id
    * cluster-mate with cosine ≥ `threshold`. The cluster id bounds
    * the candidate join exactly like the LSH bucket in
    * [[cosineNearDupPairs]] — within-cluster quadratic, never
    * all-pairs; at store scale `cluster` is a partition key.
    *
    * Returns every vector with (cluster, dup_of = lowest-id near
    * duplicate or NULL, keep flag).
    *
    * `k` must grow with the corpus or the within-cluster join turns
    * quadratic: with k fixed, expected candidate pairs are O(n²/k).
    * The SemDeDup recipe therefore sizes k for a BOUNDED expected
    * cluster size B, k = ⌈n/B⌉, making candidate volume O(n·B) —
    * linear in the corpus. That is the default here (`k ≤ 0` derives
    * k from a corpus count and `targetClusterSize`); passing an
    * explicit positive `k` pins the cluster count (fixture gates, or
    * when the caller already knows its corpus scale).
    *
    * The derived path runs as one [[Rounds]] scope: the corpus count
    * is a probe on a checkpoint of the input, which the ≥4 reads of
    * the body (seed collect, both join sides, final join) then share
    * instead of recomputing its lineage, and the narrow result is
    * kept. The pinned-k path leaves caching to the caller, who knows
    * the corpus.
    */
  def semDedup(corpus: DataFrame, k: Int = 0, threshold: Double = 0.5,
               targetClusterSize: Long = 4096L): DataFrame =
    if (k > 0) semDedupWith(corpus, k, threshold)
    else Rounds { r =>
      val (src, p) = r.probe(corpus, count(lit(1)))
      val kEff = math.max(1L, (p.getLong(0) + targetClusterSize - 1) / targetClusterSize)
      r.keep(semDedupWith(src, kEff.toInt, threshold))
    }

  private def semDedupWith(src: DataFrame, k: Int, threshold: Double): DataFrame = {
    val assigned = src.withColumn("cluster",
      bestCell(col("embedding"), seedCentroids(src, k))("cid"))
    val l = assigned.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val r = assigned.select(col("cluster"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    val dups = l.join(r, Seq("cluster"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("emb_a"), col("emb_b")).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy(col("vec_b").as("vec_id")).agg(min("vec_a").as("dup_of"))
    assigned.select("vec_id", "cluster").join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Embedding-cosine near-duplicate pairs (the fifth dedup mode of
    * SURVEY §2.D): bucket with sign-LSH, compare only within buckets.
    *
    * Same scaling rule as [[semDedup]]: bucket count (2^bits) must
    * track the corpus or within-bucket pairs go quadratic. `bits ≤ 0`
    * derives bits = ⌈log₂(n / targetBucketSize)⌉ from a corpus count
    * (clamped to [4, 24]); an explicit positive `bits` pins it.
    *
    * Same caching contract as [[semDedup]]: the derived-bits path is
    * one [[Rounds]] scope whose corpus count is a probe on the input's
    * checkpoint, which both self-join sides then read; the (tiny) pair
    * output is kept. A pinned `bits` leaves caching to the caller.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double, bits: Int = 0,
                         targetBucketSize: Long = 4096L): DataFrame =
    if (bits > 0) cosineNearDupPairsWith(corpus, threshold, bits)
    else Rounds { r =>
      val (src, p) = r.probe(corpus, count(lit(1)))
      val n = math.max(1L, p.getLong(0))
      val need = math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2.0)).toInt
      r.keep(cosineNearDupPairsWith(src, threshold, math.min(24, math.max(4, need))))
    }

  private def cosineNearDupPairsWith(src: DataFrame, threshold: Double,
      bits: Int): DataFrame = {
    val b = src.withColumn("bucket", lshBucket(col("embedding"), bits))
    val l = b.select(col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val r = b.select(col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    l.join(r, Seq("bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("emb_a"), col("emb_b")).as("cos"))
      .where(col("cos") >= threshold)
      .distinct()
  }
}
