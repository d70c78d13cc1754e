package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.plans.Rounds

/** Text-analysis operators for LLM-data pipelines over the `documents`
  * table: tokenization, language-ID, quality scoring, fingerprinting.
  *
  * Everything here is a pure `Column` expression built from
  * `org.apache.spark.sql.functions` — whole-stage-codegen'd, no UDFs —
  * so it scales linearly over a 100 TB corpus with zero shuffle
  * (map-only). Hashes are engine-independent (polynomial rolling hash
  * mod a prime, or md5), NOT Spark's murmur `hash()`, so results are
  * reproducible across engines (and hash-checkable against DuckDB).
  */
object TextAnalysis {

  /** Whitespace tokenizer (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword-boundary tokenizer: splits on whitespace AND
    * punctuation boundaries, the usual pre-tokenization for token
    * counting without a real BPE vocab in-container.
    */
  def regexTokens(text: Column): Column =
    filter(split(text, "[^A-Za-z0-9']+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Engine-independent polynomial rolling hash of a string:
    * h = (h*31 + codepoint) mod 1e9+7. Stays far from Long overflow
    * (h < 1e9 so h*31+c < 3.2e10). Deterministic across engines —
    * the basis for MinHash/SimHash signatures in [[Dedup]]. Native
    * codegen'd expression ([[graft.functions.PolyHash]]); the
    * higher-order-function formulation is kept for equivalence tests.
    */
  def polyHash(s: Column): Column = graft.functions.PolyHash(s)

  /** ~60-bit-wide variant: two INDEPENDENT polynomial hashes packed as
    * `ph31 · P + ph131` — collision space ~1e18 instead of ~1e9. Used
    * where an EXACTNESS claim rides on distinct strings hashing
    * distinctly (the n-gram Jaccard verify path); both factors mirror
    * 1:1 in DuckDB.
    */
  def polyHashWide(s: Column): Column =
    graft.functions.PolyHash(s, 31) * lit(1000000007L) +
      graft.functions.PolyHash(s, 131)

  /** interpreted `aggregate(split(...))` reference formulation */
  def polyHashHof(s: Column): Column =
    aggregate(
      split(s, ""),
      lit(0L),
      (h, ch) => pmod(h * lit(31L) + ascii(ch), lit(1000000007L)))

  /** English stopword markers used by the language-ID heuristic and the
    * quality score. Tiny on purpose: deterministic and auditable.
    */
  val EnglishMarkers: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  private def isMarker(t: Column): Column =
    t.isin(EnglishMarkers.map(x => x: Any): _*)

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), isMarker(_)))

  /** Stopword ratio as micro-units/1e6: round-to-INTEGER of the
    * deterministic quotient is engine-exact, and the emitted double
    * (micro/1e6) is bit-identical on both engines — unlike a
    * round(q, 6) DOUBLE, which decimal-rounds differently across
    * engines when q sits on a half-boundary (see FLOAT_AUDIT.md).
    */
  def stopwordRatio(text: Column): Column =
    round(stopwordCount(text).cast("double") * lit(1e6)
        / tokenCount(text), 0).cast("long").cast("double") / lit(1e6)

  /** n-gram/stopword language-ID heuristic: texts with any English
    * marker tokens are tagged "en", otherwise "unknown". (A real model
    * would score char-n-gram profiles per language; the pipeline shape
    * — map-only scalar scoring — is identical.)
    */
  def langId(text: Column): Column =
    when(stopwordCount(text) > 0, lit("en")).otherwise(lit("unknown"))

  /** Document quality score in [0,1]: blend of length band, stopword
    * ratio and mean token length — the standard cheap pre-filter for
    * pretraining corpora (C4-style heuristics).
    */
  def qualityScore(text: Column): Column = {
    // Integer micro-unit plane end-to-end (component scores, the /3
    // blend) so every engine computes the identical double; the only
    // round is round-to-integer of a deterministic quotient.
    val n = tokenCount(text).cast("double")
    val lenScoreM = when(n >= 20 && n <= 1000, lit(1000000L))
      .when(n >= 5, lit(500000L)).otherwise(lit(0L))
    val stopM = round(stopwordCount(text).cast("double") * lit(1e6)
      / tokenCount(text), 0).cast("long")
    val stopScoreM = least(stopM * lit(4L), lit(1000000L))
    val meanTokLen = length(text).cast("double") / n
    val tokLenScoreM = when(meanTokLen >= 3 && meanTokLen <= 10,
      lit(1000000L)).otherwise(lit(500000L))
    round((lenScoreM + stopScoreM + tokLenScoreM).cast("double") / lit(3.0), 0)
      .cast("long").cast("double") / lit(1e6)
  }

  /** Composite corpus filter (C4-style): evaluate the cheap reject
    * rules in order and materialize the FIRST failing rule as the
    * verdict ("keep" when none fails) — drop REASONS matter as much as
    * drops when auditing a pretraining corpus. Map-only; downstream
    * writes partition by the verdict column.
    */
  def qualityFilter(text: Column, minTokens: Int = 5, maxTokens: Int = 5000,
      minQuality: Double = 0.5): Column = {
    val n = tokenCount(text)
    when(n < minTokens, lit("too_short"))
      .when(n > maxTokens, lit("too_long"))
      .when(langId(text) =!= "en", lit("non_english"))
      .when(qualityScore(text) < minQuality, lit("low_quality"))
      .otherwise(lit("keep"))
  }

  /** Content-defined document fingerprint: md5 over the sorted distinct
    * token set. Robust to token order shuffles (bag-of-words identity),
    * engine-independent, and join-able for exact near-dup grouping.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Deterministic mixture sampling: keep a document iff its hash
    * bucket (0–999) is below `rate·1000`, with the per-source keep
    * rate in `rate`. The training-data mixture-weights primitive:
    * map-only (no shuffle, no RNG state), reproducible across engines
    * and across reruns — re-running the pipeline keeps exactly the
    * same documents, which is what makes ablations comparable; raising
    * a rate only ADDS documents (nested samples). Rates are per-SOURCE
    * so corpus mixture is tuned without touching the data.
    *
    * The raw polynomial hash of a short key is near-linear in its last
    * character (consecutive numeric ids cluster into a handful of
    * buckets), so a Knuth multiplicative finalizer scrambles it before
    * bucketing — the constant fits the oracle's BIGINT arithmetic
    * (max product ~2.7e18 < 2^63).
    */
  /** The scrambled-hash mixture bucket (0–999) of a document id —
    * shared by [[sampleMixture]] and the temperature-mix pipeline.
    */
  def mixBucket(docId: Column): Column =
    polyHash(docId.cast("string")) * 2654435761L % 1000000007L % 1000

  def sampleMixture(docId: Column, rate: Column): Column =
    mixBucket(docId) < (rate * 1000).cast("long")

  /** Temperature-scaled per-source sampling rates (α = 0.5): the
    * multilingual-corpus rebalancing rule — sample source s with
    * probability ∝ n_s^α, i.e. keep-rate r_s ∝ n_s^α / n_s, here
    * normalized so the SMALLEST source keeps everything and larger
    * sources downsample as √(n_min/n_s). α is fixed at ½ because
    * sqrt (unlike pow) is a correctly-rounded IEEE operation in every
    * engine, which is what makes the rates — and therefore the kept
    * set — bit-reproducible cross-engine. One combinable count per
    * source + a scalar broadcast; apply with
    * `mixBucket(doc_id) < floor(rate · 1000)` (floor, not a cast —
    * integer casts round differently across engines).
    */
  def temperatureRates(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val mr = sizes.agg(max(lit(1.0) / sqrt(col("n").cast("double"))).as("mr"))
    sizes.crossJoin(mr).select(col("source"), col("n"),
      (round((lit(1.0) / sqrt(col("n").cast("double"))) / col("mr")
          * lit(1e6), 0).cast("long").cast("double") / lit(1e6)).as("rate"))
  }

  /** Deterministic importance resampling: materialize ⌊w⌋ copies of
    * each document plus one more with probability frac(w) — the
    * standard way to APPLY per-document mixture weights (quality
    * upweighting, source temperature) as a physical corpus. Map-only
    * and rerun-stable: the Bernoulli draw is the scrambled doc-id
    * hash, so every engine and every shard materializes the same
    * copy counts (expectation E[n_copies] = w exactly). Pairs with
    * [[temperatureRates]] (rates ≤ 1 downsample; weights > 1 here
    * upsample).
    */
  def importanceResample(docs: org.apache.spark.sql.DataFrame,
      weight: Column): org.apache.spark.sql.DataFrame = {
    // scrambled draw (the mixBucket multiplier): raw polyHash of
    // short sequential keys is NOT uniform — P(u < 0.5) ≈ 0.1
    val u = (polyHash(concat(lit("rs:"), col("doc_id").cast("string")))
      * 2654435761L % 1000000007L).cast("double") / 1000000007.0
    docs.select(col("doc_id"), weight.as("w"))
      .withColumn("n_copies",
        (floor(col("w")) +
          when(u < col("w") - floor(col("w")), 1.0).otherwise(0.0))
          .cast("long"))
      .filter(col("n_copies") > 0)
      .select("doc_id", "n_copies")
  }

  /** Weighted sampling WITHOUT replacement (r14 — Efraimidis–Spirakis
    * A-ES, the curation sibling of [[importanceResample]]): give each
    * doc the key `Exp(1)/w = −ln(u)/w` with `u` the scrambled
    * rerun-stable doc hash mapped into (0, 1]; the k SMALLEST keys
    * are exactly a weight-proportional sample without replacement
    * (ES 2006). Map-only key computation + distributed top-k
    * (TakeOrderedAndProject: per-partition heaps of k, never a global
    * sort — the 100 TB selection shape). Keys land as micro-unit
    * integers — `−ln(u)` is irrational so the round-to-integer is
    * engine-exact (FLOAT_AUDIT irrational class) — and (key_micro,
    * doc_id) is a total order, so both engines pick the same set
    * even through micro-grain ties.
    */
  def weightedSample(docs: org.apache.spark.sql.DataFrame,
      weight: Column, k: Int): org.apache.spark.sql.DataFrame = {
    val p = 1000000007L
    val h = polyHash(concat(lit("aes:"), col("doc_id").cast("string")))
    val u = (((h * 2654435761L % p) + p) % p + 1L).cast("double") /
      (p + 1).toDouble
    docs.select(col("doc_id"), weight.cast("long").as("w"))
      // fail LOUD on a violated weight contract (the prefix-primitive
      // discipline): w ≤ 0 after the long cast would otherwise give
      // Infinity→Long.MaxValue keys (never sampled) or negative keys
      // (always sampled first), silently corrupting the draw. The
      // error IS the violating row's key value (when/otherwise), so
      // no plan shape can order the sample without raising it
      .withColumn("key_micro",
        when(col("w") > 0, round(-log(u) * 1e6 / col("w"), 0).cast("long"))
          .otherwise(raise_error(
            lit("weightedSample: weights must be >= 1 after the long cast"))
            .cast("long")))
      .orderBy(col("key_micro").asc, col("doc_id").asc)
      .limit(k)
  }

  /** PMI collocation mining: pointwise mutual information of adjacent
    * token pairs vs their unigram frequencies — the collocation /
    * multi-word-expression detector (and tokenizer-merge candidate
    * ranking). Combinable bigram + unigram counts (vocab-bounded
    * groupBys), scalar totals broadcast, PMI in integer micro-nats
    * (the [[t_unigram_nll]] technique) so both engines agree exactly.
    */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame,
      minCount: Long = 5): org.apache.spark.sql.DataFrame = Rounds { r =>
    val toks = tokens(col("text"))
    // guard: Spark's sequence(1, 0) is DESCENDING [1, 0] — emit no
    // bigrams for single-token docs instead
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    // r19 (guide §2.5): same one-row-group scan fan-out as bigramNll —
    // both token passes otherwise serialize on a single scan task
    val d = Ranks.fanout(docs, col("doc_id"))
    val bi = d.select(explode(bigrams).as("bigram"))
    val uni = d.select(explode(toks).as("t"))
    // r18 (guide §2.3 "aggregate before you shuffle" / §2.4): one
    // unigram pass and one bigram pass — the count tables checkpoint
    // once and the corpus TOTALS derive from them (Σ counts) instead
    // of re-scanning the token/bigram streams.
    val nUni = r.keep(uni.groupBy("t").agg(count(lit(1)).as("n")))
    val nBiAll = r.keep(bi.groupBy("bigram").agg(count(lit(1)).as("n_ab")))
    val nBi = nBiAll.filter(col("n_ab") >= minCount)
    val totU = nUni.agg(sum("n").as("n_uni"))
    val totB = nBiAll.agg(sum("n_ab").as("n_bi"))
    r.keep(nBi
      .withColumn("ta", substring_index(col("bigram"), " ", 1))
      .withColumn("tb", substring_index(col("bigram"), " ", -1))
      .join(broadcast(nUni.select(col("t").as("ta"), col("n").as("n_a"))), Seq("ta"))
      .join(broadcast(nUni.select(col("t").as("tb"), col("n").as("n_b"))), Seq("tb"))
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
      .select(col("bigram"), col("n_ab"),
        round(log((col("n_ab").cast("double") * col("n_uni") * col("n_uni"))
          / (col("n_bi").cast("double") * col("n_a") * col("n_b"))) * 1e6, 0)
          .cast("long").as("pmi_unats")))
  }

  /** Bigram-LM negative log-likelihood per document — the CCNet-style
    * "perplexity vs the corpus itself" quality score upgraded to
    * conditional (order-sensitive) probabilities: -ln p(w2|w1) with
    * add-one smoothing, p = (c(w1w2)+1)/(c(w1)+V). Scrambled word
    * salad scores high even when its unigram mix is typical — the
    * failure mode the unigram NLL can't see. Per-bigram contributions
    * are integer micro-nats (exact order-independent sums); corpus
    * count tables are vocab-bounded and broadcast.
    */
  def bigramNll(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = Rounds { r =>
    val toks = tokens(col("text"))
    val bigramsOf = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    // r18 (guide §2.3/§2.4): aggregate bigram INSTANCES down to
    // per-(doc, bigram) multiplicities in ONE corpus pass and
    // checkpoint; the corpus-wide bigram counts then derive from that
    // same materialized frame (no second tokenize+explode pass), and
    // every instance of a bigram contributes k·u instead of k rows
    // through the count-table joins. V comes from the unigram count
    // table (|nUni| ≡ countDistinct(t)) — drops a third corpus pass.
    // r19 (guide §2.5): fan the one-row-group scan out to the core
    // budget before the two tokenize+explode passes — probe-measured
    // 1.9 s of the gate was the docBi pass serialized on one task
    val d = Ranks.fanout(docs, col("doc_id"))
    val docBi = r.keep(d.select(col("doc_id"), explode(bigramsOf).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("k")))
    val uni = d.select(explode(toks).as("t"))
    val nUni = r.keep(uni.groupBy("t").agg(count(lit(1)).as("c_a")))
    val nBi = docBi.groupBy("bigram").agg(sum("k").as("c_ab"))
    val vocab = nUni.agg(count(lit(1)).as("v"))
    // seal the (per-doc, tiny) result; Rounds frees the intermediate
    // checkpoints deterministically on return
    r.keep(docBi
      .join(broadcast(nBi), Seq("bigram"))
      .withColumn("ta", substring_index(col("bigram"), " ", 1))
      .join(broadcast(nUni.withColumnRenamed("t", "ta")), Seq("ta"))
      .crossJoin(broadcast(vocab))
      .withColumn("u", round(log((col("c_a") + col("v")).cast("double")
        / (col("c_ab") + 1)) * 1e6, 0).cast("long"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"), sum(col("k") * col("u")).as("nll_unats"))
      .withColumn("avg_nll",
        round(col("nll_unats").cast("double") / col("n_bigrams"), 0)
          .cast("long").cast("double") / lit(1e6)))
  }

  /** Deterministic train/valid/test split assignment from the document
    * id — the same scrambled-hash bucketing as [[sampleMixture]], cut
    * at the cumulative percent boundaries. Map-only and stateless:
    * every engine, every rerun, every shard assigns the same document
    * to the same split (the property that keeps eval sets leak-free
    * when the corpus is re-processed), and growing a split only moves
    * the boundary, never reshuffles survivors.
    */
  def splitAssign(docId: Column, trainPct: Int = 90, validPct: Int = 5): Column = {
    val bucket = polyHash(docId.cast("string")) * 2654435761L % 1000000007L % 100
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + validPct, "valid")
      .otherwise("test")
  }

  /** First- and last-run aggregates per partition of a dataset that is
    * range-partitioned and partition-sorted with `source` leading the
    * key: a source's rows are globally CONTIGUOUS, so only the ≤2
    * sources whose run touches a partition edge can carry prefix state
    * across partitions — every other source is fully interior to one
    * partition and needs no cross-partition coordination. Collecting
    * just these edge cells bounds driver state at O(P) cells no matter
    * the source cardinality (web-domain sources at 100 TB: millions of
    * sources, still ≤2P cells). Returns (offsets, totals) over the
    * edge sources only; interior sources are absent by construction
    * (offset 0, total counted locally).
    */
  private def boundaryOffsets(cells: Array[(Int, String, Long)])
      : (Map[(Int, String), Long], Map[String, Long]) = {
    val bySource = cells.groupBy(_._2)
    val totals = bySource.map { case (src, cs) => src -> cs.map(_._3).sum }
    val offsets = bySource.iterator.flatMap { case (src, cs) =>
      var acc = 0L
      cs.sortBy(_._1).map { case (pid, _, c) =>
        val e = (pid, src) -> acc; acc += c; e
      }
    }.toMap
    (offsets, totals)
  }

  /** Per-source quality-percentile curation: rank every document's
    * [[qualityScore]] within its source (percent_rank, ascending) and
    * keep the TOP `keepFrac` fraction — "keep the best X% of each
    * source", the relative-threshold variant of quality filtering that
    * survives heterogeneous sources where one absolute cutoff over- or
    * under-prunes. Ties broken by doc_id for cross-engine determinism.
    *
    * Scale shape: sources number tens, not millions, so
    * `percent_rank OVER (PARTITION BY source)` would sort a whole
    * mega-source (tens of TB at corpus scale) on ONE task. Instead the
    * EXACT rank runs as a distributed sort + per-key prefix count:
    * range-partition by `(source, q, doc_id)` — a hot source is SPLIT
    * across many partitions because the range boundaries extend past
    * `source` into the sort key — then (1) one tiny job collects the
    * FIRST- and LAST-run counts of each partition (≤ 2P cells — the
    * only sources whose rank state crosses a boundary; driver state
    * is O(P) regardless of source cardinality), (2) their per-source
    * exclusive prefix broadcasts as the rank offset, and (3) a
    * map-only pass assigns `rank = offset + local index` for edge
    * sources and counts interior sources' runs locally (one run
    * buffered at a time, ≤ the partition's own rows);
    * `pr = rank / (n_source − 1)`. Identical output to the window
    * formulation (no ties: doc_id is unique).
    */
  def qualityPercentile(docs: org.apache.spark.sql.DataFrame,
      keepFrac: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parts = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        qualityScore(col("text")).as("q"))
      // explicit partition count: an AQE-chosen layout may coalesce or
      // re-split the range exchange between executions, and the
      // boundary-cell scheme REQUIRES each source's rows to stay
      // contiguous across a fixed partition sequence
      .repartitionByRange(
        docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("source"), col("q"), col("doc_id"))
      .sortWithinPartitions("source", "q", "doc_id")
      .localCheckpoint(true)
    // RDD-level passes: mapPartitionsWithIndex gives the RDD's OWN
    // partition index, stable no matter how the caller composes the
    // result into a larger stage (TaskContext.getPartitionId is the
    // STAGE-relative id and shifts under union/except plans)
    val rows = parts.rdd.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val cells = rows.mapPartitionsWithIndex { (pid, it) =>
      var firstSrc: String = null; var firstCnt = 0L
      var curSrc: String = null; var curCnt = 0L
      var nRuns = 0
      it.foreach { case (_, src, _) =>
        if (src != curSrc) {
          if (nRuns == 1) { firstSrc = curSrc; firstCnt = curCnt }
          curSrc = src; curCnt = 0L; nRuns += 1
        }
        curCnt += 1
      }
      if (nRuns == 0) Iterator.empty
      else if (nRuns == 1) Iterator((pid, curSrc, curCnt))
      else Iterator((pid, firstSrc, firstCnt), (pid, curSrc, curCnt))
    }.collect()
    val (offsets, totals) = boundaryOffsets(cells)
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcTot = spark.sparkContext.broadcast(totals)
    rows.mapPartitionsWithIndex { (pid, it) =>
      val off = bcOff.value; val tot = bcTot.value
      val in = it.buffered
      new Iterator[(Long, String, Double, Double)] {
        private var out: Iterator[(Long, String, Double, Double)] =
          Iterator.empty
        def hasNext: Boolean = out.hasNext || in.hasNext
        def next(): (Long, String, Double, Double) = {
          while (!out.hasNext) {
            val src = in.head._2
            tot.get(src) match {
              case Some(n) =>
                // edge source: stream with the broadcast offset
                var rank = off((pid, src))
                out = new Iterator[(Long, String, Double, Double)] {
                  def hasNext: Boolean = in.hasNext && in.head._2 == src
                  def next(): (Long, String, Double, Double) = {
                    val (id, _, q) = in.next()
                    val pr =
                      if (n <= 1) 0.0 else rank.toDouble / (n - 1).toDouble
                    rank += 1
                    (id, src, q, pr)
                  }
                }
              case None =>
                // interior source: its whole run is local — count it
                // here (one run buffered at a time)
                val buf = scala.collection.mutable.ArrayBuffer
                  .empty[(Long, Double)]
                while (in.hasNext && in.head._2 == src) {
                  val (id, _, q) = in.next(); buf += ((id, q))
                }
                val n = buf.size.toLong
                var rank = 0L
                out = buf.iterator.map { case (id, q) =>
                  val pr =
                    if (n <= 1) 0.0 else rank.toDouble / (n - 1).toDouble
                  rank += 1
                  (id, src, q, pr)
                }
            }
          }
          out.next()
        }
      }
    }.toDF("doc_id", "source", "q", "pr")
      .withColumn("pr", round(col("pr") * lit(1e6), 0)
        .cast("long").cast("double") / lit(1e6))
      // ascending rank: the best keepFrac sits at pr >= 1 - keepFrac
      .where(col("pr") >= 1.0 - keepFrac)
  }

  /** Per-source token-budget subsampling: documents are taken in
    * deterministic doc_id order within each source until the source's
    * token budget is exhausted (a doc is kept iff the tokens BEFORE it
    * fit the budget) — the mixture-weights primitive expressed in
    * tokens rather than keep-rates, which is how training mixtures are
    * actually specified.
    *
    * Scale shape: a running `sum OVER (PARTITION BY source ORDER BY
    * doc_id)` would stream a whole mega-source through one task, so
    * the running sum is the PER-SOURCE variant of [[packBins]]'s
    * two-pass distributed prefix sum: range-partition by
    * `(source, doc_id)` (a hot source splits across partitions),
    * collect the FIRST- and LAST-run token totals of each partition
    * (≤ 2P cells — only a partition-edge source carries prefix state
    * across a boundary, so driver state is O(P) at ANY source
    * cardinality), broadcast their per-source exclusive prefix, then
    * a map-only pass adds each partition's local running sum to its
    * source offset (0 for interior sources). No task holds more than
    * O(n/P) rows.
    */
  def tokenBudget(docs: org.apache.spark.sql.DataFrame,
      budget: Long): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parts = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      // explicit count: same contiguity contract as qualityPercentile
      .repartitionByRange(
        docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("source"), col("doc_id"))
      .sortWithinPartitions("source", "doc_id")
      .localCheckpoint(true)
    val rows = parts.rdd.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val cells = rows.mapPartitionsWithIndex { (pid, it) =>
      var firstSrc: String = null; var firstSum = 0L
      var curSrc: String = null; var curSum = 0L
      var nRuns = 0
      it.foreach { case (_, src, n) =>
        if (src != curSrc) {
          if (nRuns == 1) { firstSrc = curSrc; firstSum = curSum }
          curSrc = src; curSum = 0L; nRuns += 1
        }
        curSum += n
      }
      if (nRuns == 0) Iterator.empty
      else if (nRuns == 1) Iterator((pid, curSrc, curSum))
      else Iterator((pid, firstSrc, firstSum), (pid, curSrc, curSum))
    }.collect()
    val (offsets, _) = boundaryOffsets(cells)
    val bcOff = spark.sparkContext.broadcast(offsets)
    rows.mapPartitionsWithIndex { (pid, it) =>
      var cur: String = null
      var cum = 0L
      it.map { case (id, src, n) =>
        if (src != cur) { cur = src; cum = bcOff.value.getOrElse((pid, src), 0L) }
        val before = cum
        cum += n
        (id, src, n, before)
      }
    }.toDF("doc_id", "source", "n_tokens", "tok_before")
      .where(col("tok_before") < budget)
  }

  /** Per-source document cap: keep at most `cap` documents of each
    * source, chosen by scrambled-hash order (same Knuth finalizer as
    * [[sampleMixture]], doc_id tiebreak) — the domain-cap primitive of
    * web-corpus curation, stopping any one domain from dominating the
    * mixture. Hash order makes the kept set rerun-stable and
    * ingest-order independent (a head-of-file cut would keep whatever
    * the crawler happened to fetch first). One shuffle on `source`,
    * and the shuffle is pre-pruned: Catalyst's WindowGroupLimit
    * rewrite runs a PARTIAL rank-limit before the exchange (rk <= cap
    * is a pushable row_number predicate), so every map partition ships
    * at most `cap` rows per source — a skewed mega-source costs its
    * scan but never dominates the shuffle (the formatted plan, e.g. a
    * tools/PlanDump dump, shows a Partial WindowGroupLimit below the
    * Exchange and the Final one above it).
    */
  def sourceCap(docs: org.apache.spark.sql.DataFrame,
      cap: Int = 10): org.apache.spark.sql.DataFrame = {
    val h = polyHash(col("doc_id").cast("string")) * 2654435761L % 1000000007L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(h.asc, col("doc_id").asc)
    docs
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= cap)
  }

  /** URL canonicalization for URL-level exact dedup — the crawl-
    * frontier / recrawl-collapse primitive of web-corpus curation:
    * the same page fetched as `HTTP://Site.COM:80/a/?utm_source=x#f`
    * and `http://site.com/a` must collapse to one canonical key
    * BEFORE document-level dedup runs. Rules (applied in this order,
    * each a map-only regex in the RE2∩Java subset so one pattern
    * string serves Spark and the DuckDB oracle):
    *  1. drop the fragment;
    *  2. lowercase scheme + authority (path/query stay case-exact);
    *  3. strip default ports `:80`/`:443`;
    *  4. strip tracking params (`utm_*`, `fbclid`, `gclid`);
    *  5. drop a then-dangling `?`/`&` and the trailing PATH slash
    *     (both `/x/?q` → `/x?q` and a bare trailing `/x/` → `/x`).
    */
  val UrlSchemeHostRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"

  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val head = regexp_replace(
      lower(regexp_extract(noFrag, UrlSchemeHostRe, 0)), ":(80|443)$", "")
    val tail = regexp_replace(noFrag, UrlSchemeHostRe, "")
    val noTrack =
      regexp_replace(tail, "(utm_[A-Za-z]*|fbclid|gclid)=[^&#]*&?", "")
    val clean = regexp_replace(
      regexp_replace(noTrack, "\\?&", "?"), "[?&]$", "")
    concat(head,
      regexp_replace(regexp_replace(clean, "/\\?", "?"), "/$", ""))
  }

  /** PII patterns (RE2/Java-common subset: no lookarounds, no
    * backrefs, so the same pattern string runs verbatim in Spark's
    * Java regex and the DuckDB oracle's RE2). Detection and redaction
    * are map-only scalar expressions — the standard pre-training
    * scrub pass runs at full scan speed with zero shuffle.
    */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhoneRe = "\\b555-\\d{4}\\b"

  /** Count of PII matches of one pattern (long, for oracle parity). */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** Redact PII in a fixed pattern order (email, then IPv4, then
    * phone) — sequential `regexp_replace` keeps the output
    * deterministic when patterns could overlap.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmailRe, "<EMAIL>"),
        PiiIpv4Re, "<IP>"),
      PiiPhoneRe, "<PHONE>")

  /** Gopher-style repetition/shape rules (Rae et al. 2021 §A1.1
    * subset that applies to single-line corpora): word-count bounds,
    * mean-word-length band, alphabetic-word fraction, and a minimum
    * stop-word count. Verdict = FIRST failing rule (audit-friendly,
    * like [[qualityFilter]]); all stats are map-only.
    *
    * Mean word length uses the single-space-tokenization identity
    * `sum(len(tok)) = len(text) - (n-1)` so both engines compute it
    * from two cheap scalars instead of a per-token fold.
    */
  def gopherMeanWordLen(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    // micro-unit integer round (engine-exact), emitted as micro/1e6
    round((length(text).cast("double") - (n - 1)) * lit(1e6) / n, 0)
      .cast("long").cast("double") / lit(1e6)
  }

  def gopherAlphaFrac(text: Column): Column =
    round(size(filter(tokens(text), t => t.rlike("[A-Za-z]"))).cast("double")
        * lit(1e6) / tokenCount(text), 0)
      .cast("long").cast("double") / lit(1e6)

  def gopherVerdict(text: Column, minWords: Int = 25, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStop: Int = 2): Column = {
    val n = tokenCount(text)
    val ml = gopherMeanWordLen(text)
    when(n < minWords, lit("too_few_words"))
      .when(n > maxWords, lit("too_many_words"))
      .when(ml < minMeanLen || ml > maxMeanLen, lit("word_length"))
      .when(gopherAlphaFrac(text) < minAlphaFrac, lit("non_alpha"))
      .when(stopwordCount(text) < minStop, lit("few_stopwords"))
      .otherwise(lit("keep"))
  }

  /** Sequence-packing bin assignment: documents in deterministic
    * `doc_id` order are laid end to end and each takes the bin of its
    * starting token offset (`floor(tokens_before / capacity)`) — the
    * batch-construction step that turns a filtered corpus into
    * fixed-token-budget training bins.
    *
    * A global ordered cumulative sum is the one aggregation a single
    * window cannot do at scale (no partition key → one reducer), so it
    * runs as the classic TWO-PASS DISTRIBUTED PREFIX SUM: range-
    * partition by doc_id and freeze that layout (localCheckpoint, so
    * both passes read the same partitioning), (1) one tiny job
    * collects per-partition token totals (one row per partition),
    * (2) their exclusive prefix becomes a broadcast offset array and a
    * map-only pass adds each partition's running sum to its offset.
    * Work is O(n/P) per task; the driver holds P longs, never data.
    */
  def packBins(docs: org.apache.spark.sql.DataFrame, capacity: Long = 2048): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parts = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .localCheckpoint(true)
    // RDD-level passes: stage-stable partition ids (getPartitionId is
    // stage-relative and shifts under union/except composition)
    val rows = parts.as[(Long, Long)].rdd
    val totals = rows.mapPartitionsWithIndex { (pid, it) =>
      var tot = 0L; it.foreach(tot += _._2)
      Iterator.single(pid -> tot)
    }.collect().toMap
    val nParts = rows.getNumPartitions
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L)).toArray
    val bc = spark.sparkContext.broadcast(offsets)
    rows.mapPartitionsWithIndex { (pid, it) =>
      var cum = bc.value(pid)
      it.map { case (id, n) =>
        val bin = cum / capacity
        cum += n
        (id, n, bin)
      }
    }.toDF("doc_id", "n_tokens", "bin")
  }

  /** Count-Min sketch row parameters: cell_r(t) = ((a_r·polyHash(t) +
    * b_r) mod P) mod w — the same engine-independent affine family as
    * the MinHash permutations, so DuckDB mirrors cell placement 1:1.
    */
  val CmsParams: Seq[(Long, Long)] =
    Seq((7L, 3L), (13L, 17L), (31L, 29L), (61L, 59L))

  private val CmsP = 1000000007L

  private def cmsCells(h: Column, w: Int): Column =
    array(CmsParams.map { case (a, b) =>
      ((h * a + b) % CmsP) % w.toLong }: _*)

  /** Count-Min sketch BUILD over the corpus token stream: d×w cell
    * counts (d = 4 rows, default w = 1024). The mergeable heavy-
    * hitter / frequency-estimate primitive: at 100 TB the build is one
    * map pass + a combinable groupBy onto at most d·w cells (the
    * whole sketch is a few KB — broadcast it, union-merge shards by
    * summing cells); estimates never rescan the corpus.
    */
  def cmsCellCounts(docs: org.apache.spark.sql.DataFrame,
      w: Int = 1024): org.apache.spark.sql.DataFrame =
    docs.select(explode(tokens(col("text"))).as("term"))
      .select(polyHash(col("term")).as("h"))
      .select(posexplode(cmsCells(col("h"), w)))
      .toDF("row", "cell")
      .groupBy("row", "cell").agg(count(lit(1)).as("n"))

  /** Count-Min estimates for a term list against a built sketch:
    * est(t) = min over rows of the cell count — an overestimate by
    * construction (collisions only add), within εN with probability
    * 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉. Extra columns on `terms`
    * (e.g. a true count to compare against) ride through.
    */
  def cmsEstimate(sketch: org.apache.spark.sql.DataFrame,
      terms: org.apache.spark.sql.DataFrame,
      w: Int = 1024): org.apache.spark.sql.DataFrame = {
    val keep = terms.columns.filterNot(_ == "term")
    terms
      .withColumn("__cells", cmsCells(polyHash(col("term")), w))
      .select((col("term") +: keep.map(col) :+
        posexplode(col("__cells"))): _*)
      .withColumnRenamed("pos", "row").withColumnRenamed("col", "cell")
      .join(broadcast(sketch), Seq("row", "cell"), "left")
      .groupBy(("term" +: keep).map(col): _*)
      .agg(min(coalesce(col("n"), lit(0L))).as("est_n"))
  }

  /** Symbol separator for [[bpeMerges]]: words are held as their
    * symbols joined by a \\u0001 separator, so "apply merge (a,b) → ab" is a plain
    * non-overlapping left-to-right string replace of `a<SEP>b` with
    * `ab` — the semantics `replace` has in BOTH Spark and DuckDB.
    *
    * KNOWN DIVERGENCE from reference BPE trainers (deliberate, both
    * engines mirror it exactly): from round 3 on, the substring match
    * is not anchored to symbol boundaries — when an earlier multi-char
    * symbol ENDS with the pair's left symbol (symbol `cab`, pattern
    * `ab<SEP>z`), the replace can fire across the boundary and apply a
    * merge BPE never selected. Anchoring with sentinel separators
    * would instead drop legitimate ADJACENT merges (the shared
    * separator is consumed by the first replacement), and the
    * lookahead regex that fixes both is outside the RE2∩Java subset
    * the oracle can run. The pair COUNTS and argmax selection are
    * exact; only the rewrite of such suffix-collision words diverges.
    */
  val BpeSep = "\u0001"

  /** Largest merge vocabulary folded into a nested codegen-compiled
    * replace chain by [[bpeEncodeCounts]]; past it the encode switches
    * to the constant-depth aggregate() loop form.
    */
  val BpeEncodeChainMax = 32

  /** Greedy byte-pair-encoding merge induction, `rounds` merges: each
    * round counts adjacent symbol pairs across the corpus (combinable
    * groupBy onto the pair vocabulary), takes the argmax (count desc,
    * pair asc — deterministic), rewrites the corpus by a map-only
    * string replace, and repeats. The driver holds exactly one
    * (pair, count) row per round — the classic distributed BPE-trainer
    * schedule: shuffles are pair-vocabulary-bounded, the corpus pass
    * is map-only, nothing quadratic anywhere.
    *
    * @return one row per merge: (round, merged symbol, pair count at
    *         selection time).
    */
  def bpeMerges(docs: org.apache.spark.sql.DataFrame,
      rounds: Int = 3): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergeSeq(docs, rounds).zipWithIndex
      .map { case ((pair, n), i) => (i + 1, pair.replace(BpeSep, ""), n) }
      .toDF("round", "merged", "n")
  }

  /** The induced merge sequence in rank order, as SEP-carrying pair
    * strings with their selection-time counts — the driver-state form
    * [[bpeEncodeCounts]] broadcasts ([[bpeMerges]] is the registry
    * rendering of the same loop).
    */
  def bpeMergeSeq(docs: org.apache.spark.sql.DataFrame,
      rounds: Int = 3): Seq[(String, Long)] = {
    // WORD-FREQUENCY form (r18 optimization, guide §2.3 "shuffle fewer
    // bytes" / §1.2 "the distributed algorithm"): every real BPE
    // trainer folds the corpus to (distinct word form, multiplicity)
    // once, then runs the per-round pair count / argmax / rewrite over
    // the FORMS, weighting by multiplicity. Exactly equivalent to the
    // per-instance loop (identical instances contribute identical
    // pairs, and `replace` acts per form), but each round's explode +
    // rewrite pass touches |vocab| rows instead of |corpus tokens| —
    // at 100 TB that is the difference between a vocabulary-bounded
    // loop and rounds × corpus passes. Forms that COLLIDE after a
    // merge rewrite ("a·b·c" and "ab·c" both becoming "ab·c") re-fold
    // by summing their counts.
    Rounds { r =>
      var corpus = r.keep(docs
        .select(explode(tokens(col("text"))).as("w"))
        .where(length(col("w")) > 1)
        .select(concat_ws(BpeSep, split(col("w"), "")).as("s"))
        .groupBy("s").agg(count(lit(1)).as("cnt")))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      for (_ <- 1 to rounds) {
        val syms = split(col("s"), BpeSep)
        val pairs = corpus
          .select(col("cnt"), explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (a, b) => concat(a, lit(BpeSep), b))).as("pair"))
          .groupBy("pair").agg(sum("cnt").as("n"))
        val top = pairs.orderBy(col("n").desc, col("pair").asc).limit(1).collect()
        if (top.nonEmpty) {
          val pair = top(0).getString(0)
          out += ((pair, top(0).getLong(1)))
          corpus = r.swap(corpus, corpus
            .select(replace(col("s"), lit(pair), lit(pair.replace(BpeSep, ""))).as("s"),
              col("cnt"))
            .groupBy("s").agg(sum("cnt").as("cnt")))
        }
      }
      out.toSeq
    }
  }

  /** Tokenizer ENCODE — apply the induced merges ([[bpeMergeSeq]]) to
    * the whole corpus and count tokens per document: the single
    * most-executed operator of a real training pipeline (tokenize
    * everything, budget by tokens). The merge ranks are driver state
    * (tiny, broadcast-with-the-plan as literals) folded into ONE
    * map-only codegen'd expression chain: each word splits to
    * characters joined by [[BpeSep]], each merge then applies IN RANK
    * ORDER as a left-to-right non-overlapping `replace` — exactly the
    * scan-order contract the induction gate pinned, so
    * encode(corpus) is consistent with the merges it induced
    * (TextOpsSpec). Per-doc counts are one combinable aggregate; the
    * per-source totals roll up on top (t_bpe_source_totals).
    */
  def bpeEncodeCounts(docs: org.apache.spark.sql.DataFrame,
      mergePairs: Seq[String]): org.apache.spark.sql.DataFrame = {
    val chars = concat_ws(BpeSep, split(col("w"), ""))
    val encoded =
      if (mergePairs.length <= BpeEncodeChainMax)
        // small vocabularies (the gate's depth-3 shape): a codegen'd
        // nested replace chain, whole-stage-compiled, map-only
        mergePairs.foldLeft(chars) { (acc, pair) =>
          replace(acc, lit(pair), lit(pair.replace(BpeSep, "")))
        }
      else
        // LOOP form (r16, the r15 verdict's #5): a real 32k-merge
        // vocabulary would build a 32k-deep nested expression —
        // uncompilable (codegen method limits, analyzer recursion).
        // aggregate() folds the merge array in RANK ORDER with constant
        // expression depth at any vocabulary size; the lambda reads
        // only its iteration state (acc, m), so the r10 HOF
        // re-evaluation trap does not apply. Interpreted rather than
        // codegen'd — the per-element work (one string replace) is the
        // operator's intrinsic cost either way. Same left-to-right
        // non-overlapping replace semantics as the chain (TextOpsSpec
        // pins chain ≡ loop on a 100+-merge induction).
        aggregate(typedLit(mergePairs), chars,
          (acc, m) => replace(acc, m, translate(m, BpeSep, "")))
    docs
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), col("source"),
        size(split(encoded, BpeSep)).cast("long").as("n_sym"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_tokens"))
  }

  /** Sliding-window chunking for context-length-bounded training: one
    * row per (doc, window) with `chunk` tokens per window advancing by
    * `stride` (overlap = chunk − stride), final short window kept so
    * every token is covered. Map-only integer arithmetic + explode —
    * the pre-tokenization pass of any long-document pipeline.
    */
  def chunkWindows(docs: org.apache.spark.sql.DataFrame,
      chunk: Int = 64, stride: Int = 48): org.apache.spark.sql.DataFrame = {
    require(stride > 0 && chunk >= stride,
      s"chunkWindows: need 0 < stride <= chunk (got chunk=$chunk stride=$stride)")
    docs
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok"))
      // extra windows beyond the first: ceil((n − chunk)/stride), ≥ 0
      .withColumn("k", greatest(lit(0L),
        ((col("n_tok") - chunk + stride - 1) / stride).cast("long")))
      .select(col("doc_id"), col("n_tok"),
        posexplode(sequence(lit(0L), col("k") * stride, lit(stride.toLong))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("start"),
        least(lit(chunk.toLong), col("n_tok") - col("col")).as("chunk_len"))
  }

  /** T5-style span-corruption mask schedule: `k = ⌊n·pct/(100·len)⌋`
    * spans of `spanLen` tokens, evenly spaced at stride ⌊n/k⌋ — the
    * deterministic denoising-objective prep pass (which tokens become
    * sentinels) as pure integer arithmetic: map-only explode,
    * rerun-stable, identical across engines. Stride ≥ spanLen for any
    * pct ≤ 33, so spans never overlap.
    */
  def spanCorruption(docs: org.apache.spark.sql.DataFrame,
      corruptPct: Int = 15, spanLen: Int = 3): org.apache.spark.sql.DataFrame = {
    require(corruptPct >= 1 && corruptPct <= 33 && spanLen >= 1,
      s"spanCorruption: need 1 <= pct <= 33 (got $corruptPct), spanLen >= 1")
    docs
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("k", greatest(lit(1L),
        (col("n_tok") * corruptPct / (100 * spanLen)).cast("long")))
      .withColumn("stride", (col("n_tok") / col("k")).cast("long"))
      .select(col("doc_id"), col("n_tok"), col("stride"),
        posexplode(sequence(lit(0L), col("k") - 1)))
      .select(col("doc_id"), col("pos").cast("long").as("span_idx"),
        (col("col") * col("stride")).as("start"),
        least(lit(spanLen.toLong), col("n_tok") - col("col") * col("stride"))
          .as("span_len"))
  }

  /** Sparse (lexical) cosine retrieval over TF-IDF posting lists: the
    * inverted-index twin of the dense ANN family. Weights w = tf ·
    * ln(N/df); per-term contribution and per-doc norm² are summed as
    * integer micro-units (each term's double product rounds to a long
    * BEFORE the sum), so the aggregation is order-independent and
    * cross-engine exact; the final cosine divides the integer sums in
    * double (deterministic given integer inputs).
    *
    * Scale shape: tf/df are combinable aggs; the query side is tiny
    * and BROADCAST onto the corpus posting lists (term-partitioned —
    * the document-at-a-time sharding of a web-scale index); the
    * per-(query, doc) dot is a combinable sum; ranking is a bounded
    * per-query top-k.
    */
  def sparseCosineTopK(docs: org.apache.spark.sql.DataFrame,
      isQuery: Column, k: Int = 5): org.apache.spark.sql.DataFrame = Rounds { r =>
    val base = docs.select(col("doc_id"), col("text"), isQuery.as("__q"))
    val nDocs = base.agg(count(lit(1)).cast("double").as("n_docs"))
    // r18 (guide §2.4 "share one exchange"): tf and the weighted
    // posting list are each read by several downstream aggregates
    // (dfreq, norms, query side, dots) — materialize each ONCE instead
    // of re-running the tokenize+aggregate subtree per consumer. The
    // checkpoints release after the (tiny) top-k result seals.
    // r19 (guide §2.5): the tf aggregate is KB-to-MB-scale at bench SF,
    // so AQE coalesces it to 1–2 post-shuffle partitions — and every
    // downstream posting-list stage (weighted build, dots partial
    // aggregate: probe-measured 2.2 s in ONE task) inherits that
    // single-partition layout through the checkpoints. Request the
    // fan-out explicitly (user repartitions are never coalesced);
    // term-keyed, so the layout is also the term-partitioned sharding
    // the dots join wants. defaultParallelism = core budget at any
    // cluster size.
    val tf = r.keep(base
      .select(col("doc_id"), col("__q"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "__q", "term").agg(count(lit(1)).as("tf"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("term")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val weighted = r.keep(tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("__q"), col("term"),
        (col("tf") * log(col("n_docs") / col("df"))).as("w")))
    val norms = weighted.groupBy("doc_id")
      .agg(sum(round(col("w") * col("w") * 1e6).cast("long")).as("nsq_micro"))
    val q = weighted.filter(col("__q"))
      .select(col("doc_id").as("query_id"), col("term"), col("w").as("qw"))
    val dots = weighted.join(broadcast(q), Seq("term"))
      .where(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(round(col("qw") * col("w") * 1e6).cast("long")).as("dot_micro"))
    // query-side norms only (semi-join first — broadcasting the full
    // corpus norm table would not survive a 100 TB corpus)
    val qNorms = norms
      .join(q.select(col("query_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("query_id"), col("nsq_micro").as("q_nsq"))
    val scored = dots
      .join(broadcast(qNorms), Seq("query_id"))
      .join(norms, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"),
        (col("dot_micro") / 1e6 /
          (sqrt(col("q_nsq") / 1e6) * sqrt(col("nsq_micro") / 1e6))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("doc_id").asc)
    r.keep(scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), round(col("cos"), 6).as("cos"),
        col("rank")))
  }

  /** Eval-calibration threshold sweep (the PR-curve grid a quality
    * classifier is tuned from): precision / recall / F1 at each score
    * cutoff `t·stepMicro`, t ∈ [0, steps). ONE aggregate of 3·steps
    * conditional counts folds the whole corpus (map-side combinable —
    * no shuffle of the rows, no per-threshold pass), then the single
    * combined row explodes map-only into the grid. Ratios ship as
    * engine-exact micro ints (`div`, FLOAT_AUDIT integer-plane rule);
    * an empty denominator yields NULL, matching SQL aggregates.
    */
  def thresholdSweep(df: org.apache.spark.sql.DataFrame,
      scoreMicro: Column, label: Column, steps: Int,
      stepMicro: Long): org.apache.spark.sql.DataFrame = {
    require(steps > 0 && stepMicro > 0, "positive grid required")
    val aggs = (0 until steps).flatMap { t =>
      val cut = lit(t * stepMicro)
      Seq(
        sum(when(scoreMicro >= cut && label, 1L).otherwise(0L)).as(s"tp_$t"),
        sum(when(scoreMicro >= cut && !label, 1L).otherwise(0L)).as(s"fp_$t"),
        sum(when(scoreMicro < cut && label, 1L).otherwise(0L)).as(s"fn_$t"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val grid = (0 until steps).map { t =>
      struct(lit(t.toLong * stepMicro).as("threshold_micro"),
        coalesce(col(s"tp_$t"), lit(0L)).as("tp"),
        coalesce(col(s"fp_$t"), lit(0L)).as("fp"),
        coalesce(col(s"fn_$t"), lit(0L)).as("fn"))
    }
    val p = expr("tp * 1000000L div (tp + fp)")
    val r = expr("tp * 1000000L div (tp + fn)")
    one.select(explode(array(grid: _*)).as("g")).select(col("g.*"))
      .withColumn("precision_micro",
        when(col("tp") + col("fp") > 0, p))
      .withColumn("recall_micro",
        when(col("tp") + col("fn") > 0, r))
      .withColumn("f1_micro",
        when(col("precision_micro").isNotNull &&
             col("recall_micro").isNotNull &&
             col("precision_micro") + col("recall_micro") > 0,
          expr("2L * precision_micro * recall_micro div " +
            "(precision_micro + recall_micro)")))
  }

  /** EXACT heavy hitters — tokens with frequency > total/k — via a
    * Misra–Gries candidate pass + exact recount (r17). Pass 1 runs
    * the classic k-counter Misra–Gries summary INSIDE each partition
    * (mapPartitions, O(k) state, amortized O(1) per token, zero
    * shuffle); pigeonhole guarantees every globally-frequent token
    * exceeds its local threshold in at least one partition, so the
    * union of per-partition survivors (≤ partitions·k rows) is a
    * candidate SUPERSET. Pass 2 recounts ONLY the candidates (a
    * broadcast semi join feeding one combinable count) and applies
    * the exact integer threshold — the output is exact counts, never
    * estimates, which is what makes the gate deterministic
    * cross-engine. This is the frequent-items shape that holds at
    * 100 TB: no corpus-wide DISTINCT, no token ever shuffles unless
    * it survived a local sketch.
    *
    * @return (tok, cnt) for tokens with cnt·k > total token count.
    */
  def heavyHitters(docs: org.apache.spark.sql.DataFrame,
      k: Int = 200): org.apache.spark.sql.DataFrame = {
    require(k >= 2, "heavyHitters: k must be at least 2")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
      .as[String]
    val total = toks.count()
    val cands = toks.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        m.get(t) match {
          case Some(c) => m.update(t, c + 1)
          case None if m.size < k => m.update(t, 1L)
          case None =>
            // decrement-all: every counter drops by 1, zeros evict —
            // ≤ total/(k+1) decrement rounds overall, amortized O(1)
            val dead = List.newBuilder[String]
            m.foreach { case (key, c) =>
              if (c == 1L) dead += key else m.update(key, c - 1)
            }
            dead.result().foreach(m.remove)
        }
      }
      m.keysIterator
    }.toDF("tok").distinct()
    toks.toDF("tok")
      .join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > lit(total))
  }
}
