package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Rounds

/** Deduplication operators for LLM-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard near-dup.
  *
  * Scale design (100 TB): every variant is
  *   map-only signature computation → shuffle ON THE SIGNATURE (never
  *   on raw text) → candidate pairs within buckets → verify.
  * The only all-pairs work happens inside an LSH bucket, which is what
  * makes near-dup tractable at corpus scale — there is no O(n²) stage.
  * Signatures use the engine-independent [[TextAnalysis.polyHash]]
  * (not Spark murmur) so results are reproducible and DuckDB-checkable.
  */
object Dedup {
  import TextAnalysis.{tokens, polyHash, polyHashWide}

  private val P = 1000000007L

  /** MinHash permutation parameters: h_j(t) = (a_j*polyHash(t)+b_j) mod P.
    * 8 hashes banded 2-per-band → 4 LSH bands: catches Jaccard ≳ 0.5
    * pairs with high probability at this signature size.
    */
  val MinHashParams: Seq[(Long, Long)] =
    Seq((7L, 3L), (13L, 17L), (31L, 29L), (61L, 59L),
        (127L, 113L), (251L, 241L), (509L, 503L), (1021L, 1013L))

  val BandSize = 2

  /** MinHash signature over the trigram-shingle set (shingle → minhash,
    * the classic pipeline): array of 8 minima. Map-only. Shingles, not
    * tokens: with a small vocabulary every pair of documents shares
    * most TOKENS, so token-level Jaccard saturates; trigram shingles
    * stay selective.
    */
  def minHashSignature(text: Column): Column =
    minHashOfShingles(shingles(text))

  /** Signature from an existing shingle column: polyHash (a
    * per-character fold) runs ONCE per shingle; the 8 permutations are
    * cheap affine maps over the precomputed hashes.
    */
  def minHashOfShingles(sh: Column): Column = {
    val base = transform(sh, t => polyHash(t))
    val hs = MinHashParams.map { case (a, b) =>
      array_min(transform(base, h => pmod(h * lit(a) + lit(b), lit(P))))
    }
    array(hs: _*)
  }

  /** Exact duplicate groups: shuffle on the md5 of the text (tiny fixed
    * key — never shuffles the document bodies' raw bytes as the key),
    * keep the lowest doc_id as representative.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** True Jaccard over distinct token sets — the verify step shared by
    * every near-dup variant.
    */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    // micro-unit integer round, emitted as micro/1e6: engine-exact
    // (a round(q, 6) DOUBLE decimal-rounds differently across engines
    // on half-boundaries — see FLOAT_AUDIT.md)
    round(inter * lit(1e6) / (size(da) + size(db) - inter), 0)
      .cast("long").cast("double") / lit(1e6)
  }

  /** MinHash + LSH near-dup pairs.
    * Plan shape: map (signature) → explode 4 bands → shuffle-join on
    * (band_id, band key) → verify Jaccard inside buckets. At 100 TB the
    * band join is the only shuffle and its key is 2 longs.
    *
    * `maxBucket` is the skew guard: a band bucket holding b documents
    * contributes b² candidate rows, so one degenerate bucket (boilerplate
    * corpora collapse millions of near-identical docs onto one band key)
    * can dominate the whole shuffle. Buckets larger than the cap are
    * dropped before the self-join — their members are overwhelmingly
    * mutual duplicates better handled by [[exactGroups]] first. The cap
    * is far above any bucket size the test corpora produce, so gated
    * results are unaffected.
    */
  def minHashPairs(docs: DataFrame, threshold: Double = 0.5,
                   maxBucket: Int = 1000): DataFrame = Rounds { r =>
    val nBands = MinHashParams.size / BandSize
    // r19: fan-out + EAGER materialization — the minhash pass is the
    // gate's hottest compute and a lazy persist both serialized it on
    // the one scan task and let AQE's concurrent subtrees race to
    // recompute it
    val sig = r.keep(Ranks.fanout(docs, col("doc_id"))
      // tokens materialize in their own projection: shinglesOf's lambda
      // then reads an attribute per element instead of re-splitting the
      // text per gram (HOFs re-evaluate free subexpressions per element)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), shinglesOf(col("tk")).as("toks"))
      .withColumn("mh", minHashOfShingles(col("toks"))))
    // band join carries ONLY (band_id, band_key, doc_id) — the shingle
    // arrays never enter this shuffle; candidate pairs are deduped
    // BEFORE the (expensive) exact-Jaccard verify, so a pair colliding
    // in k bands is verified once, not k times
    val banded = sig.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(nBands - 1)),
        b => concat_ws("_", element_at(col("mh"), b * BandSize + 1),
                            element_at(col("mh"), b * BandSize + 2)))))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "band_key")
    // skew guard: drop over-cap buckets before the quadratic self-join
    val okBuckets = banded.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("__b")).filter(col("__b") <= maxBucket)
      .select("band_id", "band_key")
    val capped = banded.join(okBuckets, Seq("band_id", "band_key"), "left_semi")
    val cand = capped.select(col("band_id"), col("band_key"), col("doc_id").as("doc_a"))
      .join(capped.select(col("band_id"), col("band_key"), col("doc_id").as("doc_b")),
        Seq("band_id", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      // r19: explicit fan-out before the exact-Jaccard verify (the
      // hottest compute; AQE coalesces the KB-scale pair exchange)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .distinct()
    // seal the (tiny) pair set; Rounds then releases the signature
    // checkpoint: without this every call pins a full shingle copy of
    // the corpus for the session lifetime
    r.keep(cand
      .join(sig.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .where(col("jaccard") >= threshold))
  }

  /** 16-bit SimHash: bit i of the fingerprint is the majority vote of
    * bit i across the token hashes. Map-only per document; near-dup
    * lookup then groups on the fingerprint (or bands of it) — hamming
    * distance via `bit_count(a ^ b)`.
    */
  def simHash(text: Column, bits: Int = 16): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val perBit = (0 until bits).map { i =>
      val ones = size(filter(toks, t => pmod(shiftright(polyHash(t), i), lit(2L)) === 1L))
      when(ones * 2 > n, lit(1L << i)).otherwise(lit(0L))
    }
    perBit.reduce(_ + _)
  }

  /** SimHash near-dup pairs: LSH on the four NIBBLES of the 16-bit
    * fingerprint — by pigeonhole, a pair within hamming distance ≤ 3
    * has at most 3 differing bits touching at most 3 of the 4 bands,
    * so at least one band matches exactly and the pair is guaranteed
    * to become a candidate; exact hamming distance then verifies.
    * Same shuffle-on-tiny-key shape as [[minHashPairs]].
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sig = docs.select(col("doc_id"), simHash(col("text")).as("sh"))
    val nibbles = (0 until 4).map(k =>
      shiftright(col("sh"), 4 * k).bitwiseAND(lit(15L)))
    val banded = sig.select(col("doc_id"), col("sh"),
      posexplode(array(nibbles: _*)))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "band_key")
    val l = banded.select(col("band_id"), col("band_key"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val r = banded.select(col("band_id"), col("band_key"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    l.join(r, Seq("band_id", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Near-duplicate CLUSTERS from any pair relation `(doc_a, doc_b)`:
    * connected components over the undirected dup graph; cluster id =
    * min doc_id in the component — the canonical "keep" representative
    * of the collapse-near-dups pipeline step. Composes with
    * [[minHashPairs]], [[simHashPairs]], [[ngramJaccardPairs]], or
    * [[Similarity.cosineNearDupPairs]] as the edge source.
    *
    * Near-dup pair sets are orders of magnitude smaller than the
    * corpus (only documents WITH a near-duplicate appear), so up to
    * `graft.dedup.cc.broadcast.limit` pairs the components are solved
    * driver-side with a union-find — no GraphX job, no shuffle. Past
    * the limit (entity-resolution-scale output at 100 TB) it flips to
    * distributed GraphX connected components.
    */
  def dupClusters(spark: org.apache.spark.sql.SparkSession,
      pairs: DataFrame): DataFrame = {
    val limit =
      sys.props.getOrElse("graft.dedup.cc.broadcast.limit", "1000000").toInt
    // materialize the pair set ONCE with a full-parallel count, then
    // branch — a limit(N+1).collect() guard here executes the pair DAG
    // through CollectLimit's incremental partition scale-up: dozens of
    // serialized 1-task jobs re-walking the shuffle DAG (observed 15s+
    // for a 6s pair computation at sf0.1)
    val staged = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = try staged.count() catch { case e: Throwable => staged.unpersist(); throw e }
    if (cnt > limit) {
      staged.unpersist()
      GraphOps.connectedComponents(spark,
          pairs.select(col("doc_a").cast("long").as("src"),
            col("doc_b").cast("long").as("dst")))
        .select(col("id").as("doc_id"), col("component").as("cluster"))
    } else {
      val head = try staged.collect() finally staged.unpersist()
      // driver union-find over the (small) pair set
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      head.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        else { parent.getOrElseUpdate(a, ra); parent.getOrElseUpdate(b, rb) }
      }
      val members = head.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      import spark.implicits._
      members.map(m => (m, find(m))).toSeq.toDF("doc_id", "cluster")
    }
  }

  /** Token n-gram shingles (default trigrams) — input to Jaccard dedup.
    *
    * NOTE: the lambda references `toks` (the split) as a FREE
    * subexpression, which higher-order functions re-evaluate per
    * element — fine when `text` is a plain column, quadratic when it
    * is. Prefer [[shinglesOf]] over a materialized token column when
    * the gram strings are needed, or [[graft.functions.GramHashes]]
    * when only their hashes are (the hot dedup paths).
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOf(tokens(text), n)

  /** Shingles from an existing token-array column: per-element work is
    * an O(1) attribute read + slice, not a re-split of the text.
    */
  def shinglesOf(toks: Column, n: Int = 3): Column =
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken,
    * SIGMOD 2003): hash every `k`-gram, slide a window of `w` over the
    * hash sequence, keep each window's MINIMUM — any substring match
    * of length ≥ w+k−1 tokens between two documents is GUARANTEED to
    * share a selected fingerprint, at ~2/(w+1) the density of the full
    * gram set. The local-plagiarism/boilerplate primitive exact
    * per-doc dedup misses and MinHash only captures globally.
    *
    * Entirely per-document map-only native column expressions (no UDF,
    * no shuffle, no state): at 100 TB this is one pass over the
    * corpus; downstream overlap joins then run on the selected
    * hashes — a ~2/(w+1) fraction of the gram volume. Hashes are the
    * engine-independent [[TextAnalysis.polyHash]], so oracles mirror
    * 1:1. Gram hashing and the window minima are the native
    * [[graft.functions.GramHashes]]/[[graft.functions.SlidingMin]]
    * (one O(chars·k) pass per row) — the equivalent nested
    * higher-order-function chain re-evaluates the full gram pipeline
    * per window position (measured 15 ms/row; 76 s for 5 000 docs).
    */
  def winnowFingerprints(text: Column, k: Int = 4, w: Int = 4): Column =
    array_sort(array_distinct(
      graft.functions.SlidingMin(graft.functions.GramHashes(text, k), w)))

  /** Local-overlap pairs over winnowing fingerprints — the SIGMOD'03
    * payoff: two documents sharing any substring of ≥ w+k−1 tokens are
    * GUARANTEED to share a selected fingerprint, so joining the
    * fingerprint planes finds boilerplate/plagiarism overlap that
    * whole-document similarity (MinHash/Jaccard) dilutes away on long
    * documents. Returns (doc_a, doc_b, n_shared) for pairs sharing
    * ≥ `minShared` fingerprints.
    *
    * Scale shape (same skeleton as [[ngramJaccardPairs]]): the join
    * runs on the winnowed plane — ~2/(w+1) of the gram volume — and is
    * prefix-capped EXACTLY for the overlap threshold: rank each doc's
    * fingerprints by ascending global document frequency and index
    * only the first n_fp − minShared + 1 (if |A∩B| ≥ m, the m−1
    * dropped suffix entries can't hold ALL shared fps; dropping df=1
    * fps first only moves shared fps earlier, so the prefix property
    * holds). Hot boilerplate fingerprints sort last and fall out of
    * the candidate stage; candidates verify with an exact
    * array_intersect on the full per-doc sets. No fingerprint's join
    * input grows with its document frequency beyond the capped prefix.
    */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 4, w: Int = 4,
                         minShared: Int = 3): DataFrame = Rounds { r =>
    // r19: fan-out + eager materialization (see [[ngramJaccardPairs]])
    val docFp = r.keep(Ranks.fanout(docs, col("doc_id"))
      .select(col("doc_id"),
        winnowFingerprints(col("text"), k, w).as("fps")))
    val ex = docFp.select(col("doc_id"), size(col("fps")).as("n_fp"),
      explode(col("fps")).as("fp"))
    val docFreq = ex.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
    val prefixLen = col("n_fp") - lit(minShared) + 1
    val ranked = ex.join(docFreq, "fp")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("fp"))))
      .where(col("rk") <= prefixLen)
      .select("fp", "doc_id")
    val cand = ranked.select(col("fp"), col("doc_id").as("doc_a"))
      .join(ranked.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .distinct()
    // seal the tiny pair set; the fingerprint checkpoint is released
    // on return (same per-call discipline as [[ngramJaccardPairs]])
    r.keep(cand
      .join(docFp.select(col("doc_id").as("doc_a"), col("fps").as("fps_a")), "doc_a")
      .join(docFp.select(col("doc_id").as("doc_b"), col("fps").as("fps_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("fps_a"), col("fps_b"))).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared))
  }

  /** Bloom-filter affine bit hashes: bit_i(t) = ((a_i·polyHash(t) +
    * b_i) mod P) mod m — the same engine-independent family as the
    * MinHash permutations and the Count-Min cells, so DuckDB mirrors
    * bit placement 1:1.
    */
  val BloomParams: Seq[(Long, Long)] =
    Seq((7L, 3L), (13L, 17L), (31L, 29L), (61L, 59L))

  private def bloomBitArray(item: Column, m: Int): Column =
    array(BloomParams.map { case (a, b) =>
      ((polyHash(item) * a + b) % P) % m.toLong }: _*)

  /** Bloom membership sketch BUILD: the distinct set bits (k = 4
    * affine hashes into m positions) over a string item column. The
    * mergeable set-membership primitive completing the sketch family
    * (KMV = distinct counts, Count-Min = frequencies, Bloom =
    * membership): at most m rows whatever the corpus size — broadcast
    * it, union-merge shards by distinct-union of bits. The classic
    * cross-snapshot "have we ingested this before?" pre-filter: no
    * false negatives, false positives at the usual (1−e^{−kn/m})^k.
    */
  def bloomBits(items: DataFrame, itemCol: String = "item",
      m: Int = 8192): DataFrame =
    items.select(explode(bloomBitArray(col(itemCol), m)).as("bit")).distinct()

  /** Probe a built Bloom sketch: adds `maybe_seen` (1 iff ALL k bits
    * are set — possibly a false positive, never a false negative).
    * Extra columns on `probes` ride through. Broadcast the (≤ m row)
    * bit set; the probe side is one map pass + a per-item all-bits
    * conjunction.
    */
  def bloomProbe(bits: DataFrame, probes: DataFrame,
      itemCol: String = "item", m: Int = 8192): DataFrame = {
    val keep = probes.columns.filterNot(_ == itemCol)
    probes
      .select((col(itemCol) +: keep.map(col) :+
        explode(bloomBitArray(col(itemCol), m)).as("bit")): _*)
      .join(broadcast(bits.withColumn("__hit", lit(1L))), Seq("bit"), "left")
      .groupBy((itemCol +: keep).map(col): _*)
      .agg(min(coalesce(col("__hit"), lit(0L))).as("maybe_seen"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * word-level n-gram with a benchmark/eval set — the standard
    * "remove test-set leakage before training" pipeline step (13-gram
    * overlap in GPT-3's cleaning, 8 here to fit the fixture corpus).
    *
    * Scale shape: the benchmark gram set is tiny relative to the
    * corpus (eval suites vs 100 TB of training text) → build it once,
    * broadcast it; the corpus side is ONE map pass producing ~60-bit
    * gram hashes (the gram strings never enter a shuffle), a broadcast
    * join, and a per-doc count. The corpus is never shuffled.
    *
    * @return (doc_id, n_hits) — contaminated docs with the count of
    *         distinct benchmark n-grams they contain.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int = 8): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .filter(size(tokens(col("text"))) >= n)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.GramHashes.wide(col("text"), n))).as("gram"))
    val benchGrams = broadcast(grams(bench).select("gram").distinct())
    grams(docs).join(benchGrams, Seq("gram"))
      // grams are distinct per doc → join multiplicity = distinct hits
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Cross-source contamination matrix: for every (ordered) pair of
    * sources, the number of distinct word n-grams they share — the
    * curation diagnostic that finds mirror sites, syndicated content
    * and pipeline double-ingestion BEFORE document-level dedup runs.
    *
    * Scale shape: one map pass to per-source-distinct ~60-bit gram
    * hashes, one shuffle on the hash, and a per-gram self-join whose
    * fan-out is bounded by sources²-per-gram (the number of SOURCES is
    * small — tens, not millions — so the per-gram pair set is tiny
    * even when a gram is corpus-universal). Gram strings never leave
    * the executor.
    */
  def crossSourceOverlap(docs: DataFrame, n: Int = 8): DataFrame = {
    // r19: fan the one-row-group scan out before the gram derivation
    // (probe: the whole gram pass serialized on a single scan task)
    val grams = Ranks.fanout(docs, col("doc_id"))
      .filter(size(tokens(col("text"))) >= n)
      .select(col("source"),
        explode(array_distinct(
          graft.functions.GramHashes.wide(col("text"), n))).as("gram"))
      .distinct()
    val a = grams.select(col("source").as("source_a"), col("gram"))
    val b = grams.select(col("source").as("source_b"), col("gram"))
    a.join(b, Seq("gram"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Duplicated-span coverage: for every document, the fraction of its
    * DISTINCT word n-grams that also occur in at least one other
    * document — the n-gram-granular reading of exact-substring dedup
    * (the "how much of this doc is copied text" signal that decides
    * span removal vs whole-doc drop in substring-dedup pipelines).
    *
    * Scale shape: one map pass emits per-doc-distinct ~60-bit gram
    * hashes (gram STRINGS never leave the executor); the document
    * frequency per gram is a map-side-combinable count on those
    * hashes; the join back to per-doc grams shuffles only
    * `(hash, long)` pairs. No all-pairs stage anywhere — cost is
    * O(total distinct grams), the same shape at 100 TB.
    *
    * @return (doc_id, n_grams, n_dup, dup_ratio) — distinct n-grams,
    *         how many of them are shared with another doc, and the
    *         shared fraction rounded to 6 places.
    */
  def spanDupRatio(docs: DataFrame, n: Int = 5): DataFrame = {
    // no Ranks.fanout here (unlike the sibling dedup ops): this op's
    // plan contract pins that NO exchange ever carries raw text
    // (PlanQualitySpec), and its gram pass is cheap enough that the
    // starved-scan fan-out isn't worth trading the pin away
    val grams = docs
      .filter(size(tokens(col("text"))) >= n)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.GramHashes.wide(col("text"), n))).as("gram"))
    // grams are distinct per doc → per-gram count == document freq.
    // A window count would share one shuffle but lands a hot gram's
    // ENTIRE posting list (license boilerplate 5-grams reach df ~1e8
    // at corpus scale) on one task; the two-shuffle shape pays the
    // gram shuffle twice but the first is a MAP-SIDE-COMBINABLE count
    // (each task ships at most one (hash, partial) row per gram) and
    // the join-back carries only (hash, long) pairs — and AQE's
    // skew-join split applies to the join where it never would to the
    // window.
    val df = grams.groupBy("gram").agg(count(lit(1)).as("ndocs"))
    grams.join(df, Seq("gram"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        round(col("n_dup").cast("double") * lit(1e6) / col("n_grams"), 0)
          .cast("long").cast("double") / lit(1e6))
  }

  /** EXACT repeated-substring detection (r17, the r16 verdict's #4 —
    * the suffix-granular operator published training-data pipelines run
    * where [[spanDupRatio]] is the n-gram approximation): for every
    * document pair sharing an exact run of ≥ `minSpan` consecutive
    * tokens, emit the pair with its LONGEST shared run. Shape is
    * winnowing anchors → candidate alignments → extend-and-verify on
    * the anchored windows — never a corpus-wide suffix array:
    *
    *  1. anchors: the winnowed k-gram fingerprints
    *     (Schleimer–Wilkerson–Aiken; [[graft.functions.SlidingMin]]
    *     over [[graft.functions.GramHashes]]) with their token
    *     POSITIONS. Window w = minSpan − k + 1 gives the winnowing
    *     guarantee: any shared run of ≥ minSpan tokens contains a full
    *     window of k-grams, whose minimum is selected in BOTH
    *     documents — no true pair is missed.
    *  2. candidates: anchors join on the fingerprint VALUE — each hit
    *     is an (doc_a, pos_a, doc_b, pos_b) alignment. A hot anchor
    *     (boilerplate) fans out exactly like the truth it approximates;
    *     winnowing keeps anchor density at ~2/(w+1) per token, so the
    *     join input is a fraction of the all-positions shingle join
    *     the oracle pays.
    *  3. extend-and-verify: each alignment re-joins ONLY the candidate
    *     documents' token arrays, string-verifies the anchor k-gram
    *     (hash-collision guard), and counts the maximal equal run
    *     left/right of the anchor inside a ±`maxExt`-token window —
    *     one codegen'd fold per side (the lambda reads only its
    *     iteration state; zip_with's null padding stops the count at
    *     the shorter side). The ±window bounds per-alignment work on
    *     adversarial inputs.
    *  4. island merge: each verified alignment is an interval on the
    *     pair's alignment DIAGONAL (pa − pb); intervals from anchors of
    *     the same run overlap (winnowing places anchors ≤ w apart
    *     inside the run and w ≤ maxExt), while runs separated by even
    *     one mismatch never touch — so merging overlapping intervals
    *     per (pair, diagonal) recovers the EXACT run length at ANY
    *     length, not just ≤ maxExt (r17 review fix: the pre-merge form
    *     truncated runs past ~2·maxExt+k against an untruncated
    *     oracle). The merge is the q_merge_intervals prefix-max island
    *     pattern on a window keyed by (pair, diagonal) — bounded by a
    *     single pair's anchor count, never corpus-shaped.
    *
    * @return (doc_a, doc_b, span_tokens) for pairs with a shared run
    *         ≥ `minSpan`, span_tokens = the longest shared run.
    */
  def substringExactPairs(docs: DataFrame, minSpan: Int = 12, k: Int = 8,
      maxExt: Int = 256): DataFrame = {
    require(minSpan > k, s"substringExactPairs: minSpan ($minSpan) must " +
      s"exceed the anchor gram size ($k) — the winnowing window is " +
      "minSpan - k + 1")
    val w = minSpan - k + 1
    // exactness-at-any-length contract: in-run anchors sit ≤ w apart,
    // so their ±maxExt verify windows overlap (and islands merge) only
    // when the window is at least the winnowing window
    require(w <= maxExt, s"substringExactPairs: winnowing window $w " +
      s"exceeds the extend window $maxExt — island merge would miss " +
      "in-run coverage")
    // r19 (guide §2.5, probe-measured): base is consumed three times
    // (anchors + both sides of the extend-verify join) and a
    // one-row-group table scans as ONE task — each consumer recomputed
    // the tokenize+gram pass serially on a single core (three ~300 ms
    // single-task stages per run). Fan the scan out so the recomputes
    // run core-budget-wide. Deliberately NOT checkpointed: base
    // carries the full token+gram arrays, and materializing that
    // corpus-sized frame measured ~2x SLOWER than three parallel
    // recomputes (A/B med-3 both orders).
    val base = Ranks.fanout(docs, col("doc_id"))
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"),
        graft.functions.GramHashes.wide(col("text"), k).as("grams"))
    val anchors = base
      .withColumn("wset", array_distinct(
        graft.functions.SlidingMin(col("grams"), w)))
      .select(col("doc_id"), col("wset"),
        posexplode(col("grams")).as(Seq("pos", "h")))
      .filter(array_contains(col("wset"), col("h")))
      .select(col("doc_id"), col("pos"), col("h"))
    val cand = anchors.select(col("doc_id").as("da"), col("pos").as("pa"),
        col("h"))
      .join(anchors.select(col("doc_id").as("db"), col("pos").as("pb"),
        col("h")), Seq("h"))
      .where(col("da") < col("db"))
      .select("da", "pa", "db", "pb")
      .distinct()
    // leading-equal count of two (possibly different-length) token
    // arrays: null-safe compare stops at the shorter side's end
    def leadEq(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (a, b) => a <=> b),
        struct(lit(true).as("go"), lit(0).as("n")),
        (acc, m) => struct((acc("go") && m).as("go"),
          when(acc("go") && m, acc("n") + 1).otherwise(acc("n")).as("n")))("n")
    val paired = cand
      .join(base.select(col("doc_id").as("da"), col("toks").as("toks_a")),
        Seq("da"))
      .join(base.select(col("doc_id").as("db"), col("toks").as("toks_b")),
        Seq("db"))
    // pos is 0-based; slice() is 1-based. Anchor occupies tokens
    // [pos+1, pos+k]; left window = the last ≤maxExt tokens before it
    // (reversed, so the fold walks outward), right window = the ≤maxExt
    // tokens after it.
    def leftArr(toks: Column, pos: Column): Column =
      reverse(slice(toks, greatest(pos - lit(maxExt) + 1, lit(1)),
        least(pos, lit(maxExt))))
    def rightArr(toks: Column, pos: Column): Column =
      slice(toks, pos + lit(k) + 1, lit(maxExt))
    val ivals = paired
      // hash-collision guard: the anchor k-grams must MATCH as strings
      .filter(slice(col("toks_a"), col("pa") + 1, lit(k)) ===
        slice(col("toks_b"), col("pb") + 1, lit(k)))
      .select(col("da"), col("db"),
        (col("pa") - col("pb")).as("diag"), col("pa"),
        leadEq(leftArr(col("toks_a"), col("pa")),
          leftArr(col("toks_b"), col("pb"))).as("lext"),
        leadEq(rightArr(col("toks_a"), col("pa")),
          rightArr(col("toks_b"), col("pb"))).as("rext"))
      // verified interval in doc_a token positions (0-based, inclusive)
      .select(col("da"), col("db"), col("diag"),
        (col("pa") - col("lext")).cast("long").as("s"),
        (col("pa") + lit(k - 1) + col("rext")).cast("long").as("e"))
    // overlap-merge per (pair, diagonal): intervals of one run overlap,
    // distinct runs are separated by a mismatch position and never do
    val W = org.apache.spark.sql.expressions.Window
    val byDiag = W.partitionBy("da", "db", "diag").orderBy("s")
    val spans = ivals
      .withColumn("prev_e", max(col("e"))
        .over(byDiag.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when(col("prev_e").isNull || col("s") > col("prev_e"), 1L)
          .otherwise(0L)).over(byDiag))
      .groupBy("da", "db", "diag", "isl")
      .agg((max(col("e")) - min(col("s")) + 1L).as("span"))
    spans.groupBy(col("da").as("doc_a"), col("db").as("doc_b"))
      .agg(max(col("span")).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
  }

  /** Signature-estimated Jaccard next to the exact verify for every
    * LSH candidate pair — the calibration view of [[minHashPairs]]
    * (matching components / k is the unbiased estimator band tuning
    * reads). Same banded candidate generation and bucket cap; the
    * estimate joins SIGNATURES (k longs per doc), the shingle sets
    * enter only the exact verify.
    */
  def minHashEstimatePairs(docs: DataFrame,
      maxBucket: Int = 1000): DataFrame = Rounds { r =>
    val nBands = MinHashParams.size / BandSize
    // r19: fan-out + EAGER materialization (see [[minHashPairs]]) —
    // probe showed FIVE concurrent single-task ~870 ms recomputations
    // of this signature pass (lazy persist + AQE's concurrently
    // materializing subtrees) per invocation
    val sig = r.keep(Ranks.fanout(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), shinglesOf(col("tk")).as("toks"))
      .withColumn("mh", minHashOfShingles(col("toks"))))
    val banded = sig.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(nBands - 1)),
        b => concat_ws("_", element_at(col("mh"), b * BandSize + 1),
                            element_at(col("mh"), b * BandSize + 2)))))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "band_key")
    val okBuckets = banded.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("__b")).filter(col("__b") <= maxBucket)
      .select("band_id", "band_key")
    val capped = banded.join(okBuckets, Seq("band_id", "band_key"), "left_semi")
    val cand = capped.select(col("band_id"), col("band_key"), col("doc_id").as("doc_a"))
      .join(capped.select(col("band_id"), col("band_key"), col("doc_id").as("doc_b")),
        Seq("band_id", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      // r19: fan the verify out (AQE coalesces the KB-scale exchange)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .distinct()
    val nMatch = aggregate(
      zip_with(col("mh_a"), col("mh_b"),
        (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    r.keep(cand
      .join(sig.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
        col("mh").as("mh_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        col("mh").as("mh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        nMatch.as("n_match"),
        jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        // divisor = the SIGNATURE length, derived from the same
        // constant that sized n_match — a future MinHashParams resize
        // must not silently skew the estimator out of [0, 1e6]
        round(col("n_match").cast("double") * lit(1e6) /
            lit(MinHashParams.size.toDouble), 0)
          .cast("long").as("est_micro"),
        col("jaccard")))
  }

  /** Exact n-gram Jaccard near-dup pairs via a prefix-filtered
    * set-similarity self-join (the AllPairs/PPJoin family).
    *
    * Scale shape: a naive shingle inverted-index join emits df² rows for
    * a shingle shared by df documents — a shuffle explosion on hot
    * shingles. Prefix filtering keeps the join EXACT while pruning it:
    * order every document's shingle set by ascending global document
    * frequency (rarest first); if Jaccard(a,b) ≥ t, the first
    * |d| − ⌈t·|d|⌉ + 1 shingles of each side must intersect, so only
    * that prefix is indexed. Hot shingles sort LAST and fall out of the
    * candidate join entirely; candidates then pass a size filter
    * (t·max(|a|,|b|) ≤ min(|a|,|b|)) and an exact intersection verify.
    * No join key's input grows quadratically in df.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.3): DataFrame = Rounds { r =>
    // per-doc distinct shingle set, kept as ~60-bit wide hashes (tiny,
    // fixed width — the raw shingle strings never enter any shuffle;
    // the wide hash keeps the EXACT-verify claim honest at corpus
    // scale, where a ~1e9 hash space would saturate)
    // r19 (guide §2.5): fan the scan out to the core budget BEFORE the
    // CPU-heavy shingle derivation (a one-row-group table scans as ONE
    // task), and materialize it eagerly — the lazy persist let AQE's
    // concurrently-materializing subtrees (both prefix sides, docFreq)
    // RACE and each recompute the shingle pass (probe: six serial
    // ~150 ms single-task copies of the same stage).
    val docSh = r.keep(Ranks.fanout(docs, col("doc_id"))
      .select(col("doc_id"),
        array_distinct(graft.functions.GramHashes.wide(col("text"), n)).as("sh")))
    val ex = docSh.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("sh_hash"))
    // global document frequency; df=1 shingles cannot create a pair
    val docFreq = ex.groupBy("sh_hash").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
    // rank each doc's surviving shingles rarest-first and keep only the
    // prefix — dropping df=1 shingles first only moves shared shingles
    // EARLIER in the order, so the prefix property still holds.
    // (A groupBy + array_sort/slice variant was measured at the same
    // wall time — the window is not this gate's bottleneck.)
    // Candidate generation filters at threshold − 1e-6 (r19 review):
    // the REPORTED jaccard is rounded to the 1e-6 grid and the final
    // filter compares that rounded value, so a pair whose TRUE jaccard
    // sits in [t − 5e-7, t) rounds UP into the result set — reachable
    // only at ~1e6+-shingle documents, where the prefix/size pruning
    // at exactly t could drop it nondeterministically. Pruning at
    // t − 1e-6 (one rounding quantum) restores the completeness
    // guarantee for every pair the rounded filter can accept; the
    // final `jaccard >= threshold` below is unchanged, so the OUTPUT
    // is identical at any SF where the knife-edge is unreachable
    // (oracle re-verified green at both SFs).
    val tc = threshold - 1e-6
    val prefixLen = col("n_sh") - ceil(lit(tc) * col("n_sh")) + 1
    val ranked = ex.join(docFreq, "sh_hash")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("sh_hash"))))
      .where(col("rk") <= prefixLen)
      .select("sh_hash", "doc_id", "n_sh")
    val cand = ranked.select(col("sh_hash"), col("doc_id").as("doc_a"), col("n_sh").as("na"))
      .join(ranked.select(col("sh_hash"), col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        "sh_hash")
      .where(col("doc_a") < col("doc_b"))
      .where(least(col("na"), col("nb")) >=
        lit(tc) * greatest(col("na"), col("nb")))
      .select("doc_a", "doc_b")
      // r19: the distinct's exchange is KB-scale but feeds the
      // array_intersect verify — the gate's hottest compute (probe:
      // 6.9 s of executor time across the 4 AQE-coalesced tasks).
      // Cluster by pair with an explicit fan-out; the distinct then
      // folds locally and the verify runs core-budget-wide.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .distinct()
    // exact verify on the full hash sets — candidate volume is tiny;
    // seal the pair set, and Rounds releases the shingle checkpoint: an
    // unreleased corpus-sized copy per invocation (3 bench reps = 3
    // copies) would pin storage for the session lifetime
    r.keep(cand
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (round(col("inter") * lit(1e6)
            / (col("na") + col("nb") - col("inter")), 0)
          .cast("long").cast("double") / lit(1e6)).as("jaccard"))
      .where(col("jaccard") >= threshold))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A| ≥ t —
    * the near-dup detector Jaccard misses when a short document is
    * embedded in a much longer one (quote farms, wrapper boilerplate:
    * J = |A|/|B| can be arbitrarily small while C(A→B) = 1). Exact,
    * directional (both a→b and b→a can emit).
    *
    * Scale shape: the standard asymmetric probe-prefix filter — a
    * true containment needs ≥ ⌈t·|A|⌉ shared shingles, so SOME shared
    * shingle sits in A's first |A|−⌈t·|A|⌉+1 rarest-first entries
    * (pigeonhole; df=1 shingles are unshareable and drop first).
    * Probe prefixes join the FULL index side (B is unbounded — its
    * denominator never appears), then candidates verify exactly on
    * the cached wide-hash sets. No O(n²) stage; the index join is the
    * posting-list shape an entity-resolution deployment shards.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.6): DataFrame = Rounds { r =>
    // r19: same fan-out + eager-materialize treatment as
    // [[ngramJaccardPairs]] (one-row-group scan serializes the shingle
    // pass; a lazy persist lets AQE's concurrent subtrees recompute it)
    val docSh = r.keep(Ranks.fanout(docs, col("doc_id"))
      .select(col("doc_id"),
        array_distinct(graft.functions.GramHashes.wide(col("text"), n)).as("sh")))
    val ex = docSh.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("sh_hash"))
    val docFreq = ex.groupBy("sh_hash").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
    // probe prefix at threshold − 1e-6 — same rounding-quantum margin
    // as [[ngramJaccardPairs]] (the reported containment is rounded to
    // the 1e-6 grid; see the rationale there). Final filter unchanged.
    val prefixLen =
      col("n_sh") - ceil(lit(threshold - 1e-6) * col("n_sh")) + 1
    val probes = ex.join(docFreq, "sh_hash")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("sh_hash"))))
      .where(col("rk") <= prefixLen)
      .select(col("sh_hash"), col("doc_id").as("doc_a"))
    val index = ex.select(col("sh_hash"), col("doc_id").as("doc_b"))
    val cand = probes.join(index, "sh_hash")
      .where(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b")
      // r19: explicit fan-out before the array_intersect verify (the
      // hottest compute; AQE coalesces the KB-scale pair exchange)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .distinct()
    r.keep(cand
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(col("sh_a"))).as("c"))
      .select(col("doc_a"), col("doc_b"),
        (round(col("c") * lit(1e6), 0).cast("long").cast("double")
          / lit(1e6)).as("containment"))
      .where(col("containment") >= threshold))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo): sort the
    * corpus by a blocking key and emit every pair within `window`
    * positions of each other in that TOTAL order — the classic
    * entity-resolution candidate generator when LSH bands don't fit
    * the key structure (O(n·w) pairs, one sort, no bucket skew: a
    * million-row hot key still yields exactly w−1 pairs per row).
    *
    * Skew-/scale-safe realization: range-partition + sort on
    * (block_key, doc_id) freezes the global order with contiguous
    * partitions; interior pairs are a map-only sliding buffer; the
    * ≤ w−1 pairs spanning each boundary use the SUCCESSOR partitions'
    * first w−1 rows, stitched on the driver (O(P·w) state — rows,
    * never data pages) and broadcast. Input: (doc_id, block_key).
    *
    * @return (a_id, b_id, dist) with a before b in sort order and
    *         0 < dist < window.
    */
  def sortedNeighborhoodPairs(keyed: DataFrame,
      window: Int = 4): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    require(window >= 2, s"sortedNeighborhoodPairs: window >= 2 (got $window)")
    val parts = keyed
      .select(col("block_key").cast("string"), col("doc_id").cast("long"))
      .repartitionByRange(col("block_key"), col("doc_id"))
      .sortWithinPartitions("block_key", "doc_id")
      .localCheckpoint(true)
      .as[(String, Long)]
    // first w−1 rows of every partition (w−1 = all of a short one)
    val heads = parts.rdd.mapPartitionsWithIndex { (pid, it) =>
      val h = it.take(window - 1).map(_._2).toList
      if (h.isEmpty) Iterator.empty else Iterator.single(pid -> h)
    }.collect().toMap
    // successor carry: for partition p, the next w−1 GLOBAL rows after
    // its end — concatenated heads of following partitions (a short
    // partition contributes all its rows and the walk continues)
    val maxPid = if (heads.isEmpty) -1 else heads.keys.max
    val carry = (0 to maxPid).map { p =>
      val buf = scala.collection.mutable.ListBuffer.empty[Long]
      var q = p + 1
      while (buf.size < window - 1 && q <= maxPid) {
        heads.get(q).foreach(h => buf ++= h.take(window - 1 - buf.size))
        q += 1
      }
      p -> buf.toList
    }.toMap
    val bc = spark.sparkContext.broadcast(carry)
    parts.rdd.mapPartitionsWithIndex { (pid, it) =>
      val buf = scala.collection.mutable.ArrayDeque.empty[Long]
      def pairsWith(y: Long): Iterator[(Long, Long, Long)] = {
        val n = buf.size
        val out = buf.iterator.zipWithIndex
          .map { case (x, i) => (x, y, (n - i).toLong) }.toList
        out.iterator
      }
      def push(y: Long): Unit = {
        buf.append(y); if (buf.size >= window) buf.removeHead()
      }
      val interior = it.flatMap { case (_, y) =>
        val ps = pairsWith(y); push(y); ps
      }
      // boundary pairs: this partition's tail × the successor carry.
      // Carry rows pair only with OUR rows (their own pairs belong to
      // their partitions), so the buffer stops absorbing them — each
      // carried y pairs with the surviving tail at growing distance
      def boundary: Iterator[(Long, Long, Long)] =
        bc.value.getOrElse(pid, Nil).iterator.zipWithIndex.flatMap {
          case (y, k) =>
            val n = buf.size
            buf.iterator.zipWithIndex.collect {
              case (x, i) if (n - i).toLong + k < window =>
                (x, y, (n - i).toLong + k)
            }
        }
      interior ++ boundary
    }.toDF("a_id", "b_id", "dist")
  }
}
