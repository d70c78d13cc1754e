package graft

import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis

/** Unit contracts for the mixture-sampling and sequence-packing ops
  * (their oracle gates check end-to-end equality; these pin the
  * distributed mechanics).
  */
class TextOpsSpec extends GraftSuite {

  test("weightedSample: a non-positive weight fails loud, never skews the draw") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // w = 0 would make the A-ES key Infinity→Long.MaxValue (doc never
    // sampled) and w < 0 a negative key (always sampled) — both must
    // surface as an assert, not a silently biased sample
    // k >= rows: the result must place EVERY row, so the violating
    // row's key value (= the raise) cannot be skipped by any plan
    val docs = Seq((1L, 5L), (2L, 0L), (3L, 3L)).toDF("doc_id", "w0")
    val e = intercept[Throwable] {
      graft.ext.TextAnalysis.weightedSample(docs, col("w0"), 3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("weightedSample")), msgs(e).mkString("|"))
  }

  test("sortedNeighborhoodPairs equals the global rank self-join across boundaries") {
    import spark.implicits._
    // 300 sequential keys spread over 32 range partitions: every
    // boundary pair (and carries spanning short partitions) exercised
    val keyed = (0L until 300L).map(i => (f"k$i%04d", i))
      .toDF("block_key", "doc_id")
    val got = graft.ext.Dedup.sortedNeighborhoodPairs(keyed, window = 4)
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = (for {
      a <- 0L until 300L; d <- 1L to 3L; if a + d < 300L
    } yield (a, a + d, d)).sorted
    assert(got == want)
  }

  test("containmentPairs: short doc inside a long one emits directionally") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // doc 1's three 3-grams all appear in doc 2 (C(1→2) = 1.0) but
    // only half of doc 2's appear in doc 1 (C(2→1) = 0.5 < t);
    // Jaccard = 0.5 would also miss the pair at t = 0.6
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x y a b c d e z"),
      (3L, "p q r s t u v")).toDF("doc_id", "text")
    val got = assertCheckpointsOwned(graft.ext.Dedup.containmentPairs(docs, 3, 0.6))
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("dedup pair operators leave persisted only the checkpoints their result reads") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "an entirely different sentence about other things")).toDF("doc_id", "text")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minHashPairs" -> (() => graft.ext.Dedup.minHashPairs(docs)),
      "minHashEstimatePairs" -> (() => graft.ext.Dedup.minHashEstimatePairs(docs)),
      "ngramJaccardPairs" -> (() => graft.ext.Dedup.ngramJaccardPairs(docs))
    ).foreach { case (name, op) =>
      withClue(s"$name: ") { assertCheckpointsOwned(op()) }
    }
  }

  test("bpeMerges: greedy merge sequence with left-to-right replace semantics") {
    import spark.implicits._
    // "aaab aaab ab": round 1 top pair (a,a) n=4; after the merge the
    // corpus is {aa·a·b, aa·a·b, a·b} so round 2 top is (a,b) n=3
    // (non-overlapping left-to-right replace leaves the middle 'a'
    // unmerged — exactly greedy BPE's scan); round 3 merges (aa,ab)
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, "aa", 4L), (2, "ab", 3L), (3, "aaab", 2L)))
  }

  test("bpeEncodeCounts: encode(corpus) is consistent with the induced merges") {
    import spark.implicits._
    // induction over both docs: round 1 (a,a) n=4 (ties (a,b) on
    // count, wins on pair order), round 2 (a,b) n=4, round 3 (aa,ab)
    // n=2 — then ENCODE applies those merges in rank order to every
    // word: "aaab"→[aaab] (1 token), "ab"→[ab], "a"→[a] (single char,
    // no pair can fire), "xyz"→[x,y,z] (no induced merge applies)
    val docs = Seq(
      (1L, "s1", "aaab aaab ab"),
      (2L, "s2", "a xyz ab")).toDF("doc_id", "source", "text")
    val merges = TextAnalysis.bpeMergeSeq(docs, rounds = 3)
    assert(merges.map(_._1.replace(TextAnalysis.BpeSep, "")) ===
      Seq("aa", "ab", "aaab"))
    val got = TextAnalysis.bpeEncodeCounts(docs, merges.map(_._1))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, "s1", 3L, 3L), (2L, "s2", 3L, 5L)))
  }

  test("bpeMergeSeq releases every round's checkpoint, past the last productive merge too") {
    import spark.implicits._
    // "abab" yields 2 productive merges; rounds 3-5 find no pair
    val docs = Seq((1L, "s1", "abab ab")).toDF("doc_id", "source", "text")
    val merges = assertCheckpointsOwned(TextAnalysis.bpeMergeSeq(docs, rounds = 5))
    assert(merges.map(_._1.replace(TextAnalysis.BpeSep, "")) == Seq("ab", "abab"))
  }

  test("bpeEncodeCounts loop form: 100+-merge induction, loop ≡ chain ≡ driver fold") {
    import spark.implicits._
    import TextAnalysis.BpeSep
    // a word of 120 DISTINCT symbols induces one productive merge per
    // round far past the chain cap — the loop form's domain. The
    // second doc shares prefixes so merges actually apply across docs.
    val alpha = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      ('À' to 'ß')).take(120).mkString
    val docs = Seq(
      (1L, "s1", s"$alpha ${alpha.take(60)}"),
      (2L, "s2", s"${alpha.take(30)} ${alpha.drop(3).take(40)}"))
      .toDF("doc_id", "source", "text")
    val merges = TextAnalysis.bpeMergeSeq(docs, rounds = 110).map(_._1)
    assert(merges.length > TextAnalysis.BpeEncodeChainMax,
      s"fixture must exceed the chain cap, got ${merges.length}")
    // loop path (merges > chain cap)
    val loop = TextAnalysis.bpeEncodeCounts(docs, merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // driver-side sequential replace fold — the induction's own
    // rewrite semantics (rank order, left-to-right non-overlapping)
    def ref(text: String): (Long, Long) = {
      val ws = text.split(" ").filter(_.nonEmpty)
      val toks = ws.map { w =>
        val enc = merges.foldLeft(w.toCharArray.mkString(BpeSep)) {
          (s, m) => s.replace(m, m.replace(BpeSep, ""))
        }
        enc.split(BpeSep).length.toLong
      }
      (ws.length.toLong, toks.sum)
    }
    val expected = Seq(1L, 2L).map { id =>
      val t = if (id == 1L) s"$alpha ${alpha.take(60)}"
        else s"${alpha.take(30)} ${alpha.drop(3).take(40)}"
      val (nw, nt) = ref(t); (id, nw, nt)
    }
    assert(loop.toSeq === expected)
    // and the loop form agrees with the codegen'd chain on a prefix
    // that BOTH paths can run (chain cap merges)
    val prefix = merges.take(TextAnalysis.BpeEncodeChainMax)
    val viaChain = TextAnalysis.bpeEncodeCounts(docs, prefix)
    val viaLoop = TextAnalysis.bpeEncodeCounts(docs,
      prefix ++ Seq.fill(1)(prefix.last)) // same semantics: re-applying
      // an already-applied merge is a no-op, but length > cap forces
      // the loop path
    assert(viaLoop.except(viaChain).isEmpty && viaChain.except(viaLoop).isEmpty)
  }

  test("chunkWindows: stride coverage, final short window, degenerate doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, (1 to 11).map(i => s"t$i").mkString(" ")), // 11 tokens
      (3L, "a b")).toDF("doc_id", "text") // shorter than one chunk
    val got = TextAnalysis.chunkWindows(docs, chunk = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 0L, 0L, 4L), (1L, 1L, 3L, 4L), (1L, 2L, 6L, 4L),
      (2L, 0L, 0L, 4L), (2L, 1L, 3L, 4L), (2L, 2L, 6L, 4L), (2L, 3L, 9L, 2L),
      (3L, 0L, 0L, 2L)))
    // every token of doc 2 is covered: max(start+len) == n_tok
    assert(got.filter(_._1 == 2L).map(x => x._3 + x._4).max == 11L)
  }

  test("sparseCosineTopK: identical text ranks first with cosine ~ 1") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spark catalyst optimizer rules engine"),
      (5L, "spark catalyst optimizer rules engine"),
      (6L, "completely different words here entirely"),
      (7L, "spark engine with other catalyst stuff padding")).toDF("doc_id", "text")
    val got = assertCheckpointsOwned(graft.ext.TextAnalysis
      .sparseCosineTopK(docs, col("doc_id") === 0, k = 2))
      .orderBy("rank").collect()
    assert(got(0).getLong(1) == 5L && math.abs(got(0).getDouble(2) - 1.0) < 1e-4)
    assert(got(1).getLong(1) == 7L && got(1).getDouble(2) < 0.999)
  }

  test("winnowing guarantee: a shared >= w+k-1-token run shares a fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // k=4, w=4: any common substring of >= 7 tokens must surface in
    // BOTH documents' selected fingerprint sets (SIGMOD'03 theorem);
    // the surrounding text is entirely different
    val shared = "alpha bravo charlie delta echo foxtrot golf"
    val docs = Seq(
      (1L, s"aa bb cc $shared dd ee"),
      (2L, s"xx yy $shared zz ww qq"),
      (3L, "no overlap here at all with anything")).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        graft.ext.Dedup.winnowFingerprints(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty,
      "guaranteed fingerprint of the shared run is missing")
    assert(fps(1L).intersect(fps(3L)).isEmpty)
    // density: selection keeps well under the full gram count
    val grams = docs.filter(col("doc_id") === 1L)
      .select(org.apache.spark.sql.functions.size(
        graft.ext.Dedup.shingles(col("text"), 4))).head.getInt(0)
    assert(fps(1L).size < grams)
  }

  test("winnowOverlapPairs: prefix-capped join equals brute-force intersection") {
    import spark.implicits._
    val boiler = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"aa bb $boiler cc dd ee ff gg"),
      (2L, s"xx $boiler yy zz ww vv uu tt"),
      (3L, s"pp qq rr $boiler ss uu vv ww xx yy"),
      (4L, "entirely different words with no shared runs anywhere at all"),
      (5L, "another unrelated document about completely other topics here"))
      .toDF("doc_id", "text").repartition(4)
    val got = assertCheckpointsOwned(
        graft.ext.Dedup.winnowOverlapPairs(docs, 4, 4, minShared = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force: full pairwise fingerprint intersection
    val fps = docs.select(col("doc_id"),
        graft.ext.Dedup.winnowFingerprints(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val expect = (for {
      a <- fps.keys; b <- fps.keys if a < b
      n = fps(a).intersect(fps(b)).size if n >= 2
    } yield (a, b) -> n.toLong).toMap
    assert(got == expect, s"got $got expected $expect")
    // the boilerplate trio must be found; the unrelated docs must not
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(got.keySet))
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L || p._2 == 5L))
  }

  test("packBins: distributed prefix sum matches the closed form") {
    import spark.implicits._
    // 10 docs x known token counts, forced through several range
    // partitions so the per-partition offsets actually matter
    val docs = (0L until 10L).map(i => (i, Seq.fill(3 + (i % 4).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text").repartition(5)
    val out = TextAnalysis.packBins(docs, capacity = 7)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // token counts: 3,4,5,6,3,4,5,6,3,4 — running starts 0,3,7,12,18,21,25,30,36,39
    val counts = (0L until 10L).map(i => 3 + (i % 4))
    val starts = counts.scanLeft(0L)(_ + _).init
    val expect = (0L until 10L).map(i => (i, counts(i.toInt), starts(i.toInt) / 7))
    assert(out.toSeq == expect)
  }

  test("packBins: bins are contiguous and capacity-dense") {
    val out = TextAnalysis.packBins(
      graft.core.Tables(spark, sf, "documents"), capacity = 512)
    val bins = out.groupBy("bin").agg(sum("n_tokens").as("tot"))
      .orderBy("bin").collect()
    val ids = bins.map(_.getLong(0))
    assert(ids.toSeq == ids.indices.map(_.toLong).toSeq, "bin ids contiguous from 0")
    // every bin except the last holds >= capacity of STARTED tokens
    assert(bins.dropRight(1).forall(_.getLong(1) >= 512 - 511),
      "no empty interior bins")
  }

  test("redactPii replaces every PII form and leaves clean text alone") {
    import spark.implicits._
    val rows = Seq(
      ("mail bob.smith+x@example.co.uk and carol@a.io end",
        "mail <EMAIL> and <EMAIL> end"),
      ("host 192.168.0.1 then 10.0.255.7 done", "host <IP> then <IP> done"),
      ("call 555-0199 or 555-1234", "call <PHONE> or <PHONE>"),
      ("version 1.2 costs 3.50 at 555-12", "version 1.2 costs 3.50 at 555-12"),
      ("plain words only", "plain words only"))
      .toDF("raw", "expect")
    val got = rows.select(TextAnalysis.redactPii(col("raw")).as("got"), col("expect"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("piiCount counts matches per pattern") {
    import spark.implicits._
    val df = Seq("a@b.co c@d.io 1.2.3.4 555-0000 555-12").toDF("t")
    val r = df.select(
      TextAnalysis.piiCount(col("t"), TextAnalysis.PiiEmailRe),
      TextAnalysis.piiCount(col("t"), TextAnalysis.PiiIpv4Re),
      TextAnalysis.piiCount(col("t"), TextAnalysis.PiiPhoneRe)).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 1L)))
  }

  test("gopherVerdict reports the first failing rule") {
    import spark.implicits._
    val many = ("the word of thing and stuff " * 7).trim      // 42 words, mean len 3.7
    val rows = Seq(
      ("short text", "too_few_words"),
      (Seq.fill(30)("xxxxxxxxxxxxxxxx").mkString(" "), "word_length"), // mean len 16
      ((10001 to 10030).map(_.toString).mkString(" ") + " the a of and is it every word here ok",
        "non_alpha"),                                         // 30/40 numeric, mean len in band
      (Seq.fill(30)("word").mkString(" "), "few_stopwords"),
      (many, "keep"))
      .toDF("text", "expect")
    rows.select(TextAnalysis.gopherVerdict(col("text")).as("got"), col("expect"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1),
        s"expected ${r.getString(1)} got ${r.getString(0)}"))
  }

  test("sampleMixture: deterministic and rate-monotone") {
    import spark.implicits._
    val ids = (0L until 1000L).toDF("doc_id")
    def kept(rate: Double): Set[Long] =
      ids.where(TextAnalysis.sampleMixture(col("doc_id"), lit(rate)))
        .collect().map(_.getLong(0)).toSet
    val half = kept(0.5)
    assert(kept(0.5) == half, "same rate twice = same sample")
    assert(kept(0.25).subsetOf(half) && half.subsetOf(kept(0.75)),
      "raising the rate only ADDS documents (nested samples)")
    assert(math.abs(half.size - 500) < 100, s"~half kept, got ${half.size}")
  }

  test("qualityPercentile keeps the TOP keepFrac fraction per source") {
    val docs = graft.core.Tables(spark, sf, "documents")
    val total = docs.count().toDouble
    val kept25 = TextAnalysis.qualityPercentile(docs, 0.25).count().toDouble
    val kept75 = TextAnalysis.qualityPercentile(docs, 0.75).count().toDouble
    // keepFrac means KEEP that fraction (best-first): quarter << three
    // quarters, both within tie-tolerance of the nominal fraction
    assert(kept25 < kept75)
    assert(kept25 / total >= 0.15 && kept25 / total <= 0.45,
      s"keepFrac=0.25 kept ${kept25 / total} of the corpus")
    assert(kept75 / total >= 0.65 && kept75 / total <= 0.95,
      s"keepFrac=0.75 kept ${kept75 / total} of the corpus")
    // the kept set at 0.25 is the best slice: its minimum quality is
    // at least the minimum of the 0.75 slice
    val min25 = TextAnalysis.qualityPercentile(docs, 0.25)
      .agg(org.apache.spark.sql.functions.min("q")).head().getDouble(0)
    val min75 = TextAnalysis.qualityPercentile(docs, 0.75)
      .agg(org.apache.spark.sql.functions.min("q")).head().getDouble(0)
    assert(min25 >= min75)
  }

  test("sourceCap: per-source bound, nested caps, ingest-order independent") {
    val docs = graft.core.Tables(spark, sf, "documents")
    val cap3 = TextAnalysis.sourceCap(docs, 3)
    val perSource = cap3.groupBy("source").count().collect()
    assert(perSource.forall(_.getLong(1) <= 3), "no source exceeds the cap")
    def keys(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select("doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // raising the cap only ADDS documents (hash order is a fixed total
    // order, so the cap is a prefix cut)
    assert(keys(cap3).subsetOf(keys(TextAnalysis.sourceCap(docs, 7))))
    // ingest-order independence: same kept set from a reversed corpus
    val reversed = docs.orderBy(org.apache.spark.sql.functions.col("doc_id").desc)
    assert(keys(TextAnalysis.sourceCap(reversed, 3)) == keys(cap3))
  }

  test("splitAssign: total, disjoint, rerun-stable, ~90/5/5") {
    val docs = graft.core.Tables(spark, sf, "documents")
    val assigned = docs.select(col("doc_id"),
      TextAnalysis.splitAssign(col("doc_id")).as("split"))
    val bySplit = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.count()
    assert(bySplit.values.sum == total, "every doc lands in exactly one split")
    assert(bySplit.keySet.subsetOf(Set("train", "valid", "test")))
    assert(bySplit("train") > total * 8 / 10, s"train share $bySplit")
    assert(bySplit.getOrElse("valid", 0L) + bySplit.getOrElse("test", 0L) <
      total * 2 / 10, s"holdout share $bySplit")
    // rerun-stability: a second evaluation assigns identically
    val again = docs.select(col("doc_id"),
      TextAnalysis.splitAssign(col("doc_id")).as("split2"))
    assert(assigned.join(again, "doc_id")
      .filter(col("split") =!= col("split2")).isEmpty)
  }

  test("splitAssign: widening train only promotes, never reshuffles") {
    val docs = graft.core.Tables(spark, sf, "documents")
    val narrow = docs.select(col("doc_id"),
      TextAnalysis.splitAssign(col("doc_id"), trainPct = 80, validPct = 10).as("s80"))
    val wide = docs.select(col("doc_id"),
      TextAnalysis.splitAssign(col("doc_id"), trainPct = 90, validPct = 5).as("s90"))
    // anything train at 80% stays train at 90% — the nested-sample
    // property that keeps old eval docs out of the new train set
    assert(narrow.join(wide, "doc_id")
      .filter(col("s80") === "train" && col("s90") =!= "train").isEmpty)
  }

  test("spanDupRatio: hand-computed duplicated-span coverage") {
    import spark.implicits._
    // d0/d1 share the span "a b c d e"; d2 is unique; d3 too short
    val docs = Seq(
      (0L, "a b c d e f"),   // grams: abcde, bcdef
      (1L, "z a b c d e"),   // grams: zabcd, abcde
      (2L, "p q r s t u"),   // grams: pqrst, qrstu
      (3L, "x y")            // < 5 tokens -> filtered
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.spanDupRatio(docs, 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0L, 2L, 1L, 0.5), (1L, 2L, 1L, 0.5), (2L, 2L, 0L, 0.0)))
  }

  test("canonicalUrl collapses case/port/slash/tracking/fragment variants") {
    import spark.implicits._
    val urls = Seq(
      "HTTP://Example.COM:80/Path/1/?utm_source=x&id=2#frag",
      "http://example.com/Path/1?id=2",
      "https://A.com:443/p", "https://a.com/p",
      "http://h.com/x/", "http://h.com/x",
      // non-tracking params and path case survive untouched
      "http://h.com/CaseD?q=Up").toDF("u")
    val c = urls
      .select(graft.ext.TextAnalysis.canonicalUrl(col("u")).as("c"))
      .as[String].collect()
    assert(c(0) == c(1) && c(0) == "http://example.com/Path/1?id=2")
    assert(c(2) == c(3) && c(2) == "https://a.com/p")
    assert(c(4) == c(5) && c(4) == "http://h.com/x")
    assert(c(6) == "http://h.com/CaseD?q=Up")
  }

  test("count-min sketch: overestimate bound, exactness, mergeability") {
    import spark.implicits._
    import graft.ext.TextAnalysis._
    val a = Seq((1L, "x x y z"), (2L, "x y q")).toDF("doc_id", "text")
    val b = Seq((3L, "x z z w")).toDF("doc_id", "text")
    val both = a.unionByName(b)
    def truth(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("true_n"))
    val est = cmsEstimate(cmsCellCounts(both), truth(both))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // est >= true always; on a 6-term vocab vs 4x1024 cells, exact
    assert(est.nonEmpty && est.forall { case (_, t, e) => e == t })
    // mergeability: union-built sketch == cellwise sum of shard sketches
    val merged = cmsCellCounts(a).withColumnRenamed("n", "na")
      .join(cmsCellCounts(b).withColumnRenamed("n", "nb"),
        Seq("row", "cell"), "full_outer")
      .select(col("row"), col("cell"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))).as("n"))
    val whole = cmsCellCounts(both)
    assert(merged.collect().toSet.map((r: org.apache.spark.sql.Row) =>
      (r.getInt(0), r.getLong(1), r.getLong(2))) ==
      whole.collect().toSet.map((r: org.apache.spark.sql.Row) =>
        (r.getInt(0), r.getLong(1), r.getLong(2))))
  }

  test("hyperloglog: register arithmetic, mergeability, estimate accuracy") {
    import spark.implicits._
    import graft.ext.Sketches
    val n = 2000
    val terms = (1 to n).map(i => f"term$i%05d").toDF("term")
    val regs = Sketches.hllRegisters(terms).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    // structural contract: at most m registers, rho within the 22-bit
    // suffix range (+1 for the all-zero suffix)
    assert(regs.length <= Sketches.HllM)
    assert(regs.forall { case (b, rho) =>
      b >= 0 && b < Sketches.HllM && rho >= 1 && rho <= 23 })
    // rho matches the leading-zeros reference on the same polyHash
    val hs = terms.select(col("term"),
      graft.ext.TextAnalysis.polyHash(col("term")).as("h"))
      .as[(String, Long)].collect()
    val refRegs = hs.map { case (_, h0) =>
      val h = Sketches.hllMixLong(h0)
      val r = h >> 8
      val rho = if (r == 0L) 23 else java.lang.Long.numberOfLeadingZeros(r) - 41
      ((h & 255L).toInt, rho)
    }.groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2).max) }
    assert(regs.toMap == refRegs)
    // duplicates never move a register (max absorbs multiplicity)
    val dup = Sketches.hllRegisters(terms.unionByName(terms)).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(dup == regs.toMap)
    // mergeability: shardwise build + bucketwise max == whole build
    val (a, b) = ((1 to n / 2).map(i => f"term$i%05d").toDF("term"),
      (n / 2 + 1 to n).map(i => f"term$i%05d").toDF("term"))
    val merged = Sketches.hllMerge(
      Sketches.hllRegisters(a), Sketches.hllRegisters(b)).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(merged == regs.toMap)
    // estimate within the expected error band (1.04/sqrt(256) ~ 6.5%;
    // allow 3 sigma on this fixed seedless input — observed ~1%)
    val est = Sketches.hllEstimate(Sketches.hllRegisters(terms))
    assert(math.abs(est - n) / n < 0.2, s"estimate $est vs $n")
  }

  test("bigram NLL: hand-computed score; word salad scores worse") {
    import spark.implicits._
    val docs = ((1 to 9).map(i => (i.toLong, "x y q")) :+ (10L, "q y x"))
      .toDF("doc_id", "text")
    val got = assertCheckpointsOwned(graft.ext.TextAnalysis.bigramNll(docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // corpus: c(x)=10, c(y)=10, c(q)=10, V=3; c("x y")=9, c("y q")=9,
    // c("q y")=1, c("y x")=1
    val normal = (math.log(13.0 / 10) + math.log(13.0 / 10)) / 2
    val salad = (math.log(13.0 / 2) + math.log(13.0 / 2)) / 2
    assert(got(1)._1 == 2L && math.abs(got(1)._2 - normal) < 1e-5)
    assert(math.abs(got(10)._2 - salad) < 1e-5)
    assert(got(10)._2 > got(1)._2)
  }

  test("pmi collocations: hand-computed micro-nat scores") {
    import spark.implicits._
    // "x y" always adjacent (strong collocation), "x z" never
    val docs = (1 to 5).map(i => (i.toLong, "x y q x y w"))
      .toDF("doc_id", "text")
    val got = assertCheckpointsOwned(graft.ext.TextAnalysis.pmiCollocations(docs, 5))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // unigrams: x=10,y=10,q=5,w=5, N=30; bigrams: per doc 5 → N_bi=25
    // "x y": n_ab=10, pmi = ln(10·30·30/(25·10·10)) = ln(3.6)
    val exp = math.round(math.log(10.0 * 30 * 30 / (25.0 * 10 * 10)) * 1e6)
    assert(got("x y") == ((10L, exp)))
    // "y q": 5 occurrences, ln(5·900/(25·10·5)) = ln(3.6) too
    assert(got("y q")._1 == 5L)
    assert(!got.contains("x z"))
  }

  test("importance resampling: copy bounds, expectation, determinism") {
    import spark.implicits._
    val docs = (1L to 10000L).toDF("doc_id")
    def total(w: Double): Long = graft.ext.TextAnalysis
      .importanceResample(docs, lit(w))
      .agg(sum("n_copies")).as[Long].head()
    // every count is floor(w) or ceil(w); totals track n*w within 3%
    val t15 = total(1.5)
    assert(math.abs(t15 - 15000) < 450, s"E[sum]=15000 got $t15")
    val t025 = total(0.25)
    assert(math.abs(t025 - 2500) < 300, s"E[sum]=2500 got $t025")
    val counts = graft.ext.TextAnalysis.importanceResample(docs, lit(2.75))
      .select("n_copies").as[Long].collect()
    assert(counts.forall(c => c == 2L || c == 3L))
    // rerun-stable (same hash draw)
    assert(total(1.5) == t15)
  }

  test("histogram quantiles: mergeability and one-bin accuracy bound") {
    import spark.implicits._
    import graft.ext.Sketches
    val li = graft.core.Tables(spark, sf, "lineitem")
    val width = 100000L // $1000 bins
    // mergeability: shard histograms (split by parity) sum to the whole
    val a = Sketches.histogram(li.filter(col("l_orderkey") % 2 === 0),
      "l_extendedprice", width)
    val b = Sketches.histogram(li.filter(col("l_orderkey") % 2 === 1),
      "l_extendedprice", width)
    val merged = a.withColumnRenamed("cnt", "ca")
      .join(b.withColumnRenamed("cnt", "cb"), Seq("bin"), "full_outer")
      .select(col("bin"),
        (coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L))).as("cnt"))
      .as[(Long, Long)].collect().toMap
    val whole = Sketches.histogram(li, "l_extendedprice", width)
      .as[(Long, Long)].collect().toMap
    assert(merged == whole)
    // each interpolated quantile is within one bin width of the exact one
    val est = Sketches.histQuantiles(li, "l_extendedprice", width)
      .select(col("q"), col("est")).as[(Double, Double)].collect().toMap
    val exact = li.selectExpr(
      "percentile(l_extendedprice, 0.5)", "percentile(l_extendedprice, 0.9)",
      "percentile(l_extendedprice, 0.99)")
      .as[(Double, Double, Double)].head()
    assert(math.abs(est(0.5) - exact._1) <= 1000.0, s"$est vs $exact")
    assert(math.abs(est(0.9) - exact._2) <= 1000.0, s"$est vs $exact")
    assert(math.abs(est(0.99) - exact._3) <= 1000.0, s"$est vs $exact")
  }

  test("quantile sketch: level formula, exact merge by concatenate+prune, rank accuracy") {
    import spark.implicits._
    import graft.ext.Sketches
    val li = graft.core.Tables(spark, sf, "lineitem")
    val key = expr("l_orderkey * 8 + l_linenumber")
    val cents = expr("CAST(round(l_extendedprice * 100) AS LONG)")
    // the while-loop level ≡ the oracle's closed form (floorLog2 of
    // n div (cap+1), plus one), exhaustively over a wide n range
    def oracleLvl(n: Long): Int =
      if (n <= 256) 0
      else (63 - java.lang.Long.numberOfLeadingZeros(n / 257)) + 1
    (1L to 200000L).foreach { n =>
      assert(Sketches.sketchLevel(n, 256) == oracleLvl(n), s"n=$n")
    }
    // merge is EXACT: union the two halves' registers, prune to the
    // combined level (the level predicates nest), compare with the
    // whole-corpus registers
    val a = li.filter(col("l_orderkey") % 2 === 0)
    val b = li.filter(col("l_orderkey") % 2 === 1)
    val lvlAll = Sketches.sketchLevel(li.count(), 256)
    val merged = Sketches.sketchRegisters(a, key, cents,
        Sketches.sketchLevel(a.count(), 256))
      .unionByName(Sketches.sketchRegisters(b, key, cents,
        Sketches.sketchLevel(b.count(), 256)))
      .filter(pmod(TextAnalysis.polyHashWide(col("k")),
        lit(1L << lvlAll)) === 0)
    val whole = Sketches.sketchRegisters(li, key, cents, lvlAll)
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
    // rank accuracy: the hash sample's median estimate sits within
    // the exact p35..p65 band (m ≈ 187-512 → rank error ~ m^-1/2)
    val est = Sketches.sketchQuantiles(li, key, cents)
      .select(col("q_pm"), col("est_cents")).as[(Long, Long)]
      .collect().toMap
    val Array(lo, hi) = li.selectExpr(
        "percentile(l_extendedprice, 0.35) * 100",
        "percentile(l_extendedprice, 0.65) * 100")
      .as[(Double, Double)].head().productIterator
      .map(_.asInstanceOf[Double]).toArray
    assert(est(500L) >= lo && est(500L) <= hi,
      s"p50 sketch ${est(500L)} outside exact p35..p65 [$lo, $hi]")
    assert(est(500L) <= est(900L) && est(900L) <= est(990L))
  }

  test("per-group quantile sketch ≡ the global sketch run per group; loud cap") {
    import spark.implicits._
    import graft.ext.Sketches
    val docs = graft.core.Tables(spark, sf, "documents")
    val out = Sketches.sketchQuantilesByGroup(docs, col("source"),
      col("doc_id"), col("n_chars")).cache()
    val groups = docs.select(col("source").cast("string")).distinct()
      .as[String].collect().sorted
    assert(out.count() == groups.length * 2L)
    // consistency law: each group's rows equal the GLOBAL sketch run
    // on that group's slice alone (same cap/quantiles) — the per-group
    // level and register set are exactly the slice's own
    groups.foreach { g =>
      val exp = Sketches.sketchQuantiles(
          docs.filter(col("source") === g), col("doc_id"), col("n_chars"),
          cap = 64, qsPerMille = Seq(500, 900))
        .select("q_pm", "n", "lvl", "m", "est_cents")
      val got = out.filter(col("g") === g)
        .select("q_pm", "n", "lvl", "m", "est_cents")
      assert(got.except(exp).isEmpty && exp.except(got).isEmpty, s"group $g")
    }
    // high-cardinality grouping fails loudly at the driver bound
    val ex = intercept[IllegalArgumentException] {
      Sketches.sketchQuantilesByGroup(docs, col("doc_id"), col("doc_id"),
        col("n_chars"), maxGroups = 10)
    }
    assert(ex.getMessage.contains("groups"))
    out.unpersist()
    // a group whose level predicate samples ZERO registers reports
    // m = 0 with NULL estimates — the oracle's LEFT JOIN shape. Keys
    // chosen so the wide poly-hash is odd (never ≡ 0 mod 2^lvl for
    // lvl ≥ 1), and 200 rows at cap=64 force lvl ≥ 1
    import org.apache.spark.sql.functions.{expr => fexpr}
    val noReg = (1 to 200).map(i => ("g0", s"k$i", i.toLong))
      .toDF("source", "doc_id", "n_chars")
      .filter(fexpr(
        "pmod(aggregate(split(doc_id, ''), 0L," +
          " (h, ch) -> pmod(h * 31 + ascii(ch), 1000000007L))" +
          " * 1000000007L +" +
          " aggregate(split(doc_id, ''), 0L," +
          " (h, ch) -> pmod(h * 131 + ascii(ch), 1000000007L)), 2) = 1"))
    if (noReg.count() >= 65) {
      val z = Sketches.sketchQuantilesByGroup(noReg, col("source"),
        col("doc_id"), col("n_chars"))
      val rows = z.collect()
      assert(rows.forall(r => r.getLong(4) == 0L && r.isNullAt(5)),
        s"odd-hash group must have zero registers: ${rows.mkString(";")}")
    }
  }

  test("native GramHashes/SlidingMin ≡ the HOF reference formulation") {
    import spark.implicits._
    // edge battery: empty text, single token, fewer tokens than n,
    // consecutive spaces (empty tokens), leading/trailing space,
    // unicode (incl. an astral code point), exact-boundary lengths
    val texts = Seq(
      "", "one", "one two", "one two three four",
      "a  b", " lead", "trail ", "  ", "a b c d e f g h i j",
      "naïve café über", "emoji 😀 token here four five",
      "x " * 30 + "x").toDF("text")
    for (n <- Seq(2, 3, 4, 8); wide <- Seq(false, true)) {
      val ph: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (wide) TextAnalysis.polyHashWide else TextAnalysis.polyHash(_)
      val ref = texts.select(
        transform(graft.ext.Dedup.shingles(col("text"), n), s => ph(s)))
        .collect().map(_.getSeq[Long](0))
      val nat = texts.select(
        (if (wide) graft.functions.GramHashes.wide(col("text"), n)
         else graft.functions.GramHashes(col("text"), n)))
        .collect().map(_.getSeq[Long](0))
      assert(ref.toSeq == nat.toSeq, s"n=$n wide=$wide")
    }
    // SlidingMin vs the transform/sequence/array_min/slice chain,
    // across window sizes incl. w > len and w = 1
    val arrs = Seq(
      Seq(5L, 3L, 8L, 1L, 9L, 2L), Seq(7L), Seq(2L, 2L, 2L),
      Seq(9L, 8L, 7L, 6L, 5L), Seq(1L, 2L, 3L, 4L, 5L)).toDF("a")
    for (w <- Seq(1, 2, 4, 9)) {
      val ref = arrs.select(transform(
        sequence(lit(1), greatest(size(col("a")) - (w - 1), lit(1))),
        i => array_min(slice(col("a"), i, lit(w)))))
        .collect().map(_.getSeq[Long](0))
      val nat = arrs.select(graft.functions.SlidingMin(col("a"), w))
        .collect().map(_.getSeq[Long](0))
      assert(ref.toSeq == nat.toSeq, s"w=$w")
    }
  }

  test("qualityPercentile/tokenBudget: O(P) driver state at 100k sources " +
      "matches the window formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100k distinct sources x 1-4 docs: web-domain source cardinality.
    // The old per-(partition, source) collect would put ~3.2M cells on
    // the driver here; the boundary-cell pass collects <= 2P.
    val docs = spark.range(0, 250000L).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id") * 2654435761L, lit(100000L)))
        .as("source"),
      // deterministic pseudo-text: token count varies 5..24
      concat_ws(" ", transform(sequence(lit(1), (pmod(col("id"), lit(20)) + 5)
        .cast("int")), i => concat(lit("w"), pmod(col("id") + i, lit(7)))))
        .as("text"))
    val got = graft.ext.TextAnalysis.qualityPercentile(docs, 0.5)
      .select("doc_id", "source", "q", "pr")
    val q = graft.ext.TextAnalysis.qualityScore(col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("q"), col("doc_id"))
    val want = docs.select(col("doc_id"), col("source"), q.as("q"))
      .withColumn("pr", round(percent_rank().over(w) * lit(1e6), 0)
        .cast("long").cast("double") / lit(1e6))
      .where(col("pr") >= 0.5)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "boundary-cell percentile must equal the window formulation")

    val gotB = graft.ext.TextAnalysis.tokenBudget(docs, 30L)
    val wantB = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("tok_before", coalesce(sum("n_tokens").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy("doc_id").rowsBetween(Long.MinValue, -1)), lit(0L)))
      .where(col("tok_before") < 30L)
    assert(gotB.exceptAll(wantB).isEmpty && wantB.exceptAll(gotB).isEmpty,
      "boundary-cell token budget must equal the window formulation")
  }

  test("substringExactPairs: exact spans winnowing misses nothing (r17)") {
    import spark.implicits._
    // the span n-gram-Jaccard misses: docs 1 and 2 share ONE exact
    // 13-token run inside otherwise-disjoint 40-token texts (Jaccard
    // over 8-gram shingles ≈ 6/60 — far below any dedup threshold)
    val run = (1 to 13).map(i => s"shared$i").mkString(" ")
    val padA = (1 to 27).map(i => s"a$i").mkString(" ")
    val padB = (1 to 27).map(i => s"b$i").mkString(" ")
    // doc 3/4: exactly minSpan-1 = 11 shared tokens — NOT reported
    val run11 = (1 to 11).map(i => s"edge$i").mkString(" ")
    // doc 5/6: span of exactly 12 at the very START/END (boundary
    // positions exercise the slice arithmetic)
    val run12 = (1 to 12).map(i => s"brink$i").mkString(" ")
    val docs = Seq(
      (1L, s"${padA.split(" ").take(14).mkString(" ")} $run ${padA.split(" ").drop(14).mkString(" ")}"),
      (2L, s"$run $padB"),
      (3L, s"$run11 x1 x2 x3"),
      (4L, s"y1 y2 $run11"),
      (5L, s"$run12 z1 z2 z3 z4"),
      (6L, s"q1 q2 q3 $run12")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.substringExactPairs(docs, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 13L), (5L, 6L, 12L)),
      s"expected the 13-run and the boundary 12-run only, got $got")
  }

  test("substringExactPairs: repeated tokens and multiple runs report the max") {
    import spark.implicits._
    // two docs share TWO disjoint runs (14 and 12 tokens) — max wins;
    // a third doc repeats the anchor gram internally (multiple
    // alignments of the same fingerprint must not inflate the span)
    val r1 = (1 to 14).map(i => s"m$i").mkString(" ")
    val r2 = (1 to 12).map(i => s"n$i").mkString(" ")
    val docs = Seq(
      (1L, s"$r1 u1 u2 u3 $r2"),
      (2L, s"v1 $r2 v2 v3 $r1"),
      (3L, s"$r1 w1 $r1")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.substringExactPairs(docs, 12)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got((1L, 2L)) == 14L)
    assert(got((1L, 3L)) == 14L && got((2L, 3L)) == 14L)
  }

  test("substringExactPairs: runs past the extend window report exactly (r17 review)") {
    import spark.implicits._
    // a 600-token shared run — far past the ±256 per-anchor extend
    // window; the per-diagonal island merge must stitch the anchors'
    // verified intervals back to the exact run length (the pre-merge
    // form truncated at ~2·256+8). Also: a 517-token run (the review's
    // shrinking-feasible-offset knife edge) and a long run BROKEN by a
    // single mismatch token (islands must NOT merge across it).
    val run600 = (1 to 600).map(i => s"s$i").mkString(" ")
    val run517 = (1 to 517).map(i => s"t$i").mkString(" ")
    val left300 = (1 to 300).map(i => s"u$i").mkString(" ")
    val right299 = (301 to 599).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, s"p1 p2 $run600"),
      (2L, s"$run600 q1 q2 q3"),
      (3L, s"$run517"),
      (4L, s"r1 $run517 r2"),
      // docs 5/6: identical except token 301 differs → two islands of
      // 300 and 299 on the same diagonal; max = 300, never 600
      (5L, s"$left300 BREAKA $right299"),
      (6L, s"$left300 BREAKB $right299")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.substringExactPairs(docs, 12)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got((1L, 2L)) == 600L, s"600-run: ${got.get((1L, 2L))}")
    assert(got((3L, 4L)) == 517L, s"517-run: ${got.get((3L, 4L))}")
    assert(got((5L, 6L)) == 300L, s"broken run: ${got.get((5L, 6L))}")
  }

  test("heavyHitters: exact threshold, MG superset under thin spreading (r17)") {
    import spark.implicits._
    // 100 tokens total, k=4 → report freq > 25 strictly: "hot" at 26
    // qualifies, "warm" at 25 sits EXACTLY on the boundary and must
    // not; 49 distinct fillers churn the decrement-all path
    val words = Seq.fill(26)("hot") ++ Seq.fill(25)("warm") ++
      (1 to 49).map(i => s"f$i")
    // spread thin across 10 partitions (~2-3 "hot" each — far below
    // any local majority): the pigeonhole guarantee must still
    // surface it in some partition's summary
    val docs = words.grouped(10).map(_.mkString(" ")).toSeq
      .zipWithIndex.map { case (tx, i) => (i.toLong, tx) }
      .toDF("doc_id", "text").repartition(10)
    val got = graft.ext.TextAnalysis.heavyHitters(docs, k = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("hot" -> 26L),
      s"expected exactly the strict-threshold hitter, got $got")
  }

  test("hllDistinctByGroup: equals the driver-side estimate per group (r17)") {
    import spark.implicits._
    // group a: 3 distinct keys (deep linear-counting), group b: 300
    // distinct (past 2.5m only with collisions — exercises whichever
    // branch the register census selects, same as the driver formula)
    val rows = Seq.tabulate(30)(i => ("a", s"k${i % 3}")) ++
      Seq.tabulate(300)(i => ("b", s"u$i"))
    val df = rows.toDF("g", "key")
    val got = graft.ext.Sketches.hllDistinctByGroup(df, col("g"), col("key"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (g <- Seq("a", "b")) {
      val regs = graft.ext.Sketches.hllRegisters(
        df.filter(col("g") === g).select(col("key").as("term")))
      val expectNz = regs.count()
      val expectEst = math.round(graft.ext.Sketches.hllEstimate(regs))
      assert(got(g) == (expectNz, expectEst),
        s"group $g: got ${got(g)}, want ($expectNz, $expectEst)")
    }
  }
}
