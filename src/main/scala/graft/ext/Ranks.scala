package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.plans.Rounds

/** Distributed rank/prefix primitives for GLOBAL (or near-global)
  * window shapes — the class Spark's `Window.orderBy` without a
  * partition key executes as ONE window task ("Moving all data to a
  * single partition"), which is the canonical 100 TB scale-killer.
  *
  * The shared shape is the repo's boundary-merge two-pass (the
  * machinery behind [[TextAnalysis.qualityPercentile]] and
  * [[EventWindows.sessionize]]), generalized over arbitrary rows:
  *
  *   1. range-partition by (key ++ sort) with an EXPLICIT partition
  *      count (AQE must not re-layout between the passes) and sort
  *      within partitions — a key's rows are globally contiguous
  *      across a fixed partition sequence;
  *   2. one tiny job collects per-partition boundary cells (the ≤2
  *      keys per partition whose run touches a partition edge —
  *      driver state is O(P) no matter the key cardinality);
  *   3. the driver's O(P) walk turns cells into per-(partition, key)
  *      exclusive prefix offsets, broadcast;
  *   4. a map-only pass assigns `rank = offset + local index` for
  *      edge keys and counts interior keys' runs locally (one run
  *      buffered at a time, ≤ the partition's own rows).
  *
  * Both passes use `rdd.mapPartitionsWithIndex` (the RDD's OWN
  * partition index — `TaskContext.getPartitionId` is stage-relative
  * and shifts under union/except composition).
  */
object Ranks {

  /** Fan a low-parallelism frame out to the session's core budget
    * (r19, guide §2.5/§6): at bench SF a whole table is one parquet
    * row group, so a scan-rooted frame is ONE partition and every
    * CPU-heavy derivation (tokenize, shingle, explode) serializes on
    * a single core. Explicit user repartitions are never coalesced by
    * AQE. A NO-OP whenever the frame already has at least the core
    * budget's partitions — at cluster scale a big scan has thousands,
    * so this never coalesces real data; it only raises starvation-
    * level parallelism up to the core budget.
    */
  private[graft] def fanout(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else if (keys.isEmpty) df.repartition(p)
    else df.repartition(p, keys: _*)
  }

  /** Adds `rankName` (0-based row index within its `keyCols` group,
    * in `sortCols` order) and `totalName` (the group's row count) to
    * every row — the distributed, skew-proof equivalent of
    * `row_number()/count() OVER (PARTITION BY key ORDER BY sort)`.
    * `keyCols` may be empty (a single global ordering). `sortCols`
    * must be a total order within each key for the rank to be
    * deterministic (include a unique tiebreak column).
    */
  def keyedRowIndex(df: DataFrame, keyCols: Seq[String],
      sortCols: Seq[Column], rankName: String,
      totalName: String): DataFrame = Rounds { rounds =>
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val order = keyCols.map(col) ++ sortCols
    val parts = rounds.keep(df.repartitionByRange(nPart, order: _*)
      .sortWithinPartitions(order: _*))
    val schema = parts.schema
    val kIdx = keyCols.map(schema.fieldIndex).toArray
    def keyOf(r: Row): Vector[Any] = kIdx.map(r.get(_)).toVector

    // pass 1: first-/last-run cells per partition (≤ 2P total)
    val cells = parts.rdd.mapPartitionsWithIndex { (pid, it) =>
      var firstKey: Vector[Any] = null; var firstCnt = 0L
      var curKey: Vector[Any] = null; var curCnt = 0L
      var nRuns = 0
      it.foreach { r =>
        val k = keyOf(r)
        if (k != curKey) {
          if (nRuns == 1) { firstKey = curKey; firstCnt = curCnt }
          curKey = k; curCnt = 0L; nRuns += 1
        }
        curCnt += 1
      }
      if (nRuns == 0) Iterator.empty
      else if (nRuns == 1) Iterator((pid, curKey, curCnt))
      else Iterator((pid, firstKey, firstCnt), (pid, curKey, curCnt))
    }.collect()

    // driver walk: per-key totals and per-(pid, key) exclusive prefix
    // offsets over the edge keys only (interior keys count locally)
    val byKey = cells.groupBy(_._2)
    val totals = byKey.map { case (k, cs) => k -> cs.map(_._3).sum }
    val offsets = byKey.iterator.flatMap { case (k, cs) =>
      var acc = 0L
      cs.sortBy(_._1).map { case (pid, _, c) =>
        val e = (pid, k) -> acc; acc += c; e
      }
    }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcTot = spark.sparkContext.broadcast(totals)

    // pass 2: map-only rank + total assignment over the frozen layout
    val out = parts.rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = bcOff.value; val tot = bcTot.value
      val in = it.buffered
      new Iterator[Row] {
        private var cur: Iterator[Row] = Iterator.empty
        def hasNext: Boolean = cur.hasNext || in.hasNext
        def next(): Row = {
          while (!cur.hasNext) {
            val k = keyOf(in.head)
            tot.get(k) match {
              case Some(n) =>
                // edge key: stream with the broadcast offset
                var rank = off((pid, k))
                cur = new Iterator[Row] {
                  def hasNext: Boolean = in.hasNext && keyOf(in.head) == k
                  def next(): Row = {
                    val r = in.next()
                    val o = Row.fromSeq(r.toSeq :+ rank :+ n)
                    rank += 1
                    o
                  }
                }
              case None =>
                // interior key: its whole run is local — buffer it
                // (one run at a time, ≤ this partition's rows)
                val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
                while (in.hasNext && keyOf(in.head) == k) buf += in.next()
                val n = buf.length.toLong
                cur = buf.iterator.zipWithIndex.map { case (r, i) =>
                  Row.fromSeq(r.toSeq :+ i.toLong :+ n)
                }
            }
          }
          cur.next()
        }
      }
    }
    rounds.keep(spark.createDataFrame(out, StructType(schema.fields
      :+ StructField(rankName, LongType, nullable = false)
      :+ StructField(totalName, LongType, nullable = false))))
  }

  /** Adds `outName` = the INCLUSIVE running sum of the long column
    * `valueName` in `sortCols` order — the distributed
    * `sum(v) OVER (ORDER BY sort ROWS UNBOUNDED PRECEDING)`. Pass 1
    * collects ONE long per partition, the driver walk carries the
    * exclusive prefix, pass 2 is map-only — the [[prefixMinLong]]
    * shape with addition as the monoid. Non-null contract as there.
    */
  def prefixSumLong(df: DataFrame, sortCols: Seq[Column],
      valueName: String, outName: String): DataFrame = Rounds { rounds =>
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val parts = rounds.keep(df.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
    val schema = parts.schema
    val vIdx = schema.fieldIndex(valueName)
    val sums = parts.rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; var any = false
      it.foreach { r =>
        any = true
        if (r.isNullAt(vIdx)) throw new IllegalArgumentException(
          s"prefixSumLong: null in value column '$valueName' — the " +
            "primitive requires a non-null long column")
        s += r.getLong(vIdx)
      }
      if (any) Iterator.single((pid, s)) else Iterator.empty
    }.collect().toMap
    val numParts = parts.rdd.getNumPartitions
    val carry = new Array[Long](numParts)
    var acc = 0L
    var pid = 0
    while (pid < numParts) {
      carry(pid) = acc
      acc += sums.getOrElse(pid, 0L)
      pid += 1
    }
    val bc = spark.sparkContext.broadcast(carry)
    val out = parts.rdd.mapPartitionsWithIndex { (p, it) =>
      var run = bc.value(p)
      it.map { r =>
        run += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ run)
      }
    }
    rounds.keep(spark.createDataFrame(out, StructType(schema.fields
      :+ StructField(outName, LongType, nullable = false))))
  }

  /** Standard SQL `ntile(k)` bucket (1-based) from a 0-based global
    * rank and the total row count — identical to the window function
    * on both engines: the first `n % k` buckets hold `n div k + 1`
    * rows, the rest `n div k`. All-integer arithmetic (`div`), no
    * float knife edges; the zero-divisor branch is unreachable when
    * `n < k` (every row lands in the first-`m` branch).
    */
  def ntileExpr(rankCol: String, totalCol: String, k: Int): Column =
    expr(s"""CASE WHEN $rankCol < ($totalCol % $k) * ($totalCol div $k + 1)
      THEN $rankCol div ($totalCol div $k + 1) + 1
      ELSE ($totalCol % $k) +
        ($rankCol - ($totalCol % $k) * ($totalCol div $k + 1))
          div ($totalCol div $k) + 1 END""")

  /** Adds `outName` = the EXCLUSIVE running minimum of the long
    * column `valueName` in `sortCols` order (null on the first row) —
    * the distributed `min(v) OVER (ORDER BY sort ROWS BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING)`. The cheapest boundary
    * merge there is: pass 1 collects ONE long per partition, the
    * driver walk carries the exclusive prefix min, pass 2 is map-only.
    */
  def prefixMinLong(df: DataFrame, sortCols: Seq[Column],
      valueName: String, outName: String): DataFrame = Rounds { rounds =>
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val parts = rounds.keep(df.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
    val schema = parts.schema
    val vIdx = schema.fieldIndex(valueName)
    val mins = parts.rdd.mapPartitionsWithIndex { (pid, it) =>
      var m = Long.MaxValue; var any = false
      it.foreach { r =>
        any = true
        // fail fast: the primitive's contract is a NON-NULL long value
        // column (a null would otherwise NPE obscurely in pass 2)
        if (r.isNullAt(vIdx)) throw new IllegalArgumentException(
          s"prefixMinLong: null in value column '$valueName' — the " +
            "primitive requires a non-null long column")
        val v = r.getLong(vIdx); if (v < m) m = v
      }
      if (any) Iterator.single((pid, m)) else Iterator.empty
    }.collect().sortBy(_._1)
    val numParts = parts.rdd.getNumPartitions
    val carry = new Array[Option[Long]](numParts)
    var acc: Option[Long] = None
    var mi = 0
    var pid = 0
    while (pid < numParts) {
      carry(pid) = acc
      if (mi < mins.length && mins(mi)._1 == pid) {
        acc = Some(acc.fold(mins(mi)._2)(math.min(_, mins(mi)._2)))
        mi += 1
      }
      pid += 1
    }
    val bc = spark.sparkContext.broadcast(carry)
    val out = parts.rdd.mapPartitionsWithIndex { (p, it) =>
      var cur: Option[Long] = bc.value(p)
      it.map { r =>
        val o = Row.fromSeq(r.toSeq :+ cur.map(Long.box).orNull)
        val v = r.getLong(vIdx)
        if (cur.isEmpty || v < cur.get) cur = Some(v)
        o
      }
    }
    rounds.keep(spark.createDataFrame(out, StructType(schema.fields
      :+ StructField(outName, LongType, nullable = true))))
  }
}
