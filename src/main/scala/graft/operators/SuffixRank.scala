package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}

/** Distributed suffix ranking by prefix doubling — the exact
  * repeated-substring primitive behind suffix-array dedup
  * (Lee et al. 2022 "Deduplicating Training Data Makes Language
  * Models Better" builds the same structure with a single-machine
  * suffix array; reference `dbt_project` has no equivalent — this is
  * a scale-path extension).
  *
  * ranks(i) = number of STRICTLY SMALLER suffixes (corpus-wide,
  * truncated to `maxLen` chars) — the ordinal position of the
  * suffix's equality group in lexicographic order. Equal ranks mean
  * equal (truncated) suffix strings, and rank order is exactly
  * string order, so every ordering consumer is unchanged vs the
  * round-12 dense formulation; only the VALUES differ (group-start
  * index instead of dense index). The count-smaller form is what
  * makes DISCARDING sound: once a suffix's group is a singleton, no
  * later refinement can move anything across it, so its rank is
  * final and the row never re-enters a dense-rank pass (prefix
  * doubling with discarding — Crauser & Ferragina's external suffix
  * construction uses the same invariant). Classic prefix doubling
  * (Manber–Myers 1990) otherwise: after the round with shift k,
  * ranks order suffixes by their first 2k chars; O(log maxLen)
  * rounds total.
  *
  * Spark shape per round — two exchanges, no global window, no join:
  *   1. `lead(rank, k)` over a PER-DOCUMENT window (partitions
  *      bounded by maxLen rows) pairs each suffix with the rank k
  *      positions ahead (sentinel -1 past the end, so a short suffix
  *      sorts before every extension — exactly string order). The
  *      window runs over the FULL frame (settled rows are lead
  *      sources forever) but only ACTIVE rows proceed;
  *   2. rank of the (rank, nextRank) pairs via range repartition +
  *      in-partition scan + a P-row driver collect of per-partition
  *      stats — the PrefixSum two-phase pattern; groups spanning a
  *      partition boundary are stitched on the driver. This leg —
  *      range exchange, two sorted scans, the checkpoint — runs over
  *      the ACTIVE subset only (round 13): natural-text corpora
  *      settle most suffixes within the first couple of rounds, so
  *      late rounds rank a small residue instead of the whole frame.
  * Rounds early-stop when every active pair is distinct (total order
  * reached), and each round cuts lineage ([[Lineage.cut]]) so the
  * logical plan stays O(1) across rounds.
  *
  * 100 TB notes: state per row is (docId, pos, rank) — 3 longs + an
  * int, independent of maxLen; the only driver state is P stats rows
  * per round. The truncation budget `maxLen` is the explicit knob: it
  * bounds per-doc window size, round count (log2 maxLen), and the
  * suffix-string bytes the downstream LCP panel touches. Discarding
  * additionally bounds the per-round ranked bytes by the UNSETTLED
  * row count — the win grows with corpus redundancy, and the settled
  * slices are checkpointed once and only re-read by the window pass.
  */
object SuffixRank {

  // per-partition pair stats for the driver stitch (Encoders.tuple,
  // not a nested case class: janino can't codegen object-nested
  // case-class constructors — falls back to interpreted):
  // ((pid, rows, changes), (firstK1, firstK2, lastK1, lastK2),
  //  (lastPairLen, lastR1Len))
  private type PairStats =
    ((Int, Long, Long), (Long, Long, Long, Long), (Long, Long))
  private val pairStatsEnc = Encoders.tuple(
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaLong),
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong),
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))

  private val frameSchema = new StructType()
    .add("_id", LongType, nullable = false)
    .add("_pos", IntegerType, nullable = false)
    .add("_r1", LongType, nullable = false)
    .add("_stl", BooleanType, nullable = false)

  /** Per-round probe record for the growth-attribution harness
    * (graft.SuffixRankProbe): effective lead width of the round
    * (w for the packed seed round — ADVICE r12 — then 2w, 4w, …),
    * distinct pair count among the round's ACTIVE rows, the active
    * row count itself (round 13: the discarding curve), seconds in
    * the rank stats leg (range exchange + in-partition sort +
    * persist + P-row collect) and in the rank-apply leg (offset map
    * + lineage-cut materialization). The callback costs nothing when
    * unused (default no-op). */
  final case class RoundProbe(shift: Int, distinct: Long,
                              statsSecs: Double, applySecs: Double,
                              active: Long = 0L)

  /** Test hook: forces the two-column sort path that production only
    * takes past 2^31 suffix rows, so SuffixRankPropertySpec can pin
    * packed ≡ unpacked at testable sizes. */
  private[operators] var forceUnpacked: Boolean = false

  /** (doc_id, pos, rank) for every suffix of `textCol` truncated at
    * `maxLen` chars; `rank` = count of strictly smaller suffixes
    * corpus-wide, so equal ranks mean equal (truncated) suffix
    * strings and rank order is string order. */
  def ranks(docs: DataFrame, idCol: String, textCol: String,
            maxLen: Int,
            onRound: RoundProbe => Unit = _ => ()): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    // one row per character of the truncated text; initial rank =
    // code point (order-preserving; count-smaller semantics are
    // established by the first ranking pass, which assigns positional
    // group-start ranks regardless of the seed values)
    var cur = Lineage.cut(docs
      .select(col(idCol).cast("long").as("_id"),
        substring(col(textCol), 1, maxLen).as("_t"))
      .select(col("_id"), posexplode(split(col("_t"), "")))
      .filter(length(col("col")) === 1) // split() may emit a trailing ""
      .select(col("_id"), col("pos").cast("int").as("_pos"),
        ascii(col("col")).cast("long").as("_r1")))
    // suffix count + max code point in ONE cache-scan job (the count
    // the old path already paid, now also feeding the seed-width gate)
    val st = cur.agg(
      count(lit(1)), coalesce(max(col("_r1")), lit(0L))).head()
    val total = st.getLong(0)
    val maxCode = st.getLong(1)
    // Packed multi-char SEED ROUND (round 12): the first ranking
    // round packs w chars per side of the pair via w-1 extra `lead`s
    // in the SAME per-doc window pass round 1 already pays, so one
    // round orders by the first 2w chars instead of 2 — removing
    // log2(w) full rounds (each a window pass + range sort + stats
    // collect + rank apply, at any corpus size; 8 → 6 rounds at the
    // 240-char budget). Lane value = code + 1 with 0 for past-end, so
    // a short suffix sorts before every extension (exactly string
    // order); lanes pack big-endian, an order-preserving injection.
    // Width is gated by the OBSERVED max code point so each packed
    // side fits 28 bits (< 2^31, the packed-pair sort-key bound):
    // 4×7-bit lanes for codes ≤ 126 (ASCII), 3×8-bit lanes for ≤ 254
    // (Latin-1); higher code points (incl. surrogate halves, where
    // code-unit order diverges from code-point order) keep the
    // single-char round 1 unchanged.
    // (An explode-time seed carrying the text column was tried first
    // and measured SLOWER — the 240-byte string rode every exploded
    // row through the generator; the window already has the
    // neighboring chars for free.)
    val w =
      if (maxLen <= 1) 1
      else if (maxCode <= 126L) 4
      else if (maxCode <= 254L) 3
      else 1
    val laneBits = if (maxCode <= 126L) 7 else 8
    // Packed-pair sort (round-9, the q250 residual-time item): when
    // every rank fits in 31 bits — count-smaller ranks are bounded by
    // the suffix-row count; round-0 values are code points
    // (≤ 0x10FFFF); packed seed lanes fit 28 bits — (_r1,_r2) packs
    // ORDER-PRESERVINGLY into one long, (_r1 << 32) + (_r2 + 2). A
    // single long sort key keeps the whole ordering inside the 8-byte
    // sort prefix, so the in-partition sorts run pure radix (the
    // two-column sort falls back to the record comparator on every
    // prefix tie — and a rank frame is MOSTLY prefix ties), and the
    // sorted frame ships 3 longs per row instead of 4 through every
    // range exchange. Corpora past 2^31 suffix rows (≈150 TB of text
    // at the 240-char budget) take the unpacked path unchanged.
    val packable = !forceUnpacked && total < ((1L << 31) - 2L)
    // Partition count must track the SUFFIX ROW count, not the
    // session default: at sf10 the frame is ~1.4e9 rows, and 8
    // session partitions would put ~175M rows (≈5 GB) in every
    // in-partition sort — guaranteed external-sort spill (measured:
    // 19 GB spill, time exponent 1.21 vs shuffle exponent 0.98 in
    // the r8 sweep). ~8M rows (~250 MB) per partition sorts
    // in-memory; the two-phase stitch is P-row driver state, so the
    // 4096 cap keeps that bounded at any corpus size.
    val parts = math.max(
      docs.sparkSession.sessionState.conf.numShufflePartitions,
      math.min(4096L, total / 8000000L + 1L).toInt)
    val perDoc = Window.partitionBy("_id").orderBy("_pos")
    // maxLen == 1 never enters the doubling loop, which is the only
    // place ranks get count-smaller-ranked — without this pass the
    // output would be raw code points (correct order, wrong contract;
    // found by SuffixRankPropertySpec's degenerate corpus)
    // NOTE (round 12, measured rejection): caching the windowed frame
    // across the range exchange's two passes (sampling + real) was
    // tried to kill the window recompute the sampler pays — and made
    // q250 ~50% SLOWER at sf0.1 (13.7 → 21.0 s, same-subset A/B):
    // DataFrame persist materializes a columnar InMemoryRelation, and
    // its per-round encode/decode costs more than the in-partition
    // re-sort it saves. The recompute stays.
    if (maxLen == 1) {
      val (ranked, release, _, _) =
        rankByPair(cur.withColumn("_r2", lit(-1L)), parts, packable,
          positional = true, total)
      cur = Lineage.cut(ranked.select("_id", "_pos", "_r1"))
      release()
    }
    // lane from a char code (a lead of _r1 in the seed round): real
    // char c → c+1, past-end sentinel -1 → 0
    def lv(c: Column) =
      when(c >= 0L, c + 1L).otherwise(lit(0L))
    def packLanes(cs: Seq[Column]) =
      cs.zipWithIndex.map { case (c, j) =>
        shiftleft(lv(c), (cs.size - 1 - j) * laneBits)
      }.reduce(_ + _)
    // `cur` stays ONE checkpointed full frame per round, carrying the
    // `_stl` settled flag after the seed round. (A design that
    // accumulated settled rows in per-round SLICE frames was measured
    // SLOWER at sf0.1/32c — every later window pass re-read the slice
    // union with per-slice scan tasks and the split paid extra
    // reduce-side passes; the single-frame checkpoint writes settled
    // rows once per round, which local checkpoint I/O absorbs.)
    var k = 1
    var done = total == 0L
    var seedRound = true
    while (k < maxLen && !done) {
      val t0 = System.nanoTime()
      // pre-hash to `parts` on _id: HashPartitioning(_id, parts)
      // satisfies the window's ClusteredDistribution, so the window
      // sort runs in the sized partitions instead of re-exchanging
      // to the session default (8 session partitions at sf10 put
      // ~175M rows in every window sort — the remaining spill source
      // after the rank sorts were sized)
      val paired =
        if (seedRound) {
          // seed round: every row is active; pair = (pack of chars
          // [i, i+w), pack of chars [i+w, i+2w)) from 2w-1 leads in
          // ONE window pass — orders by the first 2w chars in a
          // single positional-rank round
          val leads = (1 until 2 * w).map(j =>
            lead(col("_r1"), j, -1L).over(perDoc))
          cur.repartition(parts, col("_id"))
            .select(col("_id"), col("_pos"),
              packLanes(col("_r1") +: leads.take(w - 1)).as("_r1"),
              packLanes(leads.drop(w - 1)).as("_r2"))
        } else {
          // discarding rounds: the window pass needs EVERY row (an
          // active row's lead source at pos+k may be settled), but
          // only active rows flow into the ranking leg. Settled rows
          // share no rank group with active rows (their groups are
          // singletons), so refinement happens strictly inside
          // all-active groups and newRank = r1 + (rows of the same
          // r1-group with smaller r2) keeps the corpus-wide
          // count-smaller invariant without ever touching a settled
          // row again.
          cur.repartition(parts, col("_id"))
            .withColumn("_r2", lead(col("_r1"), k, -1L).over(perDoc))
            .filter(!col("_stl"))
            .select("_id", "_pos", "_r1", "_r2")
        }
      val (ranked, release, distinctCnt, activeRows) =
        rankByPair(paired, parts, packable, positional = seedRound, total)
      val t1 = System.nanoTime()
      done = distinctCnt == activeRows
      // merge: settled rows pass through from the previous checkpoint,
      // re-ranked active rows come from the rank leg's shuffle — one
      // full-frame localCheckpoint per round, same write volume as the
      // pre-discarding design, but the rank leg upstream of it ran on
      // the active subset only.
      cur = Lineage.cut(
        if (seedRound) ranked
        else cur.filter(col("_stl")).unionByName(ranked))
      val t2 = System.nanoTime()
      release()
      // report the EFFECTIVE lead width (ADVICE r12): the seed round
      // orders by 2w chars (lead distance w), not by 2 — probe output
      // stays attributable to the chars-ordered invariant (w,2w,4w,…)
      onRound(RoundProbe(if (seedRound) w else k, distinctCnt,
        (t1 - t0) / 1e9, (t2 - t1) / 1e9, activeRows))
      // after the seed round ranks order by 2w chars; classic doubling
      // from there
      k = if (seedRound) 2 * w else k * 2
      seedRound = false
    }
    cur.select(col("_id").as(idCol), col("_pos").as("pos"),
      col("_r1").as("rank"))
  }

  /** Count-smaller rank of (_r1,_r2) pairs over a (_id,_pos,_r1,_r2)
    * frame. Returns (frame with _r1 := new rank, _r2 replaced by the
    * `_stl` settled flag — true iff the row's pair group is a
    * singleton; the persisted sorted frame for the caller to
    * unpersist AFTER materializing; distinct pair count; row count).
    *
    * `positional = true` (the first ranking pass, where every row of
    * the corpus participates and _r1 is any order-preserving seed):
    * rank = global index of the pair group's first row — the count of
    * strictly smaller rows. `positional = false` (discarding rounds,
    * where `df` holds only ACTIVE rows and _r1 is already a corpus-
    * wide count-smaller rank whose groups are entirely active):
    * rank = _r1 + (rows of the same _r1 group with strictly smaller
    * _r2) — the corpus-wide count including every absent settled row.
    *
    * `packed` routes through the single-long sort key (see ranks() —
    * radix sort + one fewer column per sorted row); both paths
    * produce identical ranks because the packing is an
    * order-preserving injection.
    *
    * Execution differs by mode (round 13). POSITIONAL (first pass):
    * the seed keys are text-derived with unknown distribution, so the
    * frame goes through repartitionByRange — whose sampler executes
    * the pairing subtree (the per-doc window) a second time. DISCARD
    * rounds don't need the sampler at all: _r1 is a count-smaller
    * rank in [0, total), so bucket = _r1·n/total is a DETERMINISTIC
    * map-side range partitioner with the same balance bound as the
    * sampled one (a bucket holds ≤ total/n + largest-group rows, and
    * equal keys can't split under either partitioner) — the rank leg
    * runs as one RDD repartitionAndSortWithinPartitions, executing
    * the window subtree ONCE per round instead of twice and sorting
    * on the shuffle read path. The second reduce-side read (the rank
    * apply) re-fetches the same map output, so the window is never
    * re-run; within-group value order may differ between the two
    * reads, which is immaterial — stats and ranks depend only on
    * keys. The returned release closure frees whatever the path
    * persisted (the SQL path's sorted frame; nothing for the RDD
    * path — shuffle files serve both reads). */
  private def rankByPair(df: DataFrame, n: Int, packed: Boolean,
                         positional: Boolean, total: Long)
      : (DataFrame, () => Unit, Long, Long) = {
    if (positional) {
      if (packed) rankByPackedPair(df, n)
      else rankByTwoColPair(df, n)
    } else {
      if (packed) rankByPackedPairRdd(df, n, total)
      else rankByTwoColPairRdd(df, n, total)
    }
  }

  /** Driver-side stitch shared by both sort layouts: canonical stats
    * rows in, per-partition meta arrays out. Keys compare as (k1,k2);
    * the packed layout passes (pk >>> 32, pk & 0xFFFFFFFF), which is
    * componentwise order-isomorphic to (_r1, _r2 + 2). k1 ≥ 0 always
    * (ranks, code points, packed lanes), so Long.MinValue is a safe
    * "no neighbor" sentinel. */
  private final case class PartMeta(rowOff: Long, firstRank: Long,
                                    firstR1Start: Long,
                                    prev1: Long, prev2: Long,
                                    next1: Long, next2: Long)

  private def stitch(stats: Array[PairStats], n: Int, positional: Boolean)
      : (Array[PartMeta], Long, Long) = {
    val sorted = stats.sortBy(_._1._1)
    val rowOff = new Array[Long](n)
    val firstRank = new Array[Long](n)
    val firstR1Start = new Array[Long](n)
    val prev1 = Array.fill(n)(Long.MinValue)
    val prev2 = new Array[Long](n)
    val next1 = Array.fill(n)(Long.MinValue)
    val next2 = new Array[Long](n)
    var cumRows = 0L
    var off = 0L
    var openK1 = Long.MinValue; var openK2 = 0L
    var openPairStart = 0L
    var openR1Start = 0L
    sorted.foreach { case ((pid, rows, changes), (f1, f2, l1, l2),
        (lastPairLen, lastR1Len)) =>
      rowOff(pid) = cumRows
      prev1(pid) = openK1; prev2(pid) = openK2
      val contPair = f1 == openK1 && f2 == openK2
      val contR1 = f1 == openK1
      firstR1Start(pid) = if (contR1) openR1Start else cumRows
      firstRank(pid) =
        if (contPair) {
          if (positional) openPairStart
          else f1 + (openPairStart - openR1Start)
        } else if (positional) cumRows
        else f1 + (cumRows - firstR1Start(pid))
      off += (changes + 1L) - (if (contPair) 1L else 0L)
      openPairStart =
        if (changes == 0L) { if (contPair) openPairStart else cumRows }
        else cumRows + rows - lastPairLen
      openR1Start =
        if (lastR1Len == rows) { if (contR1) openR1Start else cumRows }
        else cumRows + rows - lastR1Len
      openK1 = l1; openK2 = l2
      cumRows += rows
    }
    var nk1 = Long.MinValue; var nk2 = 0L
    sorted.reverseIterator.foreach { case ((pid, _, _), (f1, f2, _, _), _) =>
      next1(pid) = nk1; next2(pid) = nk2
      nk1 = f1; nk2 = f2
    }
    val meta = Array.tabulate(n)(p => PartMeta(rowOff(p), firstRank(p),
      firstR1Start(p), prev1(p), prev2(p), next1(p), next2(p)))
    (meta, off, cumRows)
  }

  /** Packed-key layout, POSITIONAL mode (sampled range partitioner):
    * sort, stat and stitch on ONE long (_pk = (_r1 << 32) + _r2 + 2). */
  private def rankByPackedPair(df: DataFrame, n: Int)
      : (DataFrame, () => Unit, Long, Long) = {
    val spark = df.sparkSession
    val sorted = df
      .select(col("_id"), col("_pos"),
        (shiftleft(col("_r1"), 32) + col("_r2") + lit(2L)).as("_pk"))
      .repartitionByRange(n, col("_pk"))
      .sortWithinPartitions("_pk")
      .persist()
    val stats = sorted.select("_pk")
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next().getLong(0)
          val f1 = first >>> 32; val f2 = first & 0xFFFFFFFFL
          var last = first
          var rows = 1L; var changes = 0L
          var pairLen = 1L; var r1Len = 1L
          while (it.hasNext) {
            val v = it.next().getLong(0)
            if (v != last) { changes += 1; pairLen = 1L } else pairLen += 1L
            if ((v >>> 32) != (last >>> 32)) r1Len = 1L else r1Len += 1L
            last = v; rows += 1
          }
          Iterator(((TaskContext.getPartitionId(), rows, changes),
            (f1, f2, last >>> 32, last & 0xFFFFFFFFL),
            (pairLen, r1Len)): PairStats)
        }
      }(pairStatsEnc)
      .collect()
    val (meta, off, rowCnt) = stitch(stats, n, positional = true)
    val bc = spark.sparkContext.broadcast(meta)
    val out = sorted.mapPartitions { it =>
      val m = bc.value(TaskContext.getPartitionId())
      val buf = it.buffered
      new Iterator[Row] {
        private var idx = 0L
        private var curRank = 0L
        private var prevK1 = m.prev1
        private var prevK2 = m.prev2
        def hasNext: Boolean = buf.hasNext
        def next(): Row = {
          val row = buf.next()
          val pk = row.getLong(2)
          val k1 = pk >>> 32; val k2 = pk & 0xFFFFFFFFL
          if (idx == 0L) curRank = m.firstRank
          else if (k1 != prevK1 || k2 != prevK2) curRank = m.rowOff + idx
          val samePrev = k1 == prevK1 && k2 == prevK2
          val sameNext =
            if (buf.hasNext) buf.head.getLong(2) == pk
            else k1 == m.next1 && k2 == m.next2
          prevK1 = k1; prevK2 = k2; idx += 1
          Row(row.getLong(0), row.getInt(1), curRank, !samePrev && !sameNext)
        }
      }
    }(Encoders.row(frameSchema))
    (out, () => { sorted.unpersist(blocking = false); () }, off, rowCnt)
  }

  /** The two-column POSITIONAL twin for corpora past the 31-bit rank
    * bound: sort, stat and stitch on (_r1, _r2) directly. Same
    * two-phase shape, same driver state, same output schema. */
  private def rankByTwoColPair(df: DataFrame, n: Int)
      : (DataFrame, () => Unit, Long, Long) = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(n, col("_r1"), col("_r2"))
      .sortWithinPartitions("_r1", "_r2")
      .persist()
    val stats = sorted.select("_r1", "_r2")
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          val f1 = first.getLong(0); val f2 = first.getLong(1)
          var l1 = f1; var l2 = f2
          var rows = 1L; var changes = 0L
          var pairLen = 1L; var r1Len = 1L
          while (it.hasNext) {
            val r = it.next()
            val a = r.getLong(0); val b = r.getLong(1)
            if (a != l1 || b != l2) { changes += 1; pairLen = 1L }
            else pairLen += 1L
            if (a != l1) r1Len = 1L else r1Len += 1L
            l1 = a; l2 = b; rows += 1
          }
          Iterator(((TaskContext.getPartitionId(), rows, changes),
            (f1, f2, l1, l2), (pairLen, r1Len)): PairStats)
        }
      }(pairStatsEnc)
      .collect()
    val (meta, off, rowCnt) = stitch(stats, n, positional = true)
    val bc = spark.sparkContext.broadcast(meta)
    val out = sorted.mapPartitions { it =>
      val m = bc.value(TaskContext.getPartitionId())
      val buf = it.buffered
      new Iterator[Row] {
        private var idx = 0L
        private var curRank = 0L
        private var prevK1 = m.prev1
        private var prevK2 = m.prev2
        def hasNext: Boolean = buf.hasNext
        def next(): Row = {
          val row = buf.next()
          val k1 = row.getLong(2); val k2 = row.getLong(3)
          if (idx == 0L) curRank = m.firstRank
          else if (k1 != prevK1 || k2 != prevK2) curRank = m.rowOff + idx
          val samePrev = k1 == prevK1 && k2 == prevK2
          val sameNext =
            if (buf.hasNext) {
              val h = buf.head; h.getLong(2) == k1 && h.getLong(3) == k2
            } else k1 == m.next1 && k2 == m.next2
          prevK1 = k1; prevK2 = k2; idx += 1
          Row(row.getLong(0), row.getInt(1), curRank, !samePrev && !sameNext)
        }
      }
    }(Encoders.row(frameSchema))
    (out, () => { sorted.unpersist(blocking = false); () }, off, rowCnt)
  }

  /** Discard-round rank leg, packed key, DETERMINISTIC partitioner
    * (see [[rankByPair]]): one RDD repartitionAndSortWithinPartitions
    * keyed on _pk, bucketed by _r1·n/total — no range sampler, so the
    * pairing window subtree executes exactly once; the stats and
    * apply jobs are two reduce-side reads of the same map output. */
  private def rankByPackedPairRdd(df: DataFrame, n: Int, total: Long)
      : (DataFrame, () => Unit, Long, Long) = {
    val spark = df.sparkSession
    val kv = df
      .select((shiftleft(col("_r1"), 32) + col("_r2") + lit(2L)).as("_pk"),
        col("_id"), col("_pos"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaInt))
      .rdd
      .map { case (pk, id, pos) => (pk, (id, pos)) }
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = {
        val r1 = key.asInstanceOf[Long] >>> 32
        math.min(n - 1L, r1 * n / total).toInt
      }
    }
    val sorted = kv.repartitionAndSortWithinPartitions(part)
    val stats = sorted.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next()._1
        val f1 = first >>> 32; val f2 = first & 0xFFFFFFFFL
        var last = first
        var rows = 1L; var changes = 0L
        var pairLen = 1L; var r1Len = 1L
        while (it.hasNext) {
          val v = it.next()._1
          if (v != last) { changes += 1; pairLen = 1L } else pairLen += 1L
          if ((v >>> 32) != (last >>> 32)) r1Len = 1L else r1Len += 1L
          last = v; rows += 1
        }
        Iterator(((pid, rows, changes),
          (f1, f2, last >>> 32, last & 0xFFFFFFFFL),
          (pairLen, r1Len)): PairStats)
      }
    }.collect()
    val (meta, off, rowCnt) = stitch(stats, n, positional = false)
    val bc = spark.sparkContext.broadcast(meta)
    val outRdd = sorted.mapPartitionsWithIndex { (pid, it0) =>
      val m = bc.value(pid)
      val buf = it0.buffered
      new Iterator[(Long, Int, Long, Boolean)] {
        private var idx = 0L
        private var curRank = 0L
        private var r1Start = m.firstR1Start
        private var prevK1 = m.prev1
        private var prevK2 = m.prev2
        def hasNext: Boolean = buf.hasNext
        def next(): (Long, Int, Long, Boolean) = {
          val (pk, (id, pos)) = buf.next()
          val k1 = pk >>> 32; val k2 = pk & 0xFFFFFFFFL
          if (idx == 0L) curRank = m.firstRank
          else {
            if (k1 != prevK1) r1Start = m.rowOff + idx
            if (k1 != prevK1 || k2 != prevK2)
              curRank = k1 + (m.rowOff + idx - r1Start)
          }
          val samePrev = k1 == prevK1 && k2 == prevK2
          val sameNext =
            if (buf.hasNext) buf.head._1 == pk
            else k1 == m.next1 && k2 == m.next2
          prevK1 = k1; prevK2 = k2; idx += 1
          (id, pos, curRank, !samePrev && !sameNext)
        }
      }
    }
    val out = spark.createDataset(outRdd)(Encoders.tuple(
        Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaBoolean))
      .toDF("_id", "_pos", "_r1", "_stl")
    (out, () => (), off, rowCnt)
  }

  /** Discard-round rank leg, two-column key (corpora past the 31-bit
    * rank bound) — the (_r1,_r2) twin of [[rankByPackedPairRdd]]. */
  private def rankByTwoColPairRdd(df: DataFrame, n: Int, total: Long)
      : (DataFrame, () => Unit, Long, Long) = {
    val spark = df.sparkSession
    val kv = df
      .select(col("_r1"), col("_r2"), col("_id"), col("_pos"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaInt))
      .rdd
      .map { case (r1, r2, id, pos) => ((r1, r2), (id, pos)) }
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = {
        val r1 = key.asInstanceOf[(Long, Long)]._1
        // r1 · n can overflow past 2^63/n rows — scale via double; the
        // bucket boundary only needs balance, not exactness
        math.min(n - 1L, (r1.toDouble * n / total).toLong).toInt
      }
    }
    val sorted = kv.repartitionAndSortWithinPartitions(part)
    val stats = sorted.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val (f1, f2) = it.next()._1
        var l1 = f1; var l2 = f2
        var rows = 1L; var changes = 0L
        var pairLen = 1L; var r1Len = 1L
        while (it.hasNext) {
          val (a, b) = it.next()._1
          if (a != l1 || b != l2) { changes += 1; pairLen = 1L }
          else pairLen += 1L
          if (a != l1) r1Len = 1L else r1Len += 1L
          l1 = a; l2 = b; rows += 1
        }
        Iterator(((pid, rows, changes), (f1, f2, l1, l2),
          (pairLen, r1Len)): PairStats)
      }
    }.collect()
    val (meta, off, rowCnt) = stitch(stats, n, positional = false)
    val bc = spark.sparkContext.broadcast(meta)
    val outRdd = sorted.mapPartitionsWithIndex { (pid, it0) =>
      val m = bc.value(pid)
      val buf = it0.buffered
      new Iterator[(Long, Int, Long, Boolean)] {
        private var idx = 0L
        private var curRank = 0L
        private var r1Start = m.firstR1Start
        private var prevK1 = m.prev1
        private var prevK2 = m.prev2
        def hasNext: Boolean = buf.hasNext
        def next(): (Long, Int, Long, Boolean) = {
          val ((k1, k2), (id, pos)) = buf.next()
          if (idx == 0L) curRank = m.firstRank
          else {
            if (k1 != prevK1) r1Start = m.rowOff + idx
            if (k1 != prevK1 || k2 != prevK2)
              curRank = k1 + (m.rowOff + idx - r1Start)
          }
          val samePrev = k1 == prevK1 && k2 == prevK2
          val sameNext =
            if (buf.hasNext) {
              val h = buf.head._1; h._1 == k1 && h._2 == k2
            } else k1 == m.next1 && k2 == m.next2
          prevK1 = k1; prevK2 = k2; idx += 1
          (id, pos, curRank, !samePrev && !sameNext)
        }
      }
    }
    val out = spark.createDataset(outRdd)(Encoders.tuple(
        Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaBoolean))
      .toDF("_id", "_pos", "_r1", "_stl")
    (out, () => (), off, rowCnt)
  }

  /** Global sequential index (0-based) in `sortCols` order, appended
    * as `outCol` — the scale-safe stand-in for an unpartitioned
    * `row_number()` window (same two-phase shape as
    * [[PrefixSum.withRunningSum]]; `sortCols` must be a unique key).
    * Lineage is cut before returning, so the internal persist is
    * already released. */
  def zipWithIndex(df: DataFrame, sortCols: Seq[String],
                   outCol: String = "_gi", minPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // callers indexing data-sized frames pass minPartitions derived
    // from a known row count so the in-partition sorts stay in memory
    // regardless of the session default (same rationale as ranks())
    val n = math.max(spark.sessionState.conf.numShufflePartitions,
      minPartitions)
    val sorted = df
      .repartitionByRange(n, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .persist()
    val counts = sorted
      .mapPartitions(it =>
        Iterator((TaskContext.getPartitionId(), it.size.toLong))
      )(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .collect()
    val offsets = new Array[Long](n)
    counts.sortBy(_._1).foreach { case (pid, rows) =>
      if (pid + 1 < n) offsets(pid + 1) = rows
    }
    var i = 1
    while (i < n) { offsets(i) += offsets(i - 1); i += 1 }
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = sorted.schema.add(outCol, LongType, nullable = false)
    val out = sorted.mapPartitions { it =>
      var idx = bc.value(TaskContext.getPartitionId())
      it.map { row =>
        val r = Row.fromSeq(row.toSeq :+ idx)
        idx += 1
        r
      }
    }(Encoders.row(outSchema))
    val res = Lineage.cut(out)
    sorted.unpersist(blocking = false)
    res
  }

  /** Longest common prefix in CODE POINTS of two strings — the JVM
    * mirror of the graft_lcp expression (same mid-character backup:
    * a common UTF-16 prefix ending between the halves of a surrogate
    * pair in EITHER string counts only the complete characters before
    * it, also when the other string ends there with a lone high
    * surrogate; on BMP input, common code units are common code
    * points). A high surrogate that is lone in both strings stays
    * common, as in graft_lcp, where UTF-8 encoding turns each into
    * the same replacement byte. */
  private[operators] def lcpCodePoints(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    def pairSplitIn(s: String) = i < s.length && Character.isLowSurrogate(s.charAt(i))
    if (i > 0 && Character.isHighSurrogate(a.charAt(i - 1)) && (pairSplitIn(a) || pairSplitIn(b)))
      i -= 1
    a.codePointCount(0, i)
  }

  /** First min(lcp, 32) CODE POINTS of `s` — the JVM mirror of the
    * panel's `substring(sfx_a, 1, least(lcp, 32))` (Spark substring
    * counts code points). `lcp` must be ≤ s's code point count,
    * which lcpCodePoints guarantees. */
  private[operators] def snippetOf(s: String, lcp: Int): String = {
    val cp = math.min(lcp, 32)
    if (cp <= 0) "" else s.substring(0, s.offsetByCodePoints(0, cp))
  }

  private val lcpPanelSchema = StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("pos_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("pos_b", LongType, nullable = false),
    StructField("lcp", LongType, nullable = false),
    StructField("cross_doc", BooleanType, nullable = false),
    StructField("snippet", StringType, nullable = true)))

  /** The suffix-panel adjacency kernel (q250): pair every suffix row
    * with its successor in (rank, doc_id, pos) order and emit the LCP
    * panel columns directly — ONE range exchange over the suffix
    * frame (round 13, guide §2.4). The previous plan built a global
    * index (zipWithIndex: range exchange + counts collect + index
    * apply + checkpoint) and then equi-joined the frame WITH ITSELF
    * on _gi/_gi−1 — two more full hash exchanges, each carrying the
    * ≤maxLen-char suffix strings. The sorted partitions already hold
    * every adjacent pair except the P partition-boundary ones, which
    * are stitched from a collected first-row-per-partition array
    * (P × ≤maxLen chars of driver state — the same bounded class as
    * the dense-rank stitches above).
    *
    * Input columns: doc_id, pos (int), rank, sfx. Output: doc_a,
    * pos_a, doc_b, pos_b, lcp, cross_doc, snippet — value-identical
    * to the join formulation: lcp counts code points with graft_lcp's
    * mid-character backup, snippet is the first min(lcp, 32) code
    * points of sfx_a (pinned by SuffixRankSpec against the SQL
    * formula, unicode included). The pair SET is partition-boundary-
    * independent: (rank, doc_id, pos) is a unique key, so the global
    * sort order — and therefore the successor of every row — does not
    * depend on where the range partitioner cuts. */
  def adjacentLcp(withSfx: DataFrame, minPartitions: Int = 0): DataFrame = {
    val spark = withSfx.sparkSession
    val n = math.max(spark.sessionState.conf.numShufflePartitions,
      minPartitions)
    val sorted = withSfx
      .select(col("rank").cast("long").as("_rk"),
        col("doc_id").cast("long").as("_d"),
        col("pos").cast("int").as("_p"),
        col("sfx").cast("string").as("_s"))
      .repartitionByRange(n, col("_rk"), col("_d"), col("_p"))
      .sortWithinPartitions("_rk", "_d", "_p")
      .persist()
    val firsts = sorted.mapPartitions { it =>
      if (it.hasNext) {
        val r = it.next()
        Iterator((TaskContext.getPartitionId(),
          r.getLong(1), r.getInt(2), r.getString(3)))
      } else Iterator.empty
    }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
      Encoders.scalaInt, Encoders.STRING))
      .collect()
    // successor of each partition's LAST row = first row of the next
    // NON-EMPTY partition (range partitions can be empty)
    val byPid = firsts.map(f => f._1 -> ((f._2, f._3, f._4))).toMap
    val nextFirst = new Array[(Long, Int, String)](n)
    var carry: (Long, Int, String) = null
    var p = n - 1
    while (p >= 0) {
      nextFirst(p) = carry
      byPid.get(p).foreach(carry = _)
      p -= 1
    }
    val bc = spark.sparkContext.broadcast(nextFirst)
    val out = sorted.mapPartitions { it =>
      val nxt = bc.value(TaskContext.getPartitionId())
      new Iterator[Row] {
        private var cur: Row = if (it.hasNext) it.next() else null
        private var tailEmitted = false
        private def emit(da: Long, pa: Int, sa: String,
                         db: Long, pb: Int, sb: String): Row = {
          val l = lcpCodePoints(sa, sb)
          Row(da, pa.toLong, db, pb.toLong, l.toLong, da != db,
            snippetOf(sa, l))
        }
        def hasNext: Boolean =
          cur != null && (it.hasNext || (nxt != null && !tailEmitted))
        def next(): Row =
          if (it.hasNext) {
            val nr = it.next()
            val r = emit(cur.getLong(1), cur.getInt(2), cur.getString(3),
              nr.getLong(1), nr.getInt(2), nr.getString(3))
            cur = nr
            r
          } else {
            tailEmitted = true
            emit(cur.getLong(1), cur.getInt(2), cur.getString(3),
              nxt._1, nxt._2, nxt._3)
          }
      }
    }(Encoders.row(lcpPanelSchema))
    val res = Lineage.cut(out)
    sorted.unpersist(blocking = false)
    res
  }
}
