package graft

import org.apache.spark.sql.functions._

/** Evidence-gathering harnesses behind the scale-sweep attributions
  * (round-9 verdict items 2 and 6). These are not queries — they
  * print the per-round / per-bucket numbers that turn a measured
  * growth exponent into an explained one, and PLANS.md cites their
  * output. They run on the same `GraftSession` as ScaleSweep
  * (local[cpus], shuffle.partitions = cpus) so the numbers live in
  * the same regime as the sweep rows they explain.
  */

/** Per-round timing of q250's prefix-doubling loop at each given
  * scale dir — separates the two candidate causes of the measured
  * d2 residual time exponent (e=1.175 vs e_shuffle=1.015): more
  * per-row work per round (would show a uniform per-round exponent
  * >1) vs more rounds (would show a changed round count). One JSON
  * line per round with the dense-rank stats leg and the rank-apply
  * leg timed separately, plus a summary line per dir. */
object SuffixRankProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("target/sf1", "target/sf10")
    val spark = GraftSession()
    import GraftSession.fmt
    dirs.foreach { dir =>
      val docs = Tables.documents(spark, dir)
      val t0 = System.nanoTime()
      val rounds = scala.collection.mutable.ArrayBuffer
        .empty[graft.operators.SuffixRank.RoundProbe]
      val r = graft.operators.SuffixRank.ranks(
        docs, "doc_id", "text", maxLen = 240, onRound = rounds += _)
      val n = r.count() // already materialized by the last round's cut
      val total = (System.nanoTime() - t0) / 1e9
      rounds.foreach { p =>
        println(s"""{"probe":"suffix_round","dir":"$dir","shift":${p.shift},""" +
          s""""distinct":${p.distinct},"active":${p.active},""" +
          s""""stats_secs":${fmt(p.statsSecs)},""" +
          s""""apply_secs":${fmt(p.applySecs)}}""")
      }
      println(s"""{"probe":"suffix_summary","dir":"$dir","rows":$n,""" +
        s""""rounds":${rounds.size},"total_secs":${fmt(total)},""" +
        s""""stats_secs":${fmt(rounds.map(_.statsSecs).sum)},""" +
        s""""apply_secs":${fmt(rounds.map(_.applySecs).sum)}}""")
      System.out.flush()
    }
    try spark.stop() catch { case _: Throwable => () }
  }
}

/** Per-STAGE task-metrics audit for one query at one scale dir: the
  * suite profiler aggregates per QUERY, which locates a regression
  * but not the operator — this prints the profiler's stage rows, one
  * JSON line per stage (name, call site, tasks, input/shuffle/spill
  * bytes), so a deterministic spill can be pinned to the
  * exchange/sort/aggregate that paid it (used to attribute q225's
  * sf100 spill, round 9). The closing line carries the run's totals,
  * which the stage rows sum to. */
object SpillAudit {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "target/sf100"
    val spark = GraftSession()
    import GraftSession.fmt
    val profiler = TaskMetricsProfiler.install(spark)
    val df = SparkEntry.queries(name)(spark, dir)
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      System.err.println(df.queryExecution.executedPlan.toString)
    val t0 = System.nanoTime()
    GraftSession.force(df)
    val dt = (System.nanoTime() - t0) / 1e9
    val p = profiler.snapshot(spark)
    try spark.stop() catch { case _: Throwable => () }
    p.stages.foreach(s => println(s.json))
    println(s"""{"query":"$name","dir":"$dir","secs":${fmt(dt)},"totals":${p.json}}""")
  }
}

/** Bucket-occupancy census of q215's auto-SRP configuration at each
  * given scale dir: the corpus count picks bits-per-band via
  * [[graft.operators.Similarity.autoBits]] (target occupancy 40,
  * capped at 32 by the two-tier 256-plane pool — the round-11 lift.
  * The lift is FORWARD-LOOKING: sf100's 2M-vector corpus sits BELOW
  * the old 16-bit cap — bits=16 chosen naturally, occupancy ~30.5,
  * 77% of the 40·2^16 ≈ 2.6M saturation point — and its 14.3 GB
  * spill came from the three since-fixed plan defects (broadcast
  * bucket join, default-partition candidate exchanges, wide window
  * sort), not from occupancy growth; the cap would have bound one
  * decade later), and this prints the REALIZED occupancy — bucket
  * count, mean/p95/max bucket size, and mean primary-probe
  * candidates per query. With the lifted cap, occupancy should sit
  * near the target at EVERY sweep decade. */
object SrpOccupancyProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("target/sf1", "target/sf10")
    val spark = GraftSession()
    import GraftSession.fmt
    import graft.operators.Similarity
    val bands = 8
    val blockBits = 16
    val pool = Similarity.planes(256, 64)
    val tiers = pool.length / (bands * blockBits)
    dirs.foreach { dir =>
      val c = Tables.embeddings(spark, dir)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("query_vec"))
      val n = c.count()
      val bits = Similarity.autoBits(n, targetBucket = 40L,
        maxBits = tiers * blockBits)
      val psUsed = Similarity.srpPoolSlice(pool, bands, blockBits, bits)
      val keyed = c.select(col("vec_id"),
          posexplode(Similarity.srpBandKeys(col("query_vec"), psUsed, bands, bits))
            .as(Seq("band", "key")))
      val occ = keyed.groupBy("band", "key").count().persist()
      val stats = occ.agg(
        count(lit(1)).as("buckets"),
        avg(col("count")).as("mean"),
        expr("percentile_approx(count, 0.95)").as("p95"),
        max(col("count")).as("max")).head()
      // primary-probe candidate volume: each query scans its own
      // bucket in every band (multi-probe adds 2 one-bit flips of the
      // same expected size — a constant factor, omitted here)
      val queries = keyed.filter(col("vec_id") % 10 === 0)
      val cand = queries.join(occ, Seq("band", "key"))
        .agg(sum(col("count")).as("cand"),
          countDistinct(col("vec_id")).as("nq")).head()
      occ.unpersist(blocking = false)
      println(s"""{"probe":"srp_occupancy","dir":"$dir","n":$n,"bits":$bits,""" +
        s""""bands":$bands,"target_bucket":40,""" +
        s""""buckets_used":${stats.getLong(0)},""" +
        s""""mean_occ":${fmt(stats.getDouble(1))},""" +
        s""""p95_occ":${stats.getLong(2)},"max_occ":${stats.getLong(3)},""" +
        s""""queries":${cand.getLong(1)},""" +
        s""""mean_candidates_per_query":${fmt(
          cand.getLong(0).toDouble / math.max(1L, cand.getLong(1)))}}""")
      System.out.flush()
    }
    try spark.stop() catch { case _: Throwable => () }
  }
}

/** NATURAL tier-1 derivation probe (round 12): the committed scales
  * through sf100 (2M vectors) all derive bits ≤ 16, so every tier-1
  * (bits ≥ 17) retrieval so far rode the `forceBits` hook (q279, the
  * planted-near-dup spec). This probe runs the regime the round-11
  * cap lift exists for WITHOUT the hook: a 20M-vector corpus (10
  * jittered replicas of target/sf100's embeddings, the ScaleUp
  * recipe, embeddings-only so the dir costs ~5 GB not ~130) makes
  * `autoBits(2e7, 40)` derive **bits = 19 naturally** (need = 500k
  * buckets > 2^18), so each band's keys draw 16 tier-0 + 3 tier-1
  * planes and bucket matching runs on 19-bit keys at realized
  * occupancy ≈ 38 — genuinely multi-occupant tier-1 buckets.
  *
  * Evidence printed (one JSON line, committed as TIER1_PROBE.json):
  * the derived bits (asserted ≥ 17), wall seconds and
  * shuffle/spill bytes for the ANN leg, and recall@5 of
  * `annTopKAuto` against an EXACT ground truth computed at scale via
  * the native bounded-heap aggregate (`graft_topk` riding one
  * hash-aggregate pass — the window-based bruteForceTopK would
  * exchange all |Q|·n scored pairs; the aggregate shuffles k rows
  * per query per partition). Ground-truth score is
  * floor(cosine·1e15) with the ann path's own (cosine DESC, vec_id
  * ASC) tie-break: quantized-jitter cosine gaps are ~1e-6, nine
  * orders above the 1e-15 quantization, so the ranking is exact.
  * The query set is the md5-budget 64 slice (q279's serving shape);
  * self-matches are excluded on both paths. */
object Tier1NaturalProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.SaveMode
    import graft.operators.Similarity
    val src = if (args.nonEmpty) args(0) else "target/sf100"
    val out = if (args.length > 1) args(1) else "target/sf1000e"
    val budget = 64
    val k = 5
    val spark = GraftSession()
    import GraftSession.fmt

    // embeddings-only 10x scale-up, marker-guarded like ScaleUp
    val marker = java.nio.file.Paths.get(s"$out/_EMB_DONE")
    if (!(java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker).trim == s"src=$src replicas=10")) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      ScaleUp.scaleEmbeddings(Tables.embeddings(spark, src), 10)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
      java.nio.file.Files.writeString(marker, s"src=$src replicas=10\n")
    }

    // each leg's bytes come from its own reset/snapshot window
    val profiler = TaskMetricsProfiler.install(spark)

    val c = Tables.embeddings(spark, out)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("query_vec"))
    val n = Tables.rowCount(spark, out, "embeddings")
    val bits = Similarity.autoBits(n, targetBucket = 40L, maxBits = 32)
    // the probe's claim needs bits >= 17; the floor is an env knob
    // (SPARK_GRAFT_TIER1_MINBITS=1) only so the plumbing can be
    // smoke-tested on a small dir before the hour-scale real run
    val minBits = sys.env.getOrElse("SPARK_GRAFT_TIER1_MINBITS", "17").toInt
    require(bits >= minBits, s"corpus of $n derives bits=$bits — not the tier-1 regime")
    val qs = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
      .orderBy(md5(col("query_id").cast("string")), col("query_id"))
      .limit(budget)
      .persist()
    qs.count()

    // exact ground truth: one broadcast scan + heap aggregate
    profiler.reset()
    val t0 = System.nanoTime()
    val c2 = c.withColumn("_n2c", Similarity.dotFast(col("query_vec"), col("query_vec")))
    val q2 = qs.withColumn("_n2q", Similarity.dotFast(col("qvec"), col("qvec")))
    val gt = c2.crossJoin(broadcast(q2))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", Similarity.cosineOnNorms(col("query_vec"), col("qvec"),
        col("_n2c"), col("_n2q")))
      .groupBy("query_id")
      .agg(call_function("graft_topk",
        floor(col("cosine") * lit(1e15)).cast("long"),
        lpad(col("vec_id").cast("string"), 12, "0"), lit(k)).as("top"))
      .select(col("query_id"), explode(col("top.payload")).as("vid"))
      .select(col("query_id"), col("vid").cast("long").as("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gtSecs = (System.nanoTime() - t0) / 1e9
    val gtP = profiler.snapshot(spark)

    // the ANN leg: auto-derived bits, no forceBits
    profiler.reset()
    val t1 = System.nanoTime()
    val ann = Similarity.annTopKAuto(c, qs, k = k, Similarity.planes(256, 64),
        knownN = n, knownQ = budget)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annSecs = (System.nanoTime() - t1) / 1e9
    val annP = profiler.snapshot(spark)
    qs.unpersist(blocking = false)

    val recall = (gt & ann).size.toDouble / math.max(1, gt.size)
    println(s"""{"probe":"tier1_natural","src":"$src","out":"$out",""" +
      s""""n":$n,"bits":$bits,"tier1_planes_per_band":${math.max(0, bits - 16)},""" +
      s""""occupancy":${fmt(n.toDouble / (1L << bits))},""" +
      s""""budget":$budget,"k":$k,""" +
      s""""gt_secs":${fmt(gtSecs)},"ann_secs":${fmt(annSecs)},""" +
      s""""gt_shuffle":${gtP.shuffleWriteBytes},"gt_spill_disk":${gtP.diskSpillBytes},""" +
      s""""gt_spill_mem":${gtP.memSpillBytes},"ann_shuffle":${annP.shuffleWriteBytes},""" +
      s""""ann_spill_disk":${annP.diskSpillBytes},"ann_spill_mem":${annP.memSpillBytes},""" +
      s""""gt_pairs":${gt.size},"ann_pairs":${ann.size},""" +
      s""""recall_at_$k":${fmt(recall)},"pass":${recall >= 0.9},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism}}""")
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
  }
}
