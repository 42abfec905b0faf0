package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every registered query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line.
  *
  * Methodology:
  *  - a warmup query first absorbs JVM/codegen/session start (otherwise the
  *    first timed query carries ~5s of one-time cost);
  *  - each query materializes through the `noop` sink — full computation of
  *    every output column, no driver collect, no disk write. `count()`
  *    would let Catalyst prune the projections being measured;
  *  - every query runs SPARK_GRAFT_BENCH_RUNS times (default 3) in
  *    round-robin passes over the whole registry — the reported number is
  *    the per-query MEDIAN, so a single ambient-host spike (GC, a noisy
  *    neighbor on the driver box) lands in the max, not the headline.
  *    Round-robin (not back-to-back triples) keeps the repeat runs
  *    separated in time, so a transient stall can't inflate all three
  *    samples of one query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Corpus-sized shuffle parallelism (see Engine.sizedShufflePartitions):
    // identical to the thread count at sf0.1/SF1, scales up for SF10+.
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt)
      .getOrElse(Engine.sizedShufflePartitions(sfDir, cpus.toInt))
    // Heap-sized broadcast threshold (see Engine.sizedBroadcastThreshold):
    // dims keep broadcasting as their byte size grows with SF, until they
    // are genuinely fact-sized for the JVM.
    // SPARK_GRAFT_MASTER=local-cluster[4,8,12288] benches the multi-executor
    // shape: real executor JVMs, shuffle/broadcast over netty (see
    // ClusterMode). Default stays single-JVM local[cpus].
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // local-cluster[w,c,m]: per-worker grant; executors take the full grant.
    val cluster = ClusterMode.spec(master)
    val isCluster = cluster.isDefined
    val (executorMemMb, totalCores) =
      cluster.fold((0, cpus.toInt))(c => (c.memMb, c.workers * c.cores))
    // Broadcast threshold must be sized from EXECUTOR heap (the process
    // that builds/holds the hashed relation), which is the driver's own
    // heap only in local mode.
    val broadcastBytes = Engine.sizedBroadcastThreshold(
      if (isCluster) executorMemMb * 1024L * 1024L
      else Runtime.getRuntime.maxMemory)
    if (isCluster) ClusterMode.ensureSparkHomeShim()
    val builder = SparkSession.builder()
      .master(master)
      // engine extensions (function pack, planner strategy, broadcast
      // guard) — see Verify; without this the bench session silently
      // loses every extension-injected rule
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        math.max(shufflePartitions, totalCores))
      .config("spark.sql.autoBroadcastJoinThreshold", broadcastBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (isCluster) {
      builder
        .config("spark.executor.memory", s"${executorMemMb}m")
        .config("spark.executor.extraClassPath", ClusterMode.absoluteClassPath)
        .config("spark.executor.extraJavaOptions", ClusterMode.executorJavaOptions)
        .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Cumulative stop-the-world GC time across all collectors; the per-run
    // delta goes into BENCH_FULL.json so a slow pass self-adjudicates
    // ("was that the plan or the heap?") instead of needing a rerun at a
    // different -Xmx to decompose (the round-10 q_rollup dispute).
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }

    // Returns (wall seconds, GC millis spent during the run); -1 wall on failure.
    def runNoop(name: String): (Double, Long) = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return (-1.0, gcMillis() - g0)
      }
      ((System.nanoTime() - t0) / 1e9, gcMillis() - g0)
    }

    // Warmup: session + codegen + parquet footer caches.
    runNoop("q1_agg")

    // SPARK_GRAFT_BENCH_ONLY=q1_agg,q3_topn limits the registry to a subset
    // (used for the SF1 TPC-H/TPC-DS record in BASELINE.md, where the full
    // 100+-query registry would mostly re-time sf-independent fixtures).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd name would silently shrink the benchmarked set and
    // under-report the suite total in a committed record — say so loudly.
    only.foreach(_.diff(SparkEntry.queries.keySet).toSeq.sorted.foreach(u =>
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_BENCH_ONLY name not in registry: $u")))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val samples = scala.collection.mutable.Map(
      names.map(_ -> Vector.empty[Double]): _*)
    val gcSamples = scala.collection.mutable.Map(
      names.map(_ -> Vector.empty[Long]): _*)
    for (r <- 1 to runs) {
      for (n <- names) {
        val (sec, gcMs) = runNoop(n)
        samples(n) :+= sec
        gcSamples(n) :+= gcMs
      }
      // Between passes (never inside a timed query): give ContextCleaner a
      // full-GC cycle to actually unpersist dead broadcast blocks. Measured
      // motivation (round 12, SF100 TPC-DS): 38 min of back-to-back queries
      // at the 16 g ceiling accumulated enough dead broadcast/hash state
      // that a pass-3 1 GiB broadcast build died on GCLocker exhaustion
      // (qds55 run 3 = -1) — the same query runs 22-31 s in isolation.
      if (r < runs) System.gc()
    }

    // median of the successful samples; -1 only if every run failed
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
    }
    val results = names.map(n => n -> median(samples(n)))
    val total = results.map(_._2).filter(_ >= 0).sum
    spark.stop()

    // The driver keeps only the LAST 2000 chars of output (measured: the r8
    // capture's tail is exactly 2000, and sbt appends a ~72-char "[success]"
    // line AFTER our JSON). The r9 record proves a 116-query map no longer
    // fits even at centisecond precision — BENCH_r09.json shows
    // `"parsed": null` with the line's head truncated out of the window. So
    // the LAST printed line is now a bounded summary (total + the TPC-H 21
    // headline medians, ~650 chars — always parseable), an all-query
    // centisecond line prints BEFORE it for log readers, and the full
    // med/min/max/runs record goes to BENCH_FULL.json in the repo for
    // attribution of round-over-round deltas.
    def f3(v: Double): String = f"$v%.3f"
    // JVM provenance: heap ceiling + per-pass GC time make a slow record
    // self-explaining (round 10's 128s-vs-88s driver gap decomposed to the
    // un-pinned 8g heap only after a manual rerun; now the record carries
    // the evidence itself).
    val heapMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
    val fullJson = {
      val qs = names.map { n =>
        val xs = samples(n)
        "\"" + n + "\":{\"med\":" + f3(median(xs)) +
          ",\"min\":" + f3(if (xs.forall(_ < 0)) -1.0 else xs.filter(_ >= 0).min) +
          ",\"max\":" + f3(xs.max) +
          ",\"runs\":[" + xs.map(f3).mkString(",") + "]" +
          ",\"gc_ms\":[" + gcSamples(n).map(_.toString).mkString(",") + "]}"
      }.mkString("{", ",", "}")
      s"""{"metric":"total_median","value":${f3(total)},"unit":"sec","n_queries":${results.size},"runs_per_query":$runs,"master":"$master","heap_mb":$heapMb,"executor_mem_mb":$executorMemMb,"shuffle_partitions":${math.max(shufflePartitions, totalCores)},"broadcast_mb":${broadcastBytes / (1024L * 1024L)},"queries":$qs,"sf":"$sfDir"}"""
    }
    // full record next to the checkout (cwd), not a hardcoded absolute
    // path — a silently-swallowed write failure elsewhere would lose the
    // per-query attribution record. BENCH_FULL.json is reserved for the
    // canonical shape (full registry at the default corpus): a subset run
    // (SPARK_GRAFT_BENCH_ONLY) or a non-default sfDir writes a suffixed
    // file instead, so an SF1 or 43-query invocation can never clobber the
    // committed full-registry sf0.1 record (this clobber happened twice in
    // round 10 — once mis-scaled, once by the driver's own run).
    val defaultSf = "/root/testdata/sf0.1"
    // The COMMITTED record (BENCH_FULL.json) is only written when the
    // operator explicitly asks for a record refresh (GRAFT_RECORD=1): the
    // driver's per-round run lands in BENCH_DRIVER.json (gitignored), so a
    // driver round can never clobber the record or dirty the tree — its
    // numbers are graded from the stdout JSON line, and the last driver
    // run stays inspectable on disk for attribution.
    // EVERY non-record invocation lands on a gitignored name (BENCH_DRIVER
    // or BENCH_SCRATCH_*) — previously a full-registry run at a non-default
    // sfDir wrote an ungated, unignored BENCH_<sf>.json (ADVICE r13).
    val isRecord = sys.env.contains("GRAFT_RECORD")
    val clusterTag = if (isCluster) "CLUSTER_" else ""
    val sfLast = sfDir.split('/').last
    val stem =
      if (only.isEmpty && sfDir == defaultSf && !isCluster) "BENCH_FULL"
      else if (only.isEmpty) s"BENCH_$clusterTag$sfLast"
      else s"BENCH_${clusterTag}SUBSET_${sfLast}_n${results.size}"
    val fullName =
      if (isRecord) stem + ".json"
      else if (stem == "BENCH_FULL") "BENCH_DRIVER.json"
      else "BENCH_SCRATCH_" + stem.stripPrefix("BENCH_") + ".json"
    for (p <- Seq(
        java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "bench_timings.txt"),
        java.nio.file.Paths.get(sys.props("user.dir"), fullName)))
      try java.nio.file.Files.write(p, (fullJson + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
    // All-query medians in centiseconds, for the log (may exceed the
    // driver's tail window — the parseable line comes LAST).
    val qsCs = results
      .map { case (k, v) => "\"" + k + "\":" + math.round(v * 100).toString }
      .mkString("{", ",", "}")
    println(s"""{"metric":"all_queries","unit":"centisec","med_of":$runs,"queries":$qsCs}""")
    // Final line: bounded summary the driver can always parse from the
    // 2000-char tail — total over ALL queries plus the TPC-H 21 headline
    // medians in centiseconds.
    val tpch21 = Seq("q1_agg", "q2_minsupp", "q3_topn", "q4_semi",
      "q5_join_agg", "q6_filter", "q8_share", "q9_profit", "q10_agg_topn",
      "q11_value", "q12_priority", "q13_dist", "q14_promo", "q15_top",
      "q16_suppcnt", "q17_avg", "q18_large", "q19_disjunct", "q20_parts",
      "q21_waiting", "q22_anti")
    val headline = results.filter(r => tpch21.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + math.round(v * 100).toString }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${results.size},"qunit":"centisec","med_of":$runs,"heap_mb":$heapMb,"queries":$headline,"full":"$fullName","sf":"${sfDir.split('/').last}"}""")
  }
}
