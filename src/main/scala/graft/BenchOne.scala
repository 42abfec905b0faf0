package graft

import org.apache.spark.sql.SparkSession

/** Maintenance tool: time ONE registered query N times in a warm session,
  * separating first-run (codegen + AQE planning) cost from steady state.
  * `java -cp ... graft.BenchOne <query> [sfDir] [reps]`
  * `reps <= 0` prints the query's formatted plan instead of timing it —
  * the plan-audit companion for scale corpora, where join strategies
  * (broadcast vs shuffle) flip with input size. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    def usage(): Nothing = {
      System.err.println(
        "usage: graft.BenchOne <query> [sfDir] [reps]\n" +
        "registered queries:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    if (args.isEmpty) usage()
    val name = args(0)
    if (!SparkEntry.queries.contains(name)) {
      System.err.println(s"unknown query '$name'")
      usage()
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt)
      .getOrElse(Engine.sizedShufflePartitions(sfDir, cpus.toInt))
    // SPARK_GRAFT_MASTER=local-cluster[w,c,memMb] audits a query in the
    // multi-executor shape (same contract as Bench — real executor JVMs,
    // netty shuffle); broadcast threshold then sizes from EXECUTOR heap.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val cluster = ClusterMode.spec(master)
    val isCluster = cluster.isDefined
    val (executorMemMb, totalCores) =
      cluster.fold((0, cpus.toInt))(c => (c.memMb, c.workers * c.cores))
    if (isCluster) ClusterMode.ensureSparkHomeShim()
    val builder = SparkSession.builder()
      .master(master)
      // engine extensions — see Verify/Bench; the plan-audit session must
      // plan with the same rules the engine sessions do
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        math.max(shufflePartitions, totalCores))
      .config("spark.sql.autoBroadcastJoinThreshold",
        Engine.sizedBroadcastThreshold(
          if (isCluster) executorMemMb * 1024L * 1024L
          else Runtime.getRuntime.maxMemory))
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
    if (reps <= 0) {
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      spark.stop()
      return
    }
    SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save() // session warmup
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[$name] run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
