package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{DedupQueries, DeltaIndex, IvfAnn, MinhashIndex}

/** One benchmark run in one JVM: a closed loop with one client against the
  * session the engine ships (`graft.Engine.builder`, sized for the corpus).
  *
  * Phases: one set-up, timed from JVM start (the caller gives the JVM a fresh
  * `java.io.tmpdir`, so standing artifacts are always built and timed),
  * calibration, one cold pass, `settle` settling passes (not reported: the
  * JIT compiler is still busy, and the passes it slows vary most from run to
  * run), measured passes until `seconds` have elapsed since the cold or last
  * settling pass ended, a full GC with the session still open, calibration
  * again.
  * Each pass runs every operation of the workload once in an order drawn from
  * the seed.
  * Outputs are fingerprinted off the timed path; the cold pass's outputs are
  * written out for the oracle check the caller runs.
  *
  * With `trace=1` the measured passes alternate between traced passes (a listener
  * records every job, stage, task and SQL execution; counters are read only
  * after the listener bus drains, outside the operation's timing) and
  * untraced ones, so the record carries the tracing overhead too.
  *
  * Arguments are `--key value` pairs; run.py in the parent directory is the
  * only caller. The record is written as JSON to `--record`. */
object Harness {

  final case class Op(name: String, kind: String, body: SparkSession => Option[DataFrame])

  final case class OpResult(name: String, kind: String, pass: Int, traced: Boolean,
                            wall: Double, builder: Double, plan: Double, exec: Double,
                            rows: Option[Array[Row]], schema: Option[StructType],
                            error: Option[String], layers: Map[String, Double])

  private var sink = 0L

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def list(key: String): Seq[String] =
      opt.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val settle = opt("settle").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val outputs = work.resolve("outputs")
    val dataDir = opt("data")
    val master = s"local[$cores]"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val w = new Composite(
      Seq(new Registry(dataDir, list("ops"))) ++
        (if (opt("churn") == "1") Seq(new Churn(dataDir, work.resolve("corpus"))) else Nil))

    // ---- set-up: session, catalog, standing artifacts --------------------
    val t0 = System.nanoTime()
    val spark = {
      val s = graft.Engine.builder(master)
        .config("spark.sql.shuffle.partitions",
          graft.Engine.sizedShufflePartitions(w.sizingDir, cores).toLong)
        .config("spark.sql.autoBroadcastJoinThreshold",
          graft.Engine.sizedBroadcastThreshold(Runtime.getRuntime.maxMemory))
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.functions.GraftFunctions.register(s, overrideBuiltins = true)
      s
    }
    val t1 = System.nanoTime()
    w.openTables(spark)
    val t2 = System.nanoTime()
    w.buildArtifacts(spark)
    val t3 = System.nanoTime()
    val setup = Map("setup_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "Engine.session_s" -> (t1 - t0) / 1e9, "Tables.open_s" -> (t2 - t1) / 1e9,
      "StandingIndex.build_s" -> (t3 - t2) / 1e9)
    val calibBefore = calibrate()
    val sc = spark.sparkContext
    val listener = new OpListener

    // ---- passes ----------------------------------------------------------
    val results = mutable.ArrayBuffer[OpResult]()
    val passes = mutable.ArrayBuffer[Map[String, Double]]()
    val reference = mutable.Map[String, String]() // op name -> fingerprint
    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    def fail(pass: Int, op: Op, why: String): Unit =
      failures += Map("pass" -> pass, "op" -> op.name, "error" -> why)
    val coldOutputs = mutable.LinkedHashMap[String, (Array[Row], StructType)]()

    def runOp(op: Op, pass: Int, traced: Boolean): OpResult = {
      val group = s"$workload-p$pass-${op.name}"
      if (traced) { org.apache.spark.BusDrain(sc); listener.swap() }
      sc.setJobGroup(group, s"$workload pass $pass ${op.name}")
      var df: Option[DataFrame] = None
      var rows: Option[Array[Row]] = None
      var error: Option[String] = None
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1, t2 = t0
      var m1 = m0
      try {
        df = op.body(spark)
        t1 = System.nanoTime(); m1 = System.currentTimeMillis()
        if (traced) df.foreach(_.queryExecution.executedPlan)
        t2 = System.nanoTime()
        rows = df.map(_.collect())
      } catch {
        case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val t3 = System.nanoTime()
      val m3 = System.currentTimeMillis()
      sc.clearJobGroup()
      if (error.isDefined) { t1 = math.max(t1, t0); t2 = math.max(t2, t1) }
      val wall = (t3 - t0) / 1e9
      val (builder, plan, exec) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.BusDrain(sc)
          val phases = df.map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
          def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          val spans = Trace.layers(listener.swap(), group, m0, m1, m3)
          // driver time in the collect that no Spark job covers
          val unattributed = spans("exec.gap_s") - spans("builder.self_s") - plan
          spans ++ Map(
            "builder.s" -> builder, "plan.s" -> plan, "exec.s" -> exec,
            "plan.analysis_s" -> phase("analysis"),
            "plan.optimization_s" -> phase("optimization"),
            "plan.planning_s" -> phase("planning"),
            "op.unattributed_s" -> unattributed)
        }
      OpResult(op.name, op.kind, pass, traced, wall, builder, plan, exec, rows,
        df.map(_.schema), error, layers)
    }

    def heapAfterGcMb(): Double =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

    def runPass(pass: Int, traced: Boolean): Unit = {
      if (traced) sc.addSparkListener(listener)
      val passStartMs = System.currentTimeMillis()
      val ops = w.pass(spark, pass, new Random(seed * 1000003L + pass))
      val cpu0 = processCpuNs()
      val jit0 = jitMs()
      val gc0 = gcMs()
      val rs = mutable.ArrayBuffer[OpResult]()
      ops.foreach { op =>
        w.beforeOp(op)
        val r = runOp(op, pass, traced)
        rs += r
        w.afterOp(spark, op, r)
        // correctness, off the timed path
        val key = op.name
        r.error match {
          case Some(e) => fail(pass, op, e)
          case None =>
            val fp = fingerprint(r.rows.getOrElse(Array.empty))
            reference.get(key) match {
              case None =>
                reference(key) = fp
                try w.check(spark, op, r.rows).foreach(fail(pass, op, _))
                catch { case e: Exception => fail(pass, op, s"check failed: $e") }
                if (op.kind == "query")
                  for (rows <- r.rows; schema <- r.schema) coldOutputs(key) = (rows, schema)
              case Some(ref) if ref != fp =>
                fail(pass, op, "output differs from the checked first pass")
              case _ => ()
            }
        }
      }
      if (traced) sc.removeSparkListener(listener)
      results ++= rs.map(_.copy(rows = None))
      passes += (Map(
        "pass" -> pass.toDouble, "traced" -> (if (traced) 1.0 else 0.0),
        "start_s" -> (passStartMs - jvmStartMs) / 1e3,
        "pass_s" -> rs.map(_.wall).sum,
        "process_cpu_s" -> (processCpuNs() - cpu0) / 1e9,
        "jit_s" -> (jitMs() - jit0) / 1e3,
        "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
        "jvm.heap_after_gc_mb" -> heapAfterGcMb()) ++ w.passStats(spark, rs.toSeq))
    }

    (0 to settle).foreach(runPass(_, traced = false))
    val warmStart = System.nanoTime()
    var pass = settle + 1
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    def counts(traced: Boolean) =
      passes.count(p => p("pass") > settle && (p("traced") == 1.0) == traced)
    while (elapsed < seconds || counts(false) < 2 || (trace && counts(true) < 2)) {
      runPass(pass, traced = trace && (pass - settle) % 2 == 0)
      pass += 1
    }
    val measuredWall = elapsed

    // ---- off the timed path: outputs for the oracle check ----------------
    Files.createDirectories(outputs)
    coldOutputs.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(outputs.resolve(name).toString)
    }
    val checked = coldOutputs.keys.toSeq
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => checked.contains(k) }
    coldOutputs.clear()

    val confs = sc.getConf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => Set("spark.app.id", "spark.app.startTime",
        "spark.driver.port", "spark.driver.host", "spark.executor.id",
        "spark.app.submitTime", "spark.driver.extraJavaOptions",
        "spark.executor.extraJavaOptions")(k) }
    val heapMaxMb = Runtime.getRuntime.maxMemory / 1048576.0
    // what the engine retains: read with the session still open, after full
    // GCs until the heap stops shrinking. Each GC lets Spark's ContextCleaner
    // drop the blocks of broadcasts found unreachable, and the next reclaims them.
    def heapMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var retainedMb = heapMb()
    var shrunk = true
    while (shrunk) {
      Thread.sleep(200)
      val now = heapMb()
      shrunk = now < retainedMb - 1.0
      retainedMb = math.min(retainedMb, now)
    }
    spark.stop()
    val calibAfter = calibrate()

    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "master" -> master, "cores" -> cores, "heap_max_mb" -> heapMaxMb,
      "confs" -> confs.map { case (k, v) => k -> v }.toMap,
      "setup" -> setup, "settle_passes" -> settle, "passes" -> passes.toSeq,
      "measured_wall_s" -> measuredWall,
      "ops" -> results.toSeq.map { r =>
        Map("name" -> r.name, "kind" -> r.kind, "pass" -> r.pass, "traced" -> r.traced,
          "wall_s" -> r.wall, "builder_s" -> r.builder, "plan_s" -> r.plan,
          "exec_s" -> r.exec, "error" -> r.error.orNull, "layers" -> r.layers)
      },
      "failures" -> failures.toSeq,
      "checked_outputs" -> checked,
      "oracle_sql" -> oracle,
      "retained_heap_mb" -> retainedMb,
      "host.calib_s" -> Seq(calibBefore, calibAfter),
      "sink" -> (sink & 1L))
    Files.write(Paths.get(opt("record")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))
    deleteTree(work.resolve("corpus"))
  }

  /** Fixed pure-JVM CPU work: a slow host window shows up here too. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink += x
    (System.nanoTime() - t0) / 1e9
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compiler threads spent compiling, summed over threads. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Order-insensitive digest of a result. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def deleteTree(p: Path): Unit =
    if (p != null && Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else org.apache.commons.io.FileUtils.sizeOfDirectory(p.toFile)

  // ======================================================================

  trait Workload {
    /** Directory whose size sizes the shuffle partitions. */
    def sizingDir: String
    def openTables(spark: SparkSession): Unit
    def buildArtifacts(spark: SparkSession): Unit
    def pass(spark: SparkSession, pass: Int, rng: Random): Seq[Op]
    def beforeOp(op: Op): Unit = ()
    def afterOp(spark: SparkSession, op: Op, r: OpResult): Unit = ()
    /** Inline check of a first-pass output; `Some(reason)` on mismatch. */
    def check(spark: SparkSession, op: Op, rows: Option[Array[Row]]): Option[String] = None
    def passStats(spark: SparkSession, rs: Seq[OpResult]): Map[String, Double] = Map.empty
  }

  /** Registry queries over a generated corpus: `graft.SparkEntry.queries`. */
  final class Registry(dir: String, names: Seq[String]) extends Workload {
    private val registry = graft.SparkEntry.queries
    names.filterNot(registry.contains).foreach { n =>
      sys.error(s"not in the registry: $n")
    }
    private val ops = names.map(n => Op(n, "query", s => Some(registry(n)(s, dir))))
    def sizingDir: String = dir
    def openTables(spark: SparkSession): Unit = graft.Engine.openCatalog(spark, dir)
    def buildArtifacts(spark: SparkSession): Unit = ()
    def pass(spark: SparkSession, pass: Int, rng: Random): Seq[Op] = rng.shuffle(ops)
  }

  /** The parts' operations, one part after the other in each pass. */
  final class Composite(parts: Seq[Workload]) extends Workload {
    def sizingDir: String = parts.head.sizingDir
    def openTables(spark: SparkSession): Unit = parts.foreach(_.openTables(spark))
    def buildArtifacts(spark: SparkSession): Unit = parts.foreach(_.buildArtifacts(spark))
    def pass(spark: SparkSession, pass: Int, rng: Random): Seq[Op] =
      parts.flatMap(_.pass(spark, pass, rng))
    override def beforeOp(op: Op): Unit = parts.foreach(_.beforeOp(op))
    override def afterOp(spark: SparkSession, op: Op, r: OpResult): Unit =
      parts.foreach(_.afterOp(spark, op, r))
    override def check(spark: SparkSession, op: Op, rows: Option[Array[Row]]): Option[String] =
      parts.iterator.flatMap(_.check(spark, op, rows)).nextOption()
    override def passStats(spark: SparkSession, rs: Seq[OpResult]): Map[String, Double] =
      parts.map(_.passStats(spark, rs)).reduce(_ ++ _)
  }

  /** Writes beside reads on the incremental standing artifacts. Every pass
    * starts from the initial corpus and a copy of its initial artifacts, and
    * replays the append batches the seed drew: a documents batch and an
    * embeddings batch arrive, each is synced (`ensureIncremental`, compaction
    * on the engine's own cadence; one live batch at most, so every sync
    * compacts) and then probed. Every pass is therefore the same sequence of
    * states. */
  final class Churn(genDir: String, corpus: Path) extends Workload {
    private val maxLive = 1
    private val docs = corpus.resolve("documents.parquet")
    private val embs = corpus.resolve("embeddings.parquet")
    private val batches = Paths.get(genDir, "churn")
    private var mhDirs: Seq[String] = Nil
    private var ivf: (String, Seq[String]) = ("", Nil)
    private var queries: DataFrame = _
    private var compacted = Set.empty[String]
    private var seenBatches = Set.empty[Path]
    private var bytesWritten = 0L

    private def reset(): Unit = {
      deleteTree(corpus)
      Seq("documents" -> docs, "embeddings" -> embs).foreach { case (t, d) =>
        Files.createDirectories(d)
        Files.copy(batches.resolve(s"${t}_initial.parquet"), d.resolve("part-initial.parquet"))
      }
    }
    private def append(table: String): Unit = {
      val d = if (table == "documents") docs else embs
      Files.copy(batches.resolve(s"${table}_batch.parquet"), d.resolve("part-batch.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    /** The artifact roots of this corpus (DeltaIndex keys them by table path). */
    private def roots: Seq[Path] = {
      val tmp = Paths.get(sys.props("java.io.tmpdir"))
      val keys = Seq("documents", "embeddings")
        .map(t => DeltaIndex.root(corpus.toString, t, "").getFileName.toString)
      Files.list(tmp).iterator().asScala.filter { p =>
        Files.isDirectory(p) && keys.exists(p.getFileName.toString.endsWith)
      }.toSeq
    }
    private def liveDirs: Seq[Path] =
      roots.flatMap(r => Files.list(r).iterator().asScala.filter(Files.isDirectory(_)).toSeq)
    private var initial: (Seq[String], (String, Seq[String])) = _
    private def sync(spark: SparkSession): Unit = {
      mhDirs = MinhashIndex.ensureIncremental(spark, corpus.toString, maxLiveBatches = maxLive)
      ivf = IvfAnn.ensureIncremental(spark, corpus.toString, nlist = 16, maxLiveBatches = maxLive)
      initial = (mhDirs, ivf)
    }

    def sizingDir: String = genDir
    def openTables(spark: SparkSession): Unit = {
      reset()
      spark.read.parquet(docs.toString).schema
      spark.read.parquet(embs.toString).schema
    }
    /** The initial artifacts, kept so that each pass restarts from them. */
    private val snapshot = corpus.resolveSibling("artifact-snapshot")

    def buildArtifacts(spark: SparkSession): Unit = {
      sync(spark)
      deleteTree(snapshot)
      roots.foreach(r => org.apache.commons.io.FileUtils.copyDirectory(
        r.toFile, snapshot.resolve(r.getFileName.toString).toFile))
    }

    def pass(spark: SparkSession, pass: Int, rng: Random): Seq[Op] = {
      if (pass > 0) { // start over: the initial corpus and its artifacts
        Seq(docs, embs).foreach(d => Files.list(d).iterator().asScala
          .filter(_.getFileName.toString != "part-initial.parquet").foreach(Files.delete))
        roots.foreach(deleteTree)
        val tmp = Paths.get(sys.props("java.io.tmpdir"))
        Files.list(snapshot).iterator().asScala.foreach(r => org.apache.commons.io.FileUtils
          .copyDirectory(r.toFile, tmp.resolve(r.getFileName.toString).toFile))
        mhDirs = initial._1
        ivf = initial._2
      }
      seenBatches = liveDirs.toSet
      bytesWritten = 0L
      compacted = Set.empty
      queries = spark.read.parquet(batches.resolve("queries.parquet").toString)
      arrivals("sync_minhash") = () => append("documents")
      arrivals("sync_ivf") = () => append("embeddings")
      Seq(
        Op("sync_minhash", "write", s => {
          val before = mhDirs.size
          mhDirs = MinhashIndex.ensureIncremental(s, corpus.toString, maxLiveBatches = maxLive)
          if (mhDirs.size <= before) compacted += "sync_minhash"
          None
        }),
        Op("probe_minhash", "read", s => Some(MinhashIndex.pairsIndexedMulti(s, mhDirs))),
        Op("sync_ivf", "write", s => {
          val before = ivf._2.size
          ivf = IvfAnn.ensureIncremental(s, corpus.toString, nlist = 16, maxLiveBatches = maxLive)
          if (ivf._2.size <= before) compacted += "sync_ivf"
          None
        }),
        Op("probe_ivf", "read",
          s => Some(IvfAnn.searchIndexedMulti(s, ivf._1, ivf._2, queries, 5, 4))))
    }

    /** A batch arrives just before the sync that picks it up, off the clock. */
    private val arrivals = mutable.Map[String, () => Unit]()
    override def beforeOp(op: Op): Unit = arrivals.remove(op.name).foreach(_.apply())

    override def afterOp(spark: SparkSession, op: Op, r: OpResult): Unit =
      if (op.kind == "write") {
        val now = liveDirs.toSet
        bytesWritten += (now -- seenBatches).toSeq.map(treeBytes).sum
        seenBatches = now
      }

    /** A probe must equal the inline sweep over the current corpus. */
    override def check(spark: SparkSession, op: Op, rows: Option[Array[Row]]): Option[String] = {
      val got = rows.map(fingerprint)
      val want =
        if (op.name == "probe_minhash")
          Some(fingerprint(DedupQueries.minhashPairs(spark.read.parquet(docs.toString)).collect()))
        else if (op.name == "probe_ivf") {
          val full = corpus.resolve("inline_index")
          IvfAnn.assignCells(spark.read.parquet(embs.toString), spark.read.parquet(ivf._1))
            .select("vec_id", "embedding", "cell_id")
            .write.mode("overwrite").partitionBy("cell_id").parquet(full.toString)
          val rows = IvfAnn.searchIndexedMulti(spark, ivf._1, Seq(full.toString), queries, 5, 4)
            .collect()
          deleteTree(full)
          Some(fingerprint(rows))
        } else None
      if (want.isDefined && want != got) Some("probe differs from the inline sweep") else None
    }

    override def passStats(spark: SparkSession, rs: Seq[OpResult]): Map[String, Double] = {
      val stored = roots.map(treeBytes).sum.toDouble
      val input = (treeBytes(docs) + treeBytes(embs)).toDouble
      val writes = rs.filter(_.kind == "write")
      Map(
        "DeltaIndex.sync_s" -> writes.map(_.wall).sum,
        "DeltaIndex.compact_s" -> writes.filter(r => compacted(r.name)).map(_.wall).sum,
        "probe.s" -> rs.filter(_.kind == "read").map(_.wall).sum,
        "DeltaIndex.live_batches" -> (mhDirs.size + ivf._2.size).toDouble,
        "DeltaIndex.bytes" -> stored,
        "DeltaIndex.bytes_written" -> bytesWritten.toDouble,
        "bytes_stored_per_input_byte" -> stored / input)
    }
  }
}
