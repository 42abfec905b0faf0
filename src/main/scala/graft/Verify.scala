package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[w,c,mem] runs the WHOLE oracle gate
    // across real executor JVMs (same wiring as Bench/ClusterMode) — the
    // multi-executor rehearsal's correctness half.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val cluster = ClusterMode.spec(master)
    if (cluster.isDefined) ClusterMode.ensureSparkHomeShim()
    val builder = SparkSession.builder()
      .master(master)
      // engine extensions (function pack, planner strategy, broadcast
      // guard) — attachable only at builder time; the register()-time
      // ExperimentalMethods hook is the fallback for sessions built
      // elsewhere, but the gate session should be a first-class one
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    cluster.foreach { c =>
      builder
        .config("spark.executor.memory", s"${c.memMb}m")
        .config("spark.executor.extraClassPath", ClusterMode.absoluteClassPath)
        .config("spark.executor.extraJavaOptions", ClusterMode.executorJavaOptions)
        .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Manifest FIRST (replacing any stale one from a previous run in this
    // out_dir): if this JVM dies mid-loop, the checker still knows the full
    // expected set and flags every query with no output dir — a manifest
    // written after the loop covers only runs that completed.
    Files.deleteIfExists(Paths.get(s"$outDir/queries.txt"))
    Files.writeString(Paths.get(s"$outDir/queries.txt"),
      SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n"))
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      // Non-ASCII (the UTF-8 gate corpus carries multilingual literals):
      // escape to \uXXXX so the dump is pure ASCII and immune to the
      // consumer's locale default encoding. Java strings hold supplementary
      // chars as surrogate pairs; escaping each half yields the valid JSON
      // surrogate-escape form.
      case c if c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
