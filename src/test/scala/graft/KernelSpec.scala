package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.functions._

/** Every codegen kernel in [[graft.functions]], two ways:
  *
  *  - compiled: each kernel runs once over a parquet-backed frame with
  *    codegen fallback off, so generated Java that does not compile (a
  *    wrong static signature, a boxed/primitive mismatch) fails the test
  *    instead of quietly falling back to interpreted evaluation. The kernel
  *    must sit inside a WholeStageCodegenExec, and its rows must equal the
  *    interpreted evaluation's. Parquet input, not a local Seq, because
  *    ConvertToLocalRelation would fold the projection away.
  *  - typed: a wrong input type fails analysis, and is never implicitly
  *    cast (e.g. array<double> narrowed to array<float> for `dot`).
  */
class KernelSpec extends SparkSpec {

  private def isKernel(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.objectName.startsWith("graft.functions.")
    case other => other.getClass.getName.startsWith("graft.functions.")
  }

  private lazy val fixture: DataFrame = {
    val path = tmp("kernel-fixture") + "/data"
    val id = col("id")
    def unlessEvery(k: Int, c: Column) = when(id % k =!= 0, c)
    val toks = transform(sequence(lit(0), (id % 6).cast("int")), x =>
      when(x =!= 3, concat(lit("t"), ((x + id) % 4).cast("string"))))
    val flts = transform(sequence(lit(0), lit(7)),
      x => ((x - id % 3) * 0.5).cast("float"))
    def cents(t: String) = array((0L until 3L).map(c => struct(
      lit(c).as("id"),
      array((0 until 8).map(d => lit(((c + d) % 3).toDouble)): _*)
        .cast(s"array<$t>").as("centroid"),
      lit(math.sqrt((0 until 8).map(d => math.pow((c + d) % 3, 2)).sum))
        .as("cnorm"))): _*)
    val ts = timestamp_seconds(id)
    spark.range(0, 48, 1, 2).select(
      id,
      unlessEvery(9, toks).as("toks"),
      unlessEvery(11, transform(sequence(lit(0L), lit(39L)), x => x * id + 7))
        .as("longs"),
      array_sort(array_distinct(transform(sequence(lit(0L), id % 5),
        x => (x * 3) % 7))).as("set_a"),
      array_sort(array_distinct(transform(sequence(lit(0L), id % 4),
        x => (x * 2) % 7))).as("set_b"),
      unlessEvery(13, flts).as("flts"),
      reverse(flts).as("flts2"),
      flts.cast("array<double>").as("dbls"),
      unlessEvery(10, concat(lit("lorem ipsum dolor "), id.cast("string")))
        .as("text"),
      (id % 7).cast("int").as("i"), (id % 5).cast("int").as("i2"),
      (id % 9).cast("int").as("i3"), (id % 4).cast("int").as("i4"),
      (id % 4).cast("double").as("scale"),
      cents("float").as("cents_f"), cents("double").as("cents_d"),
      id.cast("boolean").as("t_bool"), id.cast("tinyint").as("t_byte"),
      id.cast("smallint").as("t_short"), id.cast("int").as("t_int"),
      id.as("t_long"), id.cast("float").as("t_float"),
      id.cast("double").as("t_double"), id.cast("string").as("t_string"),
      id.cast("string").cast("binary").as("t_binary"),
      date_add(lit("2024-01-01").cast("date"), id.cast("int")).as("t_date"),
      ts.as("t_ts"), ts.cast("timestamp_ntz").as("t_ts_ntz")
    ).write.parquet(path)
    spark.read.parquet(path)
  }

  private val fnvInputs = Seq("t_bool", "t_byte", "t_short", "t_int",
    "t_long", "t_float", "t_double", "t_string", "t_binary", "t_date",
    "t_ts", "t_ts_ntz")

  private val kernels: Seq[(String, Column)] = Seq(
    "band_hashes" -> BandHashes(col("longs"), 8, 4),
    "simhash64" -> SimHash(col("longs")),
    "term_counts" -> TermCounts(col("toks")),
    "token_set_hits" -> TokenSetHits(col("toks"), Seq("t1", "t2")),
    "top_run_frac" -> TopRunFrac(col("toks")),
    "ppjoin_position_ok" ->
      PpjoinPositionOk(col("i"), col("i2"), col("i3"), col("i4"), 0.5),
    "argmax_sim float" -> ArgmaxSim(col("flts"), col("cents_f"), roundTo6 = true),
    "argmax_sim double" -> ArgmaxSim(col("dbls"), col("cents_d"), roundTo6 = false),
    "dot" -> VectorOps.dot(col("flts"), col("flts2")),
    "dot_double" -> VectorOps.dotDouble(col("dbls"), col("dbls")),
    "dot_long" -> VectorOps.dotLong(col("longs"), col("longs")),
    "jaccard_sorted" -> VectorOps.jaccard(col("set_a"), col("set_b")),
    "minhash32" -> VectorOps.minhashSignature(col("longs")),
    "word_ngrams" -> WordNgrams(col("toks"), 2, distinct = false),
    "word_ngrams distinct" -> WordNgrams(col("toks"), 2, distinct = true),
    "ngram_fnv" -> NgramFnv(col("toks"), 2),
    "fnv_hash_array" -> FnvHashArray(col("toks")),
    "abs_max" -> AbsMax(col("flts")),
    "int8_quantize" -> Int8Quantize(col("flts"), col("scale")),
    "hyperplane_signature" -> HyperplaneLsh(col("flts"), lit(1)),
    "winnow" -> Winnow(col("text"))
  ) ++ fnvInputs.map(c => s"fnv_hash $c" -> FnvHash(col(c)))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** (plan node evaluating a kernel, whether it is inside whole-stage
    * codegen) for every such node of `plan`. */
  private def kernelNodes(plan: SparkPlan, codegen: Boolean): Seq[(SparkPlan, Boolean)] =
    plan match {
      case a: AdaptiveSparkPlanExec => kernelNodes(a.executedPlan, codegen)
      case w: WholeStageCodegenExec => kernelNodes(w.child, codegen = true)
      case i: InputAdapter => kernelNodes(i.child, codegen = false)
      case p =>
        (if (p.expressions.exists(_.exists(isKernel))) Seq(p -> codegen) else Nil) ++
          p.children.flatMap(kernelNodes(_, codegen))
    }

  for ((name, kernel) <- kernels)
    test(s"$name compiles inside whole-stage codegen, equal to interpreted") {
      val q = () => fixture.select(col("id"), kernel.as("k"))
      val (compiled, plan) = withConf(
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.fallback" -> "false") {
        val df = q()
        (df.collect().sortBy(_.getLong(0)).toSeq, df.queryExecution.executedPlan)
      }
      val nodes = kernelNodes(plan, codegen = false)
      assert(nodes.nonEmpty && nodes.forall(_._2),
        s"kernel not (only) inside WholeStageCodegenExec:\n$plan")
      val interpreted = withConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        q().collect().sortBy(_.getLong(0)).toSeq
      }
      assert(compiled.size == 48)
      assert(compiled == interpreted)
    }

  private lazy val typed: DataFrame = spark.range(1).select(
    array(lit(1), lit(2)).as("ints"),
    array(lit(1.5), lit(2.5)).as("dbls"),
    array(lit(1.5f), lit(2.5f)).as("flts"),
    array(lit("a"), lit("b")).as("toks"),
    col("id").cast("bigint").as("big"),
    col("id").cast("int").as("int"),
    col("id").cast("float").as("flt"),
    col("id").cast("double").as("dbl"),
    col("id").cast("decimal(10,2)").as("dec"),
    array(struct(col("id").as("id"), array(lit(1.0)).as("centroid"),
      lit(1.0).as("cnorm"))).as("cents_d"))

  private val wrongTypes: Seq[(String, Column)] = Seq(
    "band_hashes(array<int>)" -> BandHashes(col("ints"), 8, 4),
    "fnv_hash(decimal)" -> FnvHash(col("dec")),
    "fnv_hash(array<string>)" -> FnvHash(col("toks")),
    "simhash64(array<int>)" -> SimHash(col("ints")),
    "term_counts(array<int>)" -> TermCounts(col("ints")),
    "token_set_hits(array<int>)" -> TokenSetHits(col("ints"), Seq("a")),
    "top_run_frac(array<int>)" -> TopRunFrac(col("ints")),
    "ppjoin_position_ok(bigint, ...)" ->
      PpjoinPositionOk(col("big"), col("int"), col("int"), col("int"), 0.5),
    "argmax_sim(array<float>, double centroids)" ->
      ArgmaxSim(col("flts"), col("cents_d"), roundTo6 = false),
    "argmax_sim(array<int>, ...)" ->
      ArgmaxSim(col("ints"), col("cents_d"), roundTo6 = false),
    "dot(array<double>, array<double>)" -> VectorOps.dot(col("dbls"), col("dbls")),
    "dot_double(array<float>, array<float>)" ->
      VectorOps.dotDouble(col("flts"), col("flts")),
    "dot_long(array<int>, array<int>)" -> VectorOps.dotLong(col("ints"), col("ints")),
    "jaccard_sorted(array<int>, array<int>)" ->
      VectorOps.jaccard(col("ints"), col("ints")),
    "minhash32(array<int>)" -> VectorOps.minhashSignature(col("ints")),
    "word_ngrams(array<int>)" -> WordNgrams(col("ints"), 2, distinct = true),
    "ngram_fnv(array<int>)" -> NgramFnv(col("ints"), 2),
    "fnv_hash_array(array<int>)" -> FnvHashArray(col("ints")),
    "abs_max(array<double>)" -> AbsMax(col("dbls")),
    "int8_quantize(array<double>, double)" -> Int8Quantize(col("dbls"), col("dbl")),
    "int8_quantize(array<float>, float)" -> Int8Quantize(col("flts"), col("flt")),
    "hyperplane_signature(array<int>)" -> HyperplaneLsh(col("ints"), lit(0)),
    "winnow(int)" -> Winnow(col("int"))
  )

  test("a wrong kernel input type fails analysis, never implicitly cast") {
    for ((call, kernel) <- wrongTypes) {
      val e = withClue(s"$call: ") {
        intercept[AnalysisException](typed.select(kernel.as("k")))
      }
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"),
        s"$call: ${e.getMessage}")
    }
  }
}
