package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One benchmark run: one workload, one local-mode session, one
  * closed-loop client (the next operation starts when the previous one
  * has returned). Prints context lines, then the result JSON as the last
  * line of standard output. Run through `perfbench/run.py`, which builds
  * the program and sets up the JVM.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --size full|smoke
  * --dir D (a fresh directory this run owns).
  */
object Bench {

  /** Input sizes and the least work a run measures: `minPasses` timed
    * query passes, `daily` daily batches and `minReplays` replays.
    */
  final case class Size(tables: Gen.Counts, elt: Gen.Counts, daily: Int, minReplays: Int,
      minPasses: Int)

  val sizes: Map[String, Size] = Map(
    "full" -> Size(Gen.Counts(0.01, 500, 500), Gen.Counts(0.001, 0, 0), daily = 1, minReplays = 1,
      minPasses = 2),
    "smoke" -> Size(Gen.Counts(0.001, 200, 200), Gen.Counts(0.001, 0, 0), daily = 2, minReplays = 1,
      minPasses = 1))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      sizeName: String, dir: Path) {
    val size: Size = sizes.getOrElse(sizeName,
      throw new IllegalArgumentException(s"unknown --size $sizeName"))
  }

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("size", "full"), Paths.get(need("dir")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads.byName.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1")
    // compile the reference rounds before any are recorded; not set-up of the program
    val (_, referenceWarmS) = time((1 to 10).foreach(_ => Reference.round(cpus.toInt)))
    val spark = graft.GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", a.dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - referenceWarmS
    try {
      val sc = spark.sparkContext
      println(Json.obj("engine" -> Json.obj(
        "master" -> Json.str(sc.master),
        "default_parallelism" -> sc.defaultParallelism.toString,
        "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")))))
      val r = workload.run(spark, a)
      val slowdown = Reference.slowdown
      println(Json.obj("detail" -> Json.obj((r.detail ++ Seq("startup_s" -> Json.num(startupS),
        "suite_cpu_s" -> Json.num(r.suiteCpuS), "op_cpu_geomean_s" -> Json.num(r.opCpuGeomeanS),
        "host_slowdown" -> Json.num(slowdown),
        "reference_round_s" -> Reference.recorded.map(Json.num).mkString("[", ",", "]"))).toSeq: _*)))
      val endToEnd = Seq(Metric("setup_s", startupS + r.setupS, "s"),
        Metric("suite_cpu_norm_s", r.suiteCpuS / slowdown, "s"),
        Metric("op_cpu_geomean_norm_s", r.opCpuGeomeanS / slowdown, "s"))
      // a traced run's end-to-end numbers, for the tracing overhead
      if (a.trace) println(Json.obj("traced" -> metricsJson(endToEnd)))
      val metrics = if (a.trace) r.perLayer else endToEnd
      println(Json.obj(
        "correct" -> (r.failed == 0).toString,
        "attempted" -> r.attempted.toString,
        "failed" -> r.failed.toString,
        "metrics" -> metricsJson(metrics)))
    } finally spark.stop()
  }

  private def metricsJson(ms: Seq[Metric]): String = Json.obj(ms.map { case Metric(n, v, unit) =>
    n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit))
  }: _*)

  // ───── shared helpers ─────

  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload measured. The end-to-end metrics every workload
    * reports: `setupS` (set-up wall time after the session is up),
    * `suiteCpuS` (process CPU seconds of one pass) and `opCpuGeomeanS`
    * (geometric mean of the CPU seconds of the pass's operations).
    */
  final case class Result(attempted: Long, failed: Long, setupS: Double, suiteCpuS: Double,
      opCpuGeomeanS: Double, perLayer: Seq[Metric], detail: Map[String, String])

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads (engine, GC and JIT).
    * The kernel leaves out the time the hypervisor gave the CPUs to other
    * guests, which wall time includes.
    */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** `f`'s value, wall seconds and process CPU seconds. */
  def timeCpu[T](f: => T): (T, Double, Double) = {
    val c0 = cpuS()
    val (v, wall) = time(f)
    (v, wall, cpuS() - c0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  /** Write `df` to the noop sink and return its row count, taken by an
    * Observation on the same write so it adds no job.
    */
  def noopCount(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Storage the block managers hold for cached RDD blocks (memory + disk). */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
