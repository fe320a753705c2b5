package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import perfbench.Bench._

trait Workload {
  def run(spark: SparkSession, a: Args): Result
}

object Workloads {

  /** Registry queries by layer group, keyed by name prefix (`q1` selects
    * `q1_pricing_summary`). Each group keeps its cheapest representatives:
    * the warm-up pass and two timed passes must fit one run.
    */
  val queryGroups: Seq[(String, Set[String])] = Seq(
    "queries.tpch" -> Set("q1", "q6"),
    "queries.core" -> Set("a1", "st2"),
    "queries.elt" -> Set("e2e1", "e2e2", "f4"),
    "operators.dedup" -> Set("d7"),
    "operators.text" -> Set("t3"),
    "operators.vector" -> Set("ann2"),
    "operators.curation" -> Set("e2e6"))

  val byName: Map[String, Workload] = Map(
    "elt_incremental" -> EltWorkload,
    "query_mix" -> new QueryWorkload(queryGroups))

  val eltGroups = Seq("etl.audit", "etl.staging", "etl.touched_months", "marts.state", "marts.present")
  val eltGroupMetrics = Seq("wall_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "cpu_s" -> "s", "rows_written" -> "count")
  val queryGroupMetrics = Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "cpu_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB",
    "spill_mb" -> "MB", "storage_mb_after" -> "MB")

  /** Every per-layer metric name with its unit, in report order. A traced
    * run reports all of them; groups the workload does not run read 0.
    */
  val perLayer: Seq[(String, String)] =
    Seq("backfill", "daily").flatMap { phase =>
      eltGroups.flatMap(g => eltGroupMetrics.map { case (m, u) => s"$phase.$g.$m" -> u }) ++
        Seq(s"$phase.app.load.wall_s" -> "s", s"$phase.app.run.wall_s" -> "s",
          s"$phase.app.run.other_s" -> "s")
    } ++ Seq("daily.etl.change_scan_evals" -> "count",
      "daily.etl.staging_rows_written_per_changed_row" -> "ratio",
      "daily.marts.web_partitions_rewritten" -> "count") ++
    queryGroups.flatMap { case (g, _) => queryGroupMetrics.map { case (m, u) => s"$g.$m" -> u } } ++
    Seq("engine.retained_storage_mb" -> "MB")

  def perLayerMetrics(measured: Map[String, Double]): Seq[Metric] = {
    val unknown = measured.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    perLayer.map { case (n, u) => Metric(n, measured.getOrElse(n, 0.0), u) }
  }
}

/** A read-only pass over a fixed list of registry queries, each written to
  * the noop sink. Set-up generates the tables and runs one untimed
  * warm-up pass, which also builds the state families' stores in this
  * run's own directories. Timed passes then repeat until the run's
  * seconds are used, at least `minPasses`.
  */
final class QueryWorkload(groups: Seq[(String, Set[String])]) extends Workload {

  private def groupOf(q: String): Option[String] = {
    val prefix = q.takeWhile(_ != '_')
    groups.collectFirst { case (g, ps) if ps(prefix) => g }
  }

  def run(spark: SparkSession, a: Args): Result = {
    val registry = graft.SparkEntry.queries
    // q1_incremental_mart shares the q1 prefix but is a state-family query,
    // not one of the 22 TPC-H queries
    val selected = registry.keys.toSeq.sorted
      .filterNot(_ == "q1_incremental_mart").flatMap(q => groupOf(q).map(q -> _))
    val order = new scala.util.Random(a.seed).shuffle(selected)
    val data = a.dir.resolve("tables").toString
    val expected = ExpectedCounts.read(a)

    val (_, genS) = time(Gen.tables(spark, data, a.size.tables))
    var failed = 0L
    var checks = 0L
    val warm = mutable.Map.empty[String, Long]
    val warmTimes = mutable.Map.empty[String, Double]
    val (_, warmS) = time(order.foreach { case (q, _) =>
      checks += 1
      try {
        val (n, dt) = time(noopCount(registry(q)(spark, data)))
        warm(q) = n
        warmTimes(q) = dt
        if (!expected.get(q).contains(n)) {
          System.err.println(s"[perfbench] $q: $n rows, recorded ${expected.get(q)}")
          failed += 1
        }
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] warm-up $q failed: $e"); failed += 1
      }
    })

    val trace = if (a.trace) Some(new Trace(spark).register()) else None
    val sc = spark.sparkContext
    val qTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val qCpu = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0L
    val start = System.nanoTime()
    while (passTimes.size < a.size.minPasses || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val before = trace.map(_.groups()).getOrElse(Map.empty)
      val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var passS, passC = 0.0
      order.foreach { case (q, g) =>
        attempted += 1
        if (a.trace) sc.setLocalProperty(Trace.GroupProperty, g)
        val st0 = if (a.trace) storageMb(spark) else 0.0
        try {
          val (n, dt, dc) = timeCpu(noopCount(registry(q)(spark, data)))
          qTimes.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dt
          qCpu.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dc
          passS += dt
          passC += dc
          layer(s"$g.wall_s") += dt
          if (!warm.get(q).contains(n)) {
            System.err.println(s"[perfbench] $q: $n rows, warm-up saw ${warm.get(q)}")
            failed += 1
          }
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e"); failed += 1
        }
        if (a.trace) {
          layer(s"$g.storage_mb_after") += storageMb(spark) - st0
          sc.setLocalProperty(Trace.GroupProperty, null)
        }
        Reference.sample(sc.defaultParallelism)
      }
      passTimes += passS
      passCpu += passC
      trace.foreach { t =>
        val after = t.groups()
        after.foreach { case (g, c) =>
          val b = before.getOrElse(g, new Counters)
          layer(s"$g.jobs") += c.jobs - b.jobs
          layer(s"$g.stages") += c.stages - b.stages
          layer(s"$g.tasks") += c.tasks - b.tasks
          layer(s"$g.cpu_s") += (c.cpuNs - b.cpuNs) / 1e9
          layer(s"$g.gc_s") += (c.gcMs - b.gcMs) / 1e3
          layer(s"$g.shuffle_mb") += (c.shuffleBytes - b.shuffleBytes) / 1048576.0
          layer(s"$g.spill_mb") += (c.spillBytes - b.spillBytes) / 1048576.0
        }
        perPass += layer.toMap
      }
    }
    trace.foreach(_.unregister())

    val medians = selected.map(_._1).flatMap(q => qTimes.get(q).map(ts => median(ts.toSeq)))
    val cpuMedians = selected.map(_._1).flatMap(q => qCpu.get(q).map(ts => median(ts.toSeq)))
    val perLayer = perPass.flatMap(_.keySet).distinct.map { k =>
      k -> median(perPass.map(_.getOrElse(k, 0.0)).toSeq)
    }.toMap + ("engine.retained_storage_mb" -> storageMb(spark))
    Result(attempted + checks, failed, genS + warmS, median(passCpu.toSeq), geomean(cpuMedians),
      Workloads.perLayerMetrics(perLayer),
      Map("passes" -> passTimes.size.toString, "queries" -> selected.size.toString,
        "tables_s" -> Json.num(genS), "warmup_s" -> Json.num(warmS),
        "warmup_counts" -> Json.obj(warm.toSeq.sorted.map { case (q, n) => q -> n.toString }: _*),
        "warmup_query_s" -> Json.obj(warmTimes.toSeq.sorted.map { case (q, t) => q -> Json.num(t) }: _*),
        "suite_s" -> Json.num(median(passTimes.toSeq)),
        "op_geomean_s" -> Json.num(geomean(medians)),
        "pass_s" -> passTimes.map(Json.num).mkString("[", ",", "]"),
        "pass_cpu_s" -> passCpu.map(Json.num).mkString("[", ",", "]"),
        "query_cpu_s_p50" -> Json.obj(selected.map(_._1).flatMap(q =>
          qCpu.get(q).map(ts => q -> Json.num(median(ts.toSeq)))): _*),
        "query_s_p50" -> Json.obj(selected.map(_._1).flatMap(q =>
          qTimes.get(q).map(ts => q -> Json.num(median(ts.toSeq)))): _*)))
  }
}

/** Row counts recorded at the commit that defined the benchmark, one
  * `size<TAB>query<TAB>rows` line each, for the fixed-seed query tables.
  */
object ExpectedCounts {
  def read(a: Args): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val f = java.nio.file.Paths.get(sys.env("PERFBENCH_EXPECTED_COUNTS"))
    Files.readAllLines(f).asScala.map(_.split('\t')).collect {
      case Array(a.sizeName, q, n) => q -> n.toLong
    }.toMap
  }
}

/** The product path: sheet CSVs → `Main.load` → `Main.runElt`, into one
  * fresh layer root. A backfill of every order dated before the last
  * `daily` order dates, then one batch per remaining date in date order,
  * then replays of already-loaded daily batches until the run's seconds
  * are used (at least `minReplays`). There is no warm-up: the backfill is
  * the JVM's first pass through the product path, as it is for a fresh
  * `Main` process.
  */
object EltWorkload extends Workload {
  import graft.app.Main

  private final case class Batch(name: String, dir: Path, rows: Int, ids: Set[Long], bytes: Long,
      dialect: Gen.Dialect)

  private final case class Timing(loadS: Double, runS: Double, cpuS: Double, runFromMs: Long,
      runToMs: Long, loadFromMs: Long, loadToMs: Long, webPartitionsRewritten: Int = 0) {
    def totalS: Double = loadS + runS
  }

  /** File names in each month partition of the web mart. */
  private def webPartitions(root: String): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    def names(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    val mart = java.nio.file.Paths.get(root, "mart_web_transactions")
    if (!Files.isDirectory(mart)) Map.empty
    else names(mart).filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("month="))
      .map(p => p.getFileName.toString -> names(p).map(_.getFileName.toString).toSet).toMap
  }

  private def timed(spark: SparkSession, root: String, b: Batch): Timing = {
    val l0 = System.currentTimeMillis()
    val c0 = cpuS()
    val (_, loadS) = time(Main.load(spark, root, b.dir.toString, "sheet"))
    val r0 = System.currentTimeMillis()
    val (_, runS) = time(Main.runElt(spark, root, None, test = false))
    Timing(loadS, runS, cpuS() - c0, r0, System.currentTimeMillis(), l0, r0)
  }

  private def makeBatches(spark: SparkSession, a: Args, out: Path): (Batch, Seq[Batch]) = {
    val rows = Gen.orderRows(spark, a.size.elt)
    val dates = rows.map(_.date).distinct.sorted
    val cut = dates(dates.size - a.size.daily)
    val rng = new scala.util.Random(a.seed)
    def batch(name: String, rs: Seq[Gen.OrderRow]): Batch = {
      val dir = out.resolve(name)
      val dialect = Gen.Dialect(ru = rng.nextBoolean())
      Batch(name, dir, rs.size, rs.map(_.key).toSet, Gen.writeCsv(dir, rs.sortBy(_.key), dialect),
        dialect)
    }
    val backfill = batch("backfill", rows.filter(_.date.isBefore(cut)))
    val daily = dates.filterNot(_.isBefore(cut)).zipWithIndex.map { case (d, i) =>
      batch(f"daily_$i%02d", rows.filter(_.date == d))
    }
    (backfill, daily)
  }

  /** Digest of a table's content, independent of row order. */
  private def digest(spark: SparkSession, path: String, cols: Seq[String]): (Long, Long) = {
    val r = spark.read.parquet(path)
      .select(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).cast("string"))
      .head()
    (r.getLong(0), Option(r.getString(1)).map(BigInt(_).hashCode.toLong).getOrElse(0L))
  }

  private def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  def run(spark: SparkSession, a: Args): Result = {
    val inputs = a.dir.resolve("csv")
    val genRuns = (1 to 3).map(_ => time(makeBatches(spark, a, inputs)))
    val (backfill, daily) = genRuns.last._1
    val genS = median(genRuns.map(_._2))
    val par = spark.sparkContext.defaultParallelism
    Reference.sample(par, 2)

    val root = a.dir.resolve("layers").toString
    val trace = if (a.trace) Some(new Trace(spark).register()) else None
    var failed = 0L
    var attempted = 0L
    val loaded = mutable.Set.empty[Long]

    def step(b: Batch): Option[Timing] = {
      attempted += 1
      try {
        val before = if (a.trace) webPartitions(root) else Map.empty[String, Set[String]]
        val t = timed(spark, root, b)
        Reference.sample(par, 2)
        loaded ++= b.ids
        if (!a.trace) Some(t)
        else {
          val after = webPartitions(root)
          Some(t.copy(webPartitionsRewritten = after.count { case (m, fs) => !before.get(m).contains(fs) }))
        }
      }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] batch ${b.name} failed: $e"); failed += 1; None
      }
    }
    def check(name: String)(ok: => Boolean): Unit = {
      attempted += 1
      val pass = try ok catch { case e: Exception =>
        System.err.println(s"[perfbench] check $name threw: $e"); false
      }
      if (!pass) { System.err.println(s"[perfbench] check failed: $name"); failed += 1 }
    }

    val start = System.nanoTime()
    val backfillT = step(backfill)
    val backfillLayers = backfillT.flatMap(t => trace.map(tr => attribute(tr, root, t)))
    val dailyT = daily.flatMap(step)
    val dailyLayers = trace.toSeq.flatMap(tr => dailyT.map(attribute(tr, root, _)))

    // the content hash stands in for the payload map, which cannot be hashed
    val stagingCols = graft.schema.Layers.staging.fieldNames.toSeq.filterNot(_ == "raw_payload")
    val replayRng = new scala.util.Random(a.seed ^ 0x5eedL)
    val replayT = mutable.ArrayBuffer.empty[Timing]
    while (replayT.size < a.size.minReplays || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val b = daily(replayRng.nextInt(daily.size))
      val before = (digest(spark, s"$root/raw", Seq("id", "payload_hash")),
        digest(spark, s"$root/staging", stagingCols))
      step(b).foreach(t => replayT += t)
      check(s"replay of ${b.name} changes nothing") {
        before == (digest(spark, s"$root/raw", Seq("id", "payload_hash")),
          digest(spark, s"$root/staging", stagingCols))
      }
    }
    trace.foreach(_.unregister())

    val staging = spark.read.parquet(s"$root/staging")
    check("staging rows equal the distinct ids loaded")(staging.count() == loaded.size)
    import graft.marts.Views
    check("mart_financials equals its Views recompute") {
      sameSet(spark.read.parquet(s"$root/mart_financials").drop("last_updated"),
        Views.financialsV(staging).drop("last_updated"))
    }
    Seq("clients" -> Views.dimClientsV _, "categories" -> Views.dimCategoriesV _,
        "vendors" -> Views.dimVendorsV _).foreach { case (d, view) =>
      check(s"mart_dim_$d equals its Views recompute") {
        sameSet(spark.read.parquet(s"$root/mart_dim_$d"), view(staging))
      }
    }

    val inputBytes = (backfill +: daily).map(_.bytes).sum
    val storeBytes = dirBytes(a.dir.resolve("layers"))
    val dailyS = dailyT.map(_.totalS)
    val bS = backfillT.map(_.totalS).getOrElse(Double.NaN)
    val dailyOnly = Set("etl.change_scan_evals", "etl.staging_rows_written_per_changed_row",
      "marts.web_partitions_rewritten")
    val perLayer = backfillLayers.toSeq.flatMap(_.collect {
        case (k, v) if !dailyOnly(k) => s"backfill.$k" -> v }) ++
      dailyLayers.flatMap(_.keySet).distinct.map(k =>
        s"daily.$k" -> median(dailyLayers.map(_.getOrElse(k, 0.0))))
    // a failed batch leaves NaN, which prints as null beside correct=false
    val pass = bS +: (dailyS :+ replayT.headOption.map(_.totalS).getOrElse(Double.NaN))
    val passCpu = backfillT.map(_.cpuS).getOrElse(Double.NaN) +:
      (dailyT.map(_.cpuS) :+ replayT.headOption.map(_.cpuS).getOrElse(Double.NaN))
    Result(attempted, failed, genS, passCpu.sum, geomean(passCpu),
      Workloads.perLayerMetrics(perLayer.toMap +
        ("engine.retained_storage_mb" -> storageMb(spark))),
      Map("backfill_rows" -> backfill.rows.toString,
        "backfill_rows_per_s" -> Json.num(backfill.rows / bS),
        "batch_s_p50" -> Json.num(median(dailyS)),
        "replay_s_p50" -> Json.num(median(replayT.map(_.totalS).toSeq)),
        "suite_s" -> Json.num(pass.sum),
        "op_geomean_s" -> Json.num(geomean(pass)),
        "batch_s" -> pass.map(Json.num).mkString("[", ",", "]"),
        "batch_cpu_s" -> passCpu.map(Json.num).mkString("[", ",", "]"),
        "replays" -> replayT.size.toString,
        "store_bytes_per_input_byte" -> Json.num(storeBytes.toDouble / inputBytes),
        "daily_rows" -> Json.str(daily.map(_.rows).mkString(",")),
        "dialects" -> Json.str((backfill +: daily).map(b => if (b.dialect.ru) "ru" else "en")
          .mkString(",")),
        "inputs_s" -> Json.num(genS),
        "batch_layers" -> ((backfillLayers.toSeq ++ dailyLayers).map(m =>
          Json.obj(m.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }: _*)).mkString("[", ",", "]"))))
  }

  /** Per-layer numbers of one batch: `runElt`'s SQL executions grouped by
    * the table each one wrote (`<root>/<table>__tmp`, or `<root>/<table>`
    * for in-place writes); the wall time no execution covers is
    * `app.run.other_s`.
    */
  private def attribute(tr: Trace, root: String, t: Timing): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val rootUri = new java.io.File(root).toURI.getPath.stripSuffix("/")
    def table(path: String): String =
      new java.net.URI(path).getPath.stripPrefix(rootUri).stripPrefix("/")
        .takeWhile(_ != '/').stripSuffix("__tmp")
    val runExecs = tr.executions(t.runFromMs, t.runToMs)
    runExecs.foreach { e =>
      val group = e.outputPath.map(table) match {
        case Some("audit") => Some("etl.audit")
        case Some("staging") => Some("etl.staging")
        case Some(tb) if tb.endsWith("_state") => Some("marts.state")
        case Some(tb) if tb.startsWith("mart_") => Some("marts.present")
        case None if e.func == "collect" => Some("etl.touched_months")
        case None if e.func == "count" => Some("etl.staging")
        case _ => None
      }
      group.foreach { g =>
        m(s"$g.wall_s") += (e.endMs - e.startMs) / 1e3
        m(s"$g.jobs") += e.counters.jobs
        m(s"$g.tasks") += e.counters.tasks
        m(s"$g.cpu_s") += e.counters.cpuNs / 1e9
        m(s"$g.rows_written") += e.counters.rowsWritten
      }
      if (e.changeScan) m("etl.change_scan_evals") += 1
    }
    val covered = Workloads.eltGroups.map(g => m(s"$g.wall_s")).sum
    m("marts.web_partitions_rewritten") = t.webPartitionsRewritten
    m("app.load.wall_s") = t.loadS
    m("app.run.wall_s") = t.runS
    m("app.run.other_s") = t.runS - covered
    val changed = tr.executions(t.loadFromMs, t.loadToMs)
      .filter(_.outputPath.map(table).contains("raw")).map(_.counters.rowsWritten).sum
    val stagingRows = runExecs.filter(_.outputPath.map(table).contains("staging")).map(_.counters.rowsWritten).sum
    m("etl.staging_rows_written_per_changed_row") =
      if (changed == 0) 0.0 else stagingRows.toDouble / changed
    m.toMap
  }
}
