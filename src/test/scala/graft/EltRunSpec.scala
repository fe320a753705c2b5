package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

import graft.app.Main
import graft.etl.{ChangeScan, ParquetTableStore}
import graft.marts.Views

/** The `Main.runElt` run protocol: one change-set evaluation per batch
  * over only the raw files no committed run has consumed, one journaled
  * group commit, nothing left behind; and what `Main.load` adds to raw
  * and to the CSV archive.
  */
class EltRunSpec extends SparkTestBase {
  import spark.implicits._

  private val header = "PK,Date,Type,Client,Category,Total RUB,Currency"

  private def csv(lines: String*): String = {
    val dir = Files.createTempDirectory("graft_elt_csv").toString
    (header +: lines).toDF("line").coalesce(1).write.mode("overwrite").text(dir)
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Every mart equals its `Views` recompute over the published staging. */
  private def assertMartsMatchStaging(root: String): Unit = {
    val staging = spark.read.parquet(s"$root/staging")
    assert(rows(spark.read.parquet(s"$root/mart_financials").drop("last_updated")) ==
      rows(Views.financialsV(staging).drop("last_updated")))
    Seq("clients" -> Views.dimClientsV _, "categories" -> Views.dimCategoriesV _,
        "vendors" -> Views.dimVendorsV _).foreach { case (d, view) =>
      assert(rows(spark.read.parquet(s"$root/mart_dim_$d")) == rows(view(staging)), d)
    }
    assert(rows(spark.read.parquet(s"$root/mart_expenses_by_category").drop("last_updated")) ==
      rows(Views.expensesByCategoryV(staging).drop("last_updated")))
    val web = Views.webTransactionsP(staging)
    assert(rows(spark.read.parquet(s"$root/mart_web_transactions").select(web.columns.map(
      org.apache.spark.sql.functions.col): _*)) == rows(web))
  }

  private val published = Set("raw", "archive", "audit", "staging",
    "mart_financials_state", "dim_clients_state", "dim_categories_state",
    "dim_vendors_state", "mart_expenses_by_category_state", "mart_financials",
    "mart_expenses_by_category", "mart_dim_clients", "mart_dim_categories", "mart_dim_vendors",
    "mart_web_transactions", ChangeScan.Consumed.Table)

  /** The caller's whole-stage and expression codegen confs, which the
    * test session leaves at Spark's defaults.
    */
  private def codegenConfs: (String, String) =
    (spark.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key),
      spark.conf.get(SQLConf.CODEGEN_FACTORY_MODE.key))
  private val codegenDefaults = (SQLConf.WHOLESTAGE_CODEGEN_ENABLED.defaultValueString,
    SQLConf.CODEGEN_FACTORY_MODE.defaultValueString)

  private def consumed(root: String): Option[ChangeScan.Consumed] =
    ChangeScan.Consumed.read(new ParquetTableStore(spark, root))

  private def rawFiles(root: String): Set[String] =
    new ParquetTableStore(spark, root).dataFiles("raw").toSet

  /** What `f` prints to stdout. */
  private def out(f: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(f)
    buf.toString
  }

  private def run(root: String, source: Option[String] = None, test: Boolean = false): String =
    out(Main.runElt(spark, root, source, test))

  /** Spark jobs started while `f` runs: all of them, and those that run
    * outside any SQL execution (a Parquet footer's schema inference is
    * one).
    */
  private def jobCounts(f: => Unit): (Int, Int) = {
    val jobs, outside = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          outside.incrementAndGet()
      }
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { f; Bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, outside.get)
  }

  private def jobsDuring(f: => Unit): Int = jobCounts(f)._1

  /** Append to raw a new version of `id` with `field` set to `value`
    * (`load` only inserts new ids).
    */
  private def appendEdit(root: String, id: String, field: String, value: String,
      more: (String, String)*): Unit = {
    import org.apache.spark.sql.functions.{lit, transform_values, when}
    val edited = spark.read.parquet(s"$root/raw").filter($"id" === id)
      .select($"sheet_row_number", transform_values($"payload", (k, v) =>
        ((field -> value) +: more).foldLeft(v) { case (w, (f, x)) => when(k === f, lit(x)).otherwise(w) })
        .as("payload"))
    graft.etl.RawLoader.fromPayloads(edited, "sheet_test")
      .write.mode("append").parquet(s"$root/raw")
  }

  private def topLevel(root: String): Set[String] = {
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("load + runElt below CompiledFromBytes compile no generated code and leave the caller's confs as they were") {
    val backfill = csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB")
    val insert = csv("r3,02.08.2023,Расход,C3,Cat3,\"1000,00\",RUB")
    def backfillAndInsert(root: String): Unit = Seq(backfill, insert).foreach { dir =>
      Main.load(spark, root, dir, "sheet_test")
      Main.runElt(spark, root, None, test = false)
    }
    // Spark generates a few row-format classes even with codegen off (hash-
    // aggregate row joiners, orderings, partition-value projections); the
    // session's first small runs compile and cache them
    backfillAndInsert(Files.createTempDirectory("graft_elt_warm").toString)

    val root = Files.createTempDirectory("graft_elt_interpreted").toString
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // every job of the runs carries the interpreted confs
    val plannedBy = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        plannedBy.add((e.properties.getProperty(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key),
          e.properties.getProperty(SQLConf.CODEGEN_FACTORY_MODE.key)))
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { backfillAndInsert(root); Bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    assert(EltRunSpec.files(root).keys.map(p => Files.size(Paths.get(root).resolve(p))).sum <
      Main.CompiledFromBytes)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles, "a class was compiled")
    assert(plannedBy.asScala == Set(("false", "NO_CODEGEN")))
    assert(codegenConfs == codegenDefaults)
    assertMartsMatchStaging(root)
  }

  test("runElt: interpreted and compiled runs of a backfill, an insert and an edit write the same rows") {
    val roots = Seq("interpreted", "compiled").map(m =>
      m -> Files.createTempDirectory(s"graft_elt_$m").toString).toMap
    def batch(root: String, compiled: Boolean)(load: Option[String], edit: => Unit): Unit = {
      load.foreach(dir =>
        if (compiled) Main.loadOn(spark, root, dir, "sheet_test")
        else Main.load(spark, root, dir, "sheet_test"))
      edit
      if (compiled) Main.runEltOn(spark, root, None, test = false, () => (),
        Main.pending(new ParquetTableStore(spark, root)))
      else Main.runElt(spark, root, None, test = false)
    }
    val backfill = csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB",
      "r3,02.08.2023,Expense,Клиент,,\"1 000,25\",RUB",
      "r4,20.07.2023,Income,C1,Cat1,not a number,RUB")
    val insert = csv("r5,02.09.2023,Расход,C3,Cat3,\"10,50\",RUB")
    roots.foreach { case (mode, root) =>
      val compiled = mode == "compiled"
      batch(root, compiled)(Some(backfill), ())
      batch(root, compiled)(Some(insert), ())
      batch(root, compiled)(None, appendEdit(root, "r3", "Total RUB", "7,00"))
      assertMartsMatchStaging(root)
    }
    // load-time stamps differ between the two roots by construction
    val stamps = Set("extracted_at", "last_seen", "received_at", "changed_at", "last_updated")
    val tables = topLevel(roots("compiled")) -- Set("archive", ChangeScan.Consumed.Table)
    assert(tables == topLevel(roots("interpreted")) -- Set("archive", ChangeScan.Consumed.Table))
    assert(tables.contains("audit"))
    tables.foreach { t =>
      val Seq(a, b) = Seq("interpreted", "compiled").map { m =>
        val df = spark.read.parquet(s"${roots(m)}/$t")
        rows(df.drop(df.columns.filter(stamps): _*))
      }
      assert(a == b, t)
    }
    assert(spark.read.parquet(s"${roots("compiled")}/audit").count() == 1)
  }

  test("runElt: a crash before the group commit leaves every table as it was; the next run applies the batch once") {
    val root = Files.createTempDirectory("graft_elt_crash").toString
    Main.load(spark, root, csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB"), "sheet_test")
    Main.runElt(spark, root, None, test = false)
    assert(topLevel(root) == published, "a successful run left scratch or staged dirs")

    Main.load(spark, root, csv(
      "r3,02.08.2023,Расход,C3,Cat3,\"1000,00\",RUB",
      "r4,20.07.2023,Доход,C1,Cat1,\"10,50\",RUB"), "sheet_test")
    val before = EltRunSpec.files(root)
    val setBefore = consumed(root)
    assert(setBefore.exists(_.stagingRows == 2))
    val crash = intercept[RuntimeException] {
      Main.runElt(spark, root, None, test = false,
        beforeCommit = () => throw new RuntimeException("injected crash"))
    }
    assert(crash.getMessage == "injected crash")
    assert(codegenConfs == codegenDefaults, "the crash left the caller's codegen confs changed")
    // staged tables wait in their __tmp dirs; every published file is
    // untouched — no state advanced without its staging
    val after = EltRunSpec.files(root).filter { case (p, _) => !p.getName(0).toString.endsWith("__tmp") }
    assert(after == before, "a table was published before the group commit")
    assert(consumed(root) == setBefore, "the consumed set advanced without its staging")

    // the next run re-reads the same fresh files against the unchanged
    // snapshot and applies the batch exactly once
    assert(run(root).contains("[graft] run complete: 2 changed rows, 4 staging rows"))
    assert(spark.read.parquet(s"$root/staging").count() == 4)
    assert(consumed(root).contains(ChangeScan.Consumed(rawFiles(root), 4)))
    assertMartsMatchStaging(root)
    assert(topLevel(root) == published, "a successful run left scratch or staged dirs")

    // a later raw file (written beside `load`, which only inserts new ids)
    // carries an edit of r1 and an unchanged r2: the edit lands and is
    // audited, the repeat does not, and every mart follows staging
    import org.apache.spark.sql.functions.{lit, transform_values, when}
    val edited = spark.read.parquet(s"$root/raw").filter($"id".isin("r1", "r2"))
      .select($"sheet_row_number", when($"id" === "r1", transform_values($"payload",
        (k, v) => when(k === "Total RUB", lit("150,00")).otherwise(v))).otherwise($"payload")
        .as("payload"))
    graft.etl.RawLoader.fromPayloads(edited, "sheet_test")
      .write.mode("append").parquet(s"$root/raw")
    assert(run(root).contains("[graft] run complete: 1 changed rows, 4 staging rows"))
    assert(spark.read.parquet(s"$root/staging").filter($"raw_id" === "r1")
      .select($"total_rub".cast("double")).as[Double].collect().toSeq == Seq(150.0))
    assert(spark.read.parquet(s"$root/audit").select($"record_id").distinct()
      .as[String].collect().toSeq == Seq("r1"))
    assertMartsMatchStaging(root)
  }

  test("runElt: after a re-load that appends no row, raw keeps its files and the run starts no Spark job") {
    val root = Files.createTempDirectory("graft_elt_nojob").toString
    val first = csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB")
    Main.load(spark, root, first, "sheet_test")
    // the listener does see the jobs of a run that has fresh raw files
    assert(jobsDuring(Main.runElt(spark, root, None, test = false)) > 0)
    val raw = EltRunSpec.files(s"$root/raw")

    assert(out(Main.load(spark, root, first, "sheet_test")).contains("[graft] loaded 0 new rows"))
    assert(EltRunSpec.files(s"$root/raw") == raw, "a zero-row load changed raw's files")
    val files = EltRunSpec.files(root)

    var line = ""
    assert(jobsDuring { line = run(root) } == 0)
    assert(line.contains("[graft] run complete: 0 changed rows, 2 staging rows"), line)
    assert(EltRunSpec.files(root) == files, "a run with no fresh raw file wrote files")
  }

  test("runElt: --source and --test runs read the fresh files but never advance the consumed set") {
    val root = Files.createTempDirectory("graft_elt_source").toString
    Main.load(spark, root, csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB"), "sheet_test")
    Main.runElt(spark, root, None, test = false)
    val firstFiles = rawFiles(root)
    assert(consumed(root).contains(ChangeScan.Consumed(firstFiles, 2)))

    Main.load(spark, root, csv(
      "r3,02.08.2023,Расход,C3,Cat3,\"1000,00\",RUB",
      "r4,20.07.2023,Доход,C1,Cat1,\"10,50\",RUB"), "sheet_test")
    assert(rawFiles(root) != firstFiles)
    assert(run(root, source = Some("sheet_test"))
      .contains("[graft] run complete: 2 changed rows, 4 staging rows"))
    // the staging count follows staging; the file list does not move
    assert(consumed(root).contains(ChangeScan.Consumed(firstFiles, 4)))
    assertMartsMatchStaging(root)
    assert(run(root, test = true).contains("[graft] run complete: 0 changed rows, 4 staging rows"))
    assert(consumed(root).contains(ChangeScan.Consumed(firstFiles, 4)))

    // a plain run reads the same fresh files, finds them applied, and
    // publishes only the consumed set
    val tables = EltRunSpec.files(root).filter(_._1.getName(0).toString != ChangeScan.Consumed.Table)
    assert(run(root).contains("[graft] run complete: 0 changed rows, 4 staging rows"))
    assert(consumed(root).contains(ChangeScan.Consumed(rawFiles(root), 4)))
    assert(EltRunSpec.files(root).filter(_._1.getName(0).toString != ChangeScan.Consumed.Table) ==
      tables)
    assert(topLevel(root) == published)
  }

  test("runElt: a root without a consumed set scans all of raw once and records it") {
    val root = Files.createTempDirectory("graft_elt_upgrade").toString
    Main.load(spark, root, csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB"), "sheet_test")
    Main.runElt(spark, root, None, test = false)
    // a root written before the consumed set, the expenses state and the
    // financials state's amount_count existed
    ParquetTableStore.deleteStoreDir(s"$root/${ChangeScan.Consumed.Table}")
    ParquetTableStore.deleteStoreDir(s"$root/mart_expenses_by_category_state")
    val store = new ParquetTableStore(spark, root)
    store.overwrite("mart_financials_state",
      store.read("mart_financials_state").drop("amount_count"))
    Main.load(spark, root, csv(
      "r3,02.08.2023,Расход,C3,Cat3,\"1000,00\",RUB",
      "r4,20.07.2023,Доход,C1,Cat1,\"10,50\",RUB"), "sheet_test")

    assert(run(root).contains("[graft] run complete: 2 changed rows, 4 staging rows"))
    assert(consumed(root).contains(ChangeScan.Consumed(rawFiles(root), 4)))
    assert(store.footerColumns("mart_financials_state").contains("amount_count"))
    assertMartsMatchStaging(root)
    assert(topLevel(root) == published)
    var line = ""
    assert(jobsDuring { line = run(root) } == 0)
    assert(line.contains("[graft] run complete: 0 changed rows, 4 staging rows"), line)
  }

  test("runElt: one id loaded twice with different content keeps its first sheet row, run after run") {
    val root = Files.createTempDirectory("graft_elt_dupid").toString
    assert(out(Main.load(spark, root, csv(
      "r1,16.07.2023,Расход,C1,Cat1,100,RUB",
      "r1,16.07.2023,Расход,C1,Cat1,200,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,50,RUB"), "sheet_test")).contains("[graft] loaded 3 new rows"))
    def r1Total: Double = spark.read.parquet(s"$root/staging").filter($"raw_id" === "r1")
      .select($"total_rub".cast("double")).as[Double].collect().toSeq match {
        case Seq(t) => t
        case ts => fail(s"staging holds r1 ${ts.size} times")
      }
    // --source and --test runs re-read the fresh files every time
    assert(run(root, source = Some("sheet_test"))
      .contains("[graft] run complete: 2 changed rows, 2 staging rows"))
    assert(r1Total == 100.0)
    Seq(run(root, test = true), run(root, source = Some("sheet_test")), run(root), run(root))
      .foreach(line => assert(line.contains("[graft] run complete: 0 changed rows, 2 staging rows"),
        line))
    assert(r1Total == 100.0)
    assert(spark.read.parquet(s"$root/audit").count() == 0)
    assertMartsMatchStaging(root)
  }

  test("runElt: a category whose last non-NULL amount moves away shows a NULL total, as the view does") {
    val root = Files.createTempDirectory("graft_elt_null_amount").toString
    Main.load(spark, root, csv(
      "r1,16.07.2023,Расход,C1,Cat1,not a number,RUB",
      "r2,17.07.2023,Расход,C1,Cat1,\"100,00\",RUB"), "sheet_test")
    Main.runElt(spark, root, None, test = false)
    def cat1: Seq[String] = spark.read.parquet(s"$root/mart_expenses_by_category")
      .filter($"category" === "Cat1").select($"total_rub", $"record_count")
      .collect().map(_.toString).toSeq
    def july: Seq[String] = spark.read.parquet(s"$root/mart_financials")
      .filter($"year_month" === "2023-07").select($"total_rub", $"record_count")
      .collect().map(_.toString).toSeq
    assert(cat1 == Seq("[100,2]") && july == Seq("[100,2]"))
    // r2 leaves Cat1 and (2023-07, Расход) with only r1's NULL amount:
    // +100 − 100 sums to 0, the views' SUM over r1 alone is NULL
    appendEdit(root, "r2", "Category", "Cat2", "Date" -> "17.08.2023")
    assert(run(root).contains("[graft] run complete: 1 changed rows, 2 staging rows"))
    assert(cat1 == Seq("[null,1]") && july == Seq("[null,1]"))
    assertMartsMatchStaging(root)
    appendEdit(root, "r2", "Category", "Cat1", "Date" -> "17.07.2023")
    assert(run(root).contains("[graft] run complete: 1 changed rows, 2 staging rows"))
    assert(cat1 == Seq("[100,2]") && july == Seq("[100,2]"))
    assertMartsMatchStaging(root)
  }

  test("runElt: the web-mart months a committed run left pending are rebuilt by the next run") {
    val root = Files.createTempDirectory("graft_elt_web").toString
    Main.load(spark, root, csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB"), "sheet_test")
    Main.runElt(spark, root, None, test = false)
    // a run that committed and then died inside the August rewrite
    val august = Paths.get(root, "mart_web_transactions", "month=2023-08")
    graft.etl.ParquetTableStore.deleteStoreDir(august.toString)
    Seq("2023-08").toDF("month").write.parquet(s"$root/${Main.WebPending}")
    val july = EltRunSpec.files(s"$root/mart_web_transactions/month=2023-07")

    // an empty batch still finishes the pending rewrite, and only that one
    Main.runElt(spark, root, None, test = false)
    assert(Files.exists(august))
    assert(EltRunSpec.files(s"$root/mart_web_transactions/month=2023-07") == july)
    assertMartsMatchStaging(root)
    assert(topLevel(root) == published)
  }

  test("runElt: an insert-only batch starts at most half its former jobs, none outside a SQL execution, and leaves audit untouched") {
    val root = Files.createTempDirectory("graft_elt_budget").toString
    Main.load(spark, root, csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB"), "sheet_test")
    Main.runElt(spark, root, None, test = false)
    val audit = EltRunSpec.files(s"$root/audit")

    // a load onto an existing raw reads it with its declared schema
    val (_, loadOutside) = jobCounts(Main.load(spark, root, csv(
      "r3,02.08.2023,Расход,C3,Cat3,\"1000,00\",RUB"), "sheet_test"))
    assert(loadOutside == 0, "load inferred a schema from a Parquet footer")
    var line = ""
    val (jobs, outside) = jobCounts { line = run(root) }
    assert(line.contains("[graft] run complete: 1 changed rows, 3 staging rows"), line)
    assert(outside == 0, "runElt inferred a schema from a Parquet footer")
    // the same batch started 75 jobs before reads carried their schemas,
    // presents ran in one task and insert-only batches skipped audit; 37
    // before each mart-state delta became one aggregate and the expenses
    // mart came from its own state
    assert(jobs <= 28, s"$jobs jobs")
    assert(EltRunSpec.files(s"$root/audit") == audit, "an insert-only batch rewrote audit")
    assertMartsMatchStaging(root)

    // an edit appends exactly its one audit row
    appendEdit(root, "r1", "Total RUB", "150,00")
    assert(run(root).contains("[graft] run complete: 1 changed rows, 3 staging rows"))
    assert(spark.read.parquet(s"$root/audit").select($"record_id").as[String].collect().toSeq ==
      Seq("r1"))
    assertMartsMatchStaging(root)
    assert(topLevel(root) == published)
  }

  test("runElt: every schema the ELT path declares for a read equals the footer of what it wrote") {
    val root = Files.createTempDirectory("graft_elt_schemas").toString
    Main.load(spark, root, csv(
      "r1,16.07.2023,Расход,C1,Cat1,195103.50,RUB",
      "r2,01.08.2023,Доход,C2,Cat2,\"50000,00\",RUB"), "sheet_test")
    Main.runElt(spark, root, None, test = false)
    appendEdit(root, "r2", "Date", "02.09.2023")

    val declared = Main.eltSchemas(spark)
    val store = new ParquetTableStore(spark, root)
    def check(name: String, dir: String): Unit =
      assert(store.read(dir, declared(name)).schema == spark.read.parquet(s"$root/$dir").schema,
        name)
    // an edit batch stages every table the ELT path reads back, the
    // pending web months (gone once the run ends) included; r2 moves to
    // September and leaves August's web-mart partition with no row
    var staged = Set.empty[String]
    Main.runElt(spark, root, None, test = false, beforeCommit = () => {
      staged = declared.keySet.filter(n => Files.exists(Paths.get(root, n + "__tmp")))
      staged.foreach(n => check(n, n + "__tmp"))
    })
    assert(staged == declared.keySet - "raw")
    check("raw", "raw")
    assertMartsMatchStaging(root)
  }

  test("ParquetTableStore.stage returns the footer's schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("id", LongType, nullable = false)
      .add("m", MapType(StringType, StringType, valueContainsNull = false), nullable = false)
      .add("amount", DecimalType(38, 10))
      .add("at", TimestampType, nullable = false)
      .add("tags", ArrayType(StringType, containsNull = false))
      .add("note", StringType)
    val df = spark.createDataFrame(java.util.List.of(
      Row(1L, Map("k" -> "v"), BigDecimal("195103.5"),
        java.sql.Timestamp.valueOf("2023-07-16 00:00:00"), Seq("a"), null)), schema)
    val root = Files.createTempDirectory("graft_stage_schema").toString
    val staged = new ParquetTableStore(spark, root).stage("t", df)
    assert(staged.schema == spark.read.parquet(s"$root/t__tmp").schema)
    assert(staged.collect().toSeq == df.collect().toSeq)
  }

  test("load: two loads of one source on one day keep both CSV archives") {
    val root = Files.createTempDirectory("graft_elt_archive").toString
    def load(dir: String): String = out(Main.load(spark, root, dir, "sheet_test"))
    assert(load(csv("r1,16.07.2023,Расход,C1,Cat1,1,RUB", "r2,01.08.2023,Доход,C2,Cat2,2,RUB"))
      .contains("[graft] loaded 2 new rows"))
    // r2 is already in raw: insert-if-absent appends only r3
    assert(load(csv("r2,01.08.2023,Доход,C2,Cat2,2,RUB", "r3,02.08.2023,Расход,C3,Cat3,3,RUB"))
      .contains("[graft] loaded 1 new rows"))
    assert(spark.read.parquet(s"$root/raw").count() == 3)
    // every load archives its whole input, the first load's files included
    val archived = spark.read.option("header", "true").csv(s"$root/archive/csv/*/sheet_test")
      .select("id").as[String].collect().sorted
    assert(archived.toSeq == Seq("r1", "r2", "r2", "r3"))
  }
}

object EltRunSpec {
  /** Every regular file under `root`, relative path → mtime. */
  def files(root: String): Map[Path, Long] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p) -> Files.getLastModifiedTime(p).toMillis).toMap
    finally s.close()
  }
}
