package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.app.Main
import graft.marts.Views

/** The `Main.runElt` run protocol: one change-set evaluation per batch,
  * one journaled group commit, nothing left behind; and the CSV archive
  * of `Main.load`.
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
    val web = Views.webTransactionsP(staging)
    assert(rows(spark.read.parquet(s"$root/mart_web_transactions").select(web.columns.map(
      org.apache.spark.sql.functions.col): _*)) == rows(web))
  }

  private val published = Set("raw", "archive", "audit", "staging",
    "mart_financials_state", "dim_clients_state", "dim_categories_state",
    "dim_vendors_state", "mart_financials", "mart_expenses_by_category",
    "mart_dim_clients", "mart_dim_categories", "mart_dim_vendors",
    "mart_web_transactions")

  private def topLevel(root: String): Set[String] = {
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
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
    val crash = intercept[RuntimeException] {
      Main.runElt(spark, root, None, test = false,
        beforeCommit = () => throw new RuntimeException("injected crash"))
    }
    assert(crash.getMessage == "injected crash")
    // staged tables wait in their __tmp dirs; every published file is
    // untouched — no state advanced without its staging
    val after = EltRunSpec.files(root).filter { case (p, _) => !p.getName(0).toString.endsWith("__tmp") }
    assert(after == before, "a table was published before the group commit")

    // the next run re-derives the same batch from the unchanged snapshot
    // and applies it exactly once
    Main.runElt(spark, root, None, test = false)
    assert(spark.read.parquet(s"$root/staging").count() == 4)
    assertMartsMatchStaging(root)
    assert(topLevel(root) == published, "a successful run left scratch or staged dirs")
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

  test("load: two loads of one source on one day keep both CSV archives") {
    val root = Files.createTempDirectory("graft_elt_archive").toString
    def load(dir: String): String = {
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out)(Main.load(spark, root, dir, "sheet_test"))
      out.toString
    }
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
