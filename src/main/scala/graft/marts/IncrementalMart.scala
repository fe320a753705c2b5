package graft.marts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Normalize.financialTypes
import graft.functions.Parsers.monthBucket

/** Incremental maintenance of the monthly-P&L mart (the materialized-view
  * flavor of Views.financialsV).
  *
  * At 100 TB the mart cannot be recomputed from full staging each run; the
  * daily delta is thousands of rows. SUM/COUNT are abelian-group
  * aggregates, so an upsert maintains exactly: subtract each replaced
  * row's old contribution, add the new one — the mart state carries the
  * UNROUNDED decimal sum (rounding is a presentation step; maintaining a
  * rounded value would accumulate error).
  *
  * State schema: (year_month, type, sum_rub DECIMAL(38,10), record_count).
  * Presentation (`present`) applies ROUND()::BIGINT like the view.
  * Cost per run: one agg over the delta (tiny) + one outer join against
  * the mart keyed on (year_month, type) — a few hundred groups, broadcast.
  */
object IncrementalMart {

  private val keyCols = Seq("year_month", "type")

  /** Group contributions of a staging-shaped batch, signed. */
  private def contributions(rows: DataFrame, sign: Int): DataFrame =
    rows
      .filter(col("type").isin(financialTypes: _*) &&
        coalesce(col("payment_date"), col("date")) >= lit("2005-01-01").cast(TimestampType))
      .groupBy(monthBucket(coalesce(col("payment_date"), col("date"))).as("year_month"),
        col("type"))
      .agg((lit(sign) * sum(col("total_rub"))).cast(DecimalType(38, 10)).as("sum_rub"),
        (lit(sign) * count(lit(1))).as("record_count"))

  /** Fresh mart state from a full staging snapshot (bootstrap / repair). */
  def initialize(staging: DataFrame): DataFrame = contributions(staging, 1)

  /** Apply one upsert batch: `oldRows` are the previous versions of the
    * keys being replaced (empty for pure inserts), `newRows` the incoming
    * versions — exactly the pair StagingMerge.auditDiff sees, read from
    * the same snapshot.
    */
  def applyDelta(mart: DataFrame, oldRows: DataFrame, newRows: DataFrame): DataFrame = {
    val delta = contributions(newRows, 1).unionByName(contributions(oldRows, -1))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("sum_rub")).cast(DecimalType(38, 10)).as("d_sum"),
        sum(col("record_count")).as("d_n"))
    mart.join(delta, keyCols, "full_outer")
      .select(
        col("year_month"), col("type"),
        (coalesce(col("sum_rub"), lit(0)) + coalesce(col("d_sum"), lit(0)))
          .cast(DecimalType(38, 10)).as("sum_rub"),
        (coalesce(col("record_count"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("record_count"))
      .filter(col("record_count") > 0) // groups whose last row left
  }

  /** Presentation shape of the state — matches Views.financialsV rows.
    * The state is month×type-sized, so it is read as ONE partition: the
    * sort then needs no exchange and no range-bound sampling job.
    */
  def present(mart: DataFrame): DataFrame =
    mart.coalesce(1).select(col("year_month"), col("type"),
        round(col("sum_rub"), 0).cast(LongType).as("total_rub"),
        col("record_count"))
      .orderBy(col("year_month").desc, col("type"))

  // ───── expenses-by-category (same abelian-group shape, one key) ─────

  private def categoryContributions(rows: DataFrame, sign: Int): DataFrame =
    rows
      .filter(col("type").isin("Расход", "Expense"))
      .groupBy(coalesce(col("category"), lit("Uncategorized")).as("category"))
      .agg((lit(sign) * sum(col("total_rub"))).cast(DecimalType(38, 10)).as("sum_rub"),
        (lit(sign) * count(lit(1))).as("record_count"))

  def initializeCategories(staging: DataFrame): DataFrame =
    categoryContributions(staging, 1)

  def applyCategoryDelta(mart: DataFrame, oldRows: DataFrame, newRows: DataFrame): DataFrame = {
    val delta = categoryContributions(newRows, 1)
      .unionByName(categoryContributions(oldRows, -1))
      .groupBy(col("category"))
      .agg(sum(col("sum_rub")).cast(DecimalType(38, 10)).as("d_sum"),
        sum(col("record_count")).as("d_n"))
    mart.join(delta, Seq("category"), "full_outer")
      .select(col("category"),
        (coalesce(col("sum_rub"), lit(0)) + coalesce(col("d_sum"), lit(0)))
          .cast(DecimalType(38, 10)).as("sum_rub"),
        (coalesce(col("record_count"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("record_count"))
      .filter(col("record_count") > 0)
  }

  /** Presentation — matches Views.expensesByCategoryV rows. */
  def presentCategories(mart: DataFrame): DataFrame =
    mart.select(col("category"),
        round(col("sum_rub"), 0).cast(LongType).as("total_rub"),
        col("record_count"))
      .orderBy(col("total_rub").desc)
}
