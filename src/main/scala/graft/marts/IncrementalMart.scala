package graft.marts

import org.apache.spark.sql.{Column, DataFrame}
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
  * State schema: (year_month, type, sum_rub DECIMAL(38,10), record_count,
  * amount_count). A sum alone cannot tell a group whose amounts are all
  * NULL (the view's SUM is NULL) from one whose amounts sum to 0 after a
  * row left, so the state also counts the non-NULL amounts.
  * Presentation (`present`) applies ROUND()::BIGINT like the view.
  * Cost per run: one aggregate over the state and the batch's signed rows,
  * keyed on (year_month, type) — a few hundred groups, one exchange.
  */
object IncrementalMart {

  private val keyCols = Seq("year_month", "type")

  /** One signed row per staging-shaped row: its group key, its amount
    * (negated for a departing row; multiplying by a literal sign would cut
    * the decimal's scale to 6), ±1 to the group's count and, for a
    * non-NULL amount, ±1 to its amount count.
    */
  private def signedRows(rows: DataFrame, sign: Int): DataFrame =
    rows
      .filter(col("type").isin(financialTypes: _*) &&
        coalesce(col("payment_date"), col("date")) >= lit("2005-01-01").cast(TimestampType))
      .select(Seq(monthBucket(coalesce(col("payment_date"), col("date"))).as("year_month"),
        col("type")) ++ signedMeasures(sign): _*)

  private def signedMeasures(sign: Int): Seq[Column] = Seq(
    (if (sign > 0) col("total_rub") else -col("total_rub")).cast(DecimalType(38, 10)).as("sum_rub"),
    lit(sign.toLong).as("record_count"),
    when(col("total_rub").isNotNull, lit(sign.toLong)).otherwise(0L).as("amount_count"))

  /** Sum state rows and signed rows per key (the amount and every count
    * column); groups whose last row left are dropped.
    */
  private def fold(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val counts = rows.columns.toSeq.diff(keys :+ "sum_rub")
    rows.groupBy(keys.map(col): _*)
      .agg(sum(col("sum_rub")).cast(DecimalType(38, 10)).as("sum_rub"),
        counts.map(c => sum(col(c)).as(c)): _*)
      .filter(col("record_count") > 0)
  }

  /** Fresh mart state from a full staging snapshot (bootstrap / repair). */
  def initialize(staging: DataFrame): DataFrame = fold(signedRows(staging, 1), keyCols)

  /** Apply one upsert batch: `oldRows` are the previous versions of the
    * keys being replaced (empty for pure inserts), `newRows` the incoming
    * versions — exactly the pair StagingMerge.auditDiff sees, read from
    * the same snapshot. State ∪ signed rows, one aggregate: one exchange.
    */
  def applyDelta(mart: DataFrame, oldRows: DataFrame, newRows: DataFrame): DataFrame =
    fold(mart.unionByName(signedRows(newRows, 1)).unionByName(signedRows(oldRows, -1)), keyCols)

  /** The view's rounded SUM: NULL when no non-NULL amount is left in the
    * group.
    */
  private def totalRub: Column =
    when(col("amount_count") > 0, round(col("sum_rub"), 0).cast(LongType)).as("total_rub")

  /** Presentation shape of the state — matches Views.financialsV rows.
    * The state is month×type-sized, so it is read as ONE partition: the
    * sort then needs no exchange and no range-bound sampling job.
    */
  def present(mart: DataFrame): DataFrame =
    mart.coalesce(1).select(col("year_month"), col("type"), totalRub, col("record_count"))
      .orderBy(col("year_month").desc, col("type"))

  // ───── expenses-by-category (same abelian-group shape, one key) ─────
  //
  // State schema: (category, sum_rub, record_count, amount_count).

  private def categoryRows(rows: DataFrame, sign: Int): DataFrame =
    rows
      .filter(col("type").isin("Расход", "Expense"))
      .select(Seq(coalesce(col("category"), lit("Uncategorized")).as("category")) ++
        signedMeasures(sign): _*)

  def initializeCategories(staging: DataFrame): DataFrame =
    fold(categoryRows(staging, 1), Seq("category"))

  def applyCategoryDelta(mart: DataFrame, oldRows: DataFrame, newRows: DataFrame): DataFrame =
    fold(mart.unionByName(categoryRows(newRows, 1)).unionByName(categoryRows(oldRows, -1)),
      Seq("category"))

  /** Presentation — matches Views.expensesByCategoryV rows, in one task
    * over the category-sized state like `present`.
    */
  def presentCategories(mart: DataFrame): DataFrame =
    mart.coalesce(1).select(col("category"), totalRub, col("record_count"))
      .orderBy(col("total_rub").desc)
}
