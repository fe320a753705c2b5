package graft.marts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance of the DIMENSION marts (dim_clients_v /
  * dim_categories_v / dim_vendors_v, reference b80da1af78f7:22-63).
  *
  * DISTINCT is not an abelian aggregate — deleting one copy of a name must
  * not delete the name while other rows still carry it. The classic fix is
  * a REF-COUNTED state at the view's tuple grain: each state row is a
  * distinct projected tuple plus the number of staging rows contributing
  * it. An upsert batch applies as signed counts (+1 per new row's tuple,
  * −1 per replaced row's tuple); tuples whose count reaches zero leave.
  * The presentation step is then an exact replay of the view over the
  * (already-distinct) state tuples.
  *
  * Nulls: transaction-origin client tuples carry a NULL updated_at, so the
  * state merge goes through groupBy (null-safe grouping), never a join on
  * possibly-null keys (Spark join keys treat NULL ≠ NULL).
  *
  * Scale: the state table holds |distinct tuples| rows (dimension-sized,
  * ≪ staging); a run costs one aggregate over the state and the batch's
  * signed tuples, one state-grain shuffle —
  * the reference recomputes these views from full staging on every read,
  * which at 100 TB is a full-table DISTINCT per dashboard refresh.
  */
object IncrementalDims {

  private val clientKey = Seq("name", "updated_at", "origin")

  /** One signed tuple per contribution of a staging-shaped batch, clients
    * grain. Mirrors Views.dimClientsV's union EXACTLY: explicit ref rows
    * keep their received_at and 'manual' origin; every non-empty client
    * value (including on ref rows) contributes a ('transaction', NULL)
    * tuple.
    */
  private def clientTuples(rows: DataFrame, sign: Int): DataFrame = {
    val explicit = rows
      .filter(col("source_type") === "ref_clients")
      .select(col("client").as("name"), col("received_at").as("updated_at"),
        lit("manual").as("origin"), lit(sign.toLong).as("refcount"))
    val implicit_ = rows
      .filter(col("client").isNotNull && col("client") =!= "")
      .select(col("client").as("name"), lit(null).cast(TimestampType).as("updated_at"),
        lit("transaction").as("origin"), lit(sign.toLong).as("refcount"))
    explicit.unionByName(implicit_)
  }

  /** Sum the signed counts per tuple; tuples whose count reaches zero leave. */
  private def fold(tuples: DataFrame, key: Seq[String]): DataFrame =
    tuples.groupBy(key.map(col): _*)
      .agg(sum(col("refcount")).as("refcount"))
      .filter(col("refcount") > 0)

  def initializeClients(staging: DataFrame): DataFrame = fold(clientTuples(staging, 1), clientKey)

  /** Apply one upsert batch to the clients state: same (oldRows, newRows)
    * snapshot pair as IncrementalMart.applyDelta. State ∪ signed tuples,
    * one aggregate.
    */
  def applyClientsDelta(state: DataFrame, oldRows: DataFrame, newRows: DataFrame): DataFrame =
    fold(state.unionByName(clientTuples(newRows, 1)).unionByName(clientTuples(oldRows, -1)),
      clientKey)

  /** Replay of dimClientsV's DISTINCT ON over the state tuples: the window
    * input is the distinct tuple set, and row_number picks the same winner
    * (origin DESC — 'transaction' beats 'manual' — then newest updated_at).
    * The dimension-sized state is read as ONE partition, so neither the
    * window nor the sort needs an exchange or a sampling job.
    */
  def presentClients(state: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("name"))
      .orderBy(col("origin").desc, col("updated_at").desc_nulls_last)
    state.coalesce(1).select(col("name"), col("updated_at"), col("origin"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .orderBy(col("name"))
  }

  // ───── single-name dims (categories, vendors) share one shape ─────

  private def nameTuples(rows: DataFrame, src: String, sign: Int): DataFrame =
    rows
      .filter(col(src).isNotNull && col(src) =!= "")
      .select(col(src).as("name"), lit(sign.toLong).as("refcount"))

  def initializeNames(staging: DataFrame, src: String): DataFrame =
    fold(nameTuples(staging, src, 1), Seq("name"))

  def applyNamesDelta(state: DataFrame, oldRows: DataFrame, newRows: DataFrame,
      src: String): DataFrame =
    fold(state.unionByName(nameTuples(newRows, src, 1))
      .unionByName(nameTuples(oldRows, src, -1)), Seq("name"))

  /** State grain is already one row per name — just the view's ordering,
    * sorted in one partition like `presentClients`.
    */
  def presentNames(state: DataFrame): DataFrame =
    state.coalesce(1).select(col("name")).orderBy(col("name"))
}
