package graft.marts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{ParquetTableStore, StateCache}

/** Incremental view maintenance for the TPC-H Q1 aggregate — the
  * classic distributive-aggregate mart: the stored state keeps RAW
  * DECIMAL partials (never the rendered doubles/strings), so folding a
  * delta batch is an exact abelian add and the maintained view equals
  * the full recompute BIT-FOR-BIT. At 100 TB this is the difference
  * between a daily slice-sized job and a nightly full-fact rescan: the
  * state is group-count-sized (here 6 rows), the delta scan reads ONLY
  * the new ship-date range (predicate pushed to parquet — spec-pinned),
  * and the fold is one tiny hash agg over state ∪ delta-partials.
  *
  * The registered query (`q1_incremental_mart`) serves state ⊕ delta and
  * is gated on q1's ORACLE VERBATIM — the d30/ann8 shared-oracle
  * doctrine applied to view maintenance: the strongest available
  * statement that incremental maintenance changes NOTHING about query
  * semantics. `advance` persists the fold as the next state (the
  * nightly commit); advance-then-serve-empty-delta == serve is
  * spec-pinned, as is advance == rebuild-from-scratch at the new cutoff.
  *
  * Reference anchor: the reference rebuilds its monthly P&L mart from
  * the full staging table every run (marts re-query staging,
  * DATA_CONTRACTS.md mart section); `IncrementalMart` maintains that
  * mart by upsert-delta, and this file extends the same doctrine to the
  * canonical scan-heavy aggregate.
  */
object TpchMart {

  /** Group-keyed DECIMAL partials of the Q1 aggregate over `li` —
    * qty/base sums at scale 4, the discounted-revenue sum at scale 8,
    * and the row count. Exact, associative, mergeable.
    */
  def q1Partials(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(20, 4))).cast(DecimalType(38, 4)).as("qty_d"),
        sum(col("l_extendedprice").cast(DecimalType(20, 4))).cast(DecimalType(38, 4)).as("base_d"),
        sum(col("l_extendedprice").cast(DecimalType(20, 4)) *
            (lit(1).cast(DecimalType(10, 4)) - col("l_discount").cast(DecimalType(10, 4))))
          .cast(DecimalType(38, 8)).as("disc_d"),
        count(lit(1)).as("cnt"))

  /** Fold any number of partial tables into one (state ∪ deltas → the
    * partials of the union of their inputs — exact decimal adds).
    */
  def foldPartials(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("qty_d")).cast(DecimalType(38, 4)).as("qty_d"),
        sum(col("base_d")).cast(DecimalType(38, 4)).as("base_d"),
        sum(col("disc_d")).cast(DecimalType(38, 8)).as("disc_d"),
        sum(col("cnt")).as("cnt"))

  /** Render partials in q1's exact output shape (same casts, same
    * aliases, same ordering — the oracle-parity contract).
    */
  def renderQ1(partials: DataFrame): DataFrame =
    partials.select(col("l_returnflag"), col("l_linestatus"),
        col("qty_d").cast(DoubleType).as("sum_qty"),
        col("base_d").cast(DoubleType).as("sum_base_price"),
        col("disc_d").cast(StringType).as("sum_disc_price"),
        col("cnt").as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Stored Q1 state over l_shipdate < `cutoff`, built on first use and
    * cached per (corpus dir, mtime, cutoff) — the mart a deployment
    * already holds when the day's slice arrives.
    */
  def ensureQ1State(corpusDir: String, li: DataFrame, cutoff: String): ParquetTableStore = {
    val spark = li.sparkSession
    new ParquetTableStore(spark, StateCache.ensure(StateCache.indexRoot,
        s"q1mart1_${cutoff.replace("-", "")}", corpusDir, "lineitem.parquet") { p =>
      new ParquetTableStore(spark, p).overwrite("q1_state",
        q1Partials(li.filter(col("l_shipdate") < lit(cutoff).cast(TimestampType))))
    })
  }

  /** Serve the maintained view: stored state ⊕ the delta slice
    * (`state_cutoff ≤ l_shipdate ≤ upper` — the only fact rows read).
    */
  def q1Maintained(spark: SparkSession, corpusDir: String, li: DataFrame,
      stateCutoff: String, upper: String): DataFrame = {
    val store = ensureQ1State(corpusDir, li, stateCutoff)
    val delta = li.filter(col("l_shipdate") >= lit(stateCutoff).cast(TimestampType) &&
      col("l_shipdate") <= lit(upper).cast(TimestampType))
    renderQ1(foldPartials(store.read("q1_state"), q1Partials(delta)))
  }

  /** The nightly commit: fold the delta into the state and persist it as
    * the state at the new cutoff. Pure derivation of (state, delta) —
    * re-running it after a crash rewrites the identical table.
    */
  def advance(store: ParquetTableStore, li: DataFrame,
      oldCutoff: String, newCutoff: String): Unit = {
    val delta = li.filter(col("l_shipdate") >= lit(oldCutoff).cast(TimestampType) &&
      col("l_shipdate") < lit(newCutoff).cast(TimestampType))
    store.overwrite("q1_state",
      foldPartials(store.read("q1_state"), q1Partials(delta)))
  }

  /** Takedown for the mart family: subtract the retracted rows' partials
    * from the state — decimal negation is exact, so the retracted state
    * equals a never-included rebuild BIT-FOR-BIT (the d33 doctrine, here
    * by algebra rather than re-derivation: the partials form an abelian
    * GROUP, not just a monoid, so forgetting is subtraction). Groups
    * whose last row leaves drop out entirely (cnt = 0 filter) — exactly
    * what a rebuild would show.
    */
  def retract(store: ParquetTableStore, retracted: DataFrame): Unit = {
    val neg = q1Partials(retracted).select(
      col("l_returnflag"), col("l_linestatus"),
      (-col("qty_d")).cast(DecimalType(38, 4)).as("qty_d"),
      (-col("base_d")).cast(DecimalType(38, 4)).as("base_d"),
      (-col("disc_d")).cast(DecimalType(38, 8)).as("disc_d"),
      (-col("cnt")).as("cnt"))
    store.overwrite("q1_state",
      foldPartials(store.read("q1_state"), neg).filter(col("cnt") > 0))
  }
}
