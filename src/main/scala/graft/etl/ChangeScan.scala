package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J1 — the reference's core CDC operator (src/transform.py:200-234):
  * rows whose content hash is not yet in staging are the change feed.
  *
  * Scale notes: an anti-join on the hash column only needs staging's
  * payload_hash (column-pruned at scan). At 100 TB the staging hash set is
  * still orders of magnitude smaller than raw payloads; AQE promotes to
  * broadcast when it fits, otherwise a shuffled hash anti-join with both
  * sides pruned to one column.
  *
  * The raw side is the raw part files no committed run has consumed yet
  * (`Consumed`, `fresh`): raw is append-only, so a file a run has read can
  * hold no change that run did not apply.
  */
object ChangeScan {

  /** New/changed raw rows: one row per id ⟕̸ staging on payload_hash.
    *
    * The id is picked BEFORE the anti-join, the first sheet row winning,
    * as the reference's raw insert `ON CONFLICT (id) DO NOTHING` keeps the
    * first (main.py:151). Picking after it would choose among only the
    * rows missing from staging, so a load carrying one id twice with
    * different content would flip that staging row on every run.
    */
  def apply(raw: DataFrame, staging: DataFrame, source: Option[String] = None): DataFrame = {
    val filtered = source.fold(raw)(s => raw.filter(col("source") === s))
    val first = Window.partitionBy(col("id"))
      .orderBy(col("extracted_at"), col("sheet_row_number"), col("payload_hash"))
    val perId = filtered.withColumn("__rn", row_number().over(first))
      .filter(col("__rn") === 1).drop("__rn")
    // a left-anti join ignores duplicates on its right side: no distinct
    perId.join(staging.select(col("payload_hash")), Seq("payload_hash"), "left_anti")
  }

  /** Test-mode variant (ref src/transform.py:208-211; main.py:44):
    * deterministic order + LIMIT. Only used when row order is observable —
    * a global sort at 100 TB is exactly what the unordered default avoids.
    */
  def ordered(changes: DataFrame, limit: Option[Int]): DataFrame = {
    val sorted = changes.orderBy(col("extracted_at"), col("id"))
    limit.fold(sorted)(sorted.limit)
  }

  /** The raw part files committed runs have read, and the staging row
    * count the last run published. Written with plain file I/O, staged and
    * published in the same group commit as staging, so it never runs
    * ahead of the staging it describes.
    */
  final case class Consumed(files: Set[String], stagingRows: Long)

  object Consumed {
    val Table = "raw_consumed"

    /** Line 1 is the staging row count, then one raw file name per line. */
    def read(store: ParquetTableStore): Option[Consumed] =
      store.readLines(Table).map(ls => Consumed(ls.tail.toSet, ls.head.toLong))

    def stage(store: ParquetTableStore, c: Consumed): Unit =
      store.stageLines(Table, c.stagingRows.toString +: c.files.toSeq.sorted)
  }

  /** Raw part files the consumed set does not list: all of raw when there
    * is no set (a root written before it existed). A plain directory
    * listing: no Spark job.
    */
  def fresh(store: ParquetTableStore, consumed: Option[Consumed]): Seq[String] = {
    val seen = consumed.fold(Set.empty[String])(_.files)
    store.dataFiles("raw").filterNot(seen)
  }
}
