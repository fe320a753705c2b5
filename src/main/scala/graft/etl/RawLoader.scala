package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Parsers._

/** S1/S5/F8 — ingest of Sheets-API-shaped values into the raw layer
  * (reference src/sheets.py:40-52 + main.py:166-217).
  *
  * The HTTP fetch itself is a driver-side connector concern; the engine's
  * contract starts at a `values` matrix (header row + data rows) or any
  * DataFrame carrying a payload map column.
  */
object RawLoader {

  val SheetWidth = 32 // default range A:AF, ref src/sheets.py:16,42

  /** Header fix-up (ref src/sheets.py:40-49): trim to SheetWidth, pad
    * missing with Column_{i} (1-based position), blank header → Column_{i}.
    */
  def fixHeaders(headers: Seq[String]): Seq[String] = {
    val trimmed = headers.take(SheetWidth)
    (0 until SheetWidth).map { i =>
      if (i < trimmed.length && trimmed(i).trim.nonEmpty) trimmed(i)
      else s"Column_${i + 1}"
    }
  }

  /** values → raw DataFrame: one row per data row, payload =
    * map(header → value) with short rows padded by "" (ref
    * src/sheets.py:52), id picked from pk/id/row_id/uuid or synthesized
    * (ref main.py:179-212), MD5 content hash, extracted_at stamp.
    */
  def fromValues(spark: SparkSession, values: Seq[Seq[String]],
      source: String = "google_sheets"): DataFrame = {
    import spark.implicits._
    require(values.nonEmpty, "values must include a header row")
    val headers = fixHeaders(values.head)
    val rows = values.tail.zipWithIndex.map { case (r, i) =>
      val padded = r.padTo(headers.length, "").take(headers.length)
      (i + 2, headers.zip(padded).toMap) // sheet rows are 1-based; +1 for header
    }
    val df = rows.toDF("sheet_row_number", "payload")
    fromPayloads(df, source)
  }

  /** Distributed ingest: any DataFrame with (sheet_row_number int, payload
    * map<string,string>) → full raw schema. Narrow, codegen'd, no shuffle.
    */
  def fromPayloads(df: DataFrame, source: String = "google_sheets"): DataFrame = {
    val p = col("payload")
    val norm = normalizeKeys(p)
    df.select(
        // synth ids append the 0-based record index (ref main.py:204);
        // sheet rows are 1-based with a header row, so index = row - 2
        pickOrSynthId(p, norm, col("sheet_row_number") - 2).as("id"),
        lit(source).as("source"),
        p.as("payload"),
        canonicalJson(p).as("payload_json"),
        // the STORED hash flavor (ref main.py:156-160) — see rawPayloadHash
        rawPayloadHash(p).as("payload_hash"),
        col("sheet_row_number").cast(IntegerType).as("sheet_row_number"),
        current_timestamp().as("extracted_at"),
        current_timestamp().as("last_seen"))
  }

  /** S5 insert-if-absent (ref main.py:142-163): only ids not already in
    * raw are appended. Returns the rows to append.
    */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame): DataFrame =
    incoming.join(existing.select(col("id")), Seq("id"), "left_anti")

  /** A6 duplicate-content monitor (ref main.py:195-212): hashes that appear
    * more than once in a batch.
    */
  def duplicateHashes(incoming: DataFrame): DataFrame =
    incoming.groupBy(col("payload_hash")).count().filter(col("count") > 1)

  /** P9 row-validity predicate (ref gas/pk_master.gs:13,33-36): true when
    * every required column is non-blank.
    */
  def rowValidity(requiredCols: Seq[String]): org.apache.spark.sql.Column =
    requiredCols.map(c => trim(coalesce(col(c), lit(""))) =!= "").reduce(_ && _)

  /** S7/F20 stringify-for-export (ref src/sheets.py:71-85): nulls → "",
    * every column cast to string — the sheet write-back row shape.
    */
  def stringifyForExport(df: DataFrame): DataFrame = {
    val stringified = df.columns.map(c => coalesce(col(c).cast(StringType), lit("")).as(c))
    df.select(stringified.toSeq: _*)
  }

  /** S2 CSV archive sink (ref src/sheets.py:54-59): every ingest batch
    * archived as headered CSV under `csv/<ingest date>/<source>`. Loads
    * APPEND their own part files, so a second load of the same source on
    * the same day keeps the first load's archive.
    */
  def archiveCsv(df: DataFrame, archiveRoot: String, ingestDate: String,
      source: String): Unit =
    stringifyForExport(df.drop("payload")) // CSV can't carry the map column
      .write.mode("append").option("header", "true")
      .csv(s"$archiveRoot/csv/$ingestDate/$source")
}
