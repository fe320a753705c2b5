package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Storage abstraction for the layer tables (SURVEY §7.3): plain Parquet
  * with tmp-dir + atomic-swap rewrites. Isolates the upsert mechanics so an
  * ACID format's MERGE can slot in without touching pipeline logic.
  */
trait TableStore {
  def exists(name: String): Boolean
  def read(name: String): DataFrame
  def overwrite(name: String, df: DataFrame): Unit
  def append(name: String, df: DataFrame): Unit
}

object ParquetTableStore {
  /** Guards first-touch catalog registration of bucketed tables. */
  private[etl] val catalogLock = new Object

  /** Delete a whole store directory — the cleanup verb for TRANSIENT
    * stores (the `ensureMerged` shard-build temporaries): shards fold
    * into the destination and their build dirs have no further reader,
    * so leaving them accumulates one full corpus copy per shard per
    * cache key. Safe on a missing path (replay after a crash that
    * already cleaned).
    */
  def deleteStoreDir(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }
}

final class ParquetTableStore(spark: SparkSession, root: String) extends TableStore {
  private def path(name: String) = s"$root/$name"

  // finish any group commit a crash interrupted before this store opened
  recover()

  override def exists(name: String): Boolean =
    Files.exists(Paths.get(path(name)))

  override def read(name: String): DataFrame =
    spark.read.parquet(path(name))

  /** Read with a declared schema: no Spark job infers one from a Parquet
    * footer. File sources make every column nullable, as inference does.
    */
  def read(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path(name))

  /** Write to a temp dir, then swap: the read path never observes a
    * half-written table (daily-batch contract; a lakehouse deployment
    * would use an ACID table format instead).
    */
  override def overwrite(name: String, df: DataFrame): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path(name + "__tmp"))
    completeSwap(name)
  }

  /** Stage a table for a group commit: write the data into the table's
    * tmp dir WITHOUT publishing it, and return a DataFrame over the
    * staged files — later staged tables can derive from this one (the
    * clusters → kept dependency) while the published table is untouched.
    * The files are read back with the schema just written, so no job
    * infers it from their footers.
    */
  def stage(name: String, df: DataFrame): DataFrame = {
    df.write.mode(SaveMode.Overwrite).parquet(path(name + "__tmp"))
    spark.read.schema(df.schema).parquet(path(name + "__tmp"))
  }

  /** Publish a set of staged tables as ONE crash-safe group commit.
    * Each individual swap is atomic; the journal written BEFORE the first
    * swap makes the GROUP atomic under crash-recovery: a reopened store
    * (`recover`, run at construction) rolls every listed swap forward, so
    * readers never observe a torn subset — e.g. new `clusters` beside old
    * `kept` (the pair the incremental dedup CLIs commit together).
    */
  def commitStaged(names: Seq[String]): Unit = {
    recover() // a stale journal would fail the CREATE_NEW claim below
    names.foreach { n =>
      require(Files.exists(Paths.get(path(n + "__tmp"))), s"$n was not staged")
    }
    Files.write(journal, names.mkString("\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    names.foreach(completeSwap)
    Files.delete(journal)
  }

  private def journal = Paths.get(root, "_graft_commit_journal")

  /** Roll forward a group commit interrupted mid-swap: the journal lists
    * the tables whose staged data must finish swapping in. Idempotent —
    * `completeSwap` resumes a partially swapped table from any of its
    * crash states. Runs at construction so a reopened store always sees
    * either the complete old group or the complete new group.
    */
  def recover(): Unit =
    if (Files.exists(journal)) {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(journal).asScala.filter(_.nonEmpty).foreach(completeSwap)
      Files.delete(journal)
    }

  /** Finish (or resume) one table's tmp → live swap; safe from any crash
    * point: tmp present + live present → full swap; tmp present + live
    * missing (crashed between moves) → promote tmp; tmp absent → only
    * clear the leftover old dir.
    */
  private def completeSwap(name: String): Unit = {
    val tmp = Paths.get(path(name + "__tmp"))
    val dst = Paths.get(path(name))
    val old = Paths.get(path(name + "__old"))
    if (Files.exists(tmp)) {
      if (Files.exists(dst)) {
        deleteRecursive(old)
        Files.move(dst, old, StandardCopyOption.ATOMIC_MOVE)
      }
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    }
    deleteRecursive(old)
    // drop the session's cached file listing for this path — it still
    // points at the pre-swap part files (metadataCacheTTL is infinite)
    spark.catalog.refreshByPath(path(name))
  }

  override def append(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path(name))

  /** Append through a scratch dir hidden inside the table
    * (`<name>/_append`; readers skip `_`-prefixed paths): after the
    * write, its part files move into the table only if `keep` holds, so
    * an empty append (`keep` reads an Observation on the write) or a
    * failed one adds no file.
    */
  def appendIf(name: String, df: DataFrame)(keep: => Boolean): Unit = {
    val scratch = Paths.get(path(name), "_append")
    try {
      df.write.mode(SaveMode.Overwrite).parquet(scratch.toString)
      if (keep) {
        listNames(scratch).filter(n => n.startsWith("part-") || n.startsWith(".part-"))
          .foreach(n => Files.move(scratch.resolve(n), Paths.get(path(name), n),
            StandardCopyOption.ATOMIC_MOVE))
        spark.catalog.refreshByPath(path(name))
      }
    } finally deleteRecursive(scratch)
  }

  /** Data file names of a plain (unpartitioned) table, from a plain
    * directory listing: no Spark job. Hidden (`_`/`.`-prefixed) entries
    * are not data.
    */
  def dataFiles(name: String): Seq[String] =
    listNames(Paths.get(path(name))).filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** Column names in the footer of one data file of a plain table (a
    * file read on the driver, no Spark job); empty when it has no file.
    */
  def footerColumns(name: String): Seq[String] = dataFiles(name).headOption.toSeq.flatMap { f =>
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path(name), f), spark.sparkContext.hadoopConfiguration))
    try reader.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally reader.close()
  }

  /** Total size in bytes of the given data files of a plain table. */
  def fileBytes(name: String, files: Seq[String]): Long =
    files.map(f => Files.size(Paths.get(path(name), f))).sum

  /** Read only the given data files of a plain table, with its declared schema. */
  def readFiles(name: String, files: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(files.map(f => s"${path(name)}/$f"): _*)

  /** Stage a small table of text lines, written with plain file I/O (no
    * Spark job); `commitStaged` publishes it like any staged table.
    */
  def stageLines(name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(path(name + "__tmp"))
    deleteRecursive(tmp)
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("lines.txt"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** The lines of a published `stageLines` table, if it exists. */
  def readLines(name: String): Option[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val f = Paths.get(path(name), "lines.txt")
    if (Files.exists(f)) Some(Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty)) else None
  }

  private def listNames(dir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList.sorted finally s.close()
  }

  // ───── bucketed tables (co-located serve joins) ─────
  //
  // A plain parquet read reports no partitioning, so every join against a
  // stored table re-shuffles it — corpus-sized cost on a serve path that
  // should only pay for the batch. Writing the table BUCKETED (Spark's
  // bucket file encoding + a catalog entry carrying the spec) makes its
  // scan report hashpartitioning(bucketCols), so the serve join co-locates:
  // only the batch side exchanges. The catalog entry is in-memory; a fresh
  // session re-registers it over the same files via CREATE TABLE ...
  // CLUSTERED BY ... LOCATION (schema inferred from the parquet footers).
  // Data stays under this store's root — the swap/journal machinery and
  // the crash-safety story are unchanged.

  private def bucketTable(name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"graft_bkt_${name}_$h"
  }

  // catalog LOCATION / path options resolve RELATIVE paths against the
  // warehouse dir, not the CWD the plain read/write paths use — always
  // hand the catalog an absolute path
  private def absPath(name: String): String =
    Paths.get(path(name)).toAbsolutePath.toString

  /** Bucketed flavor of `stage`: write the bucket-encoded files into the
    * table's tmp dir (via a throwaway catalog entry — dropped at once,
    * files kept) and return a DataFrame over them. `commitStaged`
    * publishes as usual. Repartitioning on the bucket columns first keeps
    * files-per-bucket at ~1 instead of one per task.
    */
  def stageBucketed(name: String, df: DataFrame, bucketCols: Seq[String],
      numBuckets: Int): DataFrame = {
    val tmpTable = bucketTable(name) + "__tmp"
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
    deleteRecursive(Paths.get(path(name + "__tmp")))
    df.repartition(numBuckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("path", absPath(name + "__tmp"))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`") // external: files stay
    spark.read.parquet(path(name + "__tmp"))
  }

  /** Read a bucketed table THROUGH the catalog so the scan carries the
    * bucket spec (a path read would silently degrade to un-partitioned).
    * Registers the external table on first touch per session; refreshes
    * the file listing every call (swaps/appends invalidate it).
    */
  def readBucketed(name: String, bucketCols: Seq[String],
      numBuckets: Int): DataFrame = {
    val tbl = bucketTable(name)
    // two threads serving the same store may race the first registration
    ParquetTableStore.catalogLock.synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        val schema = spark.read.parquet(path(name)).schema.toDDL
        val bc = bucketCols.map(c => s"`$c`").mkString(", ")
        spark.sql(s"CREATE TABLE `$tbl` ($schema) USING parquet " +
          s"CLUSTERED BY ($bc) SORTED BY ($bc) INTO $numBuckets BUCKETS " +
          s"LOCATION '${absPath(name)}'")
      }
    }
    spark.catalog.refreshTable(tbl)
    spark.table(tbl)
  }

  /** Bucket-encoded append — same spec, new files beside the old ones
    * (more files per bucket, never a rewrite; the bucket contract still
    * holds because every file's rows hash to its bucket id).
    */
  def appendBucketed(name: String, df: DataFrame, bucketCols: Seq[String],
      numBuckets: Int): Unit = {
    readBucketed(name, bucketCols, numBuckets) // ensure registration
    df.repartition(numBuckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Append)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(bucketTable(name))
    spark.catalog.refreshTable(bucketTable(name))
  }

  /** Compact a bucketed table: rewrite the accumulated per-append files
    * back to ~one file per bucket and swap atomically (tmp + journal-
    * compatible). The daily append cadence otherwise grows files-per-
    * bucket without bound — scan open cost and per-bucket in-task merge
    * width grow with it. Readers never observe a half-compacted table;
    * the bucket spec (and so every co-located join) is unchanged.
    */
  def compactBucketed(name: String, bucketCols: Seq[String],
      numBuckets: Int): Unit = {
    // read the PLAIN path, not the catalog table: the optimizer elides
    // the bucket-aligning repartition against a bucketed relation (it
    // trusts the layout) while the planner may still run the scan
    // un-bucketed with mixed-bucket tasks — the write then emits one
    // file per (task, bucket) and compaction barely compacts. A path
    // read claims no partitioning, so the shuffle stays and lines up
    // 1:1 with the writer's bucket hash.
    stageBucketed(name, read(name), bucketCols, numBuckets)
    commitStaged(Seq(name))
    // re-register + refresh via readBucketed: in a fresh session (e.g. the
    // standalone `dedupidx compact` CLI) the catalog entry doesn't exist yet
    // and a bare refreshTable throws TABLE_OR_VIEW_NOT_FOUND
    readBucketed(name, bucketCols, numBuckets)
    ()
  }

  /** Overwrite with Hilbert clustering on two keys: each written file
    * covers a tight (a, b) rectangle, so parquet min/max statistics prune
    * scans filtered on EITHER key — the layout step a 100 TB query mart
    * needs (Delta's OPTIMIZE ZORDER, done at write time).
    */
  def overwriteClustered(name: String, df: DataFrame,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): Unit =
    overwrite(name, graft.operators.Layout.hilbertBy(df, a, b))

  /** Incremental partition-level maintenance for row-level query marts:
    * rewrite ONLY the Hive partitions present in `delta` (dynamic
    * partition overwrite), leaving every other partition's files
    * untouched. At 100 TB the daily batch touches a handful of recent
    * months, so the mart refresh is delta-sized, not table-sized — the
    * fix for overwriteClustered's full rewrite.
    *
    * Rows are range-partitioned by (partition value, Hilbert(a, b)) and
    * sorted within tasks, so each written file in each partition covers a
    * tight (a, b) rectangle and min/max stats prune on either key —
    * clustering quality matches overwriteClustered, paid only on the
    * delta. One shuffle of the delta, nothing else.
    *
    * A dynamic overwrite replaces only the partitions the write produces,
    * so each of `partitions` the delta has no row for is deleted after
    * it: the last row to leave a partition does not linger there. The
    * written partitions are observed on the write, with no job of their
    * own.
    */
  def upsertPartitionsClustered(name: String, delta: DataFrame,
      partitionCol: String, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, partitions: Set[String]): Unit = {
    import org.apache.spark.sql.functions.{col, collect_set}
    val written = org.apache.spark.sql.Observation(s"$name partitions")
    val clustered = delta.observe(written, collect_set(col(partitionCol).cast("string")).as("p"))
      .withColumn("__z", graft.operators.Layout.hilbertValue(a, b))
      .repartitionByRange(col(partitionCol), col("__z"))
      .sortWithinPartitions(col(partitionCol), col("__z"))
      .drop("__z")
    clustered.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path(name))
    (partitions -- written.get("p").asInstanceOf[Iterable[String]]).foreach(v =>
      deleteRecursive(Paths.get(path(name), org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.getPartitionPathString(partitionCol, v))))
    spark.catalog.refreshByPath(path(name))
  }

  /** Hive-style partitioned layout (SURVEY §4.1: partition staging by
    * source_type, raw by ingest date). A filter on the partition column
    * prunes whole directories at planning time — at 100 TB the daily
    * incremental run reads one date partition, not the table.
    */
  def overwritePartitioned(name: String, df: DataFrame, partitionCols: Seq[String]): Unit = {
    val tmp = path(name + "__tmp")
    val dst = Paths.get(path(name))
    val old = Paths.get(path(name + "__old"))
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(tmp)
    if (Files.exists(dst)) {
      deleteRecursive(old)
      Files.move(dst, old, StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(Paths.get(tmp), dst, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursive(old)
    spark.catalog.refreshByPath(path(name))
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
    }
}

/** Manifest-commit store: the object-store-safe flavor of TableStore.
  *
  * ParquetTableStore's atomic-swap relies on POSIX directory rename, which
  * object stores don't have. Here a commit is: (1) write data files into an
  * immutable uniquely-named subdir, (2) PUT a manifest listing the table's
  * current files as the LAST step. Readers list `_manifests/` and load the
  * highest version — a half-finished commit is invisible because its
  * manifest doesn't exist yet, and data subdirs are never mutated, so a
  * reader planned against version N keeps working while N+1 commits
  * (snapshot isolation; `keepVersions` bounds how long). Same shape as
  * Iceberg/Delta's metadata-last protocol, reduced to the engine's needs.
  *
  * Concurrency: the version file is created with an atomic create-new
  * (object stores: if-none-match PUT) — two racing writers can't both
  * claim version N+1; the loser retries on the next version.
  *
  * Manifest line format: `path` or `path\tstatsJson` — each data file may
  * carry per-file column statistics (FileStatistics), enabling file
  * skipping (`readWhereNum`/`readWhereStr`), metadata-only row counts
  * (`countRows`) and giving readers of old manifests (no stats) unchanged
  * behavior.
  */
final class ManifestTableStore(spark: SparkSession, root: String, keepVersions: Int = 2)
    extends TableStore {
  import FileStatistics.FileStats

  private def tableDir(name: String) = Paths.get(root, name)
  private def manifestDir(name: String) = tableDir(name).resolve("_manifests")

  private def manifests(name: String): Seq[java.nio.file.Path] = {
    val md = manifestDir(name)
    if (!Files.exists(md)) return Seq.empty
    import scala.jdk.CollectionConverters._
    Files.list(md).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("v\\d{8}\\.manifest"))
      .sortBy(_.getFileName.toString)
  }

  private def version(p: java.nio.file.Path): Int =
    p.getFileName.toString.stripPrefix("v").stripSuffix(".manifest").toInt

  private def linePath(line: String): String = line.split('\t').head

  private def lineStats(line: String): Option[FileStats] =
    line.split('\t') match {
      case Array(_, json) => FileStatistics.fromJson(json)
      case _              => None
    }

  private def readLines(m: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(m).asScala.toSeq.filter(_.nonEmpty)
  }

  /** Current manifest's lines (path + optional stats), newest version. */
  private def currentLines(name: String): Seq[String] = manifests(name).lastOption match {
    case None    => Seq.empty
    case Some(m) => readLines(m)
  }

  private def currentFiles(name: String): Seq[String] =
    currentLines(name).map(linePath)

  override def exists(name: String): Boolean = manifests(name).nonEmpty

  override def read(name: String): DataFrame = {
    val files = currentFiles(name)
    require(files.nonEmpty, s"no committed version of $name")
    // a manifest can span commits with widened schemas (appended columns)
    // — mergeSchema unions them; absent columns read as null
    spark.read.option("mergeSchema", "true").parquet(files: _*)
  }

  /** Committed version numbers still readable (oldest first). */
  def versions(name: String): Seq[Int] = manifests(name).map(version)

  /** Time travel: read the table as of a specific committed version —
    * manifests pin immutable data files, so any un-GC'd version
    * reconstructs exactly (bounded by keepVersions).
    */
  def readVersion(name: String, v: Int): DataFrame =
    spark.read.parquet(versionFiles(name, v): _*)

  private def versionFiles(name: String, v: Int): Seq[String] = {
    val m = manifests(name).find(version(_) == v)
      .getOrElse(throw new IllegalArgumentException(
        s"version $v of $name not available; have ${versions(name).mkString(",")}"))
    readLines(m).map(linePath)
  }

  /** Append-only CDC between two committed versions: the rows added in
    * (fromV, toV]. Data files are immutable and appends only ever add
    * files, so the diff of the two manifests IS the change set — an
    * incremental consumer reads exactly the new data, never the table.
    * Rejects non-append history (overwrite/compaction rewrites files, so
    * a file diff would misstate the changes).
    */
  def readChanges(name: String, fromV: Int, toV: Int): DataFrame = {
    val from = versionFiles(name, fromV).toSet
    val to = versionFiles(name, toV)
    require(from.subsetOf(to.toSet),
      s"versions $fromV..$toV of $name are not append-only (overwrite or " +
        "compaction in between); file diff would misstate the changes")
    val added = to.filterNot(from)
    if (added.isEmpty) read(name).limit(0)
    else spark.read.option("mergeSchema", "true").parquet(added: _*)
  }

  /** Metadata-only COUNT(*): sum of per-file row counts from the current
    * manifest — no data file is opened. None when any file predates
    * stats collection (fall back to read(name).count).
    */
  def countRows(name: String): Option[Long] = {
    val stats = currentLines(name).map(lineStats)
    if (stats.forall(_.isDefined)) Some(stats.flatten.map(_.rows).sum) else None
  }

  /** File-skipping scan for `column BETWEEN lo AND hi` (numeric flavor):
    * open only the files whose manifest [min, max] range overlaps. The
    * result is a SUPERSET of the matching rows (callers still apply the
    * filter — Spark then prunes row groups via parquet footer stats); a
    * file without stats is conservatively kept, an all-null column is
    * safely skipped (BETWEEN never matches null). With a Hilbert-clustered
    * layout this is the manifest-level pruning step that turns a 100 TB
    * scan into a few files before the query even plans.
    */
  def readWhereNum(name: String, column: String, lo: Double, hi: Double): DataFrame =
    readPruned(name, _.cols.get(column).forall(_.overlapsNum(lo, hi)))

  /** String flavor of readWhereNum (month buckets, source keys). */
  def readWhereStr(name: String, column: String, lo: String, hi: String): DataFrame =
    readPruned(name, _.cols.get(column).forall(_.overlapsStr(lo, hi)))

  private def readPruned(name: String, keep: FileStats => Boolean): DataFrame = {
    val lines = currentLines(name)
    require(lines.nonEmpty, s"no committed version of $name")
    val kept = lines.filter(l => lineStats(l).forall(keep)).map(linePath)
    if (kept.isEmpty) read(name).limit(0)
    else spark.read.option("mergeSchema", "true").parquet(kept: _*)
  }

  override def overwrite(name: String, df: DataFrame): Unit = commit(name, df, replace = true)

  override def append(name: String, df: DataFrame): Unit = commit(name, df, replace = false)

  /** Hilbert-clustered overwrite: every committed file covers a tight
    * (a, b) rectangle, so the manifest's per-file min/max prunes range
    * predicates on EITHER key — layout and statistics are two halves of
    * the same 100 TB design (cluster so the stats are tight, keep stats
    * so the clustering pays at plan time).
    */
  def overwriteClustered(name: String, df: DataFrame,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): Unit =
    overwrite(name, graft.operators.Layout.hilbertBy(df, a, b))

  /** Metadata-only MIN/MAX of a numeric column from the current manifest
    * (None when a file predates stats or never saw the column). The max
    * is exact up to the 1-ulp widening the stats apply for pruning
    * safety — fine for planning, not for an oracle-checked answer.
    */
  def minMaxOf(name: String, column: String): Option[(Double, Double)] = {
    val stats = currentLines(name).map(lineStats)
    if (!stats.forall(_.isDefined)) return None
    val cs = stats.flatten.map(_.cols.get(column))
    if (!cs.forall(_.isDefined)) return None
    val bounds = cs.flatten.flatMap(c => c.minN.zip(c.maxN))
    if (bounds.isEmpty) None
    else Some((bounds.map(_._1).min, bounds.map(_._2).max))
  }

  private def commit(name: String, df: DataFrame, replace: Boolean): Unit = {
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = tableDir(name).resolve(s"data-$commitId")
    df.write.mode(SaveMode.ErrorIfExists).parquet(dataDir.toString)
    import scala.jdk.CollectionConverters._
    val newFiles = Files.list(dataDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).sorted
    val newLines = statLines(newFiles)
    val md = manifestDir(name)
    Files.createDirectories(md)
    var v = manifests(name).lastOption.map(version).getOrElse(0) + 1
    var committed = false
    while (!committed) {
      // Rebase INSIDE the loop: an append that loses the version race must
      // re-list the current files at retry time, or the concurrent commit's
      // files silently vanish from the newer manifest (lost update).
      val lines = if (replace) newLines else currentLines(name) ++ newLines
      val target = md.resolve(f"v$v%08d.manifest")
      try {
        // CREATE_NEW = atomic claim of this version (if-none-match PUT on
        // an object store); a racing writer forces a retry on v+1
        Files.write(target, lines.mkString("\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        committed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => v += 1
      }
    }
    gc(name)
  }

  /** Manifest lines for freshly written files: path + per-file stats from
    * one distributed pass over the NEW data only (the Iceberg/Delta
    * writer's price for manifest pruning).
    */
  private def statLines(newFiles: Seq[String]): Seq[String] = {
    val stats = FileStatistics.collect(spark, newFiles)
    newFiles.map { f =>
      stats.get(FileStatistics.normalizePath(f)) match {
        case Some(s) => f + "\t" + FileStatistics.toJson(s)
        case None    => f // zero-row file: no group surfaces from the agg
      }
    }
  }

  /** Copy-on-write range delete: remove rows with `column` in [lo, hi],
    * rewriting ONLY the files whose manifest stats overlap the range —
    * untouched files carry over into the new manifest BY REFERENCE. With
    * a Hilbert-clustered layout a targeted delete (the GDPR case)
    * rewrites a handful of files out of a 100 TB table; the snapshot the
    * deleted rows lived in stays readable until gc (keepVersions is the
    * retention knob). Same optimistic concurrency as compact: losing the
    * version race discards the rewrite and restarts from the fresh
    * listing (a rebase could resurrect rows a concurrent commit deleted).
    */
  def deleteWhereNum(name: String, column: String, lo: Double, hi: Double): Unit =
    deleteWhere(name, column, _.overlapsNum(lo, hi), lo, hi)

  /** String flavor of deleteWhereNum (month buckets, source keys). */
  def deleteWhereStr(name: String, column: String, lo: String, hi: String): Unit =
    deleteWhere(name, column, _.overlapsStr(lo, hi), lo, hi)

  private def deleteWhere(name: String, column: String,
      overlaps: FileStatistics.ColStat => Boolean, lo: Any, hi: Any): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    var done = false
    while (!done) {
      val ms = manifests(name)
      require(ms.nonEmpty, s"no committed version of $name to delete from")
      val base = version(ms.last)
      val (touched, untouched) = readLines(ms.last).partition(l =>
        lineStats(l).forall(_.cols.get(column).forall(overlaps)))
      if (touched.isEmpty) return // stats prove nothing matches
      val survivors = spark.read.option("mergeSchema", "true")
        .parquet(touched.map(linePath): _*)
        .filter(!col(column).between(lit(lo), lit(hi)))
      val commitId = java.util.UUID.randomUUID().toString.take(8)
      val dataDir = tableDir(name).resolve(s"data-$commitId")
      survivors.write.mode(SaveMode.ErrorIfExists).parquet(dataDir.toString)
      import scala.jdk.CollectionConverters._
      val newFiles = Files.list(dataDir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).sorted
      val lines = untouched ++ statLines(newFiles)
      val target = manifestDir(name).resolve(f"v${base + 1}%08d.manifest")
      try {
        Files.write(target, lines.mkString("\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        done = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          deleteRecursive(dataDir)
      }
    }
    gc(name)
  }

  /** Compaction: rewrite the table's current files into `targetSplits`
    * larger ones and commit the result as a NEW version. The daily append
    * cadence otherwise accumulates small files without bound (the
    * reference's Postgres had autovacuum; an object-store table needs an
    * explicit rewrite). Snapshot isolation holds: data dirs are immutable
    * and old manifests keep pinning the pre-compaction files until gc.
    *
    * Concurrency is OPTIMISTIC with conflict detection: compaction rewrites
    * the base version's whole listing, so unlike append it cannot rebase —
    * if another commit claims the next version first, the compacted data
    * dir is discarded and the rewrite restarts from the fresh listing.
    * coalesce (not repartition) keeps the rewrite shuffle-free.
    */
  def compact(name: String, targetSplits: Int = 1): Unit = {
    var done = false
    while (!done) {
      val ms = manifests(name)
      require(ms.nonEmpty, s"no committed version of $name to compact")
      val base = version(ms.last)
      import scala.jdk.CollectionConverters._
      val files = readLines(ms.last).map(linePath)
      if (files.length <= targetSplits) return // already compact
      val commitId = java.util.UUID.randomUUID().toString.take(8)
      val dataDir = tableDir(name).resolve(s"data-$commitId")
      spark.read.option("mergeSchema", "true").parquet(files: _*)
        .coalesce(targetSplits)
        .write.mode(SaveMode.ErrorIfExists).parquet(dataDir.toString)
      val newFiles = Files.list(dataDir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).sorted
      val newLines = statLines(newFiles)
      val target = manifestDir(name).resolve(f"v${base + 1}%08d.manifest")
      try {
        Files.write(target, newLines.mkString("\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        done = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // a concurrent commit won the version — our rewrite no longer
          // covers the table; drop it and recompact from the fresh state
          deleteRecursive(dataDir)
      }
    }
    gc(name)
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
    }

  /** Drop manifests + data dirs no current or recent manifest references. */
  private def gc(name: String): Unit = {
    val ms = manifests(name)
    if (ms.length <= keepVersions) return
    val (drop, keep) = ms.splitAt(ms.length - keepVersions)
    val live = keep.flatMap(m => readLines(m).map(linePath)).toSet
    val deadDirs = drop.flatMap(m => readLines(m).map(linePath))
      .filterNot(live.contains)
      .map(f => Paths.get(f).getParent).distinct
    drop.foreach(Files.delete)
    deadDirs.filterNot(d => live.exists(_.startsWith(d.toString)))
      .foreach(deleteRecursive)
  }
}

/** Bucketed catalog tables for co-located joins (SURVEY §4.1 pushdown row):
  * two tables bucketed+sorted on the same key join with NO shuffle — at
  * 100 TB this turns the nightly staging⋈raw reconciliations from a full
  * exchange of both sides into a local merge per bucket. Bucketing needs
  * the catalog API (bucketBy + saveAsTable), hence separate from the
  * path-based ParquetTableStore.
  */
final class BucketedStore(spark: SparkSession) {
  def write(table: String, df: DataFrame, bucketCols: Seq[String], numBuckets: Int): Unit = {
    // an in-memory catalog restarts empty while the warehouse dir persists;
    // clear both so Overwrite never trips over an orphaned location
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = Paths.get(wh, table)
    if (Files.exists(loc)) {
      Files.walk(loc).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
    }
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def read(table: String): DataFrame = spark.table(table)
}
