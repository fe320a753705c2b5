package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression converters. Spark 4 moved these behind
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils), so this
  * one-file bridge lives under org.apache.spark.sql — the standard pattern
  * for extension libraries that add native Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runs `body` with `spark` planning no generated code: whole-stage
    * codegen off and every expression, projection and ordering in its
    * interpreted form. The confs ride on every job the body starts, SQL or
    * not, so task-side code reads them too, and `spark` gets its own values
    * back after a return or a throw. The confs are named through their
    * `SQLConf` entries, so a Spark that renames them fails the build.
    *
    * The same session, not a `cloneSession()`: each session has its own
    * artifact classloader on the executors, which keys the codegen cache,
    * so a clone per run recompiles every row-format class Spark generates
    * even with codegen off (hash-aggregate row joiners, window orderings,
    * partition-value projections). Measured on a two-row backfill and a
    * one-row insert: 20 compiles every time with a clone per run, none
    * after the first time on one session.
    */
  def interpreted[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.internal.SQLConf
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    val keys = Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, SQLConf.CODEGEN_FACTORY_MODE.key)
    val saved = keys.map(k => k -> (if (conf.contains(k)) Some(conf.getConfString(k)) else None))
    conf.setConf(SQLConf.WHOLESTAGE_CODEGEN_ENABLED, false)
    conf.setConf(SQLConf.CODEGEN_FACTORY_MODE, CodegenObjectFactoryMode.NO_CODEGEN)
    try SQLExecution.withSQLConfPropagated(session)(body)
    finally saved.foreach {
      case (k, Some(v)) => conf.setConfString(k, v)
      case (k, None) => conf.unsetConf(k)
    }
  }

  /** Block until every queued listener event is delivered — the metrics
    * a SparkListener accumulates are only consistent after the bus
    * drains (`SparkContext.listenerBus` is private[spark]; this shim
    * lives inside org.apache.spark, the standard extension pattern).
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The query's RDD of INTERNAL rows — `df.rdd` pays a full
    * InternalRow → external Row conversion (every UTF8String decoded to
    * java.lang.String, every array copied into a Seq) that the suffix
    * neighbor-LCP scans were spending most of their time in; this keeps
    * rows in Tungsten format. CAUTION: iterators reuse row objects —
    * callers must copy() anything they hold across next().
    */
  def toInternalRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd

  /** Wrap an RDD of InternalRows as a DataFrame (the inverse of
    * `toInternalRdd`; `createDataFrame(RDD[Row])` would re-serialize
    * every row through the external format).
    */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Planned scan-task count of a pure file-scan pipeline, from the
    * PHYSICAL plan's leaves — the number Spark's bin-packing actually
    * produced (small files pack many-per-split, large files split by
    * maxPartitionBytes; `df.inputFiles.length` gets both wrong). Driver
    * metadata only: building FileScanRDD lists files and packs splits but
    * launches no job, and `sparkPlan` (pre-AQE) means no shuffle stage can
    * materialize. Returns None when the plan is not narrow-over-file-scans
    * (exchanges, cached or local relations) — callers fall back.
    */
  def scanSplits(df: org.apache.spark.sql.DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    // gate on the LOGICAL plan: only narrow pipelines over a file relation
    // qualify — anything that will plan an exchange (aggregate, join,
    // repartition, window) changes the output partitioning, so the scan's
    // split count is not the answer. (sparkPlan can't be probed for
    // exchanges: EnsureRequirements inserts them at the prepare stage.)
    val narrow = qe.optimizedPlan.collect { case p => p }.forall {
      case _: Project | _: Filter | _: LogicalRelation => true
      case _ => false
    }
    if (!narrow) return None
    val leaves = qe.sparkPlan.collectLeaves()
    if (leaves.nonEmpty && leaves.forall(_.isInstanceOf[FileSourceScanExec]))
      Some(leaves.map(_.asInstanceOf[FileSourceScanExec].inputRDD.getNumPartitions).sum)
    else None
  }
}
