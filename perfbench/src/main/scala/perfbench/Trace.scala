package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Events

/** Engine-side counters of one unit of attribution. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var rowsWritten = 0L

  def copy(): Counters = {
    val c = new Counters
    c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.cpuNs = cpuNs; c.gcMs = gcMs
    c.shuffleBytes = shuffleBytes; c.spillBytes = spillBytes; c.rowsWritten = rowsWritten
    c
  }
}

/** One finished top-level SQL execution, as the listeners saw it. */
final case class Execution(func: String, startMs: Long, endMs: Long,
    outputPath: Option[String], changeScan: Boolean, counters: Counters)

/** The traced run's only instrument: a SparkListener for jobs, stages,
  * tasks and SQL executions; an execution's end event carries its
  * QueryExecution, which tells what it wrote. Registered by the benchmark
  * only in `--trace 1` runs; the program is not changed.
  *
  * Work is keyed two ways. A job carries the `perfbench.group` local
  * property that the benchmark sets around each registry query; and a job
  * run under a SQL execution carries its execution id, which ties the ELT
  * writes `runElt` makes to their output table.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val byGroup = mutable.Map.empty[String, Counters]
  private val byExec = mutable.Map.empty[Long, Counters]
  private val stageOwner = mutable.Map.empty[Int, (Option[String], Option[Long])]
  private val rootOf = mutable.Map.empty[Long, Long]
  private val startMs = mutable.Map.empty[Long, Long]
  private val endMs = mutable.Map.empty[Long, Long]
  /** Per ended execution: its name, the path it wrote, whether it ran the change scan. */
  private val finished = mutable.Map.empty[Long, (String, Option[String], Boolean)]

  def register(): this.type = { spark.sparkContext.addSparkListener(this); this }

  def unregister(): Unit = { drain(); spark.sparkContext.removeSparkListener(this) }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = Events.drain(spark.sparkContext)

  private def root(exec: Long): Long = rootOf.getOrElse(exec, exec)

  private def owners(key: (Option[String], Option[Long])): Seq[Counters] = synchronized {
    key._1.map(g => byGroup.getOrElseUpdate(g, new Counters)).toSeq ++
      key._2.map(e => byExec.getOrElseUpdate(root(e), new Counters)).toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val key = (props.flatMap(p => Option(p.getProperty(GroupProperty))),
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))
    synchronized { e.stageIds.foreach(id => stageOwner(id) = key) }
    owners(key).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(stageOwner.get(e.stageInfo.stageId)).foreach(k => owners(k).foreach(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized(stageOwner.get(e.stageId)).foreach { k =>
      val m = e.taskMetrics
      owners(k).foreach { c =>
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.rowsWritten += m.outputMetrics.recordsWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      rootOf(s.executionId) = s.rootExecutionId.getOrElse(s.executionId)
      startMs(s.executionId) = s.time
    }
    case s: SparkListenerSQLExecutionEnd =>
      val seen = Events.queryExecution(s).map { qe =>
        val plan = qe.optimizedPlan
        (Events.name(s),
          plan.collectFirst { case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString },
          ChangeScanJoin.findFirstIn(plan.toString).nonEmpty)
      }
      synchronized {
        endMs(s.executionId) = s.time
        seen.foreach(finished(s.executionId) = _)
      }
    case _ =>
  }

  /** Snapshot of the counters that carry a group label. */
  def groups(): Map[String, Counters] = {
    drain()
    synchronized(byGroup.map { case (g, c) => g -> c.copy() }.toMap)
  }

  /** Top-level SQL executions that ended in [fromMs, toMs], in start order;
    * nested executions are folded into their root.
    */
  def executions(fromMs: Long, toMs: Long): Seq[Execution] = {
    drain()
    synchronized {
      startMs.keys.filter(id => root(id) == id).toSeq.sorted.flatMap { id =>
        val s = startMs(id); val en = endMs.getOrElse(id, s)
        if (s < fromMs || en > toMs) None
        else {
          val (func, output, changeScan) = finished.getOrElse(id, ("?", None, false))
          Some(Execution(func, s, en, output, changeScan, byExec.getOrElse(id, new Counters)))
        }
      }
    }
  }
}

object Trace {
  val GroupProperty = "perfbench.group"

  /** The change scan's raw ⟕̸ staging anti-join on the content hash. */
  val ChangeScanJoin = """Join LeftAnti, \(payload_hash#\d+ = payload_hash#\d+\)""".r
}
