package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** The yardstick for the host's speed: a fixed piece of plain JVM work
  * that runs no engine code (sort half a million pseudo-random longs, then
  * hash-count them into an 8 MB table, on each of `threads` threads). The
  * benchmark runs rounds between timed operations and divides the
  * operations' CPU time by how much slower than `QuietRoundS` the rounds
  * ran. On a shared VM the host's contention slows every instruction from
  * one minute to the next, in CPU time as in wall time; the rounds slow
  * with it, so the ratio keeps what the program itself costs.
  */
object Reference {

  /** CPU seconds per thread of one round on a quiet 4-core VM: a fixed
    * scale, so normalised numbers read as CPU seconds on that host.
    */
  val QuietRoundS = 0.06

  private val N = 1 << 19
  private val mx = ManagementFactory.getThreadMXBean
  // allocated once, so rounds leave no garbage for the engine's GC
  private val buffers = mutable.Map.empty[Int, (Array[Long], Array[Int])]

  private def work(k: Int): Long = {
    val (a, t) = buffers.synchronized(
      buffers.getOrElseUpdate(k, (new Array[Long](N), new Array[Int](1 << 21))))
    var x = k + 1L
    var i = 0
    while (i < N) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
    java.util.Arrays.sort(a)
    java.util.Arrays.fill(t, 0)
    var s = 0L
    i = 0
    while (i < N) { val h = ((a(i) * 0x9E3779B97F4A7C15L) >>> 43).toInt; t(h) += 1; s += t(h); i += 1 }
    s
  }

  /** CPU seconds per thread of one round on `threads` threads. */
  def round(threads: Int): Double = {
    val cpu = new java.util.concurrent.atomic.AtomicLong
    val sink = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map(k => new Thread(() => {
      val c0 = mx.getCurrentThreadCpuTime
      sink.addAndGet(work(k))
      cpu.addAndGet(mx.getCurrentThreadCpuTime - c0)
      ()
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    cpu.get / 1e9 / threads
  }

  private val rounds = mutable.ArrayBuffer.empty[Double]

  /** Run and record `n` rounds. */
  def sample(threads: Int, n: Int = 1): Unit = rounds ++= (1 to n).map(_ => round(threads))

  def recorded: Seq[Double] = rounds.toSeq

  /** How much slower than quiet the host ran the recorded rounds (median). */
  def slowdown: Double = Bench.median(rounds.toSeq) / QuietRoundS
}
