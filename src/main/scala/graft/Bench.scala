package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Uses the noop sink so the
  * full plan (all columns, all rows) executes — `.count()` would let
  * Catalyst prune most of the work and flatter the numbers.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args: bench only the named queries (dev iteration); the
    // driver passes none → full run.
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      System.err.println(s"[bench] WARNING: unknown query names ignored: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.get()

    // Warmup (not timed): run every query once at the smallest SF so the
    // timed pass measures execution, not JIT + codegen compilation — the
    // generated code is cached per expression tree and reused at the
    // benchmark SF.
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }

    // per-query shuffle/spill accounting: a listener accumulates stage
    // metrics; the delta across a query's FIRST timed run is its cost.
    // Measured bytes, not plan guesses — the number that predicts 100 TB
    // behavior (a query whose shuffle is input-sized won't survive).
    val mShuffleRead = new java.util.concurrent.atomic.AtomicLong
    val mShuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val mSpill = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          mShuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          mShuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          mSpill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    val shuffleReadMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val shuffleWriteMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spillMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val results = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1).map { case (name, fn) =>
      // min of two timed runs: single-run numbers on a shared box swing
      // ±2× on the heavy queries (GC, page cache); the min is the real
      // execution cost. A FAILED run must not contribute a (typically
      // fast) elapsed time — report NaN and skip the second run.
      var failed = false
      // §1.5 of the optimization playbook: label jobs so the UI/event
      // log attributes every job to its query (measurement aid only)
      spark.sparkContext.setJobDescription(s"bench:$name")
      val times = (1 to 2).flatMap { run =>
        if (failed) None
        else {
          val first = run == 1
          val (r0, w0, s0) =
            if (first) (mShuffleRead.get, mShuffleWrite.get, mSpill.get)
            else (0L, 0L, 0L)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            // drain after BOTH runs: late stage-completion events from
            // run 2 must not land after the NEXT query's baseline
            // snapshot and inflate that query's delta.
            org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
            if (first) {
              shuffleReadMb(name) = (mShuffleRead.get - r0) / 1048576.0
              shuffleWriteMb(name) = (mShuffleWrite.get - w0) / 1048576.0
              spillMb(name) = (mSpill.get - s0) / 1048576.0
            }
            Some(dt)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed = true
            None
          }
        }
      }
      spark.sparkContext.setJobDescription(null)
      name -> times
    }
    val mins = results.map { case (k, ts) =>
      k -> (if (ts.isEmpty) Double.NaN else ts.min) }
    val qs = mins.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN) "null" else f"$v%.3f")
    }.mkString("{", ",", "}")
    // self-diagnosis: per-query spread (max − min across however many
    // timed runs exist — equal to |run2 − run1| at the default 2) + load. A
    // loaded-box sweep shows up as large spreads and a high load average
    // — detectable from the artifact alone, no re-run needed to tell a
    // real regression from machine noise.
    val spread = results.map { case (k, ts) =>
      "\"" + k + "\":" + (if (ts.size < 2) "null" else f"${ts.max - ts.min}%.3f")
    }.mkString("{", ",", "}")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadEnd = osBean.getSystemLoadAverage
    val total = mins.map(_._2).filterNot(_.isNaN).sum
    def mb(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
      f""""spread":$spread,"load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,""" +
      // the session's parallelism, not the JVM's core count: a run capped
      // at 8 cores on a 32-core host records 8
      f""""cpus":${spark.sparkContext.defaultParallelism},""" +
      f""""master":"${spark.sparkContext.master}",""" +
      f""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      f""""shuffle_read_mb":${mb(shuffleReadMb)},"shuffle_write_mb":${mb(shuffleWriteMb)},""" +
      f""""spill_mb":${mb(spillMb)},"sf":"$sfDir"}"""
    println(line)
    // Persist the full line to a file — the durable copy. Skip when an
    // `only` subset ran (dev iteration): partial totals must not clobber
    // the full-run artifact (unless an explicit out path was given).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    if (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $out: ${e.getMessage}")
      }
    } else System.err.println(s"[bench] partial run (${only.size} queries): not writing $out")
    // LAST stdout line: a genuinely compact summary — no per-query map
    // (the full map lives in the artifact and in the first stdout line),
    // so the driver's bounded tail capture always ends with a short
    // parseable JSON line no matter how many queries the registry grows.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"sf":"$sfDir","artifact":"$out"}""")
    spark.stop()
  }
}
