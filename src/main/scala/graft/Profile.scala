package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage/task profiler (guide §1 "measure first") — the
  * committed form of the r17 ad-hoc listener harness. For every
  * registered query it reports wall seconds, JOB COUNT (the dominant
  * cost class for the sf0.1 mid-tail: each job is a scheduler barrier
  * worth ~50–150 ms regardless of data), stage/task counts, summed
  * executor run/CPU time, and shuffle bytes — the numbers that rank
  * which queries pay for plan barriers rather than compute.
  *
  * NOT part of the driver bench contract: separate main, separate
  * output (`PROFILE_LOCAL.json` / `$SPARK_GRAFT_PROFILE_OUT`), same env
  * knobs as [[Bench]] (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_ONLY`). Single rep after a JIT warmup pass — profiling
  * wants the steady-state job DAG, not a timing floor.
  */
object Profile {
  private final class Counters extends SparkListener {
    val jobsStarted = new AtomicLong
    val jobsEnded = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val execRunMs = new AtomicLong
    val execCpuNs = new AtomicLong
    val shuffleReadB = new AtomicLong
    val shuffleWriteB = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      { jobsStarted.incrementAndGet(); () }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      { jobsEnded.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        execRunMs.addAndGet(m.executorRunTime)
        execCpuNs.addAndGet(m.executorCpuTime)
        shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      { tasks.incrementAndGet(); () }
    def snapshot(): Seq[Long] = Seq(jobsStarted.get, stages.get, tasks.get,
      execRunMs.get, execCpuNs.get / 1000000L, shuffleReadB.get,
      shuffleWriteB.get)
    /** Bounded drain: listener events are async — wait until every
      * started job has posted its end event so per-query windows don't
      * bleed into each other. */
    def quiesce(timeoutMs: Long = 10000): Unit = {
      val t0 = System.nanoTime()
      while (jobsEnded.get < jobsStarted.get &&
        (System.nanoTime() - t0) / 1000000 < timeoutMs)
        Thread.sleep(20)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.selected()
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.session(cpus,
      SparkEntry.shufflePartitions(sfDir, cpus))
    val benchDir = Tables.stage(spark, sfDir)
    SparkEntry.warmUp(spark, names)
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    val rows = names.map { n =>
      c.quiesce()
      val before = c.snapshot()
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(n)(spark, benchDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[profile] $n failed: ${e.getMessage}"); false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      c.quiesce()
      val d = c.snapshot().zip(before).map { case (a, b) => a - b }
      val fields = Seq("jobs", "stages", "tasks", "exec_run_ms",
        "exec_cpu_ms", "shuffle_read_b", "shuffle_write_b")
      s""""$n":{"wall":${"%.3f".formatLocal(java.util.Locale.ROOT, wall)},""" +
        s""""ok":$ok,""" +
        fields.zip(d).map { case (f, v) => s""""$f":$v""" }.mkString(",") + "}"
    }
    val out = "{" + rows.mkString(",") + "}"
    val path = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT", "PROFILE_LOCAL.json"))
    java.nio.file.Files.writeString(path, out)
    println(s"[profile] wrote ${path.toAbsolutePath}")
    spark.stop()
  }
}
