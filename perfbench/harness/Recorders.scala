package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON writer: the harness only emits flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Records every Spark job and stage with its job group (traced runs
  * only). Jobs started from a streaming query carry the query's run id
  * as their group; batch queries get the query name via setJobGroup. */
class JobRecorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[String]()
  val stages = new ConcurrentLinkedQueue[String]()
  private val jobInfo = mutable.Map[Int, (String, Long, Seq[Int])]()
  private val stageJob = mutable.Map[Int, Int]()
  private final class Acc {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var readBytes = 0L; var writeBytes = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }
  private val acc = mutable.Map[(Int, Int), Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobInfo(e.jobId) = (group, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (group, start, stageIds) =>
      jobs.add(Json.obj("job" -> e.jobId, "group" -> group, "start" -> start,
        "end" -> e.time, "stages" -> stageIds,
        "ok" -> (e.jobResult == JobSucceeded)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.readBytes += m.shuffleReadMetrics.totalBytesRead
      a.writeBytes += m.shuffleWriteMetrics.bytesWritten
      a.durations += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val a = acc.remove((s.stageId, s.attemptNumber())).getOrElse(new Acc)
    val sorted = a.durations.sorted
    val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    stages.add(Json.obj("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "job" -> stageJob.getOrElse(s.stageId, -1),
      "submit" -> s.submissionTime.getOrElse(0L),
      "complete" -> s.completionTime.getOrElse(0L),
      "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1000000L,
      "gc_ms" -> a.gcMs, "shuffle_read_bytes" -> a.readBytes,
      "shuffle_write_bytes" -> a.writeBytes,
      "task_max_ms" -> sorted.lastOption.getOrElse(0L),
      "task_median_ms" -> median))
  }

  def openJobs: Int = synchronized(jobInfo.size)
}

/** Keeps every streaming progress report as its public JSON form and
  * hands each one to `onProgress` (traced runs scan the sinks there). */
class ProgressRecorder(onProgress: (String, Long) => Unit) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[String]()
  val terminated = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress.json)
    onProgress(e.progress.name, e.progress.batchId)
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => terminated.add(x))
}

/** Heap in use right after each garbage collection of the run: what the
  * program held, independent of how far the JVM grew the heap around it. */
class HeapRecorder {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  val afterGcBytes = new ConcurrentLinkedQueue[Long]()

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          afterGcBytes.add(used)
        }, null, null)
    case _ =>
  }
}
