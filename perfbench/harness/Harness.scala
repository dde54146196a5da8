package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.ingest.Decode
import graft.sinks.Upsert
import graft.streaming.StreamingJob

/** JVM side of the benchmark. Drives the program only through its
  * public entry points (`StreamingJob.run` over a text file source,
  * `SparkEntry.queries` over `Tables.stage`) and writes raw records —
  * generator log, streaming progress, query timings, and in traced runs
  * Spark jobs/stages and sink scans — to `out=<dir>`; `run.py` turns
  * them into metrics.
  *
  * Usage: Harness mode=<stream_paced|stream_backlog|batch_registry>
  *   work=<dir> out=<dir> data=<dir> seconds=<n> trace=<0|1> cpus=<n> ...
  */
object Harness {
  private var opts: Map[String, String] = Map.empty
  private def opt(k: String): String =
    opts.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
  private def now(): Long = System.currentTimeMillis()

  /** CPU time of every thread of this process (Spark's driver and its
    * local executor threads, GC, JIT). With paravirtual steal accounting
    * the kernel leaves out time a virtual CPU spent descheduled by the
    * hypervisor, which wall time includes. */
  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val summary = mutable.LinkedHashMap[String, Any]()
  private val errors = mutable.ArrayBuffer[String]()

  def main(args: Array[String]): Unit = {
    val heap = new HeapRecorder
    opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    val trace = opt("trace") == "1"
    val cpus = opt("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the library's documented seam for its SQL functions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = if (trace) Some(new JobRecorder) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    try opt("mode") match {
      case "stream_paced" => streamPaced(spark, trace)
      case "stream_backlog" => streamBacklog(spark, trace)
      case "batch_registry" => batchRegistry(spark)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } catch { case e: Throwable =>
      errors += s"${e.getClass.getName}: ${e.getMessage}"
      e.printStackTrace()
    }
    jobs.foreach { j =>
      // listener events arrive asynchronously; let the queue settle
      val deadline = now() + 10000
      while (j.openJobs > 0 && now() < deadline) Thread.sleep(50)
      Thread.sleep(300)
      write(s"$out/jobs.jsonl", j.jobs.asScala)
      write(s"$out/stages.jsonl", j.stages.asScala)
    }
    summary("peak_rss_kb") = vmHwmKb()
    summary("heap_after_gc_bytes") = heap.afterGcBytes.asScala.toSeq
    summary("errors") = errors.toSeq
    write(s"$out/summary.json", Seq(Json.value(summary)))
    spark.stop()
  }

  private def write(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), lines.map(_ + "\n").mkString.getBytes(UTF_8))

  /** Heap still live once the timed work is done: two full collections
    * (the second frees what the first only queued for cleaning), then the
    * heap in use. */
  private def retainedHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    summary("retained_heap_bytes") =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  private def dirBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size)
      } finally s.close()
    }

  // ---------------------------------------------------------------- trades

  private final case class Trade(symbol: String, price: Double, volume: Double, tsMs: Long)

  /** Trade rows as `Tables.trades` projects them, in event-time order;
    * the first `limit` of them when `limit=` is given. */
  private def loadTrades(spark: SparkSession, dir: String): Array[Trade] = {
    val ordered = Tables.trades(spark, dir).orderBy("event_id")
    opts.get("limit").fold(ordered)(n => ordered.limit(n.toInt))
      .select(col("symbol"), col("price"), col("volume"),
        unix_millis(col("timestamp")).as("ms"))
      .collect().map(r => Trade(r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
  }

  /** Kafka-shaped JSON envelopes, one per run of same-symbol trades
    * (at most `perEnvelope` trades each), in arrival order, each trade
    * carrying its `tsMs` as event time. */
  private def envelopes(trades: Seq[Trade], cv: mutable.Map[String, Double],
      perEnvelope: Int): Seq[String] = {
    val lines = mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var cur: String = null
    var n = 0
    def close(): Unit = if (cur != null) { sb.append("],\"type\":\"trade\"}"); lines += sb.toString; sb.clear() }
    trades.foreach { t =>
      if (t.symbol != cur || n == perEnvelope) {
        close(); cur = t.symbol; n = 0
        sb.append("{\"data\":[")
      } else sb.append(',')
      val c = cv.getOrElse(t.symbol, 0.0) + t.volume
      cv(t.symbol) = c
      sb.append("{\"c\":null,\"p\":").append(t.price).append(",\"s\":").append(Json.str(t.symbol))
        .append(",\"t\":").append(t.tsMs).append(",\"v\":").append(t.volume)
        .append(",\"cv\":").append(c).append('}')
      n += 1
    }
    close()
    lines.toSeq
  }

  /** Write to a temp name outside the source dir, then rename into place. */
  private def publish(tmpDir: Path, dir: Path, name: String, lines: Seq[String]): Long = {
    val bytes = lines.map(_ + "\n").mkString.getBytes(UTF_8)
    val tmp = tmpDir.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  // ------------------------------------------------------------ streaming

  private final class Pipeline(spark: SparkSession, root: String, in: String,
      maxFiles: Option[Int], trace: Boolean, tag: String) {
    val outRoot = s"$root/out"
    val ckpt = s"$root/ckpt"
    private val scans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val seen = mutable.Map[String, mutable.Set[Long]]()
    private val stores = Map("volume_tracking" -> "q1", "price_tracking" -> "q2")

    /** Bytes of each Upsert generation, read once its manifest exists. */
    private def scanStore(name: String, batchId: Long): Unit = synchronized {
      val dir = Paths.get(outRoot, name)
      if (!Files.isDirectory(dir)) return
      val s = Files.list(dir)
      val versions = try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case f if f.startsWith("manifest_v") =>
          f.stripPrefix("manifest_v").stripSuffix(".json").toLong }.toSeq
      finally s.close()
      val done = seen.getOrElseUpdate(name, mutable.Set())
      versions.filterNot(done).sorted.foreach { v =>
        done += v
        val gen = dir.resolve(s"gen$v")
        val buckets = if (!Files.isDirectory(gen)) 0 else {
          val g = Files.list(gen)
          try g.iterator().asScala.count(_.getFileName.toString.startsWith("_bucket="))
          finally g.close()
        }
        val (bytes, files) = dirBytes(gen)
        scans.add(Json.obj("tag" -> tag, "query" -> stores(name), "version" -> v,
          "batch" -> batchId, "bytes" -> bytes, "files" -> files,
          "buckets" -> buckets, "t" -> now()))
      }
    }

    val listener = new ProgressRecorder((name, batchId) =>
      if (trace && stores.contains(name)) scanStore(name, batchId))

    def start(): Seq[StreamingQuery] = {
      spark.streams.addListener(listener)
      val reader = maxFiles.fold(spark.readStream)(n =>
        spark.readStream.option("maxFilesPerTrigger", n.toString))
      StreamingJob.run(spark, reader.text(in).select(col("value")),
        StreamingJob.Config(outRoot, ckpt))
    }

    def finish(queries: Seq[StreamingQuery], out: String): Unit = {
      queries.foreach(q => if (q.isActive) q.stop())
      spark.streams.removeListener(listener)
      if (trace) stores.keys.foreach(scanStore(_, -1))
      listener.terminated.asScala.foreach(e => errors += s"query failed: $e")
      append(s"$out/progress.jsonl", listener.progress.asScala
        .map(p => s"""{"tag":${Json.str(tag)},"p":$p}"""))
      append(s"$out/upsert_scans.jsonl", scans.asScala)
    }

    /** Final live bytes of each Upsert store and file-sink sizes. */
    def sinkSizes(): Map[String, Any] = {
      val live = stores.map { case (name, q) =>
        val dir = Paths.get(outRoot, name)
        val v = Upsert.currentVersion(dir.toString)
        val bytes = v.map { ver =>
          val m = new String(Files.readAllBytes(dir.resolve(s"manifest_v$ver.json")), UTF_8)
          """"(\d+)"\s*:\s*"(gen\d+)"""".r.findAllMatchIn(m.drop(m.indexOf("buckets")))
            .map(x => dirBytes(dir.resolve(x.group(2)).resolve(s"_bucket=${x.group(1)}"))._1).sum
        }.getOrElse(0L)
        q -> Map("live_bytes" -> bytes, "versions" -> v.map(_ + 1).getOrElse(0L))
      }
      val files = Map("q3" -> "btc_features", "q4" -> "features_store").map { case (q, n) =>
        val p = Paths.get(outRoot, n)
        val s = if (Files.exists(p)) Files.walk(p) else java.util.stream.Stream.empty[Path]()
        val data = try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.startsWith("part-")).toSeq finally s.close()
        q -> Map("files" -> data.size, "bytes" -> data.map(Files.size).sum)
      }
      live ++ files
    }
  }

  private def append(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), lines.map(_ + "\n").mkString.getBytes(UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

  /** Wait until every query has processed all available input. */
  private def drainAll(queries: Seq[StreamingQuery], timeoutMs: Long): Boolean = {
    val t = new Thread(() => queries.foreach(q =>
      try q.processAllAvailable() catch { case _: Throwable => () }))
    t.setDaemon(true)
    t.start()
    t.join(timeoutMs)
    !t.isAlive && queries.forall(q => q.isActive && q.exception.isEmpty)
  }

  /** q1 against a batch recompute over the same input files, and the q2
    * store dumped for the last-arrival check in run.py. */
  private def checkOutputs(spark: SparkSession, p: Pipeline, in: String, out: String): Unit = {
    val streamed = Upsert.read(spark, s"${p.outRoot}/volume_tracking").get
      .select(col("symbol"), col("timestamp"),
        round(col("total_volume"), 6).as("tv"),
        round(col("total_usd_volume"), 6).as("tuv"))
    val expected = Decode.decodeFlatten(spark.read.text(in))
      .withColumn("timestamp", date_trunc("minute", col("timestamp")))
      .groupBy("symbol", "timestamp")
      .agg(round(sum(col("volume")), 6).as("tv"),
        round(sum(col("usd_volume")), 6).as("tuv"))
    summary("q1_rows") = streamed.count()
    summary("q1_expected_rows") = expected.count()
    summary("q1_mismatch") =
      streamed.exceptAll(expected).count() + expected.exceptAll(streamed).count()
    Upsert.read(spark, s"${p.outRoot}/price_tracking").get
      .select(col("symbol"), unix_millis(col("timestamp")).as("t"),
        col("price"), col("cumulative_volume").as("cv"))
      .repartition(1).write.mode("overwrite").parquet(s"$out/price_tracking")
  }

  /** Open loop: one generator thread writes one envelope file per tick at
    * a fixed offered rate, every trade stamped with its creation time. */
  private def streamPaced(spark: SparkSession, trace: Boolean): Unit = {
    val out = opt("out")
    val work = Paths.get(opt("work"))
    val in = work.resolve("in"); val tmp = work.resolve("in-tmp")
    Files.createDirectories(in); Files.createDirectories(tmp)
    val all = loadTrades(spark, opt("data"))
    val rate = opt("rate").toInt
    val tickMs = opt("tick_ms").toInt
    val perTick = rate * tickMs / 1000
    val offset = opt("offset").toInt
    val seconds = opt("seconds").toInt
    warmUp(spark, work, all, perTick, trace)
    val pipe = new Pipeline(spark, work.resolve("run").toString, in.toString, None, trace, "paced")
    val queries = pipe.start()
    val log = mutable.ArrayBuffer[String]()
    val cv = mutable.Map[String, Double]()
    val t0 = now()
    summary("t_first_event_ms") = t0
    var k = 0
    // Trade i is created at t0 + i / rate; the file holding the trades
    // created during one tick is due at the end of that tick.
    while (k * tickMs < seconds * 1000) {
      val due = t0 + (k + 1L) * tickMs
      val wait = due - now()
      if (wait > 0) Thread.sleep(wait)
      val written = now()
      val idx = (k * perTick until (k + 1) * perTick)
      val batch = idx.map(i => all((offset + i) % all.length)
        .copy(tsMs = t0 + i * 1000L / rate))
      val name = f"f-$k%06d.json"
      val bytes = publish(tmp, in, name, envelopes(batch, cv, 100))
      val stamps = batch.groupBy(_.tsMs).toSeq.sortBy(_._1).map { case (t, ts) => Seq(t, ts.size.toLong) }
      log += Json.obj("file" -> name, "due" -> due, "written" -> written,
        "visible" -> now(), "trades" -> perTick, "stamps" -> stamps, "bytes" -> bytes)
      k += 1
    }
    summary("t_gen_end_ms") = now()
    val drained = drainAll(queries, 60000)
    summary("t_all_processed_ms") = now()
    retainedHeap()
    if (!drained) errors += "queries did not drain within 60 s of the generator stopping"
    pipe.finish(queries, out)
    write(s"$out/files.jsonl", log)
    summary("sinks") = pipe.sinkSizes()
    summary("ckpt") = pipe.ckpt
    summary("sink_root") = pipe.outRoot
    summary("in") = in.toString
    checkOutputs(spark, pipe, in.toString, out)
  }

  /** Two files, stamped now, through a throwaway pipeline, so the timed
    * pipeline starts with its plans generated and JIT-compiled. */
  private def warmUp(spark: SparkSession, work: Path, all: Array[Trade], perTick: Int,
      trace: Boolean): Unit = {
    val in = work.resolve("warm-in"); val tmp = work.resolve("in-tmp")
    Files.createDirectories(in)
    val pipe = new Pipeline(spark, work.resolve("warm").toString, in.toString, None, trace, "warm")
    val queries = pipe.start()
    val cv = mutable.Map[String, Double]()
    val t = now()
    (0 until 2).foreach { f =>
      val batch = (0 until perTick).map(i => all(i % all.length).copy(tsMs = t + i / 10))
      publish(tmp, in, s"w-0-$f.json", envelopes(batch, cv, 100))
    }
    if (!drainAll(queries, 60000)) errors += "warm-up pipeline did not drain"
    pipe.finish(queries, opt("out"))
    rmTree(work.resolve("warm"))
  }

  /** Closed backlog: the whole input exists before the queries start;
    * a fixed maxFilesPerTrigger drains it in a fixed number of batches.
    * The first drain warms the JVM; timed drains repeat for `seconds`. */
  private def streamBacklog(spark: SparkSession, trace: Boolean): Unit = {
    val out = opt("out")
    val work = Paths.get(opt("work"))
    val in = work.resolve("in"); val tmp = work.resolve("in-tmp")
    Files.createDirectories(in); Files.createDirectories(tmp)
    val tWrite0 = now()
    val base = loadTrades(spark, opt("data"))
    val copies = opt("copies").toInt
    val nFiles = opt("files").toInt
    // ScaleGen's copy rule: copy c is shifted +137 ms per copy
    val trades = (0 until copies).flatMap(c => base.map(t => t.copy(tsMs = t.tsMs + 137L * c)))
      .sortBy(_.tsMs)
    val cv = mutable.Map[String, Double]()
    val per = (trades.length + nFiles - 1) / nFiles
    val fileStart = System.currentTimeMillis() / 1000 * 1000 - nFiles * 1000L
    trades.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val name = f"b-$i%05d.json"
      publish(tmp, in, name, envelopes(chunk, cv, 100))
      // strictly increasing mtimes keep the source's file order equal to
      // event-time order, so no trade is late
      Files.setLastModifiedTime(in.resolve(name), FileTime.fromMillis(fileStart + i * 1000L))
    }
    summary("input_write_ms") = now() - tWrite0
    summary("trades") = trades.length
    val maxFiles = opt("max_files").toInt
    val seconds = opt("seconds").toInt
    val drains = mutable.ArrayBuffer[String]()
    var last: Pipeline = null
    var i = 0
    var timedStart = 0L
    while (i == 0 || i == 1 || now() - timedStart < seconds * 1000L) {
      if (i == 1) { timedStart = now(); summary("t_first_event_ms") = timedStart }
      val pipe = new Pipeline(spark, work.resolve(s"drain-$i").toString, in.toString,
        Some(maxFiles), trace, s"drain-$i")
      val start = now()
      val queries = pipe.start()
      val ok = drainAll(queries, 150000)
      val end = now()
      if (!ok) errors += s"drain $i did not finish"
      pipe.finish(queries, out)
      drains += Json.obj("drain" -> i, "start" -> start, "end" -> end, "warmup" -> (i == 0),
        "ckpt" -> pipe.ckpt, "sinks" -> pipe.sinkSizes())
      last = pipe
      i += 1
    }
    retainedHeap()
    write(s"$out/drains.jsonl", drains)
    summary("in") = in.toString
    summary("sink_root") = last.outRoot
    summary("ckpt") = last.ckpt
    checkOutputs(spark, last, in.toString, out)
  }

  // ----------------------------------------------------------------- batch

  /** Closed loop, one client: every query of the fixed set, one at a
    * time, forced through the noop sink, on the staged tables. An
    * untimed warm-up pass over the same staged tables doubles as the
    * correctness dump, so what is checked is what is timed, and stores
    * a query creates once per table directory exist before timing
    * starts; then `passes` timed passes. The pass count is fixed rather than
    * time-boxed: query times keep falling for several passes as the JIT
    * warms, so a time-boxed loop would report a lower median on a faster
    * host. */
  private def batchRegistry(spark: SparkSession): Unit = {
    val out = opt("out")
    val names = opt("queries").split(",").toSeq
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val t0 = now()
    val staged = Tables.stage(spark, opt("data"))
    summary("stage_ms") = now() - t0
    val verify = s"$out/verify"
    val warmFailed = mutable.LinkedHashMap[String, String]()
    val w0 = now()
    names.foreach { n =>
      spark.sparkContext.setJobGroup(s"warm:$n", n)
      try registry(n)(spark, staged).repartition(1).write.mode("overwrite")
        .parquet(s"$verify/$n")
      catch { case e: Throwable => warmFailed(n) = String.valueOf(e.getMessage).take(300) }
    }
    spark.sparkContext.clearJobGroup()
    summary("warm_ms") = now() - w0
    summary("warm_failed") = warmFailed
    write(s"$verify/oracle_sql.json",
      Seq(Json.value(names.map(n => n -> oracle.getOrElse(n, "")).toMap)))
    System.gc()
    Thread.sleep(500)
    val passes = opt("passes").toInt
    val log = mutable.ArrayBuffer[String]()
    summary("t_first_event_ms") = now()
    (0 until passes).foreach { pass =>
      names.foreach { n =>
        spark.sparkContext.setJobGroup(s"p$pass:$n", n)
        val a = now()
        val c0 = processCpuNanos()
        val an = System.nanoTime()
        var b = an
        val err = try {
          val df = registry(n)(spark, staged)
          b = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          ""
        } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
        val en = System.nanoTime()
        log += Json.obj("query" -> n, "pass" -> pass, "group" -> s"p$pass:$n",
          "start" -> a, "build_ms" -> (b - an) / 1e6, "wall_ms" -> (en - an) / 1e6,
          "cpu_ms" -> (processCpuNanos() - c0) / 1e6,
          "end" -> (a + (en - an) / 1000000L), "err" -> err)
      }
    }
    spark.sparkContext.clearJobGroup()
    summary("passes") = passes
    retainedHeap()
    write(s"$out/queries.jsonl", log)
  }
}
