package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.selected()
    // `--sql-only <outDir>` dumps oracle_sql.json without executing any
    // query (no SparkSession needed) — feeds tools/check_oracle_types.py,
    // the gate that kills the DuckDB HUGEINT hash-break class.
    if (args.headOption.contains("--sql-only")) {
      val dir = args.lift(1).getOrElse {
        System.err.println("usage: graft.Verify --sql-only <outDir>")
        sys.exit(2)
      }
      new java.io.File(dir).mkdirs()
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), oracleJson(names))
      return
    }
    val Array(sfDir, outDir) = args
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.session(cpus,
      SparkEntry.shufflePartitions(sfDir, cpus))
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: r7's testdata regeneration broke 102 queries
    // and this loop's stderr-only handling let the round's correctness
    // artifact silently shrink to the surviving half. Collect every
    // failure into failed.json (name → message) so the driver — and any
    // human — sees a red row per broken query, and exit non-zero.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { name =>
      // start marker BEFORE execution: when a scale run is killed or
      // dies (disk, OOM), the log names the in-flight query — the
      // r17 sf10 rehearsal burned an hour identifying a runaway hog
      // because only COMPLETED dumps were observable
      System.err.println(s"[verify] start $name")
      // repartition(1), NOT coalesce(1): coalesce narrows the final
      // stage to one task, fusing any post-shuffle per-row compute
      // (the fuzzy tier's bounded Levenshtein DP) into a single
      // thread — at the 100x corpus that serialized hours of work
      // into the write task (r17 sf10 rehearsal, caught via jstack:
      // one RUNNABLE worker in levenshteinDistance inside
      // FileFormatDataWriter). repartition inserts a shuffle barrier
      // so upstream stages keep their parallelism; the dump is still
      // one parquet file and the oracle compare is order-insensitive.
      try SparkEntry.queries(name)(spark, sfDir).repartition(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(names))
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
        .mkString("{", ",", "}"))
    // Loud but not fatal: a non-zero exit could make the driver discard
    // the good dumps; failed.json + the FAILED summary line are the signal.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    // Measured per-partition cache footprint (r14 verdict directive #1:
    // the 100-MB-per-executor cluster argument must be a MEASUREMENT,
    // not an estimate). One JSON line per cached/checkpointed RDD.
    if (sys.env.get("SPARK_GRAFT_STORAGE_TRACE").contains("1")) {
      val infos = spark.sparkContext.getRDDStorageInfo
      infos.foreach { i =>
        val pp = if (i.numCachedPartitions > 0)
          (i.memSize + i.diskSize) / i.numCachedPartitions else 0L
        println(s"""{"storage_rdd":${i.id},"name":${q(i.name)},""" +
          s""""level":${q(i.storageLevel.description)},""" +
          s""""parts":${i.numCachedPartitions},"mem":${i.memSize},""" +
          s""""disk":${i.diskSize},"bytes_per_part":$pp}""")
      }
      val (tm, td) = (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
      println(s"""{"storage_total_mem":$tm,"storage_total_disk":$td,""" +
        s""""storage_rdds":${infos.length}}""")
    }
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The selected oracles, in the registry map's order: a full run's file
    * is byte-identical whatever the run order. */
  private def oracleJson(names: Seq[String]): String = {
    val keep = names.toSet
    SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
