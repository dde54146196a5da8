package graft

/** Plan-shape audit main (VERDICT r15 directive #6): for every
  * registered query, build the DataFrame at a small sf and record the
  * COUNTS of structural physical-plan nodes (exchanges, joins, sorts,
  * aggregates, windows, scans, generates, expands). The output JSON is
  * committed per round and diffed by `tools/gate.py --bench`: a plan
  * regression (a new shuffle, a broadcast that became a sort-merge
  * join) is then caught deterministically, independent of timing noise
  * — r15 showed a wall-clock regression can be pure host contention,
  * while a node-count change never is.
  *
  * AQE is DISABLED here on purpose: with AQE on, `executedPlan` is an
  * unexecuted `AdaptiveSparkPlan` whose final shape depends on runtime
  * statistics; the static plan is the deterministic round-over-round
  * comparable. (The bench and Verify keep AQE on — this main audits
  * shape, not speed.) Node counts are taken over the whole tree
  * including the insides of WholeStageCodegen stages.
  *
  * Usage: PlanAudit [sfDir] [outPath]  (defaults sf0.001,
  * PLAN_SHAPE.json). Queries whose construction throws record "err" —
  * the diff treats that as a shape change, never a silent skip.
  */
object PlanAudit {
  /** Substrings of physical node class names worth tracking. Scan
    * covers FileSourceScan/BatchScan; Exchange covers shuffle +
    * broadcast. Limit matters because a CollectLimit appearing where a
    * GlobalLimit was is a driver-funnel regression. */
  private val interesting =
    Seq("Exchange", "Join", "Sort", "Aggregate", "Window", "Scan",
      "Generate", "Expand", "Limit")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = args.lift(1).getOrElse("PLAN_SHAPE.json")
    val names = SparkEntry.selected()
    val spark = SparkEntry.session(SparkEntry.cpus, shufflePartitions = 32,
      adaptive = false)
    val rows = names.map { name =>
      val shape: Either[String, Seq[(String, Int)]] =
        try {
          val plan = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.executedPlan
          val counts = scala.collection.mutable.Map.empty[String, Int]
          plan.foreach { n =>
            val c = n.getClass.getSimpleName.stripSuffix("Exec")
            if (interesting.exists(c.contains))
              counts.update(c, counts.getOrElse(c, 0) + 1)
          }
          Right(counts.toSeq.sortBy(_._1))
        } catch {
          case e: Throwable =>
            System.err.println(s"[plan] $name failed: ${e.getMessage}")
            Left(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      name -> shape
    }
    val body = rows.map {
      case (name, Right(counts)) =>
        val inner = counts.map { case (c, n) => "\"" + c + "\":" + n }
          .mkString("{", ",", "}")
        "\"" + name + "\":" + inner
      case (name, Left(_)) => "\"" + name + "\":\"err\""
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), body)
    val nErr = rows.count(_._2.isLeft)
    println(s"[plan] ${rows.size} queries audited, $nErr errors -> $outPath")
    spark.stop()
    if (nErr > 0) sys.exit(1)
  }
}
