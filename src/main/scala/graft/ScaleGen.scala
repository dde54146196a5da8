package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of a driver testdata dir (TESTDATA.md) —
  * the SCALE REHEARSAL input: sf0.1 × 10 ≈ sf1 (1M events, ~50k docs,
  * ~20k embeddings, 6M lineitem), generated locally so the heaviest
  * queries can be exercised one decade above the bench tier and checked
  * for plan flips (broadcast thresholds exceeded, driver-finish branches
  * taken, guard saturation, super-linear blowups).
  *
  * Scaling is COPY-BASED and deterministic (no RNG): `factor` copies of
  * each fact table with key offsets of `copy * (max_key + 1)`, so copy 0
  * is bit-identical to the source and every derived-column contract
  * (e.g. `volume = f(event_id) % 97` — [[Tables.trades]]) keeps its
  * distribution.
  *
  *  - `events`: event_id offset per copy; ts shifted +137 ms per copy
  *    (keeps timestamps distinct, preserves windowing); user_id kept —
  *    10× history per user, the realistic growth axis for the
  *    window-partitioned serving queries.
  *  - `documents`: doc_id offset; every WORD salted with the copy index
  *    (`w → w▲c` for copy c>0), so copies share ZERO vocabulary: the
  *    near-dup cluster structure of the source is replicated per copy
  *    and total dup-pair volume grows LINEARLY with the factor — a 10×
  *    corpus with 10× (not 100×) pairs, which is what a real crawl
  *    decade looks like (perturbed-copy inflation is a different,
  *    deliberately quadratic probe — see BUILDLOG r6).
  *  - `embeddings`: vec_id offset; copy c>0 multiplies every component
  *    by a deterministic PER-COPY sign pattern s(c, dim) ∈ {−1, +1}.
  *    Within a copy the pattern cancels (`s²=1`): every pairwise dot
  *    product — and so the whole neighbor structure — is EXACTLY the
  *    source's. Across copies the product of two independent sign
  *    patterns makes cosines collapse toward 0, so copies are NOT
  *    near-dups of each other and dup-pair volume grows LINEARLY with
  *    the factor. (The first rehearsal used a ±0.1% jitter instead,
  *    which made every copy a ~0.999998-cosine dup of its source —
  *    quadratic TRUE-dup inflation. The 10× blowup it surfaced turned
  *    out to be dominated by the degenerate hyperplane family in
  *    `lsh_bits` — see BUILDLOG r9 — but the sign-pattern design stays:
  *    a corpus decade should not be 10 near-copies of itself.)
  *  - `orders`/`lineitem`: o_orderkey/l_orderkey offset per copy (FK
  *    consistency); all other columns kept, so dimension joins fan out
  *    10× like a real fact-table decade.
  *  - dimensions (`region nation customer supplier part`): copied as-is.
  */
object ScaleGen {

  private def offsetCopies(df: DataFrame, keyCols: Seq[String], factor: Int,
      extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
    val maxKey = df.agg(max(col(keyCols.head))).head().getLong(0) + 1
    (0 until factor).map { c =>
      val shifted = keyCols.foldLeft(df)((d, k) =>
        d.withColumn(k, col(k) + lit(c * maxKey)))
      extra(shifted, c)
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.session(cpus, SparkEntry.shufflePartitions(src, cpus))

    def write(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // events via the schema-adaptive loader so ts lands as TIMESTAMP
    // regardless of the source's on-disk flavor
    write("events",
      offsetCopies(Tables.events(spark, src), Seq("event_id"), factor,
        (d, c) => d.withColumn("ts",
          timestamp_micros(unix_micros(col("ts")) + lit(c * 137000L)))),
      32)

    val docs = Tables.load(spark, src, "documents")
    write("documents",
      offsetCopies(docs, Seq("doc_id"), factor, (d, c) =>
        if (c == 0) d
        else d.withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"▲$c"))), " "))),
      32)

    val emb = Tables.load(spark, src, "embeddings")
    write("embeddings",
      offsetCopies(emb, Seq("vec_id"), factor, (d, c) =>
        if (c == 0) d
        else d.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x * when(pmod(xxhash64(lit(c), i), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).cast("float")))),
      32)

    write("orders",
      offsetCopies(Tables.load(spark, src, "orders"), Seq("o_orderkey"),
        factor), 32)
    write("lineitem",
      offsetCopies(Tables.load(spark, src, "lineitem"), Seq("l_orderkey"),
        factor), 32)

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(t, Tables.load(spark, src, t), 1)
    }
    println(s"""{"scale_gen":"done","src":"$src","out":"$out","factor":$factor}""")
    spark.stop()
  }
}
