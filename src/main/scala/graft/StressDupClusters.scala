package graft

import org.apache.spark.sql.functions._

/** Scale-stress recording for the propagation family (round 13 —
  * VERDICT r12 item 4): the six slowest bench keys all pay
  * `TextDedup.dupClusters`, whose 100-TB argument (LSH-bounded edges,
  * shallow diameters) was reasoned but never measured past sf0.1.
  * This main drives the operator on a synthetic pair graph ~10–50×
  * the sf0.1 LSH pair count, with the two shapes that matter:
  *
  *   - BULK: many small star components (the real dup-cluster shape —
  *     shallow, converges in ~3 rounds regardless of edge count);
  *   - CHAINS: a few long path components (diameter D — the
  *     adversarial shape that forces D propagation rounds; real
  *     corpora don't produce it, the recording shows what it costs
  *     when one sneaks in).
  *
  * Recorded per run: rounds to converge, per-round wall millis, total
  * wall, and PEAK pinned footprint (localCheckpoint blocks, from
  * `sparkContext.getRDDStorageInfo`) — the number that decides
  * whether the reliable-checkpoint knob ([[operators.Checkpoints]])
  * is needed for memory rather than only for fault tolerance.
  * Output: one JSON line per scenario, PLUS one appended row in the
  * repo-root `STRESS.md` ledger (round 14 — VERDICT r13 item 8: the
  * recording is re-runnable in ONE command and regressions become
  * arithmetic against the ledger, not archaeology in NOTES). Usage:
  * `sbt "runMain graft.StressDupClusters"`, knobs
  * `STRESS_EDGES=1000000 STRESS_CHAIN=30`, ledger path override
  * `STRESS_LEDGER=/path/STRESS.md`; the session is [[Session]]'s,
  * cores from `SPARK_GRAFT_CPUS` (default 4).
  */
object StressDupClusters {
  def main(args: Array[String]): Unit = {
    val edgesN = sys.env.getOrElse("STRESS_EDGES", "1000000").toLong
    val chainLen = sys.env.getOrElse("STRESS_CHAIN", "30").toInt
    val spark = Session()
    import spark.implicits._

    def peakPinnedMb(): Long =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / (1024 * 1024)

    // per-scenario summary for the ledger row: (rounds, first round
    // ms, last round ms, total ms, peak pinned MB) — first-vs-last is
    // the flatness check (a leak reads as last >> first)
    val summary =
      scala.collection.mutable.LinkedHashMap[String, (Int, Long, Long, Long, Long)]()

    def run(name: String, pairs: org.apache.spark.sql.DataFrame,
        maxIter: Int): Unit = {
      val rounds = scala.collection.mutable.ArrayBuffer[Long]()
      var peak = 0L
      val t0 = System.nanoTime()
      val out = graft.operators.TextDedup.dupClusters(pairs,
        maxIter = maxIter,
        onRound = (_, ms) => { rounds += ms; peak = math.max(peak, peakPinnedMb()) })
      val nClusters = out.select("cluster").distinct().count()
      val total = (System.nanoTime() - t0) / 1000000L
      println(s"""{"scenario":"$name","edges":${pairs.count()},""" +
        s""""rounds":${rounds.length},"round_ms":[${rounds.mkString(",")}],""" +
        s""""total_ms":$total,"peak_pinned_mb":$peak,"clusters":$nClusters}""")
      summary(name) = (rounds.length, rounds.headOption.getOrElse(0L),
        rounds.lastOption.getOrElse(0L), total, peak)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }

    // BULK: edgesN star edges — edgesN/9 components of 10 nodes
    val bulk = spark.range(edgesN).select(
      (col("id") / 9).cast("long").as("hub"),
      col("id").as("i"))
      .select((col("hub") * 1000000L).as("a_id"),
        (col("hub") * 1000000L + (col("i") % 9) + 1L).as("b_id"))
    run("bulk_stars", bulk, maxIter = 10)

    // CHAINS: 1000 path components of length chainLen (diameter
    // chainLen) + the bulk stars — the worst-case rounds driver
    val chains = spark.range(1000L * chainLen).select(
      (col("id") / chainLen).cast("long").as("c"),
      (col("id") % chainLen).as("p"))
      .where(col("p") < chainLen - 1)
      .select((lit(9e15).cast("long") + col("c") * 1000L + col("p")).as("a_id"),
        (lit(9e15).cast("long") + col("c") * 1000L + col("p") + 1L).as("b_id"))
    run("chains", chains.unionAll(bulk), maxIter = chainLen + 2)

    // append ONE ledger row (both scenarios side by side) so a future
    // run compares arithmetically against history: flat means
    // last ≈ first round ms and peak within the recorded band
    val ledger = java.nio.file.Paths.get(
      sys.env.getOrElse("STRESS_LEDGER", "STRESS.md"))
    val header =
      "# STRESS ledger — dupClusters propagation (append-only, one row per run)\n\n" +
        "| date | edges | chain | bulk rounds | bulk first/last ms | " +
        "bulk total ms | bulk peak MB | chain rounds | " +
        "chain first/last ms | chain total ms | chain peak MB |\n" +
        "|---|---|---|---|---|---|---|---|---|---|---|\n"
    val b = summary("bulk_stars"); val c = summary("chains")
    val row = f"| ${java.time.LocalDate.now()} | $edgesN | $chainLen | " +
      s"${b._1} | ${b._2}/${b._3} | ${b._4} | ${b._5} | " +
      s"${c._1} | ${c._2}/${c._3} | ${c._4} | ${c._5} |\n"
    if (!java.nio.file.Files.exists(ledger))
      java.nio.file.Files.write(ledger, header.getBytes("UTF-8"))
    java.nio.file.Files.write(ledger, row.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    println(s"ledger row appended to $ledger")

    spark.stop()
  }
}
