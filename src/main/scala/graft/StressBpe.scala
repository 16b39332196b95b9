package graft

import org.apache.spark.sql.functions._

/** Plan-growth recording for BPE training (round 14 — VERDICT r13
  * item 5): `BpeTrain.learnMerges` stacks one `transform` layer per
  * merge round, so without the truncation cadence a real 32k-merge
  * vocabulary blows expression-tree/codegen limits long before data
  * size matters. This main trains ~1k merges on the sf0.01 documents
  * vocabulary and prints per-block wall times: FLAT blocks mean the
  * `truncateEvery` checkpoint cadence (default 16) is bounding plan
  * depth; superlinear growth would mean it is not. One JSON line at
  * the end for the NOTES table. Usage:
  * `sbt "runMain graft.StressBpe"`, knobs `STRESS_BPE_ROUNDS=1000`
  * `STRESS_BPE_SF=/root/testdata/sf0.01` `STRESS_BPE_EVERY=16`.
  * The session is [[Session]]'s, cores from `SPARK_GRAFT_CPUS` (default 4).
  */
object StressBpe {
  def main(args: Array[String]): Unit = {
    val rounds = sys.env.getOrElse("STRESS_BPE_ROUNDS", "1000").toInt
    val sfDir = sys.env.getOrElse("STRESS_BPE_SF", "/root/testdata/sf0.01")
    val every = sys.env.getOrElse("STRESS_BPE_EVERY", "16").toInt
    val spark = Session()

    // Word units are TRIGRAM shingles, not raw words: the fixture's
    // text is a closed 31-word vocabulary whose distinct adjacent
    // symbol pairs exhaust after a few dozen merges — useless for a
    // 1k-merge depth recording. The 16k distinct shingles (12–30
    // chars each) carry enough pair diversity to train the full
    // requested depth, and the operator under test is identical (it
    // never looks past the (word, count) frame).
    val words = graft.operators.TextDedup
      .withShingles(Tables.documents(spark, sfDir), "text")
      .select(explode(col("shs")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"vocab size: ${words.count()}")

    // ONE continuous training call; per-round wall millis stream out
    // through the onRound hook and aggregate into 50-round blocks —
    // flat blocks = bounded plan depth.
    val block = scala.collection.mutable.ArrayBuffer[Long]()
    val blocks = scala.collection.mutable.ArrayBuffer[Long]()
    val t0 = System.nanoTime()
    val ms = graft.operators.BpeTrain.learnMerges(
      words, "w", "cnt", rounds = rounds, truncateEvery = every,
      onRound = (r, wall) => {
        block += wall
        if (r % 50 == 0) {
          blocks += block.sum
          println(s"rounds ${r - 49}-$r: ${block.sum} ms " +
            s"(mean ${block.sum / block.length} ms/round)")
          block.clear()
        }
      })
    if (block.nonEmpty) blocks += block.sum
    val total = (System.nanoTime() - t0) / 1000000L
    println(s"""{"op":"bpe_train","rounds_done":${ms.length},""" +
      s""""rounds_asked":$rounds,"truncate_every":$every,""" +
      s""""total_ms":$total,""" +
      s""""block50_ms":[${blocks.mkString(",")}]}""")
    // append ONE arithmetic ledger row (round 15 — VERDICT r14 item
    // 8, the StressDupClusters discipline): a tokenizer-training
    // regression is then a ledger DIFF — flat means last block ≈
    // first block and peak within the recorded band
    val ledger = java.nio.file.Paths.get(
      sys.env.getOrElse("STRESS_LEDGER", "STRESS.md"))
    val section =
      "## BPE training plan depth (append-only, one row per run)"
    val header = s"\n$section\n\n" +
      "| date | rounds | truncate every | total ms | " +
      "first block50 ms | last block50 ms | peak block50 ms |\n" +
      "|---|---|---|---|---|---|---|\n"
    val row = s"| ${java.time.LocalDate.now()} | ${ms.length} | $every | " +
      s"$total | ${blocks.headOption.getOrElse(0L)} | " +
      s"${blocks.lastOption.getOrElse(0L)} | " +
      s"${if (blocks.isEmpty) 0L else blocks.max} |\n"
    // section-aware append into the SHARED stress ledger: the BPE
    // table lives below the dupClusters one; first run writes the
    // section header, every run appends one row at file end (the BPE
    // section is the last — append-only stays well-formed)
    val existing =
      if (java.nio.file.Files.exists(ledger))
        new String(java.nio.file.Files.readAllBytes(ledger), "UTF-8")
      else ""
    val out =
      (if (existing.contains(section)) existing else existing + header) + row
    java.nio.file.Files.write(ledger, out.getBytes("UTF-8"))
    println(s"ledger row appended to $ledger")
    spark.stop()
  }
}
