package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.examples.CdcPipeline

/** `cdc_ingest`: the reference pipeline end to end. Each drop file lands
  * in the source directory by atomic rename; then
  * `CdcPipeline.start(..., quarantine on).awaitAll()` drains it in its
  * AvailableNow mode, and the README aggregate
  * (`SUM(CAST(revenue AS float)) GROUP BY city`; T-SQL `float` is a
  * double) runs over `currentState`. `compact` runs after every fourth
  * drop. A run is one four-drop compaction cycle per ten of its
  * seconds: a fixed amount of work, so that a run-to-run comparison does
  * not depend on how many drops a slow moment let in.
  *
  * Exercises `examples` and `streaming` heavily (file source, dedup
  * state, `batch=<id>` upsert store, rank-1 read, compaction) and
  * `operators` barely. Measures write cost and read cost together.
  */
object CdcWorkload {
  /** Assumed drop size (about 300 KB of ndjson), not a measured
    * CockroachDB sink flush size. */
  val ChangesPerDrop = 2500
  val CompactEvery = 4
  /** About one cycle's timed work on 4 cores. */
  val SecondsPerCycle = 10
  val rowSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("city", StringType), StructField("revenue", StringType)))

  final class Loop {
    val freshness, storeQuery, start, compact, cycles = mutable.ArrayBuffer[Double]()
    var wallMs = 0.0; var lines = 0L; var bytes = 0L; var drops = 0; var failedDrops = 0
    var lost = 0L; var dup = 0L; var wrongKeys = 0L; var malformed = 0L; var quarantined = 0L
    /** Drops whose new store rows could be told apart (`lost`, `dup`
      * count over these), and the first reason a drop's could not. */
    var attributed = 0; var unattributedWhy: Option[String] = None
    var batchDirs = 0; var files = 0; var storeBytes = 0L; var bytesWritten = 0L
    def rowsPerS: Double = if (wallMs > 0) lines / (wallMs / 1000.0) else 0.0
  }

  def run(ctx: Ctx): Result = {
    val marks = mutable.ArrayBuffer[(String, Long)]("start" -> System.nanoTime())
    val base = ctx.work.resolve(s"cdc/seed${ctx.seed}")
    deleteTree(base)
    // Set-up three times; the median is `setup_s`, and the three drop
    // sets must be byte-identical. Only the drops a run lands are made.
    val needed = CompactEvery * math.max(1, ctx.seconds / SecondsPerCycle)
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val drops = Changefeed.generate(Changefeed.rides(ctx.spark, ctx.data), ctx.seed, ChangesPerDrop, needed)
      Changefeed.write(drops, base.resolve(s"stage$i"), base.resolve(s"truth$i"))
      ((System.nanoTime() - t0) / 1e6, drops)
    }
    val fingerprints = setups.map { case (_, ds) =>
      val md = MessageDigest.getInstance("SHA-256"); ds.foreach(d => md.update(d.bytes))
      md.digest().map("%02x".format(_)).mkString
    }
    val deterministic = fingerprints.distinct.size == 1
    val drops = setups.last._2
    val master = base.resolve("stage3")
    marks += "set-up" -> System.nanoTime()

    def one(spark: SparkSession, tag: String, spans: Spans, seconds: Int = ctx.seconds): Loop =
      loop(spark, drops, master, base.resolve(s"loop-$tag"), spans, seconds)
    // One untimed drop on a throwaway pipeline, so the first timed drop
    // does not pay the JVM's and the streaming engine's cold start.
    loop(ctx.spark, drops, master, base.resolve("loop-warmup"), ctx.noSpans, 0, maxDrops = 1)
    marks += "warm-up" -> System.nanoTime()

    val (main, traced, local1) =
      if (!ctx.trace) (one(ctx.spark, "untraced", ctx.noSpans), None, None)
      else {
        def tracedLoop() = {
          ctx.probe.attach()
          val l = ctx.spans.span("workload", "cdc_ingest")(one(ctx.spark, "traced", ctx.spans))
          ctx.probe.detach()
          l
        }
        // the seed's parity picks which loop runs first
        val (t, u) =
          if (ctx.seed % 2 == 0) { val t = tracedLoop(); (t, one(ctx.spark, "untraced", ctx.noSpans)) }
          else { val u = one(ctx.spark, "untraced", ctx.noSpans); (tracedLoop(), u) }
        // single-thread reference: one cycle of the same loop in a
        // local[1] session (one cycle keeps a traced run within 180 s)
        ctx.spark.stop()
        val s1 = Main.session(1, ctx.work)
        val l1 = try one(s1, "local1", ctx.noSpans, SecondsPerCycle) finally s1.stop()
        (u, Some(t), Some(l1))
      }

    marks += "loops" -> System.nanoTime()
    val phases = marks.zip(marks.tail).map { case ((_, a), (n, b)) => f"$n ${(b - a) / 1e9}%.1f s" }
    val attempted = main.drops + traced.map(_.drops).getOrElse(0)
    val failed = main.failedDrops + traced.map(_.failedDrops).getOrElse(0)
    val tail = Stats.tail(main.freshness.toSeq)
    val attributedNote = s"over ${main.attributed}/${main.drops} drops" +
      main.unattributedWhy.fold("")(w => s"; not applicable to the rest: $w")
    val gates = Seq(
      s"generator: three set-ups ${if (deterministic) "byte-identical" else "DIFFER"} (${fingerprints.head.take(16)})",
      s"drops whose touched keys read back as the ground truth: ${main.drops - main.failedDrops}/${main.drops}" +
        s" (${main.wrongKeys} wrong key reads)",
      s"quarantined rows = malformed lines: ${main.quarantined} vs ${main.malformed}" +
        (if (main.quarantined == main.malformed) " ok" else " MISMATCH"),
      s"redelivered lines that became store rows: ${main.dup}" + (if (main.dup == 0) " ok" else " FAIL") +
        s" ($attributedNote)",
      s"changes lost before the store: ${main.lost} ($attributedNote)")
    val gatesOk = deterministic && main.quarantined == main.malformed && main.dup == 0

    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.map(_._1)) / 1000.0, "s", setups.size),
      Metric("pass_s", Stats.median(main.cycles.toSeq) / 1000.0, "s", main.cycles.size),
      Metric("op_p50_ms", Stats.median(main.freshness.toSeq), "ms", main.freshness.size))
    val extra = Seq(
      Metric("ingest_rows_per_s", main.rowsPerS, "1/s", main.drops),
      Metric("freshness_p50_ms", Stats.median(main.freshness.toSeq), "ms", main.freshness.size),
      Metric(s"freshness_tail_ms(p${tail.map(_._1).getOrElse(100)})",
        tail.map(_._2).getOrElse(if (main.freshness.isEmpty) 0.0 else main.freshness.max), "ms", main.freshness.size),
      Metric("store_query_p50_ms", Stats.median(main.storeQuery.toSeq), "ms", main.storeQuery.size),
      Metric("store_mb", main.storeBytes / 1048576.0, "MB", 1),
      Metric("failed_ratio", if (attempted > 0) failed.toDouble / attempted else 0.0, "share", attempted),
      Metric("lost_changes", main.lost.toDouble, "count", main.attributed),
      Metric("dup_rows", main.dup.toDouble, "count", main.attributed))
    val layers = traced.toSeq.flatMap(t => cdcLayers(ctx, t, main, local1.get, setups.map(_._1)))
    Result(attempted = attempted, failed = failed, e2e = e2e, layers = layers,
      gates = gates, extra = extra, gatesOk = gatesOk,
      report = Seq(f"  drops ${main.drops}, lines ${main.lines}, loop wall ${main.wallMs / 1000}%.2f s, " +
        f"compaction every $CompactEvery drops, ${drops.size} drops generated",
        s"  phases: ${phases.mkString(", ")}"))
  }

  private def cdcLayers(ctx: Ctx, t: Loop, untraced: Loop, local1: Loop, setupMs: Seq[Double]): Seq[Metric] = {
    val prog = ctx.probe.progress.asScala.toSeq
    val mainProg = prog.filter(_.stateOperators.nonEmpty)
    val n = math.max(1, t.drops)
    def phase(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / n
    val state = mainProg.lastOption.flatMap(_.stateOperators.headOption)
    val landed = t.bytes.toDouble
    Main.commonLayers(ctx, t.wallMs / 1000.0) ++ Seq(
      Metric("examples.start_ms", Stats.median(t.start.toSeq), "ms", t.start.size),
      Metric("examples.current_state_ms", Stats.median(t.storeQuery.toSeq), "ms", t.storeQuery.size),
      Metric("examples.compact_ms", Stats.median(t.compact.toSeq), "ms", t.compact.size),
      Metric("streaming.latestOffset_ms", phase("latestOffset"), "ms", n),
      Metric("streaming.getBatch_ms", phase("getBatch"), "ms", n),
      Metric("streaming.queryPlanning_ms", phase("queryPlanning"), "ms", n),
      Metric("streaming.addBatch_ms", phase("addBatch"), "ms", n),
      Metric("streaming.walCommit_ms", phase("walCommit"), "ms", n),
      Metric("streaming.commit_ms", phase("commitOffsets"), "ms", n),
      Metric("streaming.trigger_ms", phase("triggerExecution"), "ms", n),
      Metric("streaming.batches", mainProg.size.toDouble, "count", 1),
      Metric("streaming.input_rows", mainProg.map(_.numInputRows).sum.toDouble, "count", 1),
      Metric("streaming.state_rows", state.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count", 1),
      Metric("streaming.state_mem_mb", state.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB", 1),
      Metric("streaming.rows_dropped_by_watermark",
        mainProg.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble, "count", 1),
      Metric("streaming.quarantine_rows", t.quarantined.toDouble, "count", 1),
      Metric("streaming.ingest_rows_per_s", t.rowsPerS, "1/s", t.drops),
      Metric("streaming.local1_ingest_rows_per_s", local1.rowsPerS, "1/s", local1.drops),
      Metric("store.batch_dirs", t.batchDirs.toDouble, "count", 1),
      Metric("store.files", t.files.toDouble, "count", 1),
      Metric("store.mb", t.storeBytes / 1048576.0, "MB", 1),
      Metric("store.mb_written", t.bytesWritten / 1048576.0, "MB", 1),
      Metric("store.write_amp", if (landed > 0) t.bytesWritten / landed else 0.0, "ratio", 1),
      Metric("cdc.lost_changes", t.lost.toDouble, "count", t.attributed),
      Metric("cdc.dup_rows", t.dup.toDouble, "count", t.attributed),
      Metric("tables.load_ms", Stats.median(setupMs), "ms", setupMs.size),
      Metric("trace.overhead_share",
        if (t.rowsPerS > 0) untraced.rowsPerS / t.rowsPerS - 1.0 else 0.0, "share", 1))
  }

  /** Lands drops from `master` one at a time into a fresh pipeline under
    * `dir`: one compaction cycle per `SecondsPerCycle` of `seconds` (at
    * least one), or `maxDrops` drops if fewer. */
  private def loop(spark: SparkSession, drops: IndexedSeq[Changefeed.Drop], master: Path,
      dir: Path, spans: Spans, seconds: Int, maxDrops: Int = Int.MaxValue): Loop = {
    import spark.implicits._
    deleteTree(dir)
    val stage = Files.createDirectories(dir.resolve("stage"))
    val src = Files.createDirectories(dir.resolve("src"))
    drops.foreach(d => Files.copy(master.resolve(Changefeed.name(d.index)), stage.resolve(Changefeed.name(d.index))))
    val state = dir.resolve("state").toString
    val out = new Loop
    val truth = Changefeed.Truth()
    val seenFiles = mutable.HashSet[String]()
    var cycleMs = 0.0
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

    def storeScan(): Unit = {
      val all = Files.walk(dir.resolve("state")).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      out.files = all.size
      out.storeBytes = all.map(Files.size).sum
      out.batchDirs = Files.list(dir.resolve("state")).iterator().asScala
        .count(_.getFileName.toString.startsWith("batch="))
      all.foreach(p => if (seenFiles.add(p.toString)) out.bytesWritten += Files.size(p))
    }

    /** The store's rows as a multiset of (kid, hlc as text), read with
      * Spark's parquet reader, whatever the store's directory layout,
      * together with the store's HLC type. */
    def storeRows(): (DataType, Map[(String, String), Int]) = {
      val df = spark.read.parquet(state)
      val rows = df.groupBy(col("kid"), col("hlc").cast("string")).count().as[(String, String, Long)].collect()
      (df.schema("hlc").dataType, rows.map { case (k, h, c) => (k, h) -> c.toInt }.toMap)
    }
    def excess(m: Map[(String, String), Int]) = m.valuesIterator.map(c => math.max(0, c - 1).toLong).sum
    // rows before the next drop lands; the store does not exist yet
    var before = Map.empty[(String, String), Int]

    /** Attributes the store rows that appeared with `drop`: copies of a
      * row already stored are redeliveries that became store rows, and a
      * change with fewer new rows than it has changes was lost. The
      * ground-truth HLC is cast to the store's HLC type, so changes the
      * store cannot tell apart (the same value after the cast) are
      * counted as one key with two changes. The count needs a store that
      * only appends between compactions: when no new rows appear, or
      * earlier rows vanish, as in a store that merges in place, the drop
      * is not attributable. */
    def attribute(drop: Changefeed.Drop): Unit =
      try {
        val (hlcType, now) = storeRows()
        val prior = before
        before = now
        val added = now.map { case (k, c) => k -> (c - prior.getOrElse(k, 0)) }.filter(_._2 > 0)
        val rewritten = prior.exists { case (k, c) => now.getOrElse(k, 0) < c }
        if (added.isEmpty || rewritten)
          out.unattributedWhy = out.unattributedWhy.orElse(Some(
            if (rewritten) "the store rewrote earlier rows in place" else "no new store rows"))
        else {
          val want = drop.changes.map(c => (c.kid, c.hlc)).toDF("kid", "hlc")
            .select(col("kid"), col("hlc").cast(hlcType).cast("string")).as[(String, String)]
            .collect().groupBy(identity).map { case (k, v) => k -> v.length }
          out.dup += math.max(0L, excess(now) - excess(prior))
          out.lost += want.map { case (k, c) => math.max(0, c - added.getOrElse(k, 0)).toLong }.sum
          out.attributed += 1
        }
      } catch { case e: Exception =>
        out.unattributedWhy = out.unattributedWhy.orElse(Some(
          s"store rows unreadable: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"))
      }

    val n = math.min(drops.size, math.min(maxDrops, CompactEvery * math.max(1, seconds / SecondsPerCycle)))
    var d = 0
    while (d < n) {
      val drop = drops(d)
      val name = Changefeed.name(d)
      spans.span("drop", s"drop $d") {
        val landed = System.nanoTime()
        Files.move(stage.resolve(name), src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        spans.span("phase", "start") {
          CdcPipeline.start(spark, src.toString, rowSchema, state, dir.resolve("ckpt").toString,
            Some(dir.resolve("quarantine").toString), Some(dir.resolve("qckpt").toString)).awaitAll()
        }
        out.start += ms(landed)
        val q0 = System.nanoTime()
        spans.span("phase", "current_state") {
          CdcPipeline.currentState(spark, state).groupBy("city")
            .agg(sum(col("revenue").cast("double")).as("revenue")).collect()
        }
        out.storeQuery += ms(q0)
        val fresh = ms(landed)
        out.freshness += fresh
        out.wallMs += fresh
        cycleMs += fresh

        // correctness, outside the timed work and before compaction
        // folds this drop's batches into the compacted state
        spans.span("phase", "check") {
          truth.apply(drop)
          out.lines += drop.lines.size; out.bytes += drop.bytes.length
          out.malformed += drop.malformed
          attribute(drop)
          val touched = drop.changes.map(_.kid).distinct
          val got = CdcPipeline.currentState(spark, state)
            .join(broadcast(touched.toDF("kid")), "kid")
            .select("kid", "revenue").as[(String, String)].collect().toMap
          val wrong = touched.count(k => truth.live.get(k) != got.get(k))
          out.wrongKeys += wrong
          if (wrong > 0) out.failedDrops += 1
          storeScan()
          System.gc() // as graft.Bench does between keys
        }
        if ((d + 1) % CompactEvery == 0) {
          val c0 = System.nanoTime()
          spans.span("phase", "compact")(CdcPipeline.compact(spark, state))
          val compactMs = ms(c0)
          out.compact += compactMs
          out.wallMs += compactMs
          out.cycles += cycleMs + compactMs
          cycleMs = 0.0
          spans.span("phase", "check") {
            storeScan()
            // compaction folds copies away: the next drop is attributed
            // against the compacted store
            before = try storeRows()._2 catch { case _: Exception => Map.empty }
          }
        }
      }
      out.drops += 1
      d += 1
    }
    out.quarantined = spark.read.parquet(dir.resolve("quarantine").toString).count()
    out
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
