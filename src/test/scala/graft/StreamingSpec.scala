package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcStreams

/** Streaming semantics s01–s08 (SURVEY.md §2.9/§5.4): file-source
  * tailing, partitioned exactly-once sink, watermark late-drop, output
  * modes, stream-static join, watermarked dedup, foreachBatch upsert,
  * checkpoint recovery. Batch twins of the windowed aggregations are
  * oracle-verified (q70–q72); here we assert the streaming-only
  * behaviors on controlled inputs.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val rideSchema = StructType(Seq(
    StructField("id", StringType), StructField("city", StringType),
    StructField("revenue", StringType)))

  private def writeNdjson(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), String.join("\n", lines: _*).getBytes)
  }

  private def envLine(id: String, city: String, rev: String, hlc: String): String =
    s"""{"after": {"id": "$id", "city": "$city", "revenue": "$rev"}, "key": ["$city", "$id"], "updated": "$hlc"}"""

  test("s01: file source tails a growing ndjson directory") {
    val src = TestSpark.tmpDir("s01-src")
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.50", "1.0"),
      envLine("b", "boston", "20.25", "2.0")))
    writeNdjson(src, "f2.ndjson", Seq(envLine("c", "amsterdam", "5.00", "3.0")))
    val q = CdcStreams.postImages(
        CdcStreams.readEnvelopeStream(spark, src, rideSchema, maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("s01")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("s01").collect()
    assert(rows.length == 3)
    assert(spark.table("s01").where(col("city") === "amsterdam").count() == 2)
  }

  test("the reference query runs continuously: per-city revenue updates as files land") {
    // README.md:173-196 as a LIVE query instead of a snapshot scan:
    // same envelope files, complete-mode revenue-per-city aggregate
    // that updates as the changefeed drops new files.
    val src = TestSpark.tmpDir("live-src")
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.00", "1.0"),
      envLine("b", "boston", "5.00", "2.0")))
    val agg = CdcStreams.postImages(
        CdcStreams.readEnvelopeStream(spark, src, rideSchema))
      .groupBy("city")
      .agg(round(sum(col("revenue").cast("double")), 2).as("total_revenue"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("live").start()
    q.processAllAvailable()
    def totals = spark.table("live").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(totals == Map("amsterdam" -> 10.00, "boston" -> 5.00))
    // the changefeed keeps writing — the standing query absorbs it
    writeNdjson(src, "f2.ndjson", Seq(envLine("c", "amsterdam", "2.50", "3.0")))
    q.processAllAvailable()
    assert(totals == Map("amsterdam" -> 12.50, "boston" -> 5.00))
    q.stop()
  }

  test("raw-line envelope scan keeps malformed lines for quarantine") {
    val src = TestSpark.tmpDir("rawline-src")
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.50", "1.0"),
      "{not json at all",
      envLine("b", "boston", "20.25", "2.0")))
    val lines = CdcStreams.readEnvelopeLines(spark, src, rideSchema)
    assert(lines.count() == 3) // nothing dropped
    assert(lines.where(col("env").isNull ||
      col("env.after").isNull).count() == 1) // the bad line, quarantinable
    assert(lines.where(col("env.after.city") === "amsterdam").count() == 1)
  }

  test("s13: streaming raw-line scan quarantines malformed lines") {
    val src = TestSpark.tmpDir("s13-src")
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.50", "1.0"),
      "{not json at all",
      envLine("b", "boston", "20.25", "2.0")))
    val q = CdcStreams.readEnvelopeLinesStream(spark, src, rideSchema)
      .writeStream.format("memory").queryName("s13")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val t = spark.table("s13")
    assert(t.count() == 3) // nothing dropped
    assert(t.where(col("env").isNull || col("env.after").isNull).count() == 1)
    assert(t.where(col("env.after.city") === "amsterdam").count() == 1)
  }

  test("csv-envelope scan (sentinel delimiter) keeps each json line whole") {
    val src = TestSpark.tmpDir("csvenv-src")
    // commas and quotes inside the JSON must NOT split/strip fields
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.50", "1.0"),
      envLine("b", "boston", "20.25", "2.0")))
    val batch = CdcStreams.readEnvelopeCsv(spark, src, rideSchema)
    assert(batch.count() == 2)
    assert(batch.where(col("env.after.revenue") === "10.50").count() == 1)
    val q = CdcStreams.readEnvelopeCsvStream(spark, src, rideSchema)
      .writeStream.format("memory").queryName("csvenv")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val t = spark.table("csvenv")
    assert(t.count() == 2)
    assert(t.where(col("env.after.city") === "boston")
      .select("env.after.revenue").head().getString(0) == "20.25")
  }

  test("s02: partitioned append sink is exactly-once across a rerun") {
    val src = TestSpark.tmpDir("s02-src")
    val out = TestSpark.tmpDir("s02-out")
    val chk = TestSpark.tmpDir("s02-chk")
    writeNdjson(src, "f1.ndjson", Seq(
      """{"after": {"id": "a", "city": "x", "revenue": "1.00"}, "key": ["x","a"], "updated": "1.0"}"""))
    def run(): Unit = {
      val df = CdcStreams.postImages(
        CdcStreams.readEnvelopeStream(spark, src, rideSchema))
        .withColumn("ts", lit("2022-12-12").cast("timestamp"))
      val q = CdcStreams.writePartitionedSink(df, "ts", out, chk)
      q.awaitTermination()
    }
    run()
    run() // no new files → replaying the checkpoint must not duplicate
    val result = spark.read.parquet(out)
    assert(result.count() == 1)
    assert(result.columns.contains("ingest_date")) // day-partitioned layout
  }

  test("s03: watermark drops late data from closed windows") {
    val ms = MemoryStream[(Timestamp, Long)]
    val agg = ms.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("s03").start()
    def t(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    ms.addData((t("10:00"), 1L), (t("10:02"), 2L))
    q.processAllAvailable()
    // advance watermark far past the 10:00 window…
    ms.addData((t("11:00"), 3L))
    q.processAllAvailable()
    // …then a late row for the closed 10:00 window: must be dropped
    ms.addData((t("10:01"), 4L))
    q.processAllAvailable()
    ms.addData((t("12:00"), 5L))
    q.processAllAvailable()
    q.stop()
    val w10 = spark.table("s03").where(col("ws") === t("10:00")).collect()
    assert(w10.length == 1 && w10.head.getAs[Long]("n") == 2L,
      s"late row leaked into closed window: ${w10.mkString}")
  }

  test("s04: update vs complete output modes on a windowed aggregate") {
    def runMode(mode: String, name: String): Unit = {
      val ms = MemoryStream[(Timestamp, Long)]
      val agg = ms.toDF().toDF("ts", "v")
        .groupBy(window(col("ts"), "1 hour")).agg(sum("v").as("sv"))
        .select(col("window.start").as("ws"), col("sv"))
      val q = agg.writeStream.outputMode(mode).format("memory").queryName(name).start()
      def t(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
      ms.addData((t("10:00"), 1L)); q.processAllAvailable()
      ms.addData((t("10:30"), 2L)); q.processAllAvailable()
      q.stop()
    }
    runMode("complete", "s04c")
    // complete mode: final table is the full, current aggregate
    val c = spark.table("s04c").collect()
    assert(c.length == 1 && c.head.getAs[Long]("sv") == 3L)
    runMode("update", "s04u")
    // update mode appends each changed row per trigger: 1 then 3
    val u = spark.table("s04u").orderBy("sv").collect().map(_.getAs[Long]("sv"))
    assert(u.toSeq == Seq(1L, 3L))
  }

  test("s05: stream-static enrichment join") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val ms = MemoryStream[Long]
    val joined = ms.toDF().toDF("user_id").join(dim, "user_id")
    val q = joined.writeStream.format("memory").queryName("s05").start()
    ms.addData(1L, 2L, 1L, 3L) // 3 has no dim row → inner join drops
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s05").collect()
    assert(rows.length == 3)
    assert(spark.table("s05").where(col("tier") === "gold").count() == 2)
  }

  test("s06: dropDuplicates with watermark survives redelivery") {
    val ms = MemoryStream[(Timestamp, Long)]
    val dedup = ms.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "1 hour").dropDuplicates("event_id")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("s06").start()
    def t(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    ms.addData((t("10:00"), 1L), (t("10:01"), 2L))
    q.processAllAvailable()
    ms.addData((t("10:02"), 1L), (t("10:03"), 3L)) // id 1 redelivered
    q.processAllAvailable()
    q.stop()
    assert(spark.table("s06").count() == 3)
  }

  test("s07: foreachBatch upsert is idempotent and keeps latest per key") {
    val state = TestSpark.tmpDir("s07-state")
    val chk = TestSpark.tmpDir("s07-chk")
    val ms = MemoryStream[(Long, String, Long)]
    val q = CdcStreams.mergeSink(
      ms.toDF().toDF("k", "v", "ver"), state, chk, Seq("k"), Seq("ver")).start()
    ms.addData((1L, "a", 1L), (2L, "b", 1L))
    q.processAllAvailable()
    ms.addData((1L, "a2", 2L)) // update key 1
    q.processAllAvailable()
    q.stop()
    val cur = graft.sources.Lake.readStore(spark, state)
    val m = cur.collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(m == Map(1L -> "a2", 2L -> "b"))
  }

  test("s12: delete tombstone removes its key from upsert state across a restart") {
    val src = TestSpark.tmpDir("s12-src")
    val state = TestSpark.tmpDir("s12-state")
    val chk = TestSpark.tmpDir("s12-chk")
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.00", "1.0"),
      envLine("b", "boston", "5.00", "2.0")))
    def run(): Unit = {
      val post = CdcStreams.postImages(
          CdcStreams.readEnvelopeStream(spark, src, rideSchema))
        .withColumn("kid", element_at(col("key"), 2))
      val q = CdcStreams.mergeSink(post, state, chk, Seq("kid"), Seq("updated"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // the delete is kept as the key's latest row; the live view filters it
    def keys = graft.sources.Lake.readStore(spark, state)
      .where(!col("is_delete"))
      .collect().map(_.getAs[String]("kid")).toSet
    run()
    assert(keys == Set("a", "b"))
    // the changefeed delivers a DELETE for "a" (after: null, key kept);
    // the restarted stream must apply it, not resurrect the key
    writeNdjson(src, "f2.ndjson",
      Seq("""{"after": null, "key": ["amsterdam", "a"], "updated": "3.0"}"""))
    run()
    assert(keys == Set("b"), "tombstoned key must be removed from current state")
    // an upsert NEWER than the delete re-creates the key
    writeNdjson(src, "f3.ndjson", Seq(envLine("a", "amsterdam", "1.00", "4.0")))
    run()
    assert(keys == Set("a", "b"))
  }

  test("s16: state compaction folds batches, applies deletes physically, stream continues") {
    val src = TestSpark.tmpDir("s16-src")
    val state = TestSpark.tmpDir("s16-state")
    val chk = TestSpark.tmpDir("s16-chk")
    def run(): Unit = {
      val post = CdcStreams.postImages(
          CdcStreams.readEnvelopeStream(spark, src, rideSchema))
        .withColumn("kid", element_at(col("key"), 2))
      // physical deletes: each micro-batch is folded into the store
      // as it lands, so the store IS the compacted state
      val q = CdcStreams.mergeSink(post, state, chk, Seq("kid"), Seq("updated"),
          isDeleteCol = Some("is_delete"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def cur = graft.sources.Lake.readStore(spark, state)
    def kids = cur.select("kid").collect().map(_.getString(0)).toSet
    writeNdjson(src, "f1.ndjson", Seq(envLine("a", "amsterdam", "10.00", "1.0")))
    run()
    writeNdjson(src, "f2.ndjson", Seq(envLine("b", "boston", "5.00", "2.0")))
    run()
    assert(kids == Set("a", "b"))
    writeNdjson(src, "f3.ndjson",
      Seq("""{"after": null, "key": ["amsterdam", "a"], "updated": "3.0"}"""))
    run()
    val raw = cur
    assert(raw.count() == raw.select("kid").distinct().count(),
      "compaction must fold all batch dirs into one")
    assert(kids == Set("b"))
    // the delete is PHYSICAL: no tombstone row survives in the store
    assert(raw.where(col("is_delete")).isEmpty)
    assert(raw.where(col("kid") === "a").isEmpty)
    // the stream continues on the same checkpoint
    writeNdjson(src, "f4.ndjson", Seq(envLine("c", "chicago", "7.00", "4.0")))
    run()
    assert(kids == Set("b", "c"))
    // the store carries the rows' own schema, no batch column
    assert(!cur.schema.fieldNames.contains("batch"),
      "consolidated state files physically carry the batch partition column")
  }

  test("s09: streaming twins of q70/q71/q72 equal their batch results") {
    // Same operators, same data, incremental execution: re-run the
    // event-time trio as readStream over the events parquet and
    // compare against the oracle-verified batch form (SURVEY §5.4).
    val sf = "/root/testdata/sf0.001"
    // a file stream needs its schema up front: take the batch reader's
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    // file sources tail directories, not single files
    val srcDir = TestSpark.tmpDir("s09-src")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(srcDir, "events.parquet"))
    def stream = spark.readStream.schema(schema).parquet(srcDir)
    def runComplete(df: org.apache.spark.sql.DataFrame, name: String) = {
      val q = df.writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name)
    }
    val tum = runComplete(
      stream.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
        .select(col("window.start").as("hstart"), col("event_type"),
          col("n"), col("sv")), "s09t")
    val batchTum = SparkEntry.queries("q70_window_tumbling")(spark, sf)
    assert(tum.except(batchTum).isEmpty && batchTum.except(tum).isEmpty)

    val sli = runComplete(
      stream.groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
        .select(col("window.start").as("wstart"), col("n"), col("sv")), "s09s")
    val batchSli = SparkEntry.queries("q71_window_sliding")(spark, sf)
    assert(sli.except(batchSli).isEmpty && batchSli.except(sli).isEmpty)

    val ses = runComplete(
      stream.withColumn("t", date_trunc("second", col("ts")))
        .withWatermark("t", "0 seconds")
        .groupBy(col("user_id"), session_window(col("t"), "30 minutes"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n"), col("sv")), "s09x")
    val batchSes = SparkEntry.queries("q72_window_session")(spark, sf)
    assert(ses.except(batchSes).isEmpty && batchSes.except(ses).isEmpty)
  }

  test("s11: stream-stream join with watermarked time bound") {
    // Both sides live: each click joins impressions of the same ad
    // within [impression, impression + 10 min]; watermarks bound the
    // buffered state on both sides (the two-live-streams enrichment
    // the reference pipeline would need to correlate two changefeeds).
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val i = imps.toDF().toDF("ad_id", "imp_ts").withWatermark("imp_ts", "20 minutes")
    val c = clicks.toDF().toDF("c_ad_id", "click_ts").withWatermark("click_ts", "20 minutes")
    val joined = i.join(c, expr(
      """ad_id = c_ad_id AND
         click_ts >= imp_ts AND click_ts <= imp_ts + interval 10 minutes"""))
    val q = joined.selectExpr("ad_id", "imp_ts", "click_ts")
      .writeStream.format("memory").queryName("s11").start()
    def t(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    imps.addData((1L, t("10:00")), (2L, t("10:00")))
    clicks.addData((1L, t("10:05")), (2L, t("10:30")), (3L, t("10:05")))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s11").collect()
    // ad 1 clicked in-window; ad 2's click is outside +10min; ad 3 has no impression
    assert(rows.length == 1 && rows.head.getAs[Long]("ad_id") == 1L,
      s"got: ${rows.mkString(",")}")
  }

  test("s21: LEFT OUTER stream-stream join emits the unmatched side after watermark closure") {
    // The outer form of s11: an impression with NO in-window click must
    // still come out — but only once the watermark proves no match can
    // arrive (outer results are withheld until state for the row can be
    // evicted; the join condition must bound BOTH the band and the
    // state, hence the watermark columns inside the condition).
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val i = imps.toDF().toDF("ad_id", "imp_ts").withWatermark("imp_ts", "5 minutes")
    val c = clicks.toDF().toDF("c_ad_id", "click_ts").withWatermark("click_ts", "5 minutes")
    val joined = i.join(c, expr(
      """ad_id = c_ad_id AND
         click_ts >= imp_ts AND click_ts <= imp_ts + interval 10 minutes"""),
      "leftOuter")
    val q = joined.selectExpr("ad_id", "imp_ts", "click_ts")
      .writeStream.format("memory").queryName("s21").start()
    def t(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    // batch 1: ad 1 clicks in-window; ad 2 never clicks
    imps.addData((1L, t("10:00")), (2L, t("10:00")))
    clicks.addData((1L, t("10:05")))
    q.processAllAvailable()
    val matched = spark.table("s21").collect()
    assert(matched.length == 1 && matched.head.getLong(0) == 1L,
      s"inner match should emit immediately: ${matched.mkString(",")}")
    // batch 2: advance both watermarks far past ad 2's band end
    // (10:10 + 5 min delay) -> the unmatched row flushes with a null
    imps.addData((9L, t("11:00")))
    clicks.addData((9L, t("11:00")))
    q.processAllAvailable()
    // one more batch so the state-eviction results land in the sink
    imps.addData((10L, t("11:30")))
    clicks.addData((10L, t("11:30")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("s21").collect()
      .map(r => (r.getLong(0), Option(r.get(2)).isDefined)).toSet
    assert(rows.contains((2L, false)),
      s"unmatched impression never flushed with null click: got $rows")
    assert(rows.contains((1L, true)))
  }

  test("s10: transformWithState keeps running per-key state across batches") {
    val ms = MemoryStream[(Long, Double)]
    val q = graft.streaming.StatefulOps.runningUserAggsTws(ms.toDS())
      .writeStream.outputMode("update").format("memory").queryName("s10").start()
    ms.addData((1L, 5.0), (1L, 3.0), (2L, 1.0))
    q.processAllAvailable()
    // state must carry user 1's n=2, max=5 and user 2's n=1 into this batch
    ms.addData((1L, 9.0), (2L, 9.0))
    q.processAllAvailable()
    // a lower value in a later batch must not lower the stored max
    ms.addData((2L, 0.5))
    q.processAllAvailable()
    q.stop()
    // last emission per user wins (update mode appends each change)
    val last = spark.table("s10").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Double]("max_val")))
      .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
    assert(last(1L) == ((1L, 3L, 9.0)), s"user 1 state wrong: ${last(1L)}")
    assert(last(2L) == ((2L, 3L, 9.0)), s"user 2 state wrong: ${last(2L)}")
  }

  test("a checkpoint restarts on the provider it was written under") {
    // the shared session runs RocksDB (graft.Session); a query started
    // under HDFS must keep HDFS and its state across a restart from it
    val key = "spark.sql.streaming.stateStore.providerClass"
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    val shared = spark.conf.get(key)
    assert(shared.endsWith(".RocksDBStateStoreProvider"), s"shared session runs $shared")
    val src = TestSpark.tmpDir("restart-src")
    val ckpt = TestSpark.tmpDir("restart-ckpt")
    val out = TestSpark.tmpDir("restart-out")
    def run(s: org.apache.spark.sql.SparkSession): Unit = {
      val q = s.readStream.schema("k LONG, v STRING").json(src)
        .dropDuplicates("k")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).start(out)
      q.processAllAvailable()
      q.stop()
    }
    val hdfsSession = spark.newSession()
    hdfsSession.conf.set(key, hdfs)
    writeNdjson(src, "f1.json", Seq("""{"k": 1, "v": "a"}""", """{"k": 2, "v": "b"}"""))
    run(hdfsSession)
    // restart from the shared session; key 1 is redelivered
    writeNdjson(src, "f2.json", Seq("""{"k": 1, "v": "a-again"}""", """{"k": 3, "v": "c"}"""))
    run(spark)
    val rows = spark.read.parquet(out).as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"dedup state did not carry across the restart: $rows")
    // the offset log of the restarted batch still names HDFS, and the
    // state store wrote HDFS delta files for it, no RocksDB snapshots
    val batch1Offsets = new String(Files.readAllBytes(Paths.get(ckpt, "offsets", "1")))
    assert(batch1Offsets.contains(hdfs), s"offset log: $batch1Offsets")
    val stateFiles = Files.walk(Paths.get(ckpt, "state")).toArray
      .map(_.toString.split('/').last).toSet
    assert(stateFiles.contains("2.delta") && !stateFiles.exists(_.endsWith(".zip")),
      s"restarted batch ran on another provider: $stateFiles")
    assert(spark.conf.get(key) == shared, "the restart changed the shared session's provider")
  }

  test("s15: streaming LSH gate flags near-dups against prior state") {
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StatefulOps
      .lshCandidateStreamTws(docs, "doc_id", "text")
      .toDF("a_id", "b_id")
      .writeStream.outputMode("update").format("memory").queryName("s15").start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    ms.addData((1L, base), (2L, "completely different words about spark shuffles and joins here"))
    q.processAllAvailable()
    assert(spark.table("s15").isEmpty, "distinct docs must not pair")
    // a near-duplicate of doc 1 arrives in a LATER batch: the gate
    // must flag it against the stored bucket state
    ms.addData((3L, base.replace("dog", "cat")))
    q.processAllAvailable()
    // a pair is emitted once per SHARED bucket (consumers dedup
    // downstream like the batch form)
    val afterPair = spark.table("s15").count()
    // at-least-once redelivery of a known id: a MapState point lookup,
    // no re-emission
    ms.addData((3L, base.replace("dog", "cat")))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("s15").select("a_id", "b_id")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L)), s"got $pairs")
    assert(spark.table("s15").count() == afterPair,
      "redelivered doc re-emitted pairs")
  }

  test("s17: LSH gate bucket state evicts after the event-time TTL") {
    val ms = MemoryStream[(Long, String, Timestamp)]
    val docs = ms.toDF().toDF("doc_id", "text", "ts")
    val q = graft.streaming.StatefulOps
      .lshCandidateStreamTws(docs, "doc_id", "text",
        eventTimeCol = Some("ts"), stateTtlMs = Some(60000L))
      .toDF("a_id", "b_id")
      .writeStream.outputMode("update").format("memory").queryName("s17").start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    ms.addData((1L, base, t(0)))
    q.processAllAvailable()
    // an unrelated doc 10 minutes later advances the watermark far
    // past doc 1's 1-minute TTL: the bucket timers fire and evict
    // doc 1's idle buckets from the store
    ms.addData((2L, "completely different words about spark shuffles and joins here", t(10)))
    q.processAllAvailable()
    // a near-duplicate of doc 1 now meets EMPTY bucket state
    ms.addData((3L, base.replace("dog", "cat"), t(11)))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("s17").isEmpty,
      "pairs emitted against bucket state that should have been evicted")
  }

  test("s19: hot-key monitor flags a key once at the threshold, TTL resets heat") {
    val ms = MemoryStream[(Long, Timestamp)]
    val ev = ms.toDS().toDF("key", "ts")
      .withWatermark("ts", "0 milliseconds")
      .as[(Long, Timestamp)]
    val q = graft.streaming.StatefulOps
      .hotKeyStreamTws(ev, threshold = 3, ttlMs = 60000L)
      .toDF("key", "n")
      .writeStream.outputMode("update").format("memory").queryName("s19").start()
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // key 7 arrives twice, key 8 once: nobody hot yet
    ms.addData((7L, t(0)), (7L, t(0)), (8L, t(0)))
    q.processAllAvailable()
    assert(spark.table("s19").isEmpty, "no key reached the threshold yet")
    // key 7's third arrival crosses the threshold — exactly one alert
    ms.addData((7L, t(1)))
    q.processAllAvailable()
    var got = spark.table("s19").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((7L, 3L)), s"got ${got.toSeq}")
    // more traffic on the flagged key: no repeated alerts
    ms.addData((7L, t(2)), (7L, t(2)))
    q.processAllAvailable()
    assert(spark.table("s19").count() == 1, "hot key alerted more than once")
    // advance the watermark far past key 7's TTL, then send 3 more:
    // its timer fires, its count restarts, so crossing the threshold
    // re-alerts (the monitor tracks RECENT heat after idle eviction)
    ms.addData((9L, t(30)))
    q.processAllAvailable()
    ms.addData((7L, t(31)), (7L, t(31)), (7L, t(31)))
    q.processAllAvailable()
    q.stop()
    got = spark.table("s19").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((7L, 3L), (7L, 3L)), s"got ${got.toSeq}")
  }

  test("hot-key transition: crossing emits once, below-threshold never") {
    import graft.streaming.StatefulOps.hotKeyTransition
    val (s1, a1) = hotKeyTransition((0L, false), 2, 3)
    assert(s1 == ((2L, false)) && a1.isEmpty)
    val (s2, a2) = hotKeyTransition(s1, 5, 3)
    assert(s2 == ((7L, true)) && a2.contains(7L))
    val (s3, a3) = hotKeyTransition(s2, 4, 3)
    assert(s3 == ((11L, true)) && a3.isEmpty)
  }

  test("s18: streaming sessionization equals the batch gaps-and-islands") {
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val q = graft.streaming.StatefulOps
      .sessionizeStreamTws(ms.toDS(), gapSec = 1800L)
      .toDF("event_id", "user_id", "sess")
      .writeStream.outputMode("update").format("memory").queryName("s18").start()
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // batch 1: user 1 opens session 1 (two close events); user 2 opens
    // session 1. In-batch order is scrambled on purpose — the operator
    // must sort within the group.
    ms.addData((11L, 1L, t(5)), (10L, 1L, t(0)), (20L, 2L, t(0)))
    q.processAllAvailable()
    // batch 2: user 1 returns 40 min after t(5) -> session 2, then a
    // close event stays in session 2; user 2 within the gap -> still 1
    ms.addData((12L, 1L, t(45)), (13L, 1L, t(50)), (21L, 2L, t(29)))
    q.processAllAvailable()
    // batch 3: user 1 again beyond the gap -> session 3
    ms.addData((14L, 1L, t(95)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("s18")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Set(
      (10L, 1L, 1), (11L, 1L, 1), (12L, 1L, 2), (13L, 1L, 2), (14L, 1L, 3),
      (20L, 2L, 1), (21L, 2L, 1))
    assert(got == want, s"got $got")
    // cross-check: the batch q105 operator on the same rows agrees
    val batch = Seq((10L, 1L, t(0)), (11L, 1L, t(5)), (12L, 1L, t(45)),
      (13L, 1L, t(50)), (14L, 1L, t(95)), (20L, 2L, t(0)), (21L, 2L, t(29)))
      .toDF("event_id", "user_id", "ts")
    val q105Form = graft.operators.Sessionize
      .assign(batch, "user_id", "ts", gapSec = 1800L, orderCols = Seq("event_id"))
      .select("event_id", "user_id", "sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(q105Form == got, "streaming and batch sessionization disagree")
  }

  test("s20: streaming transition edges equal the batch lead() matrix") {
    val ms = MemoryStream[(Long, Long, String, Timestamp)]
    val q = graft.streaming.StatefulOps
      .transitionStreamTws(ms.toDS())
      .toDF("src", "dst")
      .writeStream.outputMode("update").format("memory").queryName("s20").start()
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // batch 1 scrambled in-batch: user 1 view->click; user 2 view only
    // (no edge until its second event arrives)
    ms.addData((11L, 1L, "click", t(5)), (10L, 1L, "view", t(0)),
      (20L, 2L, "view", t(2)))
    q.processAllAvailable()
    // batch 2: user 1 click->purchase (state carried ACROSS batches);
    // user 2 view->error
    ms.addData((12L, 1L, "purchase", t(9)), (21L, 2L, "error", t(6)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("s20")
      .groupBy("src", "dst").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // batch q132 form (lead over the same rows) agrees
    val batch = Seq((10L, 1L, "view", t(0)), (11L, 1L, "click", t(5)),
      (12L, 1L, "purchase", t(9)), (20L, 2L, "view", t(2)),
      (21L, 2L, "error", t(6)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val want = batch
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .where(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst")).count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, s"streaming $got vs batch $want")
    assert(got == Set(("view", "click", 1L), ("click", "purchase", 1L),
      ("view", "error", 1L)))
  }

  test("s32: dynamic per-key session gaps — parity when constant, exact when varying") {
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // 1) parity: a constant gap column reproduces the fixed-gap form
    val msC = MemoryStream[(Long, Long, Timestamp, Long)]
    val qc = graft.streaming.StatefulOps
      .sessionizeStreamDynamic(msC.toDS())
      .toDF("event_id", "user_id", "sess")
      .writeStream.outputMode("update").format("memory")
      .queryName("s32c").start()
    msC.addData((11L, 1L, t(5), 1800L), (10L, 1L, t(0), 1800L),
      (20L, 2L, t(0), 1800L))
    qc.processAllAvailable()
    msC.addData((12L, 1L, t(45), 1800L), (13L, 1L, t(50), 1800L),
      (21L, 2L, t(29), 1800L))
    qc.processAllAvailable()
    msC.addData((14L, 1L, t(95), 1800L))
    qc.processAllAvailable()
    qc.stop()
    val gotC = spark.table("s32c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the s18 fixture's expected sessions (fixed 30-min gap)
    assert(gotC == Set(
      (10L, 1L, 1), (11L, 1L, 1), (12L, 1L, 2), (13L, 1L, 2), (14L, 1L, 3),
      (20L, 2L, 1), (21L, 2L, 1)), s"constant-gap parity broke: $gotC")
    // 2) varying gaps: user 1 tightens the gap to 10 min mid-stream
    // (the 40-min jump then splits where the 30-min gap would not
    // have — and vice versa for user 2's loosened gap)
    val msV = MemoryStream[(Long, Long, Timestamp, Long)]
    val qv = graft.streaming.StatefulOps
      .sessionizeStreamDynamic(msV.toDS())
      .toDF("event_id", "user_id", "sess")
      .writeStream.outputMode("update").format("memory")
      .queryName("s32v").start()
    msV.addData((10L, 1L, t(0), 1800L), (11L, 1L, t(25), 1800L),
      (20L, 2L, t(0), 600L))
    qv.processAllAvailable()
    // user 1 now carries a 10-min gap: t(45) is 20 min after t(25)
    // → NEW session (the fixed 30-min form kept it); user 2 loosens
    // to 45 min: t(40) is 40 min after t(0) → SAME session (the
    // original 10-min gap would have split)
    msV.addData((12L, 1L, t(45), 600L), (21L, 2L, t(40), 2700L))
    qv.processAllAvailable()
    qv.stop()
    val gotV = spark.table("s32v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotV == Set(
      (10L, 1L, 1), (11L, 1L, 1), (12L, 1L, 2),
      (20L, 2L, 1), (21L, 2L, 1)), s"dynamic-gap sessions wrong: $gotV")
  }

  test("s28: composed CDC pipeline survives restart: dedup, tombstones, quarantine, compaction") {
    // examples.CdcPipeline = the reference's whole pipeline
    // (README.md:128-192) as one artifact. Each start() drains the
    // directory and terminates (AvailableNow); calling it again with
    // the same checkpoints IS the crash-restart: offsets and the
    // idempotent latest-HLC merge must line up.
    import graft.examples.CdcPipeline
    import graft.sources.Lake
    val src = TestSpark.tmpDir("s28-src")
    val state = TestSpark.tmpDir("s28-state")
    val chk = TestSpark.tmpDir("s28-chk")
    val quar = TestSpark.tmpDir("s28-quar") + "/out"
    val qchk = TestSpark.tmpDir("s28-qchk")
    def run(): Unit = CdcPipeline.start(spark, src, rideSchema, state, chk,
      quarantinePath = Some(quar), quarantineCheckpoint = Some(qchk)).awaitAll()
    def keys = CdcPipeline.currentState(spark, state)
      .collect().map(_.getAs[String]("kid")).toSet
    def revenue(kid: String) = CdcPipeline.currentState(spark, state)
      .where(col("kid") === kid).head().getAs[String]("revenue")
    def stored(kid: String) = Lake.readStore(spark, state).where(col("kid") === kid)
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.00", "1.0"),
      "{not json at all",
      envLine("b", "boston", "5.00", "2.0"),
      // same tick: the HLCs differ only in the logical counter, below
      // what a double can tell apart
      envLine("c", "cairo", "1.00", "1670000000000000000.0000000001"),
      envLine("c", "cairo", "2.00", "1670000000000000000.0000000002"),
      envLine("d", "dublin", "3.00", "1.5")))
    run()
    assert(keys == Set("amsterdam|a", "boston|b", "cairo|c", "dublin|d"))
    assert(revenue("cairo|c") == "2.00", "same-tick change lost to its predecessor")
    assert(spark.read.parquet(quar).count() == 1, "malformed line not quarantined")
    // restart 1: a REDELIVERED envelope (same key, same hlc — the
    // at-least-once case) plus delete tombstones for b and d
    writeNdjson(src, "f2.ndjson", Seq(
      envLine("a", "amsterdam", "10.00", "1.0"),
      """{"after": null, "key": ["boston", "b"], "updated": "3.0"}""",
      """{"after": null, "key": ["dublin", "d"], "updated": "3.5"}"""))
    run()
    assert(keys == Set("amsterdam|a", "cairo|c"), "tombstone not applied across restart")
    val aRows = stored("amsterdam|a").count()
    assert(aRows == 1, s"redelivered envelope became a new store row ($aRows)")
    // maintenance between runs
    CdcPipeline.compact(spark, state)
    assert(stored("boston|b").where(!col("is_delete") || col("id").isNotNull ||
      col("city").isNotNull || col("revenue").isNotNull).isEmpty,
      "tombstoned key survived compaction")
    assert(keys == Set("amsterdam|a", "cairo|c"))
    // restart 2 AFTER compaction: the stream continues, an upsert newer
    // than the delete re-creates its key, and a redelivered insert
    // OLDER than its key's delete does not
    writeNdjson(src, "f3.ndjson", Seq(
      envLine("b", "boston", "7.00", "4.0"),
      envLine("d", "dublin", "3.00", "1.5")))
    run()
    assert(keys == Set("amsterdam|a", "boston|b", "cairo|c"),
      "stale redelivery re-created a deleted key")
    assert(revenue("boston|b") == "7.00")
  }

  test("s29: late-data dead-letter split routes exactly what the watermark drops") {
    val ms = MemoryStream[(Long, Timestamp)]
    val ev = ms.toDF().toDF("id", "ts")
    val onTime = scala.collection.mutable.ArrayBuffer[Long]()
    val lateRows = scala.collection.mutable.ArrayBuffer[Long]()
    val q = graft.streaming.CdcStreams.lateSplitSink(ev, "ts", delayMs = 0L,
        onTime = (b, _) => onTime.synchronized {
          onTime ++= b.collect().map(_.getLong(0)) },
        late = (b, _) => lateRows.synchronized {
          lateRows ++= b.collect().map(_.getLong(0)) })
      .queryName("s29").start()
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // batch 1: no watermark yet — nothing with an event time can be
    // late, but a NULL event time dead-letters in EVERY batch (a
    // watermarked stateful operator drops such rows)
    ms.addData((1L, t(0)), (2L, t(10)), (6L, null))
    q.processAllAvailable()
    // batch 2: judged against max-event-after-batch-1 (t(10), delay 0):
    // t(5) routes to the dead letter, t(11) onward — the same rows the
    // s03 windowed aggregate drops vs keeps; null-ts again dead-letters
    ms.addData((3L, t(5)), (4L, t(11)), (7L, null))
    q.processAllAvailable()
    // batch 3: the watermark lags a batch — t(10.5) is late vs t(11)
    ms.addData((5L, new Timestamp(t(10).getTime + 30000L)))
    q.processAllAvailable()
    q.stop()
    assert(onTime.sorted == Seq(1L, 2L, 4L), s"on-time: $onTime")
    assert(lateRows.sorted == Seq(3L, 5L, 6L, 7L), s"late: $lateRows")
  }

  test("s30: streaming merge sink keeps a queryable table exactly-once across restarts") {
    val src = TestSpark.tmpDir("s30-src")
    val table = TestSpark.tmpDir("s30-tbl") + "/t"
    val chk = TestSpark.tmpDir("s30-chk")
    def run(): Unit = {
      val post = CdcStreams.postImages(
          CdcStreams.readEnvelopeStream(spark, src, rideSchema))
        .withColumn("kid", element_at(col("key"), 2))
        .withColumn("hlc", col("updated").cast("double"))
      val q = CdcStreams.mergeSink(post, table, chk,
          Seq("kid"), Seq("hlc"), isDeleteCol = Some("is_delete"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // the table is a versioned snapshot store — read through the
    // managed reader (one pointer resolve; a plain spark.read cannot
    // see inside the version dirs)
    def table_ = graft.sources.Lake.readStore(spark, table)
    def state = table_
      .collect().map(r => r.getAs[String]("kid") -> r.getAs[String]("revenue")).toMap
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.00", "1.0"),
      envLine("b", "boston", "5.00", "2.0")))
    run()
    assert(state == Map("a" -> "10.00", "b" -> "5.00"))
    // restart: update a, tombstone b — merged in place, delete physical
    writeNdjson(src, "f2.ndjson", Seq(
      envLine("a", "amsterdam", "12.00", "3.0"),
      """{"after": null, "key": ["boston", "b"], "updated": "4.0"}"""))
    run()
    assert(state == Map("a" -> "12.00"))
    assert(table_.where(col("is_delete")).isEmpty,
      "tombstone row persisted into the merged table")
    // replaying with NO new files must not change the table (the
    // checkpoint replays nothing; a crash-replayed batch would merge
    // idempotently by the same rule)
    run()
    assert(state == Map("a" -> "12.00"))
  }

  test("s31: streaming global heavy hitters keep the MG guarantees across batches and restarts") {
    import graft.streaming.GlobalSketch
    val src = TestSpark.tmpDir("s31-src")
    val store = TestSpark.tmpDir("s31-store") + "/sk"
    val chk = TestSpark.tmpDir("s31-chk")
    val k = 8
    def run(): Unit = {
      val keys = spark.readStream
        .schema(StructType(Seq(StructField("key", LongType))))
        .option("maxFilesPerTrigger", 1) // force multiple micro-batches
        .json(src)
      val q = GlobalSketch.mgSketchSink(keys, "key", k, store, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def lines(xs: Seq[Long]): Seq[String] = xs.map(x => s"""{"key": $x}""")
    // skewed stream: key 1 hot, key 2 warm, long tail — split across
    // files so the sink sees several micro-batches
    val rnd = new scala.util.Random(7)
    val all = scala.collection.mutable.ArrayBuffer[Long]()
    def emit(name: String, xs: Seq[Long]): Unit = {
      all ++= xs; writeNdjson(src, name, lines(xs))
    }
    emit("f1.ndjson", Seq.fill(60)(1L) ++ Seq.fill(25)(2L) ++
      Seq.fill(40)(rnd.nextInt(500).toLong + 100L))
    emit("f2.ndjson", Seq.fill(50)(1L) ++
      Seq.fill(40)(rnd.nextInt(500).toLong + 100L))
    run()
    // RESTART: more data arrives, a fresh query continues the store
    emit("f3.ndjson", Seq.fill(45)(2L) ++ Seq.fill(30)(1L) ++
      Seq.fill(40)(rnd.nextInt(500).toLong + 100L))
    run()
    def check(): Unit = {
      val got = GlobalSketch.globalTopK(spark, store, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val n = all.size.toLong
      assert(got.forall(_._3 == n), s"summary n ${got.headOption} != $n")
      val exact = all.groupBy(identity).map { case (x, g) => x -> g.size.toLong }
      val bound = n.toDouble / (k + 1)
      // retention: every key above n/(k+1) is reported
      exact.filter(_._2 > bound).foreach { case (x, c) =>
        assert(got.exists(_._1 == x),
          s"hot key $x (freq $c > $bound) missing from streamed summary")
      }
      // lower-bound counts, undercounting by at most n/(k+1)
      got.foreach { case (x, c, _) =>
        val t = exact.getOrElse(x, 0L)
        assert(c <= t, s"key $x overcounted: $c > $t")
        assert(t - c <= bound, s"key $x undercounted past the bound: $t - $c > $bound")
      }
      assert(got.length <= k)
    }
    check()
    // replay with NO new files: the store must not change (idempotent
    // batch-id directories), so the summary is identical
    val before = GlobalSketch.globalTopK(spark, store, k).collect().toSeq
    run()
    assert(GlobalSketch.globalTopK(spark, store, k).collect().toSeq == before)
    check()
  }

  test("s31/purge: MG sketch-store key purge removes the literal everywhere, preserves other estimates exactly") {
    import graft.examples.KeyPurge
    import graft.streaming.GlobalSketch
    val src = TestSpark.tmpDir("s31p-src")
    val store = TestSpark.tmpDir("s31p-store") + "/sk"
    val chk = TestSpark.tmpDir("s31p-chk")
    val k = 8
    def run(): Unit = {
      val keys = spark.readStream
        .schema(StructType(Seq(StructField("key", LongType))))
        .option("maxFilesPerTrigger", 1)
        .json(src)
      val q = GlobalSketch.mgSketchSink(keys, "key", k, store, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def lines(xs: Seq[Long]): Seq[String] = xs.map(x => s"""{"key": $x}""")
    writeNdjson(src, "f1.ndjson",
      lines(Seq.fill(50)(1L) ++ Seq.fill(30)(2L) ++ Seq.fill(20)(3L)))
    writeNdjson(src, "f2.ndjson",
      lines(Seq.fill(40)(1L) ++ Seq.fill(25)(2L) ++ Seq.fill(10)(4L)))
    run()
    val before = GlobalSketch.globalTopK(spark, store, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(before.exists(_._1 == 1L), "fixture: key 1 must be reported")
    // purge key 1: gone from the summary AND from every file's bytes
    KeyPurge.scrubMgStore(spark, store, k, key = 1L)
    val after = GlobalSketch.globalTopK(spark, store, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(!after.exists(_._1 == 1L), s"purged key still reported: $after")
    // every OTHER key's estimate and the total n are exactly as before
    assert(after.toSet == before.filterNot(_._1 == 1L).toSet,
      s"purge disturbed surviving estimates: $before -> $after")
    // zero physical trace: no file under the store carries key 1 in
    // its keys array (raw audit, including any superseded dirs)
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val offenders = scala.collection.mutable.Buffer[String]()
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.startsWith("part-") && !f.getName.endsWith(".crc")) {
        if (!spark.read.parquet(f.toString)
            .where(array_contains(col("keys"), 1L)).isEmpty)
          offenders += f.toString
      }
    }
    assert(offenders.isEmpty, s"key bytes survive in: $offenders")
    // idempotent re-run; and a restart folding NEW data (without the
    // purged key) continues the store cleanly
    KeyPurge.scrubMgStore(spark, store, k, key = 1L)
    assert(GlobalSketch.globalTopK(spark, store, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == after)
    writeNdjson(src, "f3.ndjson", lines(Seq.fill(15)(2L)))
    run()
    val grown = GlobalSketch.globalTopK(spark, store, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(grown.getOrElse(2L, 0L) >=
      after.find(_._1 == 2L).map(_._2).getOrElse(0L) + 15L - (205L / (k + 1)),
      s"post-purge fold lost key 2 mass: $grown")
    assert(!grown.contains(1L))
  }

  test("s31b: sketch-store compaction folds batches without changing the summary") {
    import graft.streaming.GlobalSketch
    import org.apache.hadoop.fs.Path
    val src = TestSpark.tmpDir("s31b-src")
    val store = TestSpark.tmpDir("s31b-store") + "/sk"
    val chk = TestSpark.tmpDir("s31b-chk")
    val k = 8
    def run(): Unit = {
      val keys = spark.readStream
        .schema(StructType(Seq(StructField("key", LongType))))
        .option("maxFilesPerTrigger", 1)
        .json(src)
      val q = GlobalSketch.mgSketchSink(keys, "key", k, store, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeNdjson(src, "f1.ndjson", (Seq.fill(30)(1L) ++ Seq.fill(9)(5L))
      .map(x => s"""{"key": $x}"""))
    writeNdjson(src, "f2.ndjson", (Seq.fill(20)(2L) ++ Seq.fill(8)(6L))
      .map(x => s"""{"key": $x}"""))
    writeNdjson(src, "f3.ndjson", Seq.fill(15)(1L).map(x => s"""{"key": $x}"""))
    // a crash-truncated batch dir (exists, no _SUCCESS — the committer
    // creates the dir at job setup) must be REWRITTEN by the replayed
    // batch, not skipped as committed
    val fs0 = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs0.mkdirs(new Path(s"$store/batch=0"))
    run()
    assert(fs0.exists(new Path(s"$store/batch=0/_SUCCESS")),
      "crash-truncated batch dir was skipped instead of rewritten")
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs = fs.listStatus(new Path(store)).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).sorted.toSeq
    assert(batchDirs.size >= 3, s"expected ≥3 batch dirs, got $batchDirs")
    val before = GlobalSketch.globalTopK(spark, store, k).collect().toSeq
    def dirs = fs.listStatus(new Path(store)).map(_.getPath.getName)
      .filter(n => n.startsWith("batch=") || n.startsWith("fold="))
      .sorted.toSeq
    // generation fold: fold=<maxId> appears fully formed; the folded
    // batch dirs STAY on disk for one generation (in-flight-reader
    // retention) and readers ignore everything at or below the fold's
    // upto — so the summary must not double-count
    GlobalSketch.compactSketches(spark, store, k)
    assert(dirs == Seq("batch=0", "batch=1", "batch=2", "fold=2"),
      s"first fold generation: $dirs")
    assert(GlobalSketch.globalTopK(spark, store, k).collect().toSeq == before,
      "compaction changed the global summary (superseded dirs double-counted?)")
    // a crash mid-fold strands _compact_tmp: readers ignore it, the
    // next compact call deletes it at entry
    fs.mkdirs(new Path(s"$store/_compact_tmp"))
    assert(GlobalSketch.globalTopK(spark, store, k).collect().toSeq == before)
    GlobalSketch.compactSketches(spark, store, k) // live = {fold=2}: no-op
    assert(!fs.exists(new Path(s"$store/_compact_tmp")),
      "stranded _compact_tmp was not cleaned")
    assert(dirs == Seq("batch=0", "batch=1", "batch=2", "fold=2"))
    // a restarted stream with nothing new replays no batch; the store
    // and summary stay put
    run()
    assert(GlobalSketch.globalTopK(spark, store, k).collect().toSeq == before)
    // new data lands at batch id 3 alongside the fold
    writeNdjson(src, "f4.ndjson", Seq.fill(12)(2L).map(x => s"""{"key": $x}"""))
    run()
    val after = GlobalSketch.globalTopK(spark, store, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after(1L) == 45L && after(2L) == 32L, s"post-compaction counts: $after")
    // the next fold supersedes the first generation: batches at or
    // below the PREVIOUS fold's upto are finally swept
    GlobalSketch.compactSketches(spark, store, k)
    assert(dirs == Seq("batch=3", "fold=2", "fold=3"),
      s"second fold generation: $dirs")
    val after2 = GlobalSketch.globalTopK(spark, store, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after2 == after, "second fold changed the summary")
  }

  test("s31/advice: generation retention never drops history; cleanup never touches a late arrival") {
    import graft.streaming.GlobalSketch
    import org.apache.hadoop.fs.Path
    val store = TestSpark.tmpDir("s31c") + "/mg"
    val k = 4
    def putBatch(id: Long, n: Long, kv: (Long, Long)*): Unit =
      Seq((n, kv.map(_._1), kv.map(_._2)))
        .toDF("n", "keys", "counts")
        .coalesce(1).write.parquet(s"$store/batch=$id")
    def top: Map[Long, Long] = GlobalSketch.globalTopK(spark, store, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names = fs.listStatus(new Path(store)).map(_.getPath.getName)
      .filter(n => n.startsWith("batch=") || n.startsWith("fold="))
      .sorted.toSeq
    putBatch(0L, 10L, 1L -> 10L)
    putBatch(1L, 5L, 2L -> 5L)
    putBatch(2L, 7L, 1L -> 7L)
    val before = top
    assert(before == Map(1L -> 17L, 2L -> 5L))
    GlobalSketch.compactSketches(spark, store, k)
    // the fold commits as ONE rename of a fresh name (fold=2) — at no
    // instant is any committed dir missing, so a reader listing
    // between any two compaction steps sees a complete history. The
    // superseded batch dirs stay one generation (readers ignore ids
    // at or below the fold upto — no double count).
    assert(names == Seq("batch=0", "batch=1", "batch=2", "fold=2"))
    assert(top == before, "fold changed or double-counted the summary")
    // a batch landing AFTER the fold always carries an id above the
    // fold's upto (checkpointed ids are monotonic): it joins the read
    // set immediately and no cleanup rule can ever select it
    putBatch(9L, 3L, 3L -> 3L)
    assert(top == Map(1L -> 17L, 2L -> 5L, 3L -> 3L),
      "a late-arriving batch was not read alongside the fold")
    GlobalSketch.compactSketches(spark, store, k)
    assert(top == Map(1L -> 17L, 2L -> 5L, 3L -> 3L),
      "a late-arriving batch was lost by compaction cleanup")
    assert(names == Seq("batch=9", "fold=2", "fold=9"),
      s"second generation shape: $names")
    // one more fold pass: live = {fold=9} only — a no-op; the
    // remaining superseded dirs wait for the NEXT real generation
    GlobalSketch.compactSketches(spark, store, k)
    assert(top == Map(1L -> 17L, 2L -> 5L, 3L -> 3L))
  }

  test("s33: streaming global quantiles — one-bin guarantee over the whole history") {
    import graft.streaming.GlobalSketch
    val src = TestSpark.tmpDir("s33-src")
    val store = TestSpark.tmpDir("s33-store") + "/h"
    val chk = TestSpark.tmpDir("s33-chk")
    val (lo, hi, bins) = (0.0, 1000.0, 100) // bin width 10
    def run(): Unit = {
      val vals = spark.readStream
        .schema(StructType(Seq(StructField("v", DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .json(src)
      val q = GlobalSketch.histogramSink(vals, "v", lo, hi, bins, store, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val rnd = new scala.util.Random(11)
    val all = scala.collection.mutable.ArrayBuffer[Double]()
    def emit(name: String, xs: Seq[Double]): Unit = {
      all ++= xs; writeNdjson(src, name, xs.map(x => s"""{"v": $x}"""))
    }
    emit("f1.ndjson", Seq.fill(300)(rnd.nextDouble() * 1000))
    emit("f2.ndjson", Seq.fill(200)(rnd.nextDouble() * 400)) // shift the mix
    run()
    // RESTART with more data
    emit("f3.ndjson", Seq.fill(250)(600 + rnd.nextDouble() * 400))
    run()
    def check(): Unit = {
      val got = GlobalSketch.globalQuantiles(spark, store, lo, hi, bins,
          Seq("p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
      val sorted = all.sorted.toIndexedSeq
      val n = sorted.size
      assert(got.values.forall(_._2 == n), s"n mismatch: $got vs $n")
      Seq("p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95).foreach { case (nm, p) =>
        val x = sorted(math.ceil(p * n).toInt - 1)
        val est = got(nm)._1
        assert(math.abs(est - x) <= (hi - lo) / bins + 1e-9,
          s"$nm: est $est vs order stat $x over $n rows")
      }
    }
    check()
    // idempotent replay: no new files → identical store and estimates
    run()
    check()
    // compaction: the fold commits as one rename of a fresh
    // fold=<upto> name; superseded batch dirs stay one generation
    // (readers ignore ids at or below the upto — bin counts are
    // ADDITIVE, so a double count would shift every estimate)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirNames = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("batch=") || n.startsWith("fold="))
      .sorted.toSeq
    val batchIds = dirNames.filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
    assert(batchIds.size >= 3)
    val upto = batchIds.max
    GlobalSketch.compactHistogram(spark, store)
    assert(dirNames == batchIds.sorted.map("batch=" + _) :+ s"fold=$upto",
      s"first fold generation: $dirNames")
    check() // retained superseded dirs must not double-count
    // stranded _compact_tmp from a crashed fold: ignored by readers,
    // swept at the next call's entry
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$store/_compact_tmp"))
    check()
    GlobalSketch.compactHistogram(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/_compact_tmp")),
      "stranded _compact_tmp was not cleaned")
    check()
    // a new batch + the next fold sweep the first generation
    emit("f4.ndjson", Seq.fill(50)(rnd.nextDouble() * 1000))
    run()
    check()
    GlobalSketch.compactHistogram(spark, store)
    assert(dirNames == Seq(s"batch=${upto + 1}", s"fold=$upto",
      s"fold=${upto + 1}"), s"second fold generation: $dirNames")
    check()
  }

  test("s34: streaming global distinct count within 5% of exact across restarts") {
    import graft.streaming.GlobalSketch
    val src = TestSpark.tmpDir("s34-src")
    val store = TestSpark.tmpDir("s34-store") + "/d"
    val chk = TestSpark.tmpDir("s34-chk")
    def run(): Unit = {
      val keys = spark.readStream
        .schema(StructType(Seq(StructField("key", LongType))))
        .option("maxFilesPerTrigger", 1)
        .json(src)
      val q = GlobalSketch.hllSketchSink(keys, "key", store, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val rnd = new scala.util.Random(13)
    val all = scala.collection.mutable.ArrayBuffer[Long]()
    def emit(name: String, xs: Seq[Long]): Unit = {
      all ++= xs; writeNdjson(src, name, xs.map(x => s"""{"key": $x}"""))
    }
    // overlapping key ranges across batches: the union must NOT
    // double-count a key two batches both saw
    emit("f1.ndjson", Seq.fill(800)(rnd.nextInt(2000).toLong))
    emit("f2.ndjson", Seq.fill(700)(rnd.nextInt(2000).toLong + 1000L))
    run()
    emit("f3.ndjson", Seq.fill(600)(rnd.nextInt(2000).toLong + 2000L))
    run() // restart with more data
    def check(): Unit = {
      val r = GlobalSketch.globalDistinct(spark, store).head()
      val exact = all.distinct.size.toLong
      assert(r.getLong(1) == all.size.toLong, s"n: ${r.getLong(1)} vs ${all.size}")
      assert(math.abs(r.getLong(0) - exact).toDouble / exact < 0.05,
        s"approx ${r.getLong(0)} vs exact $exact")
    }
    check()
    run() // idempotent replay: no new files, same store, same estimate
    check()
  }

  test("s37: streaming merge + pre-image feed keep an incremental view fresh") {
    import graft.examples.IncrementalView
    val src = TestSpark.tmpDir("s37-src")
    val table = TestSpark.tmpDir("s37-tbl") + "/t"
    val cdf = TestSpark.tmpDir("s37-tbl") + "/changes"
    val viewDir = TestSpark.tmpDir("s37-tbl") + "/view"
    val chk = TestSpark.tmpDir("s37-chk")
    def run(): Unit = {
      val post = CdcStreams.postImages(
          CdcStreams.readEnvelopeStream(spark, src, rideSchema))
        .withColumn("kid", element_at(col("key"), 2))
        .withColumn("hlc", col("updated").cast("double"))
        // exact-in-binary revenue values below keep the signed-delta
        // fold bit-identical to a recompute
        .withColumn("rev", col("revenue").cast("double"))
      val q = CdcStreams.mergeSink(post, table, chk,
          Seq("kid"), Seq("hlc"), isDeleteCol = Some("is_delete"),
          changeDir = Some(cdf), cdfPreImages = true)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def refresh(): Long =
      IncrementalView.refresh(spark, viewDir, cdf, Seq("city"), Seq("rev"))
    def viewMap = IncrementalView.read(spark, viewDir).collect()
      .map(r => r.getAs[String]("city") ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_rev"))).toMap
    def recompute = graft.sources.Lake.readStore(spark, table)
      .groupBy("city").agg(count(lit(1)).as("n"), sum("rev").as("s"))
      .collect().map(r => r.getAs[String]("city") ->
        (r.getAs[Long]("n"), r.getAs[Double]("s"))).toMap
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.25", "1.0"),
      envLine("b", "boston", "5.50", "2.0"),
      envLine("c", "amsterdam", "4.75", "2.5")))
    run(); refresh()
    assert(viewMap == Map("amsterdam" -> (2L, 15.0), "boston" -> (1L, 5.5)))
    assert(viewMap == recompute)
    // restart: update a (10.25 -> 12.25), move c to boston, delete b
    writeNdjson(src, "f2.ndjson", Seq(
      envLine("a", "amsterdam", "12.25", "3.0"),
      envLine("c", "boston", "4.75", "3.5"),
      """{"after": null, "key": ["boston", "b"], "updated": "4.0"}"""))
    run(); refresh()
    assert(viewMap == Map("amsterdam" -> (1L, 12.25), "boston" -> (1L, 4.75)),
      s"streamed deltas mis-applied: $viewMap")
    assert(viewMap == recompute)
    // replay with nothing new: no feed entry, no view movement
    run()
    val upto = refresh()
    assert(viewMap == recompute)
    assert(refresh() == upto)
  }

  test("s38: one streamed feed serves two view consumers; min-watermark gates the sweep") {
    import graft.examples.IncrementalView
    val src = TestSpark.tmpDir("s38-src")
    val root = TestSpark.tmpDir("s38-tbl")
    val table = s"$root/t"; val cdf = s"$root/changes"
    val statsView = s"$root/stats"; val bucketView = s"$root/bucket"
    val chk = TestSpark.tmpDir("s38-chk")
    def run(): Unit = {
      val post = CdcStreams.postImages(
          CdcStreams.readEnvelopeStream(spark, src, rideSchema))
        .withColumn("kid", element_at(col("key"), 2))
        .withColumn("hlc", col("updated").cast("double"))
        // integer CENTS keep the moment triple exact
        .withColumn("cents",
          round(col("revenue").cast("double") * 100).cast("long"))
      val q = CdcStreams.mergeSink(post, table, chk,
          Seq("kid"), Seq("hlc"), isDeleteCol = Some("is_delete"),
          changeDir = Some(cdf), cdfPreImages = true)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // consumer 1: per-city moment-triple view (avg/stddev derivable)
    def refreshStats(): Unit = {
      IncrementalView.refresh(spark, statsView, cdf,
        Seq("city"), Seq("cents"), m2Cols = Seq("cents"))
      IncrementalView.recordViewConsumer(spark, cdf, "stats", statsView)
    }
    // consumer 2: view bucketed on the DERIVED integer second of the
    // HLC — an update's new HLC moves its row across buckets
    def refreshBucket(): Unit = {
      IncrementalView.refresh(spark, bucketView, cdf,
        Seq("bucket"), Seq("cents"),
        derived = Seq("bucket" -> floor(col("hlc")).cast("long")))
      IncrementalView.recordViewConsumer(spark, cdf, "bucket", bucketView)
    }
    def statsMap = IncrementalView.read(spark, statsView).collect()
      .map(r => r.getAs[String]("city") -> (r.getAs[Long]("n"),
        r.getAs[Long]("sum_cents"), r.getAs[Long]("sumsq_cents"))).toMap
    def bucketMap = IncrementalView.read(spark, bucketView).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_cents"))).toMap
    def store = graft.sources.Lake.readStore(spark, table)
    def statsWant = store.groupBy("city")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"),
        sum(col("cents") * col("cents")).as("sq"))
      .collect().map(r => r.getAs[String]("city") -> (r.getAs[Long]("n"),
        r.getAs[Long]("s"), r.getAs[Long]("sq"))).toMap
    def bucketWant = store
      .withColumn("bucket", floor(col("hlc")).cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap
    def feedIds = {
      val fs = new org.apache.hadoop.fs.Path(cdf)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(cdf))
        .map(_.getPath.getName).filter(_.startsWith("merge="))
        .map(_.stripPrefix("merge=").toLong).sorted.toSeq
    }

    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.25", "1.0"),
      envLine("b", "boston", "5.50", "2.0"),
      envLine("c", "amsterdam", "4.75", "2.5")))
    run()
    // the bucket consumer registers BEFORE ever refreshing (-1): the
    // sweep must wait for it even after the stats consumer catches up
    IncrementalView.recordViewConsumer(spark, cdf, "bucket", bucketView)
    refreshStats()
    // feed ids are VERSION-keyed (round 14): the first streamed merge
    // committed store version 1, so the stats consumer's applied-upto
    // reads 1, not 0
    assert(IncrementalView.consumerWatermarks(spark, cdf) ==
      Map("stats" -> 1L, "bucket" -> -1L))
    assert(IncrementalView.vacuumFeedMinWatermark(spark, cdf) == 0,
      "swept an entry the registered bucket consumer has not applied")
    refreshBucket()
    assert(statsMap == statsWant)
    assert(bucketMap == Map(1L -> (1L, 1025L), 2L -> (2L, 1025L)))
    assert(bucketMap == bucketWant)
    // restart: a's update moves its HLC bucket 1→3 and its price, b
    // deletes — both views follow from the same feed entry
    writeNdjson(src, "f2.ndjson", Seq(
      envLine("a", "amsterdam", "12.00", "3.5"),
      """{"after": null, "key": ["boston", "b"], "updated": "4.0"}"""))
    run()
    refreshStats(); refreshBucket()
    assert(statsMap == statsWant)
    assert(bucketMap == Map(2L -> (1L, 475L), 3L -> (1L, 1200L)))
    assert(bucketMap == bucketWant)
    // derived stats stay consistent with the documented formula
    val st = IncrementalView.readStats(spark, statsView, Seq("cents"))
      .where(col("city") === "amsterdam").head()
    assert(st.getAs[Double]("avg_cents") == (475.0 + 1200.0) / 2)
    // both consumers at 2 (version-keyed ids) → the sweep takes
    // entry 1, retains 2
    assert(feedIds == Seq(1L, 2L))
    assert(IncrementalView.vacuumFeedMinWatermark(spark, cdf) == 1)
    assert(feedIds == Seq(2L))
  }

  test("s39: streaming merge feed keeps the inverted index and SCD2 history fresh") {
    import graft.examples.{IncrementalIndex, IncrementalScd2}
    val docSchema = StructType(Seq(
      StructField("id", StringType), StructField("body", StringType)))
    def docLine(id: String, body: String, hlc: String): String =
      s"""{"after": {"id": "$id", "body": "$body"}, "key": ["$id"], "updated": "$hlc"}"""
    val src = TestSpark.tmpDir("s39-src")
    val root = TestSpark.tmpDir("s39-tbl")
    val table = s"$root/t"; val cdf = s"$root/changes"
    val idx = s"$root/idx"; val hist = s"$root/hist"
    val chk = TestSpark.tmpDir("s39-chk")
    def run(): Unit = {
      val post = CdcStreams.postImages(
          CdcStreams.readEnvelopeStream(spark, src, docSchema))
        .withColumn("kid", element_at(col("key"), 1))
        .withColumn("hlc", col("updated").cast("double"))
      val q = CdcStreams.mergeSink(post, table, chk,
          Seq("kid"), Seq("hlc"), isDeleteCol = Some("is_delete"),
          changeDir = Some(cdf), cdfPreImages = true)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val toks = expr("filter(split(body, ' '), w -> w <> '')")
    def refresh(): (Long, Long) = (
      IncrementalIndex.refresh(spark, idx, cdf, Seq("kid"), toks),
      IncrementalScd2.refresh(spark, hist, cdf, Seq("kid"), Seq("body")))
    def postings = IncrementalIndex.read(spark, idx).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[String]("kid")) ->
        r.getAs[Long]("tf")).toMap
    def recompute = graft.sources.Lake.readStore(spark, table)
      .select(col("kid"), explode(toks).as("token"))
      .groupBy("token", "kid").agg(count(lit(1)).as("tf")).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[String]("kid")) ->
        r.getAs[Long]("tf")).toMap

    writeNdjson(src, "f1.ndjson", Seq(
      docLine("a", "the cat sat", "1.0"),
      docLine("b", "the dog", "2.0")))
    run()
    // feed ids are VERSION-keyed (round 14): the first streamed merge
    // committed store version 1, so both consumers' applied-upto is 1
    assert(refresh() == ((1L, 1L)))
    assert(postings == recompute)
    // restart: update a (cat -> bird), delete b — postings follow the
    // feed; history closes and opens intervals stamped in feed ids
    writeNdjson(src, "f2.ndjson", Seq(
      docLine("a", "the bird sat", "3.0"),
      """{"after": null, "key": ["b"], "updated": "4.0"}"""))
    run()
    assert(refresh() == ((2L, 2L)))
    assert(postings == recompute)
    assert(!postings.contains(("cat", "a")) && !postings.contains(("dog", "b")))
    val histRows = IncrementalScd2.read(spark, hist).collect()
      .map(r => (r.getAs[String]("kid"), r.getAs[String]("body"),
        r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.longValue))).toSet
    assert(histRows == Set(
      ("a", "the cat sat", 1L, Some(2L)),
      ("a", "the bird sat", 2L, None),
      ("b", "the dog", 1L, Some(2L))), s"history: $histRows")
    // time travel to the state after batch 1 (interval stamps are the
    // version-keyed feed ids, so "after batch 1" is as-of id 1)
    val asOf0 = IncrementalScd2.asOf(spark, hist, 1L).collect()
      .map(r => r.getAs[String]("kid") -> r.getAs[String]("body")).toMap
    assert(asOf0 == Map("a" -> "the cat sat", "b" -> "the dog"))
    // replay with nothing new: no feed entry, neither consumer moves
    run()
    assert(refresh() == ((2L, 2L)))
    assert(postings == recompute)
  }

  test("s30b: partition-routed merge sink rewrites only touched day-directories") {
    val src = TestSpark.tmpDir("s30b-src")
    val lake = TestSpark.tmpDir("s30b-lake") + "/lake"
    val chk = TestSpark.tmpDir("s30b-chk")
    def run(): Unit = {
      val post = CdcStreams.postImages(
          CdcStreams.readEnvelopeStream(spark, src, rideSchema))
        .withColumn("kid", element_at(col("key"), 2))
        .withColumn("hlc", col("updated").cast("double"))
        // day derived from the HLC second — keys 1.x land on day 1,
        // keys 3.x on day 2 (ingest day is a function of the key here)
        .withColumn("ingest_date",
          when(col("hlc") < 3.0, lit("2024-01-01")).otherwise(lit("2024-01-02")))
      val q = CdcStreams.mergeSink(post, lake, chk,
          Seq("kid"), Seq("hlc"), isDeleteCol = Some("is_delete"),
          partitionCol = Some("ingest_date"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // recursive file listing of one day directory: under the snapshot
    // protocol the data lives in version member dirs, so byte-identity
    // must cover manifests, pointer, AND nested data files
    def snapshot(day: String): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      val root = new java.io.File(s"$lake/ingest_date=$day")
      walk(root).filter(f => !f.getName.startsWith("."))
        .map(f => root.toPath.relativize(f.toPath).toString -> f.length())
        .toMap
    }
    def state = graft.sources.Lake.read(spark, lake).collect()
      .map(r => r.getAs[String]("kid") -> r.getAs[String]("revenue")).toMap
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.00", "1.0"),
      envLine("b", "boston", "5.00", "3.0")))
    run()
    assert(state == Map("a" -> "10.00", "b" -> "5.00"))
    val day1 = snapshot("2024-01-01")
    // second batch touches ONLY day 2 (update b) — day 1's files must
    // not be rewritten by the merge
    writeNdjson(src, "f2.ndjson", Seq(
      envLine("b", "boston", "7.00", "4.0")))
    run()
    assert(state == Map("a" -> "10.00", "b" -> "7.00"))
    assert(snapshot("2024-01-01") == day1,
      "untouched day partition was rewritten by the streaming merge")
    // replay with no new files: nothing changes anywhere
    run()
    assert(state == Map("a" -> "10.00", "b" -> "7.00"))
    assert(snapshot("2024-01-01") == day1)
  }

  test("s35: merge sink change feed accumulates per micro-batch, empty on replay") {
    val src = TestSpark.tmpDir("s35-src")
    val table = TestSpark.tmpDir("s35-tbl") + "/t"
    val cdf = TestSpark.tmpDir("s35-cdf") + "/changes"
    val chk = TestSpark.tmpDir("s35-chk")
    def run(): Unit = {
      val post = CdcStreams.postImages(
          CdcStreams.readEnvelopeStream(spark, src, rideSchema))
        .withColumn("kid", element_at(col("key"), 2))
        .withColumn("hlc", col("updated").cast("double"))
      val q = CdcStreams.mergeSink(post, table, chk,
          Seq("kid"), Seq("hlc"), isDeleteCol = Some("is_delete"),
          changeDir = Some(cdf))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def feed = spark.read.option("basePath", cdf).parquet(s"$cdf/merge=*")
      .collect().map(r => (r.getAs[String]("kid"), r.getAs[String]("_op"))).toSeq
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.00", "1.0")))
    run()
    assert(feed.sorted == Seq("a" -> "insert"))
    // update a + tombstone... the downstream consumer sees exactly the
    // row-level effects of each micro-batch's merge
    writeNdjson(src, "f2.ndjson", Seq(
      envLine("a", "amsterdam", "12.00", "2.0"),
      envLine("b", "boston", "5.00", "3.0")))
    run()
    assert(feed.sorted == Seq("a" -> "insert", "a" -> "update", "b" -> "insert"))
    // replay with no new files: the feed must not grow
    run()
    assert(feed.size == 3, s"replay grew the change feed: $feed")
  }

  test("s52: resolved-timestamp frontier gates day publication; replay idempotent") {
    val src = TestSpark.tmpDir("s52-src")
    val out = TestSpark.tmpDir("s52-out") + "/lake"
    val chk = TestSpark.tmpDir("s52-chk")
    def hlc(iso: String) =
      s"${java.time.Instant.parse(iso).getEpochSecond}000000000.0000000000"
    def run(): Unit = {
      val q = CdcStreams.frontierGatedDaySink(
          CdcStreams.readEnvelopeStreamResolved(spark, src, rideSchema),
          out, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // day-1 rows + a frontier INSIDE day 1 → nothing may publish: an
    // event-time watermark would call this day quiet, the frontier
    // knows it is still open
    writeNdjson(src, "f1.ndjson", Seq(
      envLine("a", "amsterdam", "10.00", hlc("2022-12-12T08:00:00Z")),
      envLine("b", "boston", "5.00", hlc("2022-12-12T09:00:00Z")),
      s"""{"resolved": "${hlc("2022-12-12T10:00:00Z")}"}"""))
    run()
    assert(CdcStreams.completedDays(spark, out).isEmpty,
      "published a day the frontier has not passed")
    intercept[IllegalArgumentException] {
      CdcStreams.readCompletedDay(spark, out, "2022-12-12")
    }
    // OUT-OF-ORDER across the boundary: a day-2 row arrives BEFORE a
    // day-1 straggler (updated above the last resolved — legal under
    // the resolved contract), then the frontier passes into day 2 →
    // day 1 publishes WITH its straggler, day 2 stays open
    writeNdjson(src, "f2.ndjson", Seq(
      envLine("c", "chicago", "7.00", hlc("2022-12-13T01:00:00Z")),
      envLine("d", "detroit", "9.00", hlc("2022-12-12T23:30:00Z")),
      s"""{"resolved": "${hlc("2022-12-13T02:00:00Z")}"}"""))
    run()
    assert(CdcStreams.completedDays(spark, out) == Seq("2022-12-12"))
    val day1 = CdcStreams.readCompletedDay(spark, out, "2022-12-12")
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(day1 == Seq("a", "b", "d"), s"day-1 content wrong: $day1")
    // restart-replay with no new files: no duplicates, no state drift
    run()
    assert(CdcStreams.completedDays(spark, out) == Seq("2022-12-12"))
    assert(CdcStreams.readCompletedDay(spark, out, "2022-12-12").count() == 3)
    // a marker-only file moves the frontier past day 2 → it publishes
    writeNdjson(src, "f3.ndjson", Seq(
      s"""{"resolved": "${hlc("2022-12-14T00:00:00Z")}"}"""))
    run()
    assert(CdcStreams.completedDays(spark, out) ==
      Seq("2022-12-12", "2022-12-13"))
    val day2 = CdcStreams.readCompletedDay(spark, out, "2022-12-13")
      .select("id").collect().map(_.getString(0)).toSeq
    assert(day2 == Seq("c"), s"day-2 content wrong: $day2")
  }

  test("s53: multi-table changefeed demux — two stores equal their single-table twins") {
    val base = TestSpark.tmpDir("s53")
    val src = s"$base/feed"
    val userSchema = StructType(Seq(
      StructField("id", StringType), StructField("name", StringType)))
    def userLine(id: String, name: String, hlc: String) =
      s"""{"after": {"id": "$id", "name": "$name"}, "key": ["$id"], "updated": "$hlc"}"""
    def userDel(id: String, hlc: String) =
      s"""{"after": null, "key": ["$id"], "updated": "$hlc"}"""
    // cloud-sink layout: one table per FILE (topic in the file name),
    // the FEED interleaving tables file by file
    val rides1 = Seq(envLine("a", "amsterdam", "10.00", "1.0"),
      envLine("b", "boston", "5.00", "2.0"))
    val users1 = Seq(userLine("u1", "ann", "1.5"), userLine("u2", "bo", "2.5"))
    val rides2 = Seq(envLine("a", "amsterdam", "12.00", "3.0")) // later HLC wins
    val users2 = Seq(userDel("u2", "3.5")) // tombstone deletes u2
    writeNdjson(src, "202212120800-n1-rides-1.ndjson", rides1)
    writeNdjson(src, "202212120801-n1-users-1.ndjson", users1)
    writeNdjson(src, "202212120802-n1-rides-1.ndjson", rides2)
    writeNdjson(src, "202212120803-n1-users-1.ndjson", users2)
    val routes = Map(
      "rides" -> CdcStreams.TableRoute(rideSchema, s"$base/rides"),
      "users" -> CdcStreams.TableRoute(userSchema, s"$base/users"))
    def run(chk: String): Unit = {
      // one file per micro-batch: the demux sees the tables strictly
      // interleaved, the hardest routing order
      val q = CdcStreams.demuxMergeSink(
          CdcStreams.readDemuxLinesStream(spark, src, maxFilesPerTrigger = 1),
          routes, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run(s"$base/chk")
    // single-table TWINS: the same per-file merge cadence over each
    // table's files alone, through the plain single-table path (a
    // delete is kept as its key's latest row)
    def twin(schema: StructType, dir: String, batches: Seq[Seq[String]]): Unit =
      batches.foreach { lines =>
        val env = spark.read.schema(CdcStreams.envelopeSchema(schema))
          .json(spark.createDataset(lines))
        graft.sources.Lake.mergeInto(spark, dir,
          env.select(col("after.*"), to_json(col("key")).as("_kid"),
            CdcStreams.hlcOrder(col("updated")).as("_hlc"),
            col("after").isNull.as("_is_delete")),
          Seq("_kid"), Seq("_hlc"), isDelete = None)
      }
    twin(rideSchema, s"$base/rides_twin", Seq(rides1, rides2))
    twin(userSchema, s"$base/users_twin", Seq(users1, users2))
    def dump(dir: String): Seq[String] = {
      val df = graft.sources.Lake.readStore(spark, dir)
      df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    }
    // u2's delete is its one stored row (null payload); the live view
    // (`!_is_delete`) holds u1 alone
    def assertU2Deleted(when: String): Unit = {
      val users = graft.sources.Lake.readStore(spark, s"$base/users")
      val u2 = users.where(col("_kid") === """["u2"]""").collect()
      assert(u2.length == 1, s"$when: u2 has ${u2.length} stored rows")
      assert(u2.head.getAs[Boolean]("_is_delete") && u2.head.isNullAt(
        u2.head.fieldIndex("name")), s"$when: u2's row is not a tombstone")
      val live = users.where(!col("_is_delete"))
        .select("id").collect().map(_.getString(0)).toSeq
      assert(live == Seq("u1"), s"$when: live users $live")
    }
    assert(dump(s"$base/rides") == dump(s"$base/rides_twin"),
      "demuxed rides store diverged from its single-table twin")
    assert(dump(s"$base/users") == dump(s"$base/users_twin"),
      "demuxed users store diverged from its single-table twin")
    assertU2Deleted("first run")
    // per-key order preserved: the later-HLC ride won
    assert(graft.sources.Lake.readStore(spark, s"$base/rides")
      .where(col("id") === "a").select("revenue").head().getString(0) == "12.00")
    // STALE REDELIVERY (at-least-once): a later users file re-sends u2
    // at HLC 2.0, older than its delete at 3.5 — it must lose to the
    // kept delete row, not re-create u2
    val users3 = Seq(userLine("u2", "bo", "2.0"))
    writeNdjson(src, "202212120804-n1-users-1.ndjson", users3)
    run(s"$base/chk")
    twin(userSchema, s"$base/users_twin", Seq(users3))
    assert(dump(s"$base/users") == dump(s"$base/users_twin"),
      "demuxed users store diverged from its twin after a stale redelivery")
    assertU2Deleted("stale redelivery after the first run")
    // FULL replay from a fresh checkpoint (every batch re-merges):
    // latest-HLC-wins makes the re-merge idempotent — same final state
    run(s"$base/chk2")
    assert(dump(s"$base/rides") == dump(s"$base/rides_twin"),
      "replayed demux diverged")
    assert(dump(s"$base/users") == dump(s"$base/users_twin"),
      "replayed demux diverged (users)")
    assertU2Deleted("fresh-checkpoint replay")
  }

  test("s36: downstream change-feed consumer reads merges incrementally, exactly-once") {
    val base = TestSpark.tmpDir("s36")
    val table = s"$base/t"
    val cdf = s"$base/changes"
    val chk = s"$base/chk"
    def df(rows: (Long, String, Long, Boolean)*) =
      rows.toDF("k", "v", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, table, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")), changeDir = Some(cdf))
    val rowSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType), StructField("is_delete", BooleanType)))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def drain(): Unit = {
      val q = CdcStreams.readChangeFeedStream(spark, cdf, rowSchema)
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= b.collect().map(r =>
              (r.getAs[Long]("k"), r.getAs[String]("_op")))
          }
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    merge(df((1L, "a", 1L, false), (2L, "b", 1L, false)))
    drain()
    assert(seen.sorted == Seq(1L -> "insert", 2L -> "insert"), s"got $seen")
    // later merges surface INCREMENTALLY: the checkpointed consumer
    // sees only the new merge=1 rows, not a re-read of merge=0
    merge(df((1L, "a2", 2L, false), (2L, "", 2L, true)))
    drain()
    assert(seen.sorted == Seq(1L -> "insert", 1L -> "update",
      2L -> "delete", 2L -> "insert"), s"got $seen")
    // a replayed producer merge publishes nothing → consumer sees nothing
    merge(df((1L, "a2", 2L, false), (2L, "", 2L, true)))
    drain()
    assert(seen.size == 4, s"replay leaked into the feed: $seen")
    // the PARTITIONED producer nests one level deeper — the consumer
    // must pass partitioned = true or its glob matches nothing
    val plake = s"$base/plake"; val pcdf = s"$base/pchanges"
    graft.sources.Lake.mergeIntoPartitioned(spark, plake,
      Seq((1L, "a", 1L, "2024-01-01", false), (2L, "b", 1L, "2024-01-02", false))
        .toDF("k", "v", "ver", "ingest_date", "is_delete"),
      "ingest_date", Seq("k"), Seq("ver"), Some(col("is_delete")),
      changeDir = Some(pcdf))
    val pseen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val pq = CdcStreams.readChangeFeedStream(spark, pcdf, rowSchema,
        partitioned = true)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        pseen.synchronized {
          pseen ++= b.collect().map(r =>
            (r.getAs[Long]("k"), r.getAs[String]("_op")))
        }
        ()
      }
      .option("checkpointLocation", s"$base/pchk")
      .trigger(Trigger.AvailableNow()).start()
    pq.awaitTermination()
    assert(pseen.sorted == Seq(1L -> "insert", 2L -> "insert"),
      s"partitioned feed consumer got $pseen")
  }

  test("s08: checkpoint recovery resumes without loss or duplication") {
    val src = TestSpark.tmpDir("s08-src")
    val out = TestSpark.tmpDir("s08-out")
    val chk = TestSpark.tmpDir("s08-chk")
    val schema = StructType(Seq(StructField("id", LongType)))
    writeNdjson(src, "f1.ndjson", Seq("""{"id": 1}""", """{"id": 2}"""))
    def run(): Unit = {
      val q = spark.readStream.schema(schema).json(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    writeNdjson(src, "f2.ndjson", Seq("""{"id": 3}"""))
    run() // restart from the same checkpoint: f1 must NOT be re-read
    val ids = spark.read.schema(schema).parquet(out)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"lost/duplicated rows: $ids")
  }

  test("s40: streaming global CMS — store equals one-shot sketch, est >= exact") {
    import graft.streaming.GlobalSketch
    val src = TestSpark.tmpDir("s40-src")
    val store = TestSpark.tmpDir("s40-store") + "/cms"
    val chk = TestSpark.tmpDir("s40-chk")
    val (depth, width) = (4, 64)
    def run(): Unit = {
      val keys = spark.readStream
        .schema(StructType(Seq(StructField("word", StringType))))
        .option("maxFilesPerTrigger", 1)
        .json(src)
      val q = GlobalSketch.cmsSketchSink(keys, "word", depth, width, store, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 300).map(i => s"w$i")
    val all = scala.collection.mutable.ArrayBuffer[String]()
    def emit(name: String, xs: Seq[String]): Unit = {
      all ++= xs
      writeNdjson(src, name, xs.map(x => s"""{"word": "$x"}"""))
    }
    emit("f1.ndjson", Seq.fill(900)(vocab(rnd.nextInt(vocab.size))))
    emit("f2.ndjson", Seq.fill(700)(vocab(rnd.nextInt(200))))
    run()
    emit("f3.ndjson", Seq.fill(800)(vocab(100 + rnd.nextInt(200))))
    run() // restart mid-history
    def check(): Unit = {
      import spark.implicits._
      // exactly-once: the merged store must equal, cell for cell, a
      // one-shot sketch over every row ever streamed
      val streamed = GlobalSketch.globalCmsCells(spark, store)
      val oneShot = graft.functions.CountMin.cells(
        all.toSeq.toDF("word"), "word", depth, width)
      assert(streamed.exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(streamed).isEmpty,
        "streamed CMS cells diverge from the one-shot sketch")
      // CMS guarantee on every probed key over the whole history
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val probes = (vocab.take(50) :+ "never-seen").toDF("word")
      val est = GlobalSketch.globalCmsEstimate(
          spark, store, depth, width, probes, "word")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est("never-seen") >= 0L)
      vocab.take(50).foreach { w =>
        assert(est(w) >= exact.getOrElse(w, 0L),
          s"CMS under-counted $w: ${est(w)} < ${exact.getOrElse(w, 0L)}")
      }
    }
    check()
    run() // idempotent replay: same store, same cells
    check()
    // compaction folds batches but never changes the merged cells
    GlobalSketch.compactCms(spark, store)
    check()
    GlobalSketch.compactCms(spark, store)
    check()
    // (depth, width) are part of the store's identity: a mismatched
    // probe would miss every (i, b) cell and return est = 0 for SEEN
    // keys — the sink records the shape in _cms_meta and the probe
    // side must fail fast instead of lying
    import spark.implicits._
    val probe1 = Seq("alpha").toDF("word")
    intercept[IllegalArgumentException] {
      GlobalSketch.globalCmsEstimate(
        spark, store, depth, width + 1, probe1, "word")
    }
    intercept[IllegalArgumentException] {
      GlobalSketch.globalCmsEstimate(
        spark, store, depth + 1, width, probe1, "word")
    }
  }

  test("s41: adaptive temperature sampling — history-derived cuts, replay-deterministic") {
    import graft.streaming.AdaptiveSample
    val src = TestSpark.tmpDir("s41-src")
    val counts = TestSpark.tmpDir("s41-counts") + "/c"
    val smp = TestSpark.tmpDir("s41-sample") + "/s"
    val chk = TestSpark.tmpDir("s41-chk")
    def run(): Unit = {
      val rows = spark.readStream
        .schema(StructType(Seq(StructField("id", LongType),
          StructField("lang", StringType))))
        .option("maxFilesPerTrigger", 1)
        .json(src)
      val q = AdaptiveSample.temperatureSink(rows, "id", "lang",
          alpha = 0.5, counts, smp, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def line(id: Long, l: String) = s"""{"id": $id, "lang": "$l"}"""
    // en-heavy start, a new language appearing mid-stream, then drift
    val b0 = (0L until 200L).map(i => (i, if (i % 10 == 0) "fr" else "en"))
    val b1 = (200L until 400L).map(i => (i, if (i % 4 == 0) "de" else "en"))
    val b2 = (400L until 600L).map(i => (i, if (i % 5 == 0) "en" else "fr"))
    // one run per file: two files with equal mtimes can be picked up
    // in either order, and the prefix-cuts contract is order-sensitive
    writeNdjson(src, "f0.ndjson", b0.map { case (i, l) => line(i, l) })
    run()
    writeNdjson(src, "f1.ndjson", b1.map { case (i, l) => line(i, l) })
    run() // restart mid-history
    writeNdjson(src, "f2.ndjson", b2.map { case (i, l) => line(i, l) })
    run()
    // the contract, replayed in scala: batch k's cuts derive from
    // counts of batches < k; unseen strata keep everything
    def draw(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"adapt:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    def cutsOf(hist: Seq[(Long, String)]): Map[String, Long] = {
      val c = hist.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      if (c.isEmpty) Map.empty
      else {
        val m = c.values.min
        c.map { case (l, n) =>
          l -> math.floor(math.pow(m.toDouble / n, 0.5) * 10000).toLong }
      }
    }
    val batches = Seq(b0, b1, b2)
    val want = batches.zipWithIndex.flatMap { case (b, i) =>
      val cs = cutsOf(batches.take(i).flatten)
      b.filter { case (id, l) => draw(id) < cs.getOrElse(l, 10000L) }
    }.toSet
    def check(): Unit = {
      val got = AdaptiveSample.readSample(spark, smp)
        .select("id", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want,
        s"sample drifted from the prefix-cuts contract (${got.size} vs ${want.size})")
    }
    check()
    // batch 0 (no history) kept everything; the mid-stream language
    // was NOT damped on arrival
    assert(want.count(_._1 < 200) == 200, "first batch must keep all")
    assert(b1.filter(_._2 == "de").forall(want.contains),
      "an unseen language must not be damped on arrival")
    run() // idempotent replay: no new files — same sample
    check()
  }

  test("s42: streaming PSI drift monitor — prefix reference, shift alarm, idempotent replay") {
    import graft.streaming.DriftMonitor
    val src = TestSpark.tmpDir("s42-src")
    val store = TestSpark.tmpDir("s42-store") + "/m"
    val chk = TestSpark.tmpDir("s42-chk")
    def run(checkpoint: String = chk): Unit = {
      val rows = spark.readStream
        .schema(StructType(Seq(StructField("v", DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .json(src)
      val q = DriftMonitor.driftSink(rows, "v", lo = 0.0, hi = 100.0,
          bins = 10, store, checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // b0/b1: the same uniform shape; b2: mass shifted into the top bins
    val b0 = (0 until 500).map(i => (i * 7919 % 100).toDouble)
    val b1 = (0 until 500).map(i => (i * 104729 % 100).toDouble)
    val b2 = (0 until 500).map(i => 80.0 + (i * 7919 % 20))
    writeNdjson(src, "f0.ndjson", b0.map(v => s"""{"v": $v}"""))
    run()
    writeNdjson(src, "f1.ndjson", b1.map(v => s"""{"v": $v}"""))
    run() // restart mid-history
    writeNdjson(src, "f2.ndjson", b2.map(v => s"""{"v": $v}"""))
    run()
    def history() = DriftMonitor.driftHistory(spark, store).collect()
      .map(r => (r.getAs[Long]("batch_id"),
        Option(r.getAs[java.lang.Double]("psi")).map(_.doubleValue),
        r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"))).toSeq
    val h = history()
    assert(h.map(_._1) == Seq(0L, 1L, 2L), s"batches: $h")
    assert(h(0)._2.isEmpty, "first batch must have NULL psi (no reference)")
    assert(h(0)._3 == 0L && h(0)._4 == 500L)
    val psi1 = h(1)._2.get; val psi2 = h(2)._2.get
    assert(psi1 < 0.05, s"same-shape batch alarmed: psi=$psi1")
    assert(psi2 > 0.5, s"shifted batch did not alarm: psi=$psi2")
    assert(h(2)._3 == 1000L, "batch 2's reference must merge batches 0+1")
    // idempotent replay from a FRESH checkpoint: every batch re-offers,
    // writeIfUncommitted skips committed dirs — history is unchanged
    // (in particular psi rows did NOT recompute against later history)
    run(checkpoint = TestSpark.tmpDir("s42-chk2"))
    assert(history() == h, "replay changed the drift history")
  }

  test("s43: streaming expectations gate — three-way split, one-scan metrics, idempotent replay") {
    import graft.streaming.QualityGate
    val src = TestSpark.tmpDir("s43-src")
    val store = TestSpark.tmpDir("s43-store") + "/g"
    val chk = TestSpark.tmpDir("s43-chk")
    val rules = Seq(
      "r_v_range" -> (col("v") < 0 || col("v") > 100),
      "r_lang_domain" -> !col("lang").isin("en", "de"))
    def run(checkpoint: String = chk): Unit = {
      val rows = spark.readStream
        .schema(StructType(Seq(StructField("id", LongType),
          StructField("v", LongType), StructField("lang", StringType))))
        .option("maxFilesPerTrigger", 1)
        .json(src)
      val q = QualityGate.gateSink(rows, rules, store, checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def line(id: Long, v: Long, l: String) =
      s"""{"id": $id, "v": $v, "lang": "$l"}"""
    // b0: 2 range violations, 1 domain violation, 1 row failing BOTH
    val b0 = Seq((0L, 5L, "en"), (1L, -3L, "en"), (2L, 200L, "de"),
      (3L, 50L, "fr"), (4L, 999L, "xx"), (5L, 7L, "de"))
    // b1: all clean
    val b1 = Seq((6L, 1L, "en"), (7L, 2L, "de"))
    writeNdjson(src, "f0.ndjson", b0.map((line _).tupled))
    run()
    writeNdjson(src, "f1.ndjson", b1.map((line _).tupled))
    run() // restart mid-history
    val clean = QualityGate.gated(spark, store).get
      .select("id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(0L, 5L, 6L, 7L), s"clean feed: $clean")
    val quar = QualityGate.quarantined(spark, store).get
      .select(col("id"), col("bad_rules")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(quar == Map(
      1L -> Set("r_v_range"), 2L -> Set("r_v_range"),
      3L -> Set("r_lang_domain"),
      4L -> Set("r_v_range", "r_lang_domain")), s"quarantine: $quar")
    val m = QualityGate.metrics(spark, store).get.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("rule_id")) ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_viol"))).toMap
    assert(m == Map(
      (0L, "r_v_range") -> (6L, 3L), (0L, "r_lang_domain") -> (6L, 2L),
      (1L, "r_v_range") -> (2L, 0L), (1L, "r_lang_domain") -> (2L, 0L)),
      s"metrics: $m")
    // idempotent replay from a fresh checkpoint: all three stores
    // unchanged (committed batch dirs are skipped)
    run(checkpoint = TestSpark.tmpDir("s43-chk2"))
    assert(QualityGate.gated(spark, store).get.count() == 4)
    assert(QualityGate.quarantined(spark, store).get.count() == 4)
    assert(QualityGate.metrics(spark, store).get.count() == 4)
  }

  test("s41: readSample on an empty store yields a typed, projectable empty frame") {
    import graft.streaming.AdaptiveSample
    val empty = TestSpark.tmpDir("s41-empty") + "/nothing-here"
    val sc = StructType(Seq(StructField("id", LongType),
      StructField("lang", StringType)))
    // with the schema supplied, downstream projection works pre-first-commit
    val typed = AdaptiveSample.readSample(spark, empty, Some(sc))
    assert(typed.select("id", "lang").count() == 0)
    assert(typed.schema == sc)
    // legacy no-schema call still returns the zero-column frame
    assert(AdaptiveSample.readSample(spark, empty).isEmpty)
  }

  test("s45: streaming cadence monitor — warm-up, pre-gap EWMA alert, baseline recovery") {
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val mult = 4.0; val minGaps = 3L
    // user 1: steady 60 s cadence, then a cross-batch stall (alert),
    // then the stall folds into the baseline (recovery dynamics: the
    // next normal gap does NOT alert, a second long stall does)
    val b1 = Seq(
      (10L, 1L, t(0)), (11L, 1L, t(1)), (12L, 1L, t(2)),
      (13L, 1L, t(3)), (14L, 1L, t(4)),
      // user 2: a huge gap inside warm-up must NOT alert
      (20L, 2L, t(0)), (21L, 2L, t(1)), (22L, 2L, t(500)))
    val b2 = Seq(
      (15L, 1L, t(60)), (16L, 1L, t(61)), (17L, 1L, t(121)),
      (23L, 2L, t(501)))
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val q = graft.streaming.StatefulOps
      .cadenceStreamTws(ms.toDS(), mult, minGaps)
      .toDF("user_id", "ts", "gap_s", "ewma_before")
      .writeStream.outputMode("update").format("memory")
      .queryName("s45").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("s45").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))).toSet
    // reference fold: the identical op chain over the same rows
    val want = (b1 ++ b2).groupBy(_._2).flatMap { case (u, rs) =>
      var last = Long.MinValue; var ewma = 0.0; var n = 0L
      rs.sortBy(r => (r._3.getTime, r._1)).flatMap { case (_, _, ts) =>
        val sec = ts.getTime / 1000L
        val alert =
          if (last != Long.MinValue) {
            val gap = sec - last
            val a = if (n >= minGaps && gap.toDouble > mult * ewma)
              Some((u, ts, gap, ewma)) else None
            ewma = if (n == 0L) gap.toDouble
                   else (3.0 * ewma + gap.toDouble) / 4.0
            n += 1; a
          } else None
        last = sec
        alert
      }
    }.toSet
    assert(got == want, s"cadence monitor drifted: got=$got want=$want")
    // shape pins: exactly user 1's two stalls alert (warm-up mutes
    // user 2); the first alert's baseline is the steady 60 s
    assert(got.map(x => (x._1, x._2)) == Set((1L, t(60)), (1L, t(121))))
    assert(got.find(_._2 == t(60)).get._4 == 60.0)
  }

  test("s50: streaming CUSUM level-shift monitor — warm-up baseline, spike and drop alerts, reference-fold parity") {
    import graft.streaming.StatefulOps
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // key 1: steady 10s, then a level shift up; key 3: steady, then
    // a sustained DROP (signed deviation must alert too); key 2:
    // huge values ENTIRELY inside warm-up — they define the
    // baseline, they must not alert against it
    val b1 = Seq(
      (10L, 1L, t(0), 10L), (11L, 1L, t(1), 10L), (12L, 1L, t(2), 10L),
      (13L, 1L, t(3), 10L),
      (30L, 3L, t(0), 10L), (31L, 3L, t(1), 10L), (32L, 3L, t(2), 10L),
      (40L, 2L, t(0), 999L), (41L, 2L, t(1), 999L))
    val b2 = Seq(
      (14L, 1L, t(4), 25L), (15L, 1L, t(5), 30L),
      (33L, 3L, t(3), 2L), (34L, 3L, t(4), 2L))
    val ms = MemoryStream[(Long, Long, Timestamp, Long)]
    val q = StatefulOps.cusumStreamTws(ms.toDS(), warm = 3L, thresh = 10L)
      .toDF("key", "ts", "dev", "i")
      .writeStream.outputMode("update").format("memory")
      .queryName("s50").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("s50").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3))).toSet
    // reference: the identical pure fold over everything per key
    val want = (b1 ++ b2).groupBy(_._2).flatMap { case (k, rs) =>
      StatefulOps.cusumFold(StatefulOps.cusumInit, k, 3L, 10L, rs)._2
    }.toSet
    assert(got == want, s"cusum monitor drifted: got=$got want=$want")
    // shape pins: key 1's shift alerts at t(4) (dev 45) and t(5)
    // (dev 105); key 3's drop alerts signed-negative at t(4); key 2
    // never alerts
    assert(got.map(a => (a._1, a._2, a._3)) ==
      Set((1L, t(4), 45L), (1L, t(5), 105L), (3L, t(4), -48L)),
      s"alert set: $got")
  }

  test("s51: streaming Benford monitor — near-conformant profile silent, spiked digit alerts, sub-1 amounts don't count, reference-fold parity") {
    import graft.streaming.StatefulOps
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // key 1: ten amounts whose digit profile {1×3,2×2,3,4,5,6,9}
    // sits inside tau=100000 ppm at n=10 (worst digit is the EMPTY
    // 7 at 57992 ppm) — the warm-up boundary row must stay silent;
    // key 2: zeros are skipped (q222's x ≥ 1 rule) so it never
    // leaves warm-up
    val b1 = Seq(
      (10L, 1L, t(0), 1L), (11L, 1L, t(1), 12L), (12L, 1L, t(2), 150L),
      (13L, 1L, t(3), 2L), (14L, 1L, t(4), 25L), (15L, 1L, t(5), 3L),
      (16L, 1L, t(6), 4L), (17L, 1L, t(7), 5L), (18L, 1L, t(8), 6L),
      (19L, 1L, t(9), 9L),
      (20L, 2L, t(0), 0L), (21L, 2L, t(1), 0L), (22L, 2L, t(2), 5L))
    // then a digit-9 burst: every post-burst row alerts on digit 9
    val b2 = Seq(
      (30L, 1L, t(10), 9L), (31L, 1L, t(11), 90L),
      (32L, 1L, t(12), 99L), (33L, 1L, t(13), 950L))
    val ms = MemoryStream[(Long, Long, Timestamp, Long)]
    val q = StatefulOps.benfordStreamTws(ms.toDS(),
        warm = 10L, tauPpm = 100000L)
      .toDF("key", "ts", "n", "digit", "devnum")
      .writeStream.outputMode("update").format("memory")
      .queryName("s51").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("s51").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getInt(3), r.getLong(4))).toSet
    val want = (b1 ++ b2).groupBy(_._2).flatMap { case (k, rs) =>
      StatefulOps.benfordFold(StatefulOps.benfordInit, k,
        10L, 100000L, rs)._2
    }.toSet
    assert(got == want, s"benford monitor drifted: got=$got want=$want")
    // shape pins: exactly the four burst rows alert, all key 1,
    // all digit 9, n climbing 11..14 with the exact integer devnums
    assert(got == Set(
      (1L, t(10), 11L, 9, 1496673L), (1L, t(11), 12L, 9, 2450916L),
      (1L, t(12), 13L, 9, 3405159L), (1L, t(13), 14L, 9, 4359402L)),
      s"alert set: $got")
  }

  test("s46: streaming attribution — purchases credit first/last touch, parity with the batch windows") {
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // user 1: view→click→purchase across the batch boundary (one
    // session — the state must carry first_touch over); a SECOND
    // purchase in the same session credits the purchase before it;
    // user 2: a >30-min gap, then a session-opening purchase →
    // 'entry'; batch 1 arrives scrambled
    val b1 = Seq(
      (11L, 1L, "click", 0.0, t(5)), (10L, 1L, "view", 0.0, t(0)),
      (20L, 2L, "view", 0.0, t(0)))
    val b2 = Seq(
      (12L, 1L, "purchase", 30.0, t(20)),
      (13L, 1L, "purchase", 40.0, t(25)),
      (21L, 2L, "purchase", 50.0, t(60)))
    val ms = MemoryStream[(Long, Long, String, Double, Timestamp)]
    val q = graft.streaming.StatefulOps
      .attributionStreamTws(ms.toDS())
      .toDF("user_id", "ts", "first_touch", "last_touch", "value")
      .writeStream.outputMode("update").format("memory")
      .queryName("s46").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("s46").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2),
        r.getString(3), r.getDouble(4))).toSet
    // batch twin: q212's pre-aggregation frame on the same rows
    import org.apache.spark.sql.expressions.Window
    val df = (b1 ++ b2)
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .withColumn("tsec", date_trunc("second", col("ts")))
    val sess = graft.operators.Sessionize.assign(
      df, "user_id", "tsec", gapSec = 1800L, orderCols = Seq("event_id"))
    val ws = Window.partitionBy("user_id", "sess")
      .orderBy(col("tsec").asc, col("event_id").asc)
    val want = sess
      .withColumn("first_touch", first(col("event_type")).over(ws))
      .withColumn("prev_type", lag(col("event_type"), 1).over(ws))
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("first_touch"),
        coalesce(col("prev_type"), lit("entry")).as("last_touch"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2),
        r.getString(3), r.getDouble(4))).toSet
    assert(got == want, s"attribution drifted: got=$got want=$want")
    // shape pins: cross-batch first_touch survived; the back-to-back
    // purchase credits the purchase before it; the gapped purchase
    // opens its session
    assert(got == Set(
      (1L, t(20), "view", "click", 30.0),
      (1L, t(25), "view", "purchase", 40.0),
      (2L, t(60), "purchase", "entry", 50.0)))
  }

  test("s47: streaming KMP pattern detector — consecutive hits, session resets, overlap rule") {
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    // user 1: view,click,purchase completes ACROSS the batch
    // boundary (automaton state carries); then view,ERROR,click,
    // purchase must NOT fire (consecutive rule — q116's funnel
    // would anchor through the error, this key must not);
    // user 2: error,error,error = 1 hit of (error,error), not 2
    // (reset-on-complete / non-overlap), then a >30-min gap resets
    // a half-matched prefix
    val b1 = Seq(
      (10L, 1L, "view", t(0)), (11L, 1L, "click", t(1)),
      (20L, 2L, "error", t(0)), (21L, 2L, "error", t(1)),
      (22L, 2L, "error", t(2)))
    val b2 = Seq(
      (12L, 1L, "purchase", t(2)),
      (13L, 1L, "view", t(10)), (14L, 1L, "error", t(11)),
      (15L, 1L, "click", t(12)), (16L, 1L, "purchase", t(13)),
      (23L, 2L, "error", t(60)), (24L, 2L, "error", t(120)))
    val msA = MemoryStream[(Long, Long, String, Timestamp)]
    val qA = graft.streaming.StatefulOps
      .patternStreamTws(msA.toDS().filter(_._2 == 1L),
        Seq("view", "click", "purchase"))
      .toDF("user_id", "ts")
      .writeStream.outputMode("update").format("memory")
      .queryName("s47a").start()
    val msB = MemoryStream[(Long, Long, String, Timestamp)]
    val qB = graft.streaming.StatefulOps
      .patternStreamTws(msB.toDS().filter(_._2 == 2L),
        Seq("error", "error"))
      .toDF("user_id", "ts")
      .writeStream.outputMode("update").format("memory")
      .queryName("s47b").start()
    msA.addData(b1: _*); msB.addData(b1: _*)
    qA.processAllAvailable(); qB.processAllAvailable()
    msA.addData(b2: _*); msB.addData(b2: _*)
    qA.processAllAvailable(); qB.processAllAvailable()
    qA.stop(); qB.stop()
    val gotA = spark.table("s47a").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    val gotB = spark.table("s47b").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    // user 1: exactly the cross-batch completion at t(2); the
    // error-interrupted run never fires
    assert(gotA == Set((1L, t(2))), s"gotA=$gotA")
    // user 2: one hit at t(1) (non-overlap kills t(2)'s pair); the
    // gapped error at t(60) starts a fresh session whose second
    // error at t(120)... is ANOTHER session (60 min gap > 30) — no
    // second hit
    assert(gotB == Set((2L, t(1))), s"gotB=$gotB")
  }

  test("s44: streaming strict-order funnel — advances match the batch anchors") {
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val stages = Seq("view", "click", "purchase")
    // user 1 converts across batches (batch 1 scrambled; a click AT
    // the view's timestamp must NOT anchor — strictly-after rule);
    // user 2 stalls at click; user 3 only purchases (never enters)
    val b1 = Seq(
      (11L, 1L, "click", t(0)), (12L, 1L, "click", t(5)),
      (10L, 1L, "view", t(0)),
      (20L, 2L, "view", t(0)), (30L, 3L, "purchase", t(0)))
    val b2 = Seq(
      (13L, 1L, "purchase", t(45)), (21L, 2L, "click", t(29)),
      (31L, 3L, "purchase", t(10)))
    val ms = MemoryStream[(Long, Long, String, Timestamp)]
    val q = graft.streaming.StatefulOps
      .funnelStreamTws(ms.toDS(), stages)
      .toDF("user_id", "stage_idx", "stage", "ts")
      .writeStream.outputMode("update").format("memory")
      .queryName("s44").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("s44").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3))).toSet
    // batch twin on the same rows: every non-null anchor is an advance
    val batch = graft.operators.Funnel.strictOrder(
      (b1 ++ b2).toDF("event_id", "user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", stages)
    val want = batch.collect().flatMap { r =>
      stages.zipWithIndex.flatMap { case (st, i) =>
        Option(r.getAs[Timestamp](s"t_$st"))
          .map(ts => (r.getAs[Long]("user_id"), i + 1, st, ts))
      }
    }.toSet
    assert(got == want, s"streaming funnel drifted: got=$got want=$want")
    // the conversion row is the last stage's advance, and only user 1 has it
    assert(got.filter(_._2 == stages.length).map(_._1) == Set(1L))
  }

  test("s49: streaming vector near-dup gate flags exactly the batch RP-LSH candidates across restarts") {
    import graft.operators.Similarity
    val src = TestSpark.tmpDir("s49-src")
    val out = TestSpark.tmpDir("s49-out") + "/pairs"
    val chk = TestSpark.tmpDir("s49-chk")
    val em = Tables.embeddings(spark, "/root/testdata/sf0.001").cache()
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def ship(name: String, ids: Seq[Long]): Unit =
      em.where(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(s"$src/$name")
    def run(): Unit = {
      val in = spark.readStream.schema(vecSchema)
        .option("recursiveFileLookup", "true").parquet(src)
      val q = graft.streaming.StatefulOps
        .vectorNearDupStreamTws(in, "vec_id", "embedding")
        .toDF("a_id", "b_id")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // two batches, then a RESTART with a third — pairs must form
    // against bucket state persisted across the restart
    ship("f1", 1L to 25L)
    run()
    ship("f2", 26L to 40L)
    run()
    ship("f3", 41L to 60L)
    run()
    val flagged = spark.read.parquet(out)
      .select("a_id", "b_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch q113 candidates on the SAME accumulated corpus
    val batch = Similarity.rpLshPairs(
        em.where(col("vec_id").between(1L, 60L)), "vec_id", "embedding")
      .select("a_id", "b_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture degenerate: no batch candidates")
    assert(flagged == batch,
      s"streamed gate != batch q113 candidates: " +
        s"missing ${batch -- flagged}, extra ${flagged -- batch}")
    // replay with nothing new adds nothing
    run()
    val again = spark.read.parquet(out)
      .select("a_id", "b_id").distinct().count()
    assert(again == flagged.size, "empty replay re-emitted pairs")
    em.unpersist(); ()
  }

  test("s48: streaming merge feed keeps the incremental IVF-PQ index fresh across restarts") {
    import graft.examples.IncrementalIvfPq
    import graft.operators.Similarity
    val src = TestSpark.tmpDir("s48-src")
    val root = TestSpark.tmpDir("s48-tbl")
    val table = s"$root/t"; val cdf = s"$root/changes"; val idx = s"$root/idx"
    val chk = TestSpark.tmpDir("s48-chk")
    val em = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("ver", LongType),
      StructField("is_delete", BooleanType)))
    def ship(name: String, ids: Seq[Long], ver: Long,
        del: Boolean = false, perturb: Boolean = false): Unit =
      em.where(col("vec_id").isin(ids: _*))
        .select(col("vec_id"),
          (if (perturb)
             expr("transform(embedding, x -> cast(x + 0.5 as float))")
           else col("embedding")).as("embedding"),
          lit(ver).as("ver"), lit(del).as("is_delete"))
        .coalesce(1).write.mode("overwrite").parquet(s"$src/$name")
    // one micro-batch run of the merge sink over everything new
    def run(): Unit = {
      val in = spark.readStream.schema(vecSchema)
        .option("recursiveFileLookup", "true").parquet(src)
      val q = CdcStreams.mergeSink(in, table, chk,
          Seq("vec_id"), Seq("ver"), isDeleteCol = Some("is_delete"),
          changeDir = Some(cdf), cdfPreImages = true)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def refresh(): Long = IncrementalIvfPq.refresh(spark, idx, cdf,
      "vec_id", "embedding", compactAt = 8)
    def corpusNow = graft.sources.Lake.readStore(spark, table)
      .select(col("vec_id"), col("embedding"))
    def recompute = Similarity.encodeCodes(corpusNow,
        spark.read.parquet(s"$idx/codebook"),
        spark.read.parquet(s"$idx/centroids"),
        "vec_id", "embedding", 4, 16).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Int]("clabel")))
      .sortBy(t => (t._1, t._3)).toSeq
    def served = IncrementalIvfPq.readCodes(spark, idx).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Int]("clabel")))
      .sortBy(t => (t._1, t._3)).toSeq
    // batch 1 streams in; bootstrap the index at its watermark
    ship("f1", 1L to 30L, ver = 1)
    run()
    // upto = 1: feed ids are VERSION-keyed (round 14) and the
    // bootstrap corpus already contains streamed version 1's batch
    IncrementalIvfPq.bootstrap(spark, idx, corpusNow, "vec_id",
      "embedding", Similarity.ivfCentroids(em, "label", "embedding"),
      dim = 64, m = 4, kc = 16, upto = 1L)
    assert(served == recompute)
    // restart: updates + inserts + deletes arrive as new files
    ship("f2", 1L to 3L, ver = 2, perturb = true)
    ship("f3", 31L to 35L, ver = 1)
    ship("f4", 4L to 5L, ver = 2, del = true)
    run(); refresh()
    assert(served == recompute, "streamed diff mis-applied to the codes store")
    assert(!served.exists(t => Set(4L, 5L).contains(t._1)),
      "streamed deletes still served")
    // replay with nothing new: no feed entry, no index movement
    run()
    val upto = refresh()
    assert(served == recompute)
    assert(refresh() == upto, "empty replay moved the watermark")
    // the maintained index serves: top hit for a shipped vector's own
    // query is itself (exact re-rank guarantees it when indexed)
    val q31 = em.where(col("vec_id") === 31L)
      .select(col("embedding").as("qv"))
    val hits = IncrementalIvfPq.search(corpusNow, q31, "vec_id",
        "embedding", idx, shortlist = 10, k = 3, probe = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(hits.head == 31L, s"self-query missed itself: $hits")
  }

  test("ivfpq recall-drift gate: recall@k measured per refresh cycle, decay visible under drift, re-cluster hook restores the floor") {
    import graft.examples.IncrementalIvfPq
    import graft.operators.Similarity
    val src = TestSpark.tmpDir("drift-src")
    val root = TestSpark.tmpDir("drift-tbl")
    val table = s"$root/t"; val cdf = s"$root/changes"; val idx = s"$root/idx"
    val chk = TestSpark.tmpDir("drift-chk")
    val em = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("ver", LongType),
      StructField("is_delete", BooleanType)))
    // A CLUSTERED corpus (the shape IVF exists for): tight clusters
    // around per-label anchors, small per-id jitter. Drift t ∈ [0, 1]
    // interpolates each cluster from its own anchor toward the
    // MIDPOINT of its and the next label's anchors — at t = 1 every
    // cluster sits equidistant from two stale centroids and the
    // per-id jitter decides the cell, splitting every cluster across
    // two cells (the deterministic form of the classic stale-centroid
    // straddle failure that re-clustering fixes).
    // Components, per vector: its cluster anchor (drifting toward the
    // midpoint), a NEIGHBORHOOD jitter (who is near whom — phase-keyed
    // on vec_id), and a small per-id coin ALONG the boundary direction
    // s_L − s_{L+1} (decides the stale cell near the midpoint). The
    // coin is what a stale index cannot see past: true neighbors share
    // the phase jitter but flip independent coins, so at t = 1 half of
    // every query's real top-k sits in the other cell.
    def clustered(t: Double) =
      em.select(col("vec_id"), col("label"),
        expr(s"""transform(embedding, (x, j) ->
            cast(x * 0.25
               + 3.0 * (1.0 - $t / 2) * sin(label * 13 + j)
               + 1.5 * $t * sin(((label + 1) % 10) * 13 + j)
               + 0.8 * sin(vec_id * 7 + j * 5)
               + 0.15 * sin(vec_id * 3) *
                 (sin(label * 13 + j) - sin(((label + 1) % 10) * 13 + j))
               as float))""").as("embedding"))
    def ship(name: String, ids: Seq[Long], ver: Long,
        drift: Double): Unit =
      clustered(drift).where(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding"),
          lit(ver).as("ver"), lit(false).as("is_delete"))
        .coalesce(1).write.mode("overwrite").parquet(s"$src/$name")
    def run(): Unit = {
      val in = spark.readStream.schema(vecSchema)
        .option("recursiveFileLookup", "true").parquet(src)
      val q = CdcStreams.mergeSink(in, table, chk,
          Seq("vec_id"), Seq("ver"), isDeleteCol = Some("is_delete"),
          changeDir = Some(cdf), cdfPreImages = true)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def corpusNow = graft.sources.Lake.readStore(spark, table)
      .select(col("vec_id"), col("embedding"))
    def queryVecs: Seq[Seq[Float]] = corpusNow
      .where(col("vec_id").isin(7L, 77L, 177L, 277L, 377L))
      .collect().map(_.getSeq[Float](1).toSeq).toSeq
    def recall(): Double = IncrementalIvfPq.recallAtK(corpusNow,
      queryVecs, "vec_id", "embedding", idx,
      k = 10, shortlist = 40, probe = 1)
    // bootstrap on the un-drifted corpus, centroids at the anchors
    ship("f0", 0L to 499L, ver = 1, drift = 0.0)
    run()
    // upto = 1: version-keyed feed ids; the bootstrap corpus holds
    // streamed version 1 already
    IncrementalIvfPq.bootstrap(spark, idx, corpusNow, "vec_id",
      "embedding",
      Similarity.ivfCentroids(clustered(0.0), "label", "embedding"),
      dim = 64, m = 4, kc = 16, upto = 1L)
    val r0 = recall()
    info(f"cycle 0 (bootstrap) recall@10 = $r0%.3f")
    // N refresh cycles of mounting drift; recall measured per cycle
    val floor = 0.8
    val series = scala.collection.mutable.ArrayBuffer(r0)
    for (cycle <- 1 to 4) {
      ship(s"d$cycle", 0L to 499L, ver = cycle + 1L,
        drift = 0.25 * cycle)
      run()
      IncrementalIvfPq.refresh(spark, idx, cdf, "vec_id", "embedding",
        compactAt = 8)
      val r = recall()
      series += r
      info(f"cycle $cycle recall@10 = $r%.3f (drift t = ${0.25 * cycle}%.2f)")
    }
    // the decay is real and visible: the index serves correct CODES
    // (s48 pins that) but stale GEOMETRY — recall must have sunk
    // below the floor by the last cycle
    assert(series.head >= floor,
      f"bootstrap recall ${series.head}%.3f already under the floor — fixture degenerate")
    assert(series.last < floor,
      f"drift did not push recall under $floor%.2f: $series — the gate has nothing to catch")
    // the hook: measure-then-heal re-clusters on the CURRENT corpus
    // (Lloyd refinement seeded from the stale centroids) and recall
    // must come back above the floor
    lazy val healed = {
      val stale = spark.read.parquet(s"$idx/centroids")
      Iterator.iterate(stale)(c =>
        Similarity.kmeansIterate(corpusNow, "vec_id", "embedding", c))
        .drop(3).next()
    }
    val (pre, fired, post) = IncrementalIvfPq.maintainRecall(spark, idx,
      corpusNow, "vec_id", "embedding", queryVecs, healed, floor,
      k = 10, shortlist = 40, probe = 1)
    info(f"maintainRecall: pre = $pre%.3f, re-clustered = $fired, post = $post%.3f")
    assert(fired, "recall under the floor must fire the re-cluster hook")
    assert(post >= floor,
      f"re-cluster did not restore recall: pre $pre%.3f post $post%.3f")
    // and the gate leaves a HEALTHY index untouched
    val (pre2, fired2, post2) = IncrementalIvfPq.maintainRecall(spark, idx,
      corpusNow, "vec_id", "embedding", queryVecs, healed, floor,
      k = 10, shortlist = 40, probe = 1)
    assert(!fired2 && pre2 == post2 && pre2 >= floor,
      f"healthy index must not re-cluster (recall $pre2%.3f)")
  }
}
