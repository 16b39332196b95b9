package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming surface of the engine (SURVEY.md §2.9) — the
  * continuous twin of the reference pipeline: CockroachDB changefeed →
  * ndjson files in a lake container → consumer
  * (/root/reference/README.md:128-138,182).
  *
  * The reference's delivery contract is at-least-once with per-key
  * ordering by the `updated` HLC timestamp (README.md:90,137); these
  * helpers upgrade that to exactly-once analytics the Spark way:
  * checkpointed offsets + idempotent batch sinks. A changefeed store
  * merges by latest HLC per key and keeps each delete as the key's
  * latest row (a tombstone: delete flag set, null payload), so a
  * redelivered older change loses to it; readers filter the flag.
  *
  * Scale: file-source listing is incremental (maxFilesPerTrigger
  * bounds a micro-batch), and no helper here runs a stateful
  * streaming operator.
  */
object CdcStreams {

  /** Shared idempotence guard for `batch=<id>` directory writes (the
    * day sink below and every GlobalSketch sink). A directory counts as
    * COMMITTED only with its `_SUCCESS` marker — the committer creates
    * the dir at job SETUP, so a bare dir-exists test lets a replayed
    * batch skip a crash-truncated write and silently lose its rows;
    * an uncommitted leftover is deleted and rewritten here.
    *
    * Safety valve: when `_SUCCESS` markers are DISABLED
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false` — some
    * object-store deployments), the marker test would judge a
    * perfectly committed dir "uncommitted" and destroy it (a folded
    * compaction dir would lose ALL history) — so with markers off the
    * guard degrades to the dir-exists rule, trading the truncated-dir
    * recovery for never destroying committed data. */
  private[graft] def writeIfUncommitted(
      fs: Path => org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      dir: Path)(write: => Unit): Unit = {
    val f = fs(dir)
    val markers =
      conf.getBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    if (markers) {
      if (!f.exists(new Path(dir, "_SUCCESS"))) {
        f.delete(dir, true)
        write
      }
    } else if (!f.exists(dir)) write
  }

  /** The wrapped changefeed envelope: `{after: {...row}, key: [...],
    * updated: "<hlc>"}` (README.md:135-138,178; FIXTURES.md §2).
    * `after` is null for deletes. */
  def envelopeSchema(rowSchema: StructType): StructType = StructType(Seq(
    StructField("after", rowSchema, nullable = true),
    StructField("key", ArrayType(StringType), nullable = true),
    StructField("updated", StringType, nullable = true)))

  /** s01: continuous tail of a growing ndjson directory — the
    * streaming form of the reference's day-glob `BULK ... 2022-12-12`
    * ndjson snapshot scan (README.md:182). */
  def readEnvelopeStream(spark: SparkSession, dir: String,
      rowSchema: StructType, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(envelopeSchema(rowSchema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Batch twin of s01 — the reference's actual consumption mode: an
    * ad-hoc scan of one day's envelope files by glob (README.md:182,
    * the day-directory star-dot-ndjson pattern). Globs work as-is; no
    * sentinel delimiter trick is needed because the json reader is
    * line-native (vs the reference's 0x0b FIELDQUOTE workaround,
    * README.md:183-187). */
  def readEnvelopeBatch(spark: SparkSession, pathOrGlob: String,
      rowSchema: StructType): DataFrame =
    spark.read.schema(envelopeSchema(rowSchema)).json(pathOrGlob)

  /** Raw-line variant — the literal shape of the reference's
    * `WITH (line varchar(max))` scan (README.md:188-190): each line
    * kept whole in a `line` column, envelope fields parsed per
    * expression with from_json. Use when malformed lines must be
    * retained for quarantine instead of nulled by the json reader. */
  def readEnvelopeLines(spark: SparkSession, pathOrGlob: String,
      rowSchema: StructType): DataFrame =
    spark.read.text(pathOrGlob)
      .withColumnRenamed("value", "line")
      .withColumn("env", from_json(col("line"), envelopeSchema(rowSchema)))

  /** Streaming twin of `readEnvelopeLines` — the raw-line quarantine
    * scan under `readStream`: a malformed line survives as a row with
    * `env IS NULL` (line retained for quarantine) instead of being
    * silently nulled field-by-field by the json source. */
  def readEnvelopeLinesStream(spark: SparkSession, dir: String,
      rowSchema: StructType, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .withColumnRenamed("value", "line")
      .withColumn("env", from_json(col("line"), envelopeSchema(rowSchema)))

  private val lineOnly = StructType(Seq(StructField("line", StringType)))
  // Sentinel delimiter/quote chars that cannot occur in JSON text, so
  // the csv reader never splits inside an envelope — the Spark twin of
  // the reference's FIELDQUOTE = 0x0b workaround (README.md:183-187).
  private val sentinelSep = "\u0001"
  private val sentinelQuote = "\u000b"

  /** CSV-format envelope scan — the reference's sentinel-delimiter
    * trick (README.md:183-190): a CSV reader with out-of-band
    * delimiter/quote characters lands each ndjson line whole in one
    * varchar field, parsed per-expression with from_json. Same
    * quarantine contract as `readEnvelopeLines`. */
  def readEnvelopeCsv(spark: SparkSession, pathOrGlob: String,
      rowSchema: StructType): DataFrame =
    spark.read
      .schema(lineOnly)
      .option("sep", sentinelSep).option("quote", sentinelQuote)
      .csv(pathOrGlob)
      .withColumn("env", from_json(col("line"), envelopeSchema(rowSchema)))

  /** Streaming twin of `readEnvelopeCsv`. */
  def readEnvelopeCsvStream(spark: SparkSession, dir: String,
      rowSchema: StructType, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(lineOnly)
      .option("sep", sentinelSep).option("quote", sentinelQuote)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)
      .withColumn("env", from_json(col("line"), envelopeSchema(rowSchema)))

  // ------------------------------------------------------------------
  // RESOLVED-TIMESTAMP FRONTIER (round 15 — VERDICT r14 item 3, s52).
  //
  // The changefeed the reference creates (`CREATE CHANGEFEED … WITH
  // updated`, README.md:135-138) has `resolved` as its documented
  // companion option: the feed then also emits frontier marker lines
  // `{"resolved": "<hlc>"}`, each a guarantee that no PREVIOUSLY
  // UNSEEN row change with `updated` ≤ that timestamp will follow (for
  // the cloud-storage sink the reference uses, resolved files are
  // feed-global — they land only once every partition's frontier has
  // passed). Delivery is at-least-once, so a REDELIVERY of a change
  // already emitted can still arrive after the marker; consumers
  // resolve it by HLC like any other redelivery, and nothing may be
  // dropped or GC'd on the frontier alone. That guarantee is the ONLY
  // correct completeness signal a downstream materialization has:
  // closing a day off event-time watermarks is guesswork (a straggler
  // file can land after any event-time quiet period), closing it off
  // the frontier is a contract.
  // ------------------------------------------------------------------

  /** Envelope schema including the resolved-line twin: a data line has
    * `after`/`key`/`updated` and null `resolved`; a frontier marker
    * line has ONLY `resolved`. One schema reads both from one feed. */
  def envelopeSchemaResolved(rowSchema: StructType): StructType =
    envelopeSchema(rowSchema).add(StructField("resolved", StringType,
      nullable = true))

  /** Streaming tail of a feed that carries resolved markers. */
  def readEnvelopeStreamResolved(spark: SparkSession, dir: String,
      rowSchema: StructType, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(envelopeSchemaResolved(rowSchema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** HLC ("<nanos>.<logical>") as an orderable value: decimal(38,10)
    * preserves the full 19-digit nanosecond part plus the 10-digit
    * logical counter exactly (a double would lose the low bits that
    * order same-nanosecond transactions). */
  def hlcOrder(c: Column): Column = c.cast("decimal(38,10)")

  /** HLC → event-time TIMESTAMP (micro precision — the logical
    * counter and sub-microsecond nanos order transactions, not wall
    * time). */
  def hlcTimestamp(c: Column): Column =
    timestamp_seconds(c.cast("decimal(38,10)") / lit(1000000000L))

  /** The feed's FRONTIER: the maximum resolved timestamp in
    * `envelopes` (schema-resolved lines; data lines have null
    * `resolved` and are ignored). Returns None when no marker has
    * been seen — a feed with no resolved option gives no completeness
    * signal, and callers must not invent one. Max, not min: cloud-sink
    * resolved markers are already feed-global (each one is emitted
    * only once all changefeed partitions passed it), so later markers
    * strictly dominate earlier ones. */
  def frontier(envelopes: DataFrame): Option[String] = {
    val r = envelopes.where(col("resolved").isNotNull)
      .agg(max_by(col("resolved"), hlcOrder(col("resolved"))))
      .head()
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  /** Frontier-gated DAY materialization — the consumer the resolved
    * option exists for: envelope data rows land in
    * `outDir/ingest_date=<day>/batch=<id>` as they arrive (exactly
    * once — the `batch=<id>`/`_SUCCESS` replay guard), and a day is
    * PUBLISHED (its `_day_complete` marker written) only when the
    * persisted frontier passes the day's end. Downstream jobs read
    * [[completedDays]]/[[readCompletedDay]] and can never observe a
    * day that might still grow — the README.md:182 day-glob scan with
    * a correctness contract instead of a hope.
    *
    * Day assignment is event time: `to_date(hlcTimestamp(updated))` —
    * an out-of-order straggler for day D landing in a later file
    * still routes to D's directory, and D cannot have published yet
    * (the frontier that would have closed D also forbids emitting
    * that straggler afterwards, so arrival order respects closure).
    *
    * Restart/replay: the frontier persists in `outDir/_frontier`
    * (atomic rename-over, monotone max — a replayed batch can only
    * re-assert an already-folded value), batch dirs skip on replay,
    * and the day marker write is create-if-absent. Scale: per batch,
    * two map-side filters + one max aggregate + one partitioned
    * append; closure probing lists day dirs (bounded by retained
    * days), no data reads. */
  def frontierGatedDaySink(envelopes: DataFrame, outDir: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    envelopes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val root = new Path(outDir)
        val fs = root.getFileSystem(conf)
        val b = batch.persist()
        try {
          // 1. data rows (flattened post-images — deletes surface as
          //    `is_delete` tombstones) append into their EVENT-TIME
          //    day, batch-guarded
          val data = postImages(b.where(col("resolved").isNull))
            .withColumn("ingest_date",
              to_date(hlcTimestamp(col("updated"))).cast("string"))
          val days = data.select("ingest_date").where(col("ingest_date").isNotNull)
            .distinct().collect().map(_.getString(0))
          days.foreach { day =>
            val dir = new Path(s"$outDir/ingest_date=$day/batch=$batchId")
            writeIfUncommitted(_.getFileSystem(conf), conf, dir) {
              data.where(col("ingest_date") === day).drop("ingest_date")
                .write.mode("overwrite").parquet(dir.toString)
            }
          }
          // 2. fold this batch's resolved markers into the persisted
          //    frontier (monotone max — replay-safe)
          frontier(b).foreach { f =>
            val cur = storedFrontier(fs, root)
            if (cur.forall(c => BigDecimal(f) > BigDecimal(c)))
              graft.sources.Snapshot.writeAtomicOver(fs, conf,
                new Path(root, "_frontier"), f)
          }
          // 3. close every staged day the frontier has passed: day D is
          //    complete iff frontier-time ≥ start of D+1 (no message
          //    with updated ≤ frontier is ever emitted again, so D
          //    cannot grow). Marker is create-if-absent — idempotent.
          storedFrontier(fs, root).foreach { f =>
            val frontierDay = java.time.Instant
              .ofEpochSecond(BigDecimal(f).toLong / 1000000000L)
              .toString.take(10)
            if (fs.exists(root)) fs.listStatus(root).map(_.getPath)
              .filter(_.getName.startsWith("ingest_date=")).foreach { d =>
                val day = d.getName.stripPrefix("ingest_date=")
                val marker = new Path(d, "_day_complete")
                if (day < frontierDay && !fs.exists(marker))
                  graft.sources.Snapshot.writeAtomicOver(fs, conf, marker, f)
              }
          }
        } finally { b.unpersist(); () }
        ()
      }
      .option("checkpointLocation", checkpoint)

  private def storedFrontier(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Option[String] = {
    val p = new Path(root, "_frontier")
    if (fs.exists(p)) Some(graft.sources.Snapshot.readSmall(fs, p).trim)
    else None
  }

  /** Days the frontier has closed — safe to materialize downstream. */
  def completedDays(spark: SparkSession, outDir: String): Seq[String] = {
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith("ingest_date=") &&
        fs.exists(new Path(p, "_day_complete")))
      .map(_.getName.stripPrefix("ingest_date=")).toSeq.sorted
  }

  /** One COMPLETE day's rows. Refuses an unpublished day loudly — the
    * entire point is that reading a still-open day is a bug. */
  def readCompletedDay(spark: SparkSession, outDir: String,
      day: String): DataFrame = {
    require(completedDays(spark, outDir).contains(day),
      s"day $day at $outDir is not frontier-complete yet — a consumer " +
        "reading it would see a day that can still grow")
    spark.read.parquet(s"$outDir/ingest_date=$day/batch=*")
  }

  // ------------------------------------------------------------------
  // MULTI-TABLE CHANGEFEED DEMUX (round 15 — VERDICT r14 item 4, s53).
  //
  // `CREATE CHANGEFEED FOR TABLE a, b` (README.md:135-138 creates the
  // single-table form; multi-table is the same statement) interleaves
  // tables in ONE feed: for the cloud-storage sink each emitted file
  // carries one table, named by the documented layout
  // `<timestamp>-<uniquer>-<topic>-<schema_id>.<format>` where topic
  // is the table name. The demux routes one envelope stream into
  // per-table managed stores, each indistinguishable from a store fed
  // by a single-table feed (spec-pinned), with per-key order carried
  // by the `updated` HLC exactly as mergeSink does.
  // ------------------------------------------------------------------

  /** Table name from the cloud-sink file layout (the capture group is
    * the topic segment before the trailing schema id). */
  val CrdbTopicPattern: String = "-([A-Za-z0-9_]+)-\\d+\\.[A-Za-z]+$"

  /** Raw-line stream tagged with its source TABLE, extracted from the
    * feed file name (override `pattern` for non-CRDB layouts; group 1
    * must capture the table). Lines whose file matches no table
    * surface with empty `_table` — route them to quarantine, don't
    * drop. */
  def readDemuxLinesStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16,
      pattern: String = CrdbTopicPattern): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .withColumnRenamed("value", "line")
      .withColumn("_table", regexp_extract(input_file_name(), pattern, 1))

  /** Where one table's rows go: its envelope row schema + its managed
    * store dir. The synthetic merge key is the envelope `key` array
    * (json-encoded — schema-independent, present on deletes too). */
  final case class TableRoute(rowSchema: StructType, storeDir: String)

  /** s53: route one interleaved multi-table envelope stream into
    * per-table managed stores via [[graft.sources.Lake.mergeInto]].
    * Per-key order rides the `updated` HLC ([[hlcOrder]] — full
    * decimal precision, so same-nanosecond transactions keep their
    * logical-counter order). A delete (`after` null) is KEPT as its
    * key's latest row — `_is_delete = true`, null payload — so a
    * redelivered change older than the delete loses to it instead of
    * re-creating the key. Exactly-once across restarts without batch
    * bookkeeping: replaying a batch re-merges to the identical state
    * (latest-HLC-wins is idempotent), the same contract as
    * [[mergeSink]]. Tables NOT routed are ignored here — run a second
    * demux over the same feed dir with its own checkpoint to consume
    * them later (file-source checkpoints are per-query).
    *
    * The store rows are the flattened post-image plus `_kid` (the
    * json-encoded envelope key), `_hlc` and `_is_delete`; a single-
    * table reader (readStore / registerCatalog / time travel) works
    * unchanged and reads the live table as `where(!_is_delete)`. */
  def demuxMergeSink(lines: DataFrame, routes: Map[String, TableRoute],
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(routes.nonEmpty, "demuxMergeSink: no table routes")
    require(routes.values.map(_.storeDir).toSet.size == routes.size,
      "demuxMergeSink: two tables routed to one store dir")
    lines.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        try routes.foreach { case (table, route) =>
          val env = b.where(col("_table") === table)
            .withColumn("env",
              from_json(col("line"), envelopeSchema(route.rowSchema)))
            .where(col("env.key").isNotNull) // data lines only
          val rows = env.select(
            col("env.after.*"),
            to_json(col("env.key")).as("_kid"),
            hlcOrder(col("env.updated")).as("_hlc"),
            col("env.after").isNull.as("_is_delete"))
          if (!rows.isEmpty)
            graft.sources.Lake.mergeInto(b.sparkSession, route.storeDir,
              rows, Seq("_kid"), Seq("_hlc"))
        } finally { b.unpersist(); () }
        ()
      }
      .option("checkpointLocation", checkpoint)
  }

  /** Flatten post-images; deletes surface as `is_delete` tombstones. */
  def postImages(envelopes: DataFrame): DataFrame =
    envelopes.select(
      col("after.*"),
      col("key"), col("updated"),
      col("after").isNull.as("is_delete"))

  /** s02: day-partitioned append sink with checkpointed exactly-once
    * (the lake layout of README.md:182, written back out). */
  def writePartitionedSink(df: DataFrame, tsCol: String, path: String,
      checkpoint: String): StreamingQuery =
    df.withColumn("ingest_date", to_date(col(tsCol)))
      .writeStream.format("parquet")
      .partitionBy("ingest_date")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Late-data DEAD-LETTER split — the operational pattern every
    * watermarked pipeline needs and Spark doesn't surface: a row older
    * than the watermark is silently DROPPED by windowed aggregates /
    * dedup / stateful operators (s03 pins the drop; the engine even
    * pre-filters late rows from a stateful operator's INPUT, so no
    * in-plan operator can observe them). An ingestion pipeline wants
    * those rows in a quarantine for replay/audit, not gone — so the
    * split happens at the SINK, on the un-watermarked stream, against
    * a watermark tracked by the engine's own update rule:
    * wm(batch N) = max event time over batches < N, minus the delay —
    * including the one-batch lag, so the routing agrees exactly with
    * what a parallel watermarked query would have dropped (s29 pins
    * the agreement against the s03 semantics).
    *
    * Restart caveat (documented, inherent to sink-side tracking): the
    * engine restores ITS watermark from the checkpoint, this tracker
    * restarts at -∞ — after a restart, previously-late rows in the
    * first replayed batch route on-time once. For exactly-once sinks
    * the replayed batch id makes the write idempotent anyway; callers
    * needing the strict engine value across restarts should persist
    * `maxSeenMs` beside their sink state. Rows with NULL event time
    * route to the `late` (dead-letter) sink in every batch — the same
    * rows a watermarked stateful operator silently drops — so every
    * input row lands in exactly one sink.
    *
    * Scale: the split is two map-side filters per micro-batch plus one
    * max aggregate; the batch is persisted once so the three passes
    * share the scan. */
  def lateSplitSink(df: DataFrame, tsCol: String, delayMs: Long,
      onTime: (DataFrame, Long) => Unit,
      late: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    val maxSeenMs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val wmMs =
        if (maxSeenMs.get == Long.MinValue) Long.MinValue
        else maxSeenMs.get - delayMs
      val b = batch.persist()
      try {
        val tsMs = (col(tsCol).cast("double") * 1000).cast("long")
        // NULL event time routes to the dead-letter side in EVERY
        // batch: a watermarked stateful operator drops such rows (the
        // watermark predicate evaluates to null → filtered), and a
        // null comparison must not strand the row in neither sink.
        val isLate = tsMs.isNull ||
          (lit(wmMs != Long.MinValue) && tsMs < wmMs)
        late(b.where(isLate), batchId)
        onTime(b.where(!isLate), batchId)
        // watermark stats come from ALL rows flowing through the
        // watermark node — late ones included — exactly like
        // EventTimeWatermarkExec
        val mx = b.agg(max(tsMs)).head()
        if (!mx.isNullAt(0)) {
          maxSeenMs.getAndUpdate(m => math.max(m, mx.getLong(0)))
          ()
        }
      } finally { b.unpersist(); () }
      ()
    }
  }

  /** Batch/`foreachBatch` upsert core — latest record per key
    * (q61 semantics): one shuffle by key, rank-1 filter. When
    * `isDelete` is given, a WINNING tombstone removes its key from the
    * state entirely — CRDB changefeeds emit deletes as `after: null`
    * envelopes (README.md:135-138) and the movr workload runs DELETEs
    * (README.md:140), so a consumer that merely surfaces the tombstone
    * as "latest state" would resurrect deleted keys. Replay-order
    * semantics: latest record wins; if it is a delete the key is gone,
    * and an UPSERT newer than the delete re-creates it (rank-1 over
    * the full record sequence gives exactly that). */
  def latestByKey(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], isDelete: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    val latest = df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    isDelete.fold(latest)(d => latest.where(!d))
  }

  /** Streaming MERGE sink — each micro-batch merges into a DIRECTLY
    * queryable parquet table (`Lake.mergeInto`: matched-update /
    * not-matched-insert), the MERGE INTO consumption mode a lake user
    * reaches for. Deletes: with no `isDeleteCol` a delete row is kept
    * as its key's latest row and readers filter the flag — the
    * changefeed protocol, where a redelivered older change loses to
    * the kept delete. `isDeleteCol` makes deletes PHYSICAL instead;
    * use it only when no change older than a delete can arrive in a
    * later batch, since the deleted key then has no row to lose
    * against. Exactly-once across restarts WITHOUT tracking batch
    * ids: the merge conflict rule is the CDC replay rule (latest by
    * `orderCols` wins), so a checkpoint-replayed micro-batch merges to
    * the identical state — idempotence by semantics, not by
    * bookkeeping.
    *
    * Routing: with `partitionCol` set (e.g. `ingest_date`, present on
    * the stream), each micro-batch merges ONLY the partitions it
    * touches (`Lake.mergeIntoPartitioned`) — a minute-cadence batch
    * spanning one day rewrites one directory, never the table; this
    * is the form to run at lake scale. Without it, every batch pays a
    * copy-on-write of the whole `targetDir` (then point it at a
    * single day partition). A crash mid-batch replays the batch and
    * re-merges idempotently per partition. */
  def mergeSink(df: DataFrame, targetDir: String, checkpoint: String,
      keyCols: Seq[String], orderCols: Seq[String],
      isDeleteCol: Option[String] = None,
      partitionCol: Option[String] = None,
      changeDir: Option[String] = None,
      cdfPreImages: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        partitionCol match {
          case Some(pc) =>
            graft.sources.Lake.mergeIntoPartitioned(batch.sparkSession,
              targetDir, batch, pc, keyCols, orderCols, isDeleteCol.map(col),
              changeDir, cdfPreImages)
            ()
          case None =>
            graft.sources.Lake.mergeInto(batch.sparkSession, targetDir, batch,
              keyCols, orderCols, isDeleteCol.map(col), changeDir, cdfPreImages)
        }
      }
      .option("checkpointLocation", checkpoint)

  /** Follow a MERGE change feed as a stream — the downstream half of
    * `mergeSink(changeDir = …)` / `Lake.mergeInto(changeDir)`: each
    * published `merge=<k>` directory surfaces as new files, so an
    * incremental consumer (sync a cache, feed a search index, drive a
    * downstream aggregate) reads row-level effects with the file
    * source's own exactly-once checkpointing — no snapshot diffing.
    * `rowSchema` is the merged table's post-image schema; `_op` is
    * appended here. The glob re-lists per micro-batch, so merges
    * published after the stream starts are picked up.
    *
    * Set `partitioned = true` when the PRODUCER routes per partition
    * (`mergeSink(partitionCol=…)` / `mergeIntoPartitioned` /
    * `LakeOps.runNightly`) — that feed nests one level deeper
    * (`changeDir/<partCol>=<v>/merge=<k>`), and the flat glob would
    * match nothing, silently, forever. */
  def readChangeFeedStream(spark: SparkSession, changeDir: String,
      rowSchema: StructType, maxFilesPerTrigger: Int = 16,
      partitioned: Boolean = false): DataFrame = {
    spark.readStream
      .schema(rowSchema.add("_op", StringType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(graft.sources.ChangeFeed.streamGlob(changeDir, partitioned))
  }
}
