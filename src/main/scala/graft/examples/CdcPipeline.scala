package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.Lake
import graft.streaming.CdcStreams

/** The reference's ENTIRE pipeline as one artifact — changefeed ndjson
  * in a lake directory → queryable, delete-correct current state
  * (/root/reference/README.md:128-192) — composed from the pieces the
  * streaming suite pins individually (s13, s30):
  *
  *   1. raw-line tail        — `readEnvelopeLinesStream`: malformed
  *                             lines survive as `env IS NULL` rows
  *                             instead of being nulled field-by-field
  *   2. quarantine           — a SEPARATE query over the same source
  *                             appends bad lines to a parquet dir
  *                             (its own checkpoint: each query tracks
  *                             its own offsets; one sink per query)
  *   3. envelope projection  — post-image columns, `kid` (the joined
  *                             key), `hlc` as the EXACT `hlcOrder`
  *                             decimal (same-tick changes differ only
  *                             in the logical counter) and `is_delete`
  *                             (`after: null`)
  *   4. merge                — `mergeSink` into the versioned `Lake`
  *                             store, latest HLC per key wins; a
  *                             delete stays as the key's latest row
  *                             (`is_delete`, null payload), so a
  *                             redelivered OLDER change loses to it
  *   5. read                 — `currentState` = the store minus its
  *                             tombstone rows
  *
  * Exactly-once story across a crash/restart: the checkpoint replays
  * at most the last unfinished micro-batch, and the merge rule IS the
  * replay rule — a redelivered or replayed change merges to the row
  * already stored, so no dedup state and no watermark are needed,
  * pinned end-to-end by the StreamingSpec restart test (s28).
  *
  * Scale: file listing is incremental (maxFilesPerTrigger); each
  * micro-batch rewrites the store once (copy-on-write merge, previous
  * versions vacuumed), so the store holds one row per key ever seen.
  */
object CdcPipeline {

  /** Running pipeline handle: the merge query plus the optional
    * quarantine query (present when a quarantine path was given). */
  final case class Handle(main: StreamingQuery, quarantine: Option[StreamingQuery]) {
    def awaitAll(): Unit = { main.awaitTermination(); quarantine.foreach(_.awaitTermination()) }
  }

  /** Start the pipeline over `srcDir`'s envelope ndjson. `rowSchema`
    * is the table's row shape (the envelope wrapper is added here).
    * With `Trigger.AvailableNow` (default) each call drains what is
    * currently in the directory and terminates — the reference's
    * batch-consumption mode, restartable from the same checkpoints. */
  def start(spark: SparkSession, srcDir: String, rowSchema: StructType,
      statePath: String, checkpoint: String,
      quarantinePath: Option[String] = None,
      quarantineCheckpoint: Option[String] = None,
      availableNow: Boolean = true): Handle = {
    require(quarantinePath.isDefined == quarantineCheckpoint.isDefined,
      "quarantinePath and quarantineCheckpoint go together")
    def trig[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T]) =
      if (availableNow) w.trigger(Trigger.AvailableNow()) else w

    val lines = CdcStreams.readEnvelopeLinesStream(spark, srcDir, rowSchema)
    // routeable = parseable with a key and an HLC; everything else is
    // quarantine material (kept verbatim, README.md:188-190's varchar
    // scan is exactly this shape)
    val routeable = col("env").isNotNull &&
      col("env.key").isNotNull && col("env.updated").isNotNull
    val post = lines.where(routeable)
      .select(col("env.after.*"),
        concat_ws("|", col("env.key")).as("kid"),
        CdcStreams.hlcOrder(col("env.updated")).as("hlc"),
        col("env.after").isNull.as("is_delete"))
    val main = trig(CdcStreams.mergeSink(post, statePath, checkpoint,
      Seq("kid"), Seq("hlc"))).start()

    val quarantine = quarantinePath.map { qp =>
      trig(CdcStreams.readEnvelopeLinesStream(spark, srcDir, rowSchema)
        .where(!routeable)
        .select("line")
        .writeStream.format("parquet")
        .option("path", qp)
        .option("checkpointLocation", quarantineCheckpoint.get))
        .start()
    }
    Handle(main, quarantine)
  }

  /** The queryable current state: each key's latest change, keys whose
    * latest change is a delete left out. */
  def currentState(spark: SparkSession, statePath: String): DataFrame =
    Lake.readStore(spark, statePath).where(!col("is_delete"))

  /** No-op: each merge already writes the folded state and vacuums
    * the versions before it. */
  def compact(spark: SparkSession, statePath: String): Unit = ()
}
