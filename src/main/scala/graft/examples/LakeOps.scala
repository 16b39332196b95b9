package graft.examples

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** The nightly lake-maintenance loop as ONE restartable artifact — the
  * batch twin of `CdcPipeline` (s28): both merge into `Lake`'s
  * versioned store by the CDC replay rule, but that one STREAMS the
  * changefeed into one store directory (deletes kept as tombstone
  * rows), while this composes the at-rest operations its operator
  * runs on a cadence against the day-partitioned layout
  * (/root/reference/README.md:182):
  *
  *   1. ingest     — `Lake.writePartitioned`: land a new batch of rows
  *                   day-partitioned (append; a re-run of a failed
  *                   night must pair it with the merge step below, not
  *                   raw re-append — documented per step)
  *   2. merge      — `Lake.mergeIntoPartitioned`: apply the day's CDC
  *                   updates/deletes, rewriting ONLY touched
  *                   `ingest_date=` dirs (partition-scoped MERGE)
  *   3. compact    — `Lake.compactDay` on each touched day: fold the
  *                   flush-sized files into ~target-sized ones
  *   4. cluster    — `Lake.writeZOrderedN` on a chosen hot day:
  *                   multi-column layout so point/range predicates on
  *                   any clustered column prune row groups
  *
  * Restartability is per STEP, inherited from each primitive's own
  * crash protocol: writePartitioned is an append (re-run after a merge
  * reconciles duplicates by the CDC replay rule), mergeIntoPartitioned
  * and compactDay both commit through `Snapshot`'s atomic pointer
  * rename (an uncommitted staging dir is all a crash can strand), and
  * the z-order write is an idempotent overwrite of its target
  * directory.
  * A crash between steps re-runs the whole sequence: every step is
  * either idempotent or self-recovering, so the composed artifact is
  * too (OperatorSpec drives a crash mid-sequence and re-runs).
  *
  * Scale: nothing here scans the whole lake — every step is scoped to
  * the day partitions the night's batch touched (the merge DERIVES
  * that set from the batch itself); the z-order step is per-directory.
  */
object LakeOps {

  /** One maintenance cycle over `lake`. `updates` carries the night's
    * rows INCLUDING the `ingest_date` string column and, optionally,
    * an `is_delete` tombstone column. Returns the touched days.
    *
    * With `changeDir` + `viewDir` + `viewGroupCols`, the night also
    * maintains a grouped count/sum MATERIALIZED VIEW from the night's
    * own change feed (step 5): the feed is published with pre-images
    * and `IncrementalView.refreshPartitioned` folds each touched
    * day's diff into its sub-view — the view stays fresh without ever
    * rescanning the lake, and a crash between merge and refresh
    * re-runs as a no-op merge (empty feed) + the pending refresh.
    *
    * `attempts` > 1 arms RETRY-REBASE ([[graft.sources.Snapshot.retrying]])
    * on every commit this night makes — the per-day merges, the
    * per-day compactions, and the view refreshes — so a night racing
    * another writer on one store rebases that one commit instead of
    * failing the whole run; the default 1 keeps the loud
    * single-attempt contract. */
  def runNightly(spark: SparkSession, lake: String, updates: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String],
      isDeleteCol: Option[String] = None,
      compactTargetBytes: Long = 128L << 20,
      zorderCols: Seq[String] = Nil, zorderDay: Option[String] = None,
      zorderOut: Option[String] = None,
      changeDir: Option[String] = None,
      viewDir: Option[String] = None,
      viewGroupCols: Seq[String] = Nil,
      viewSumCols: Seq[String] = Nil,
      sweepConsumedFeed: Boolean = false,
      attempts: Int = 1): Seq[String] = {
    require(viewDir.isEmpty || (changeDir.isDefined && viewGroupCols.nonEmpty),
      "runNightly: a materialized view needs changeDir and viewGroupCols")
    // 1+2 fused: the MERGE is the ingest — it inserts unseen keys,
    // applies updates, and deletes tombstoned keys per touched day,
    // and replaying the same batch after a crash is a no-op (the CDC
    // replay conflict rule), which a raw append would not be. With
    // `changeDir`, each night also publishes its row-level change feed
    // so downstream consumers chain incrementally off the lake.
    val touched = Lake.mergeIntoPartitioned(spark, lake, updates,
      "ingest_date", keyCols, orderCols, isDeleteCol.map(col), changeDir,
      cdfPreImages = viewDir.isDefined, attempts = attempts)
    // 3: compaction per touched day (atomic snapshot commit;
    // compactDay resolves its base at entry, so a re-run IS the
    // rebase — Snapshot.retrying's contract)
    touched.foreach(day =>
      graft.sources.Snapshot.retrying(attempts) {
        Lake.compactDay(spark, lake, day, compactTargetBytes)
      })
    // 4: optional clustering of one day into a z-ordered directory
    // (an overwrite — idempotent; readers point at the clustered copy)
    (zorderDay, zorderOut) match {
      case (Some(day), Some(out)) if zorderCols.nonEmpty =>
        Lake.writeZOrderedN(
          Lake.readDay(spark, lake, day).drop("ingest_date"),
          zorderCols, out)
      case _ => ()
    }
    // 5: optional incremental view maintenance off the night's feed
    (viewDir, changeDir) match {
      case (Some(vd), Some(cd)) =>
        IncrementalView.refreshPartitioned(spark, vd, cd,
          "ingest_date", viewGroupCols, viewSumCols,
          attempts = attempts)
        // 6 (opt-in): feed retention through the CONSUMER REGISTRY —
        // the view records its per-partition watermarks under the
        // id "nightly_view" and each partition's feed sweeps at its
        // min registered watermark. With only the view registered
        // this equals the single-consumer sweep; any other consumer
        // that registers (an auditor, a replica) automatically holds
        // the floor down without touching this loop.
        if (sweepConsumedFeed) {
          IncrementalView.recordViewConsumerPartitioned(spark, cd,
            "nightly_view", vd, "ingest_date")
          IncrementalView.vacuumFeedMinWatermarkPartitioned(spark, cd,
            "ingest_date")
          ()
        }
      case _ => ()
    }
    touched
  }

  /** Publish the night's artifacts as ONE unit (round 18 — the
    * cross-store composed commit, [[graft.sources.PublishSet]]):
    * every committed day store under the lake plus every committed
    * view sub-store, each at its CURRENT snapshot version, named in
    * one manifest made visible by one atomic step. Call it AFTER
    * [[runNightly]]: a crash between the night's member commits (a
    * day merged but the view not yet refreshed) leaves the previous
    * manifest current, so [[readPublishedDay]]/[[readPublishedView]]
    * keep serving the previous consistent night — lake and view move
    * together or not at all.
    *
    * Crash recovery: a death inside `PublishSet.publish` (after its
    * claim, before its pointer/marker) strands the claim; re-running
    * this wrapper self-heals once the strand ages past
    * `Snapshot.DefaultClaimGraceMs` (publish's own sweep). Restarting
    * SOONER: call `PublishSet.recoverStrandedClaim(fs, pubDir)` first
    * — explicitly, from the restart path only, never on a schedule
    * (beside a live publisher it would erase a live claim and break
    * readers). Returns the published version.
    *
    * Racing ANOTHER publisher (not a crash): `attempts` > 1 routes
    * through `PublishSet.publishRetrying` — the member-version
    * derivation below re-runs per attempt, which is exactly the
    * rebase the publish conflict contract prescribes (re-read each
    * member's committed version, publish the fresh map). */
  def publishNightly(spark: SparkSession, pubDir: String, lake: String,
      viewDir: Option[String] = None, attempts: Int = 1): Long = {
    import graft.sources.{PublishSet, Snapshot}
    val conf = spark.sparkContext.hadoopConfiguration
    def dayMembers(root: String, tag: String): Seq[(String, Long)] = {
      val rp = new Path(root)
      val fs = rp.getFileSystem(conf)
      if (!fs.exists(rp)) Nil
      else fs.listStatus(rp).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("ingest_date="))
        .flatMap(p => Snapshot.currentVersion(fs, p)
          .map(v => s"$tag/${p.getName}" -> v)).toSeq
    }
    def members(): Map[String, Long] = {
      val m = dayMembers(lake, "lake") ++
        viewDir.toSeq.flatMap(vd => dayMembers(vd, "view"))
      require(m.nonEmpty, s"publishNightly: nothing committed under $lake")
      m.toMap
    }
    val pub = new Path(pubDir)
    PublishSet.publishRetrying(pub.getFileSystem(conf), conf, pub,
      () => members(), attempts = attempts)
  }

  private def pinnedMembers(spark: SparkSession,
      pubDir: String): Map[String, Long] = {
    import graft.sources.PublishSet
    val pub = new Path(pubDir)
    val fs = pub.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PublishSet.resolve(fs, pub).getOrElse(
      throw new IllegalStateException(s"nothing published at $pubDir"))
  }

  /** One lake day pinned to the published manifest — a reader racing
    * tonight's run sees last night's day until the composed publish
    * lands. */
  def readPublishedDay(spark: SparkSession, pubDir: String, lake: String,
      day: String): DataFrame = {
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(day)
    val key = s"lake/ingest_date=$esc"
    val v = pinnedMembers(spark, pubDir).getOrElse(key,
      throw new IllegalStateException(s"day $day not in the published set"))
    Lake.readStoreAt(spark, s"$lake/ingest_date=$esc", v)
  }

  /** The whole-lake materialized view pinned to the published
    * manifest: each sub-view reads at its PINNED version, then the
    * bounded cross-partition re-aggregate (counts and sums are
    * abelian) — the published twin of
    * `IncrementalView.readPartitioned`. */
  def readPublishedView(spark: SparkSession, pubDir: String,
      viewDir: String, groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    val pins = pinnedMembers(spark, pubDir).collect {
      case (k, v) if k.startsWith("view/") => k.stripPrefix("view/") -> v
    }
    require(pins.nonEmpty, s"no view members published at $pubDir")
    pins.toSeq.sortBy(_._1)
      .map { case (sub, v) => Lake.readStoreAt(spark, s"$viewDir/$sub", v) }
      .reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("n").as("n"),
        sumCols.map(c => sum(s"sum_$c").as(s"sum_$c")): _*)
  }

  /** Tombstone retention sweep — the GDPR/retention pass for days an
    * APPEND-style sink wrote into (tombstones landed as rows instead
    * of merging): re-apply the CDC replay rule per day — latest record
    * per key wins, a WINNING tombstone removes its key physically,
    * older duplicates collapse. A day holding no tombstone rows is
    * left byte-identical (checked BEFORE rewriting — the sweep never
    * pays a copy-on-write for a clean day). The rewrite commits as
    * the day store's next snapshot version (round-8: `Snapshot`'s
    * atomic pointer protocol, shared with mergeInto/compactDay — a
    * crash leaves at worst an uncommitted staging dir, readers never
    * see a missing day). Returns the days rewritten. */
  def retentionSweep(spark: SparkSession, lake: String, days: Seq[String],
      keyCols: Seq[String], orderCols: Seq[String],
      isDeleteCol: String): Seq[String] = {
    import graft.sources.Snapshot
    def escaped(day: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(day)
    val conf = spark.sparkContext.hadoopConfiguration
    val swept = days.filter { day0 =>
      val dir = s"$lake/ingest_date=${escaped(day0)}"
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      fs.exists(p) && !Lake.readStore(spark, dir)
        .where(col(isDeleteCol)).isEmpty
    }
    swept.foreach { day0 =>
      val dir = s"$lake/ingest_date=${escaped(day0)}"
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      // the CDC replay rule over the day's rows: rank-1 per key, then
      // winning tombstones drop their key entirely
      val baseV = Snapshot.currentVersion(fs, p).getOrElse(0L)
      val cur = graft.streaming.CdcStreams.latestByKey(
        Lake.readStore(spark, dir), keyCols, orderCols,
        isDelete = Some(col(isDeleteCol)))
      val liveFlats = Snapshot.liveFlats(fs, p)
      val stageName = Snapshot.stageDirName(fs, p, "retention")
      cur.write.mode("overwrite")
        .parquet(Snapshot.stagePath(p, stageName).toString)
      Snapshot.commit(fs, conf, p, Seq(stageName),
        consumed = liveFlats.map(_.getName), base = baseV)
      Snapshot.vacuum(fs, p, keep = 2)
    }
    swept
  }
}
