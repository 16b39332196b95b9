package graft.examples

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ChangeFeed, Snapshot}

/** Incremental SCD TYPE-2 history maintenance from a merge change
  * feed — the warehouse-dimension consumer of the CDC lake: where
  * [[IncrementalView]] keeps an aggregate fresh and
  * [[IncrementalIndex]] keeps a postings table fresh, this keeps the
  * FULL VERSION HISTORY of every key — `[valid_from, valid_to)`
  * validity stamped in MERGE IDS — so "what did the row look like
  * as of merge k" ([[asOf]]) is answerable forever without replaying
  * the feed. q117/q136 derive SCD2 from a complete event log in one
  * shot; this is the continuous form, maintained diff-by-diff.
  *
  * Fold rule per feed entry `merge=<k>` (entries fold ONE AT A TIME —
  * `valid_from` IS the entry id, so per-entry granularity is the
  * semantics, not a limitation; same discipline as the view's max
  * path):
  *
  *   insert            → open a version (valid_from=k, current)
  *   update_preimage   → close the key's current version (valid_to=k)
  *   update_postimage  → open the replacement version
  *   delete            → close the current version, open nothing
  *
  * A merge diff carries each key at most once, so "close then open"
  * within one entry is unambiguous.
  *
  * STORE SHAPE — the load-bearing scale decision. SCD2 history grows
  * FOREVER (every change ever, per key), so a fold that rewrote the
  * whole history per merge would pay an ever-growing job for a
  * diff-sized change. The store exploits that closed versions are
  * IMMUTABLE: one snapshot manifest carries
  *
  *   - ONE `cur` member — the current (open) version per live key,
  *     bounded by the LIVE key count (the merge target's own size
  *     class) — the only dir a refresh rewrites; and
  *   - APPEND-ONLY `closed` segments — the versions each entry
  *     closed, with their valid_to stamped; written once, never
  *     touched again.
  *
  * Both ride ONE `Snapshot.commit` (the manifest swap is the single
  * atomic step — no two-store coordination problem), and the
  * `_applied_upto` marker rides the new cur member. Per-entry cost:
  * one broadcast closer-key join against the CURRENT table + a
  * diff-sized closed segment — never proportional to history length.
  * At 100 TB the closed segments would additionally partition by
  * valid_to range (they arrive in id order, so that layout is free),
  * making as-of reads range-prunable.
  *
  * Exactly-once across crashes: the store is a
  * [[graft.sources.ChangeFeed]] consumer — the watermark marker rides
  * the commit with the data (the full argument is in ChangeFeed's
  * scaladoc).
  */
object IncrementalScd2 {

  private def curMember(members: Seq[Path]): Option[Path] =
    members.find(_.getName.endsWith("-cur"))

  /** Fold every unapplied feed entry into the history store; returns
    * the new applied-upto id. `attrCols` names the feed columns kept
    * as dimension attributes (key columns excluded). */
  def refresh(spark: SparkSession, histDir: String, changeDir: String,
      keyCols: Seq[String], attrCols: Seq[String]): Long = {
    val store = new Path(histDir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pending = ChangeFeed.pending(spark, histDir, changeDir)
    if (pending.isEmpty) return ChangeFeed.appliedUpto(fs, store)
    pending.foreach(k => applyEntry(spark, store, changeDir, k,
      keyCols, attrCols))
    pending.max
  }

  /** [[refresh]] with RETRY-REBASE
    * ([[graft.sources.Snapshot.retrying]], round 13): entries fold
    * one at a time, each commit re-resolving the store and watermark
    * at entry, so on losing a commit race the re-run resumes from the
    * already-committed entries (skipped by the watermark) and
    * re-derives the conflicted one on top of the winner's version. */
  def refreshRetrying(spark: SparkSession, histDir: String,
      changeDir: String, keyCols: Seq[String], attrCols: Seq[String],
      attempts: Int = 3): Long =
    Snapshot.retrying(attempts) {
      refresh(spark, histDir, changeDir, keyCols, attrCols)
    }

  private def applyEntry(spark: SparkSession, store: Path,
      changeDir: String, k: Long, keyCols: Seq[String],
      attrCols: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = store.getFileSystem(conf)
    val entry = spark.read.parquet(ChangeFeed.entry(changeDir, k))
    val badOp = entry.select("_op").where(!col("_op").isin(
      "insert", "update_preimage", "update_postimage", "delete"))
    require(badOp.isEmpty,
      "IncrementalScd2: feed entry without pre-images — publish the " +
        "feed with cdfPreImages = true")
    val opens = entry
      .where(col("_op").isin("insert", "update_postimage"))
      .select(keyCols.map(col) ++ attrCols.map(col): _*)
      .withColumn("valid_from", lit(k))
    val closers = entry
      .where(col("_op").isin("update_preimage", "delete"))
      .select(keyCols.map(c => col(c).as(s"__c_$c")): _*)
      .distinct()
    val baseV = Snapshot.currentVersion(fs, store).getOrElse(0L)
    val members = Snapshot.resolve(fs, store).getOrElse(Nil)
    val (newCur, closedSeg) = curMember(members) match {
      case None => (opens, None)
      case Some(cur) =>
        val curDf = spark.read.option("mergeSchema", "true")
          .parquet(cur.toString)
        val cond = keyCols.map(c => col(c) <=> col(s"__c_$c"))
          .reduce(_ && _)
        // the closer set is one merge diff's keys — broadcast by
        // construction; both jobs touch only the CURRENT table, never
        // the closed history
        val closed = curDf.join(broadcast(closers), cond, "left_semi")
          .withColumn("valid_to", lit(k))
        val kept = curDf.join(broadcast(closers), cond, "left_anti")
        (kept.unionByName(opens), Some(closed))
    }
    // stage the new cur member and (if anything closed) one immutable
    // closed segment; ONE manifest commit publishes both — carried
    // closed segments are never rewritten
    val carried = members.map(_.getName)
      .filterNot(_.endsWith("-cur"))
    val curName = Snapshot.stageDirName(fs, store, "cur")
    newCur.write.mode("overwrite")
      .parquet(Snapshot.stagePath(store, curName).toString)
    val segName = closedSeg.flatMap { seg =>
      val s = seg.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (s.isEmpty) None
        else {
          val name = Snapshot.stageDirName(fs, store, "closed")
          s.write.mode("overwrite")
            .parquet(Snapshot.stagePath(store, name).toString)
          Some(name)
        }
      } finally { s.unpersist(); () }
    }
    // base pins the carried closed-segment list against a racer
    ChangeFeed.commitFold(fs, conf, store, carried ++ segName :+ curName,
      curName, k, base = baseV)
    Snapshot.vacuum(fs, store, keep = 2)
  }

  /** GDPR purge (round 18 — VERDICT r10 item 3's SCD2 leg): closed
    * segments are write-once by the store's own contract, so a
    * right-to-be-forgotten delete needs this COMPACTION-STYLE rewrite
    * path — every history row matching `cond` (current AND closed
    * versions, i.e. the key's entire lineage) leaves PHYSICALLY in
    * one commit: the cur member rewrites minus the key (re-stamping
    * its `_applied_upto` watermark — a purge is not a feed fold), the
    * closed segments fold into ONE segment minus the key, and
    * `vacuum(keep = 1)` drops every pre-purge manifest and member so
    * time travel at pre-purge versions REFUSES instead of
    * resurfacing the key. Idempotent: re-running finds nothing to
    * drop and skips the rewrite. Single-writer, like every store
    * maintenance op. `cond` must be null-safe for rows that must
    * survive (a NULL match drops the row), and must reference only
    * columns present in EVERY member (key/attr/valid_from — not the
    * derived valid_to/is_current, which the cur member lacks). */
  def purge(spark: SparkSession, histDir: String,
      cond: org.apache.spark.sql.Column): Boolean = {
    val store = new Path(histDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = store.getFileSystem(conf)
    val baseV = Snapshot.currentVersion(fs, store).getOrElse(0L)
    val members = Snapshot.resolve(fs, store).getOrElse(Nil)
    require(members.nonEmpty, s"no history at $histDir")
    val upto = ChangeFeed.appliedUpto(fs, store)
    val hasTrace = !read(spark, histDir).where(cond).isEmpty
    if (!hasTrace) return false
    val newMembers = scala.collection.mutable.Buffer[String]()
    curMember(members).foreach { cur =>
      val curName = Snapshot.stageDirName(fs, store, "cur")
      val staged = Snapshot.stagePath(store, curName)
      spark.read.option("mergeSchema", "true").parquet(cur.toString)
        .where(!cond).write.mode("overwrite").parquet(staged.toString)
      newMembers += curName
    }
    val closedDirs = members.filterNot(_.getName.endsWith("-cur"))
    if (closedDirs.nonEmpty) {
      val name = Snapshot.stageDirName(fs, store, "closedpurge")
      val staged = Snapshot.stagePath(store, name)
      val folded = spark.read.option("mergeSchema", "true")
        .parquet(closedDirs.map(_.toString): _*).where(!cond)
      if (!folded.isEmpty) {
        folded.write.mode("overwrite").parquet(staged.toString)
        newMembers += name
      }
    }
    require(newMembers.nonEmpty, s"purge would empty the history at $histDir")
    ChangeFeed.commitFold(fs, conf, store, newMembers.toSeq,
      newMembers.head, upto, base = baseV)
    Snapshot.vacuum(fs, store, keep = 1)
    true
  }

  /** The full history (keyCols…, attrCols…, valid_from, valid_to,
    * is_current): the immutable closed segments plus the current
    * member (open-ended, is_current) — one multi-path scan. */
  def read(spark: SparkSession, histDir: String): DataFrame = {
    val store = new Path(histDir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val members = Snapshot.resolve(fs, store).getOrElse(Nil)
    require(members.nonEmpty, s"no history at $histDir")
    val cur = curMember(members).map(p =>
      spark.read.option("mergeSchema", "true").parquet(p.toString)
        .withColumn("valid_to", lit(null).cast("long")))
    val closedDirs = members.filterNot(_.getName.endsWith("-cur"))
    val closed =
      if (closedDirs.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true")
        .parquet(closedDirs.map(_.toString): _*))
    val all = (closed, cur) match {
      case (Some(c), Some(u)) => c.unionByName(u, allowMissingColumns = true)
      case (Some(c), None) => c
      case (None, Some(u)) => u
      case (None, None) =>
        throw new IllegalStateException(s"empty history at $histDir")
    }
    all.withColumn("is_current", col("valid_to").isNull)
  }

  /** Point-in-time read: each key's version visible AS OF merge id
    * `v` — the state just after `merge=<v>` folded (closed lower
    * bound, open upper: valid_from ≤ v < valid_to). */
  def asOf(spark: SparkSession, histDir: String, v: Long): DataFrame =
    read(spark, histDir)
      .where(col("valid_from") <= v &&
        (col("valid_to").isNull || col("valid_to") > v))
      .drop("valid_to", "is_current")
}
