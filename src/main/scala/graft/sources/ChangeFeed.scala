package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MERGE CHANGE FEED protocol, both sides: where `Lake.mergeInto`
  * publishes a feed entry, and how a downstream consumer
  * (`examples.IncrementalView`, `IncrementalIndex`, `IncrementalScd2`,
  * `IncrementalIvfPq`, and `KeyPurge`'s watermark-preserving rewrites)
  * finds the entries it has not folded yet and records that it folded
  * them.
  *
  * Layout:
  * {{{
  *   changeDir/merge=<k>/            one entry per committed merge: the
  *                                   diff that took the store to
  *                                   snapshot version k (`_op` + images)
  *   <consumer store member>/_applied_upto_<k>
  *                                   the consumer's watermark: every
  *                                   entry with id ≤ k is folded in
  * }}}
  *
  * Entry ids are the snapshot VERSION the diff transitioned the merged
  * store to ([[publish]]), so they are monotone but gap-ful (a merge
  * that changed nothing publishes nothing). A consumer's pending set
  * is every id above its watermark ([[pending]]), which is gap-tolerant.
  *
  * Exactly-once across crashes: a consumer store remembers the highest
  * applied feed id INSIDE each version's data dir — the
  * `_applied_upto_<k>` marker is written into the STAGED member before
  * the commit ([[commitFold]]), so it rides `Snapshot.commit`'s atomic
  * pointer rename with the data it describes. A fold that crashes
  * before the commit strands an invisible staging dir (the next fold
  * deletes it and recomputes from the same watermark — same deltas,
  * same result); after the commit, the marker has already advanced
  * and a re-run applies nothing. A crash-replayed MERGE publishes an
  * empty feed (no new `merge=` dir), so every consumer sees each
  * logical change exactly once end to end. The store watermark is the
  * max over the current members' markers, so a rewrite that carries
  * the old watermark onto its new member (compaction, a purge) keeps
  * it. This is the Structured Streaming recipe — progress stored
  * beside the output, in the same atomic commit.
  */
object ChangeFeed {

  private val EntryPrefix = "merge="
  private val MarkerPrefix = "_applied_upto_"

  /** The directory of feed entry `k`. */
  def entry(changeDir: String, k: Long): String =
    s"$changeDir/$EntryPrefix$k"

  private def entryPath(changeDir: Path, k: Long): Path =
    new Path(changeDir, s"$EntryPrefix$k")

  /** Every published entry id, ascending (empty if the feed dir does
    * not exist). Siblings that are not entries — `_consumers`, purge
    * staging — are skipped. */
  def ids(fs: FileSystem, changeDir: Path): Seq[Long] =
    if (!fs.exists(changeDir)) Nil
    else fs.listStatus(changeDir).map(_.getPath.getName)
      .filter(_.startsWith(EntryPrefix))
      .map(_.stripPrefix(EntryPrefix).toLong).sorted.toSeq

  /** The file-source glob that follows every entry as it is published;
    * a partitioned feed (`mergeIntoPartitioned`) nests one level
    * deeper, `changeDir/<partCol>=<v>/merge=<k>`. */
  def streamGlob(changeDir: String, partitioned: Boolean): String =
    if (partitioned) s"$changeDir/*/$EntryPrefix*"
    else s"$changeDir/$EntryPrefix*"

  /** Publish a staged change-feed directory into `changeDir` as the
    * `merge=<version>` entry, keyed by the SNAPSHOT VERSION the diff
    * transitioned the store to (round 14 — the partitioned-merge
    * interleaving model falsified the old list-max+1 id scheme under
    * concurrent merges, two ways: two publishers could list the same
    * max and collide LOUDLY after their commits already succeeded,
    * and — worse — the version-k writer could publish AFTER the
    * version-(k+1) writer, giving the feed an id order that
    * contradicts the version order, which silently corrupts every
    * consumer that replays diffs in id order). Version-keyed ids are
    * collision-free (the commit claim admits each version once) and id
    * order ≡ version order by construction.
    *
    * IDEMPOTENT: if `merge=<version>` already exists, THE diff for
    * that transition is already published (only version k's committer
    * — manifest-verified for crash strands — ever publishes at k), so
    * the staged copy is deleted and the call succeeds; a racing
    * reconciler and the committer's own publish cannot double-feed. */
  private[graft] def publish(fs: FileSystem, staged: Path,
      changeDir: String, version: Long): Unit = {
    val cd = new Path(changeDir)
    fs.mkdirs(cd)
    val dest = entryPath(cd, version)
    if (fs.exists(dest)) { fs.delete(staged, true); return }
    if (!fs.rename(staged, dest)) {
      // a racing publisher of the SAME version (committer vs strand
      // reconciler) landed between our check and our rename — benign
      if (fs.exists(dest)) { if (fs.exists(staged)) fs.delete(staged, true) }
      else throw new java.io.IOException(
        s"change-feed publish rename failed: $staged -> $dest")
    }
  }

  /** Entries `ids` as one frame. mergeSchema: entries straddling a
    * base-table schema evolution disagree on columns — without it the
    * multi-dir read takes one file's schema and silently drops the
    * others' new columns (a null contribution is correct; a dropped
    * column is not). */
  def read(spark: SparkSession, changeDir: String, ids: Seq[Long]): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(ids.map(entry(changeDir, _)): _*)

  /** The signed multiplicity of a pre-image feed row — +1 · insert,
    * +1 · update_postimage, −1 · update_preimage, −1 · delete — which
    * makes the feed subtractable. A post-image-only feed row (`update`)
    * fails the job, naming `consumer`. */
  def signedOp(consumer: String): Column =
    when(col("_op").isin("insert", "update_postimage"), 1L)
      .when(col("_op").isin("update_preimage", "delete"), -1L)
      .otherwise(raise_error(concat(
        lit(s"$consumer: feed entry without pre-images (_op="),
        col("_op"),
        lit(") — publish the feed with cdfPreImages = true"))))

  /** The consumer store's watermark: the highest feed id its current
    * members carry a marker for, −1 if none (nothing folded yet). */
  def appliedUpto(fs: FileSystem, store: Path): Long =
    Snapshot.resolve(fs, store).getOrElse(Nil).flatMap { member =>
      fs.listStatus(member).map(_.getPath.getName)
        .filter(_.startsWith(MarkerPrefix))
        .map(_.stripPrefix(MarkerPrefix).toLong)
    }.foldLeft(-1L)(math.max)

  /** Feed ids not yet folded into the consumer store at `storeDir`
    * (ascending). */
  def pending(spark: SparkSession, storeDir: String,
      changeDir: String): Seq[Long] = {
    val store = new Path(storeDir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val upto = appliedUpto(fs, store)
    ids(fs, new Path(changeDir)).filter(_ > upto)
  }

  /** Commit a consumer store's next version: stamp watermark `upto`
    * into the staged member `stamped` (one of `members`), then
    * `Snapshot.commit` — marker and data are published by the same
    * atomic step. A negative `upto` is the absent watermark and stamps
    * nothing. Returns the committed version. */
  def commitFold(fs: FileSystem, conf: Configuration, store: Path,
      members: Seq[String], stamped: String, upto: Long, base: Long,
      consumed: Seq[String] = Nil): Long = {
    if (upto >= 0L) {
      val out = fs.create(
        new Path(Snapshot.stagePath(store, stamped), s"$MarkerPrefix$upto"),
        true)
      out.close()
    }
    Snapshot.commit(fs, conf, store, members, consumed, base)
  }

  /** Feed retention: delete every entry with id ≤ `floor` — a
    * consumer's watermark, or the minimum over several — except the
    * HIGHEST id present, which always survives as the feed's on-disk
    * high-water anchor (an operator inspecting the feed sees where the
    * sequence stands without resolving every consumer watermark).
    * Returns the number of entries deleted. */
  def sweep(fs: FileSystem, changeDir: Path, floor: Long): Int = {
    val victims = ids(fs, changeDir).dropRight(1).filter(_ <= floor)
    victims.foreach(k => fs.delete(entryPath(changeDir, k), true))
    victims.length
  }
}
