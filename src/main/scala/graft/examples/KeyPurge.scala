package graft.examples

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ChangeFeed, Lake, Snapshot}

/** COMPOSED GDPR key-purge (round 18 — VERDICT r10 item 3): a
  * right-to-be-forgotten delete is categorically stronger than a CDC
  * tombstone. The tombstone handles the PRESENT (merge the delete,
  * let the pre-image feed subtract the key from every incremental
  * consumer); this module handles the PAST — every place the key's
  * bytes still physically sit after current state is clean:
  *
  *   - retained snapshot VERSIONS of the lake/view/SCD2 stores
  *     (time travel would resurface the key),
  *   - the change feed's merge entries (pre/post images ARE the PII),
  *   - signed SEGMENT stores (postings, IVF-PQ codes): after the
  *     delete fold the key's rows total zero on READ, but the
  *     segments still hold them physically — the write-once contract
  *     needs the compaction-style rewrite path,
  *   - keyed sketch stores (Misra–Gries entries carry key literals).
  *
  * PURGE ORDER (the spec drives it end to end): (1) merge the
  * tombstone + refresh every consumer — normal ops, current state
  * clean; (2) `scrubFeed` — requires every consumer caught up first,
  * or the subtraction the consumers still need would be scrubbed out
  * from under them; (3) `scrubStore` per snapshot store /
  * `IncrementalScd2.purge` / `scrubIndex` / `scrubIvfPq` /
  * `scrubMgStore`; (4) `verifyNoTrace` audits every parquet file
  * under every root RAW — not merge-on-read — and returns offenders.
  *
  * Crash-safety & idempotence: every store scrub is one Snapshot
  * commit (atomic publish; a crash strands only hidden staging dirs)
  * followed by `vacuum(keep = 1)` (idempotent); re-running any step
  * finds no matching rows and skips. The feed scrub uses a staged
  * two-rename swap with a recovery preamble, so a crash at any point
  * re-runs to completion. Replay safety is inherited: a re-merged
  * tombstone publishes an empty feed, and every consumer watermark
  * ([[graft.sources.ChangeFeed]]) already covers the purge's entries.
  *
  * What needs NO scrub, and why: CMS cells, HLL registers, and
  * fixed-grid histogram bins store HASHES/counts, never key bytes —
  * a purged key is unrecoverable from them by construction (the
  * standard DP-adjacent argument for sketches); only the
  * Misra–Gries store carries key LITERALS and gets a scrub here.
  * One honest boundary: PQ codebooks and IVF centroids are TRAINED
  * STATE — `pqCodebook` draws literal corpus vectors as its initial
  * entries, so a purged row's embedding can persist as a codebook
  * entry (disassociated from its key, but its bytes). Where that
  * matters, the remedy is a re-bootstrap of the geometry (the rare,
  * by-design index-sized retrain) — the same answer ML systems give
  * for a sample baked into model weights.
  *
  * 100 TB shape: each scrub is one filtered scan-and-rewrite of ONE
  * store's current read set — the same cost class as that store's
  * compaction, batched over many purge requests in practice (filter
  * on an IN set instead of one key; the API takes an arbitrary
  * `cond`). Nothing collects; the audit reads file lists, not data,
  * until the per-file filtered existence probe.
  */
object KeyPurge {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Compaction-style scrub of one Snapshot-managed store (lake day
    * store, incremental view, doc-length view): rewrite the CURRENT
    * read set minus `cond` as one new member, carry the store's max
    * `_applied_upto` watermark onto it (a purge is not a feed fold —
    * the watermark must not reset or the next refresh double-folds),
    * commit, then `vacuum(keep = 1)` so pre-purge versions and any
    * consumed flat files physically leave. Returns true if the store
    * held matching rows (false = clean, nothing rewritten). */
  def scrubStore(spark: SparkSession, dir: String, cond: Column): Boolean = {
    val store = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, store)
    val cur = Lake.readStore(spark, dir)
    if (cur.where(cond).isEmpty) {
      // the CURRENT read set is clean (e.g. a view whose delete fold
      // already dropped the key's group) — but retained pre-purge
      // versions may still hold it: retention collapses regardless
      Snapshot.vacuum(fs, store, keep = 1)
      return false
    }
    val baseV = Snapshot.currentVersion(fs, store).getOrElse(0L)
    val upto = ChangeFeed.appliedUpto(fs, store)
    val liveFlats = Snapshot.liveFlats(fs, store)
    val name = Snapshot.stageDirName(fs, store, "purge")
    cur.where(!cond).write.mode("overwrite")
      .parquet(Snapshot.stagePath(store, name).toString)
    ChangeFeed.commitFold(fs, conf, store, Seq(name), name, upto,
      base = baseV, consumed = liveFlats.map(_.getName))
    Snapshot.vacuum(fs, store, keep = 1)
    // vacuum defers the CURRENT version's consumed flats by one
    // version (reader retention) — a purge overrides retention by
    // definition, so they leave now
    liveFlats.foreach(f => if (fs.exists(f)) fs.delete(f, false))
    true
  }

  /** Scrub the change feed: for every [[ChangeFeed]] entry still on
    * disk, rewrite it minus `cond` via a staged two-rename swap
    * (recovery preamble completes a crashed swap; entry ids and thus
    * the id watermark are preserved — an emptied entry keeps its dir
    * with a zero-row file). REQUIRES every consumer in `consumers`
    * caught up on this feed (their pending set empty): scrubbing an
    * unconsumed entry would eat the subtraction a view still needs.
    * Returns the number of entries rewritten. */
  def scrubFeed(spark: SparkSession, changeDir: String, cond: Column,
      consumers: Seq[String]): Int = {
    val cd = new Path(changeDir)
    val fs = fsOf(spark, cd)
    if (!fs.exists(cd)) return 0
    consumers.foreach { c =>
      val pending = ChangeFeed.pending(spark, c, changeDir)
      require(pending.isEmpty,
        s"scrubFeed: consumer $c has unapplied feed entries $pending — refresh it first")
    }
    // recovery preamble: a crashed swap leaves _purge_stage_<k> with
    // entry k either present (stale stage — rebuild) or renamed away
    // (complete the swap)
    fs.listStatus(cd).map(_.getPath).filter(
        _.getName.startsWith("_purge_stage_")).foreach { st =>
      val k = st.getName.stripPrefix("_purge_stage_").toLong
      val fin = new Path(ChangeFeed.entry(changeDir, k))
      if (fs.exists(fin)) fs.delete(st, true)
      else require(fs.rename(st, fin), s"scrubFeed recovery failed: $st")
    }
    var rewritten = 0
    ChangeFeed.ids(fs, cd).foreach { k =>
      val e = new Path(ChangeFeed.entry(changeDir, k))
      val df = ChangeFeed.read(spark, changeDir, Seq(k))
      if (!df.where(cond).isEmpty) {
        val stage = new Path(cd, s"_purge_stage_$k")
        if (fs.exists(stage)) fs.delete(stage, true)
        df.where(!cond).write.mode("overwrite").parquet(stage.toString)
        require(fs.delete(e, true), s"scrubFeed: cannot drop $e")
        require(fs.rename(stage, e), s"scrubFeed: swap failed for $e")
        rewritten += 1
      }
    }
    rewritten
  }

  /** Scrub a signed postings store after the delete fold: compaction
    * physically drops the zero-total rows the fold left behind, and
    * `vacuum(keep = 1)` drops the pre-purge segments that still carry
    * them. (The delete MUST be folded first — compaction preserves
    * nonzero totals.) */
  def scrubIndex(spark: SparkSession, indexDir: String): Unit = {
    IncrementalIndex.compact(spark, indexDir)
    Snapshot.vacuum(fsOf(spark, new Path(indexDir)),
      new Path(indexDir), keep = 1)
  }

  /** [[scrubIndex]] for the incremental IVF-PQ codes store. */
  def scrubIvfPq(spark: SparkSession, dir: String): Unit = {
    IncrementalIvfPq.compact(spark, dir)
    val codes = new Path(s"$dir/codes")
    Snapshot.vacuum(fsOf(spark, codes), codes, keep = 1)
  }

  /** Scrub a Misra–Gries sketch store (the one sketch store carrying
    * key LITERALS): compact the live generation to one fold, delete
    * every superseded dir outright (purge overrides the one-cycle
    * read retention), then rewrite the fold with the key filtered
    * out of the parallel (keys, counts) arrays. Other keys' entries
    * and the total `n` are untouched, so every surviving estimate and
    * the n/(k+1) error bound are exactly what they were. */
  def scrubMgStore(spark: SparkSession, storePath: String, k: Int,
      key: Long): Unit = {
    graft.streaming.GlobalSketch.compactSketches(spark, storePath, k)
    val root = new Path(storePath)
    val fs = fsOf(spark, root)
    val all = fs.listStatus(root).map(_.getPath)
    val folds = all.filter(_.getName.startsWith("fold="))
    val maxUpto = folds.map(_.getName.stripPrefix("fold=").toLong)
      .foldLeft(-1L)(math.max)
    // superseded generations leave NOW (retention override)
    all.filter { p =>
      val n = p.getName
      (n.startsWith("fold=") && n.stripPrefix("fold=").toLong < maxUpto) ||
      (n.startsWith("batch=") && n.stripPrefix("batch=").toLong <= maxUpto)
    }.foreach(p => fs.delete(p, true))
    val live = all.filter(_.getName == s"fold=$maxUpto") ++
      fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.startsWith("batch=") &&
          p.getName.stripPrefix("batch=").toLong > maxUpto)
    live.foreach { dir =>
      val df = spark.read.parquet(dir.toString)
      if (!df.where(array_contains(col("keys"), key)).isEmpty) {
        val scrubbed = df.select(col("n"),
          expr(s"""transform(
                     filter(arrays_zip(keys, counts), s -> s.keys != ${key}L),
                     s -> s.keys)""").as("keys"),
          expr(s"""transform(
                     filter(arrays_zip(keys, counts), s -> s.keys != ${key}L),
                     s -> s.counts)""").as("counts"))
        val stage = new Path(root, s"_purge_stage_${dir.getName}")
        if (fs.exists(stage)) fs.delete(stage, true)
        scrubbed.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        require(fs.delete(dir, true), s"scrubMgStore: cannot drop $dir")
        require(fs.rename(stage, dir), s"scrubMgStore: swap failed for $dir")
      }
    }
  }

  /** The zero-trace AUDIT: read every parquet data file under every
    * root RAW (no merge-on-read, no manifest resolution — staging
    * dirs, superseded versions, and feed entries all count) and
    * return the files still holding rows matching `cond`. Files
    * whose schema lacks a column `cond` references are skipped —
    * they cannot carry the key. Empty result = purged. */
  def verifyNoTrace(spark: SparkSession, roots: Seq[String],
      cond: Column, condCols: Seq[String]): Seq[String] = {
    val offenders = scala.collection.mutable.Buffer[String]()
    roots.foreach { r =>
      val root = new Path(r)
      val fs = fsOf(spark, root)
      if (fs.exists(root)) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val f = it.next().getPath
          if (f.getName.endsWith(".parquet") ||
              (f.getName.startsWith("part-") &&
               !f.getName.endsWith(".crc"))) {
            val df = spark.read.parquet(f.toString)
            if (condCols.forall(df.columns.contains) &&
                !df.where(cond).isEmpty)
              offenders += f.toString
          }
        }
      }
    }
    offenders.toSeq
  }
}
