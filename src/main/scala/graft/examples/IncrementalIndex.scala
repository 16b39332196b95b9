package graft.examples

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ChangeFeed, Lake, Snapshot}

/** Incremental INVERTED-INDEX maintenance from a merge change feed —
  * the text-search twin of [[IncrementalView]]: a token → document
  * postings table over a 100 TB merged corpus stays fresh by folding
  * each merge's row-level diff instead of re-tokenizing the corpus
  * (the q130 one-shot build, made continuous).
  *
  * The index is the postings MULTISET `(token, docKey…, tf)` where
  * `tf` is the token's occurrence count in that document. Occurrence
  * counts are ABELIAN under the pre-image feed signs
  * (+1 · insert/update_postimage, −1 · update_preimage/delete applied
  * per exploded token), so any set of feed entries folds in ONE
  * aggregate: an update re-tokenizes only the changed document —
  * −tokens(pre) cancels +tokens(pre) wherever the text didn't change,
  * and a delete subtracts the document's whole postings contribution.
  * Unlike max/min view columns there is NO shrink case and no base
  * re-read, ever: a leaving document subtracts its own tokens.
  *
  * SEGMENTED STORE — the load-bearing scale decision. The postings
  * table is CORPUS-SIZED (a stopword's posting list at 100 TB is
  * TB-sized), so a refresh that joined deltas against the store and
  * rewrote it would pay an index-sized job per merge — the
  * whole-table-MERGE mistake all over again. Instead each refresh
  * APPENDS one segment: the delta aggregate (diff-sized — KBs–MBs)
  * staged as a new snapshot member dir and committed by adding it to
  * the manifest next to the carried members; the store is never read,
  * joined, or rewritten on the hot path. Readers merge on read — one
  * multi-path scan over the member dirs + a grain-keyed sum, dropping
  * postings whose signed total reaches zero — and a fold of all
  * segments into one ([[compact]], auto-triggered past `compactAt`
  * members) bounds the segment count, exactly the
  * Lucene-segment / LSM shape (and this library's own GlobalSketch
  * store-outside-state discipline). Refresh cost is ∝ the merge diff;
  * compaction cost is ∝ the index, paid every `compactAt` merges
  * instead of every merge.
  *
  * Exactly-once across crashes: the store is a
  * [[graft.sources.ChangeFeed]] consumer — each segment carries the
  * watermark of the feed ids it folded, riding the commit with its
  * data, and compaction re-stamps the fold at the same watermark (the
  * full argument is in ChangeFeed's scaladoc).
  *
  * Scale shape: the fold is explode → map-side-combinable aggregate
  * keyed on (token, docKey). On a real cluster the segments (and the
  * compacted base) would additionally hash-partition by token so a
  * term probe prunes to its bucket; nothing here ever collects the
  * index. Readers that want document-frequency or tf-idf derive them
  * from the postings grain ([[docFreq]], [[lookupAll]]) as aggregates
  * over the probed terms only.
  */
object IncrementalIndex {

  /** Fold every unapplied feed entry's token deltas into a NEW
    * segment of the postings store; returns the new applied-upto id.
    * `tokens` is a DETERMINISTIC expression over the feed row
    * producing the document's token array (it re-evaluates on every
    * fold — the house tokenizer
    * `filter(split(text, ' '), w -> w <> '')` is the expected shape).
    * Past `compactAt` members the segments auto-fold into one. */
  def refresh(spark: SparkSession, indexDir: String, changeDir: String,
      keyCols: Seq[String], tokens: Column, compactAt: Int = 8): Long = {
    val store = new Path(indexDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = store.getFileSystem(conf)
    val pending = ChangeFeed.pending(spark, indexDir, changeDir)
    if (pending.isEmpty) return ChangeFeed.appliedUpto(fs, store)
    val sign = ChangeFeed.signedOp("IncrementalIndex")
    val feed = ChangeFeed.read(spark, changeDir, pending)
    // the whole refresh: one diff-sized aggregate, zero store reads
    val deltas = feed
      .select((col("_op") +: keyCols.map(col)) :+
        explode(tokens).as("token"): _*)
      .groupBy(col("token") +: keyCols.map(col): _*)
      .agg(sum(sign).as("tf"))
      .where(col("tf") =!= 0L)
    val baseV = Snapshot.currentVersion(fs, store).getOrElse(0L)
    val carried = Snapshot.resolve(fs, store).getOrElse(Nil)
      .map(_.getName)
    val stageName = Snapshot.stageDirName(fs, store, "seg")
    deltas.write.mode("overwrite")
      .parquet(Snapshot.stagePath(store, stageName).toString)
    // base pins the carried-member list: a racer's commit in between
    // would otherwise be silently dropped from this manifest
    ChangeFeed.commitFold(fs, conf, store, carried :+ stageName, stageName,
      pending.max, base = baseV)
    Snapshot.vacuum(fs, store, keep = 2)
    if (carried.length + 1 >= compactAt) compact(spark, indexDir)
    pending.max
  }

  /** [[refresh]] with RETRY-REBASE
    * ([[graft.sources.Snapshot.retrying]], round 13): the refresh
    * re-resolves the store version, carried segments, and applied-upto
    * watermark at entry, so on losing a commit race a re-run derives
    * the same diff segment on top of the winner's version — entries
    * the winner already folded are skipped by the watermark. */
  def refreshRetrying(spark: SparkSession, indexDir: String,
      changeDir: String, keyCols: Seq[String], tokens: Column,
      compactAt: Int = 8, attempts: Int = 3): Long =
    Snapshot.retrying(attempts) {
      refresh(spark, indexDir, changeDir, keyCols, tokens, compactAt)
    }

  /** Fold every segment into one — the index-sized job refresh never
    * pays. Zero-total postings leave physically; the fold re-stamps
    * the store watermark. No-op below two members. */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val store = new Path(indexDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = store.getFileSystem(conf)
    val baseV = Snapshot.currentVersion(fs, store).getOrElse(0L)
    val members = Snapshot.resolve(fs, store).getOrElse(Nil)
    if (members.length < 2) return
    val upto = ChangeFeed.appliedUpto(fs, store)
    val folded = read(spark, indexDir)
    val stageName = Snapshot.stageDirName(fs, store, "fold")
    folded.write.mode("overwrite")
      .parquet(Snapshot.stagePath(store, stageName).toString)
    ChangeFeed.commitFold(fs, conf, store, Seq(stageName), stageName, upto,
      base = baseV)
    Snapshot.vacuum(fs, store, keep = 2)
  }

  /** The postings table (token, keyCols…, tf) — merge-on-read over
    * the segments: one multi-path scan + one grain-keyed sum (both
    * map-side combinable); postings whose signed total reached zero
    * drop out. `at` pins a specific committed snapshot version — the
    * member a [[graft.sources.PublishSet]] manifest names (valid while
    * the store's retention holds that version). */
  def read(spark: SparkSession, indexDir: String,
      at: Option[Long] = None): DataFrame = {
    val store = new Path(indexDir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val members = at match {
      case Some(v) => Snapshot.members(fs, store, v)
        .map(n => new Path(store, n))
      case None => Snapshot.resolve(fs, store).getOrElse(Nil)
    }
    require(members.nonEmpty, s"no index at $indexDir")
    val segs = spark.read.option("mergeSchema", "true")
      .parquet(members.map(_.toString): _*)
    val grain = segs.columns.filter(_ != "tf").toSeq
    segs.groupBy(grain.map(col): _*).agg(sum("tf").as("tf"))
      .where(col("tf") > 0L)
  }

  /** Document frequency per token — one bounded aggregate over the
    * postings grain (each (token, doc) row counts once). */
  def docFreq(spark: SparkSession, indexDir: String): DataFrame =
    read(spark, indexDir).groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("tf"))

  /** Maintain the DOC-LENGTH view next to the index — BM25's `dl`
    * (total tokens per document) is a plain abelian signed sum over
    * the same feed, so it rides [[IncrementalView]] wholesale:
    * groupCols = the doc key, one derived `n_toks = size(tokens)`
    * measure. Call with the same `changeDir` after each merge (its
    * applied-upto watermark advances independently of the index's). */
  def refreshDocLens(spark: SparkSession, dlViewDir: String,
      changeDir: String, keyCols: Seq[String], tokens: Column): Long =
    IncrementalView.refresh(spark, dlViewDir, changeDir,
      keyCols, Seq("n_toks"), derived = Seq("n_toks" -> size(tokens)))

  /** BM25 retrieval OVER THE INDEX — continuous full-text search off
    * a CDC feed: every statistic the Robertson–Spärck Jones formula
    * needs is already maintained incrementally (tf and df from the
    * postings segments, dl from the doc-length view, N and avgdl as
    * a 1-row aggregate of that view), so scoring a query probes the
    * queried terms' postings plus one doc-keyed join against the
    * length view — never re-tokenizing the corpus (q112 computes the
    * identical formula from raw text; the spec pins equality). */
  def bm25Lookup(spark: SparkSession, indexDir: String,
      dlViewDir: String, keyCols: Seq[String], terms: Seq[String],
      topK: Int, k1: Double = 1.2, b: Double = 0.75,
      atIndex: Option[Long] = None, atView: Option[Long] = None): DataFrame = {
    require(terms.nonEmpty, "bm25Lookup needs at least one term")
    val tf = read(spark, indexDir, atIndex)
      .where(col("token").isin(terms: _*))
    val dfw = tf.groupBy("token")
      .agg(count(lit(1)).cast("double").as("__dfw"))
    // token-less documents can match no term and are excluded from
    // N/avgdl — the same convention as deriving dl from exploded
    // tokens (q112), where an empty token array drops the doc
    val dl = atView.map(v => Lake.readStoreAt(spark, dlViewDir, v))
      .getOrElse(IncrementalView.read(spark, dlViewDir))
      .select(keyCols.map(col) :+ col("sum_n_toks").as("__dl"): _*)
      .where(col("__dl") > 0L)
    val stats = dl.agg(count(lit(1)).cast("double").as("__n"),
      (sum("__dl").cast("double") / count(lit(1))).as("__avgdl"))
    tf.join(broadcast(dfw), "token")
      .join(dl, keyCols)
      .crossJoin(broadcast(stats))
      .select(keyCols.map(col) :+
        (log((col("__n") - col("__dfw") + 0.5) / (col("__dfw") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
          .as("__sc"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("__sc").as("bm25"))
      .orderBy(col("bm25").desc +: keyCols.map(col(_).asc): _*)
      .transform(d => if (topK > 0) d.limit(topK) else d)
  }

  /** Conjunctive term lookup: documents containing ALL `terms`,
    * scored by summed tf. The probe filters to the queried terms
    * FIRST (an n-term IN list — pushed to the segment scans), so the
    * work is ∝ the probed terms' postings, never the index size. */
  def lookupAll(spark: SparkSession, indexDir: String,
      keyCols: Seq[String], terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "lookupAll needs at least one term")
    read(spark, indexDir)
      .where(col("token").isin(terms: _*))
      .groupBy(keyCols.map(col): _*)
      .agg(countDistinct(col("token")).as("__hit"), sum("tf").as("score"))
      .where(col("__hit") === terms.distinct.length)
      .drop("__hit")
  }
}
