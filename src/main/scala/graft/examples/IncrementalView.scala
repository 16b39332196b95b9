package graft.examples

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ChangeFeed, Lake, Snapshot}

/** Incremental MATERIALIZED-VIEW maintenance from a merge change feed
  * — the consumer the pre-image CDF shape
  * (`Lake.mergeInto(cdfPreImages = true)`) exists for, and the reason
  * a lake keeps a change feed at all: a grouped aggregate over a
  * 100 TB merged table stays fresh by reading each merge's row-level
  * DIFF (KBs–MBs) instead of re-scanning the table (TBs).
  *
  * The view is `SELECT groupCols, count(*), sum(sumCols…) GROUP BY
  * groupCols`, materialized as its own versioned snapshot store. Each
  * `refresh` folds every unapplied `merge=<k>` feed entry into signed
  * per-group deltas —
  *
  *   +1 · insert, +1 · update_postimage,
  *   −1 · update_preimage, −1 · delete
  *
  * — and commits `old view ⊕ deltas` as the view store's next
  * version. Count and sum are ABELIAN (every delta commutes), so any
  * set of feed entries folds in one aggregate regardless of merge
  * order, and an update that migrates a row across groups nets
  * −1 on the old group and +1 on the new one — correct without ever
  * touching the base store. A group whose count reaches zero leaves
  * the view. (Non-subtractable aggregates — min/max/distinct — need
  * the base table on shrink; they are exactly what this consumer does
  * NOT claim.)
  *
  * Exactly-once across crashes: the view store is a
  * [[graft.sources.ChangeFeed]] consumer — its applied-upto watermark
  * rides each version's commit with the data it describes (the full
  * argument is in ChangeFeed's scaladoc).
  *
  * Scale shape: deltas aggregate feed rows (map-side combinable,
  * keyed on the group); the view join is group-keyed over two
  * view-sized frames (the view is #groups rows — bounded by the
  * domain, not the data); nothing re-reads the base store, ever.
  */
object IncrementalView {

  /** Fold every unapplied feed entry into the view store; returns the
    * new applied-upto id (unchanged if the feed had nothing new).
    *
    * `m2Cols` are SECOND-MOMENT columns: each keeps `sumsq_<c>` =
    * Σ sign·c² next to `sum_<c>` and the group count — the abelian
    * moment TRIPLE from which avg / variance / stddev derive at READ
    * time ([[statsFrom]]). A signed square commutes exactly like a
    * signed sum, so mean/spread views need ZERO base reads ever —
    * there is no shrink case: a leaving row subtracts its own square.
    * Keep the measure column integral (cents, bytes, tokens) and the
    * stored moments stay EXACT; only the derived stats are
    * floating-point.
    *
    * `maxCols` / `minCols` are the honest treatment of a
    * NON-subtractable aggregate. Grows fold from the feed like any
    * delta (new max = greatest(old max, max of post-images); min is
    * the exact mirror); a SHRINK — a pre-image equal to the group's
    * current champion leaving, with no grow covering it — cannot be
    * answered from the feed, so exactly those groups recompute their
    * extreme from `baseDir` (the merged base store, required with
    * either), filtered to the affected group set. Cost: zero base
    * reads while extremes only grow; one group-pruned base aggregate
    * when a champion actually leaves. Extreme entries fold ONE AT A
    * TIME (unlike the abelian count/sum path, which folds every
    * pending entry in one aggregate): within a multi-entry window an
    * insert's post-image can be superseded by a later entry's update
    * (insert x=50, then update to 1 — a combined fold would see
    * gmax=50 and keep a phantom max). A single merge diff carries each
    * key at most once, so per-entry folding is sound. During a
    * multi-entry catch-up the intermediate committed versions may
    * transiently reflect the NEWER base on a recompute; the final
    * (caught-up) version is exact — the single-writer,
    * refresh-after-merge discipline every consumer of this store
    * already follows.
    *
    * `derived` computes extra columns on every feed row before the
    * fold — the TIME-BUCKETED / windowed view shape (e.g. `"month" →
    * year($ts)*100 + month($ts)`), and `groupCols` may name them.
    * Because pre- and post-images both carry the FULL row, an update
    * that moves a row across buckets (a backdated correction crossing
    * a month boundary) is just a group migration — −1 on the old
    * bucket's derived value, +1 on the new one — with no special
    * casing. The same derivation is applied to the base store on a
    * max/min shrink recompute, so extremes work per bucket too.
    * Derivations must be DETERMINISTIC row-functions (they re-evaluate
    * on every fold). */
  def refresh(spark: SparkSession, viewDir: String, changeDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      m2Cols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil, baseDir: Option[String] = None,
      derived: Seq[(String, Column)] = Nil): Long = {
    val exts = maxCols.map(Ext(_, isMax = true)) ++
      minCols.map(Ext(_, isMax = false))
    require(exts.isEmpty || baseDir.isDefined,
      "IncrementalView: max/min columns need baseDir (shrinks recompute from the base)")
    val sums = sumSpecs(sumCols, m2Cols)
    val view = new Path(viewDir)
    val fs = view.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pending = ChangeFeed.pending(spark, viewDir, changeDir)
    if (pending.isEmpty) return ChangeFeed.appliedUpto(fs, view)
    if (exts.isEmpty) applyEntries(spark, view, changeDir, pending,
      groupCols, sums, Nil, None, derived)
    else pending.foreach(k => applyEntries(spark, view, changeDir, Seq(k),
      groupCols, sums, exts, baseDir, derived))
    pending.max
  }

  /** [[refresh]] with RETRY-REBASE
    * ([[graft.sources.Snapshot.retrying]], round 13): on losing a
    * commit race to another writer of the VIEW store, the refresh
    * simply re-runs — it re-resolves the store's version, carried
    * members, and applied-upto watermark at entry, so the re-run
    * derives the same feed fold on top of the winner's version
    * (entries the winner already folded are skipped by the
    * watermark). Bounded attempts rethrow the last conflict. */
  def refreshRetrying(spark: SparkSession, viewDir: String,
      changeDir: String, groupCols: Seq[String], sumCols: Seq[String],
      m2Cols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil, baseDir: Option[String] = None,
      derived: Seq[(String, Column)] = Nil, attempts: Int = 3): Long =
    Snapshot.retrying(attempts) {
      refresh(spark, viewDir, changeDir, groupCols, sumCols, m2Cols,
        maxCols, minCols, baseDir, derived)
    }

  /** A signed-sum view column: output name + the per-row measure it
    * folds (`sum_<c>` folds c, `sumsq_<c>` folds c² — same abelian
    * path, different measure). */
  private case class SumSpec(out: String, e: Column)
  private def sumSpecs(sumCols: Seq[String], m2Cols: Seq[String]): Seq[SumSpec] =
    sumCols.map(c => SumSpec(s"sum_$c", col(c))) ++
      // ×1L promotes an int measure to long BEFORE squaring (an int²
      // wraps at 46341² under non-ANSI arithmetic) and leaves
      // double/decimal measures alone; keep measures integral (cents,
      // bytes, tokens) and the stored moment stays exact
      m2Cols.map(c => SumSpec(s"sumsq_$c",
        (col(c) * lit(1L)) * (col(c) * lit(1L))))

  /** BOOTSTRAP a view from the BASE STORE at the feed's current
    * watermark — the missing first step for a NEW consumer of an
    * EXISTING lake: the feed only carries diffs since it was enabled
    * (and retention sweeps consumed entries), so a view that starts
    * empty and folds the feed is correct only if the feed covers the
    * store's entire history. Bootstrap instead aggregates the base
    * store ONCE (the only full scan this consumer will ever pay),
    * stamps the applied-upto marker at the highest feed id present,
    * and commits as the view's first version — every later `refresh`
    * folds only newer entries. This is also how a consumer joins
    * AFTER `vacuumFeedMinWatermark` swept the early feed: swept
    * history is unreplayable by construction, the base store IS its
    * summary.
    *
    * Correctness leans on the house single-writer discipline: no
    * merge may land between the feed listing and the store read (the
    * same assumption every swap-protocol store already documents).
    * Refuses to overwrite an existing view — rebuilding is a
    * deliberate delete-then-bootstrap. */
  def bootstrap(spark: SparkSession, viewDir: String, baseDir: String,
      changeDir: String, groupCols: Seq[String], sumCols: Seq[String],
      m2Cols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      derived: Seq[(String, Column)] = Nil): Long = {
    val view = new Path(viewDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = view.getFileSystem(conf)
    require(Snapshot.currentVersion(fs, view).isEmpty,
      s"IncrementalView.bootstrap: $viewDir already holds a view — " +
        "delete it first to rebuild")
    val upto = ChangeFeed.ids(fs, new Path(changeDir)).lastOption
      .getOrElse(-1L)
    val exts = maxCols.map(Ext(_, isMax = true)) ++
      minCols.map(Ext(_, isMax = false))
    val sums = sumSpecs(sumCols, m2Cols)
    val base = derived.foldLeft(Lake.readStore(spark, baseDir)) {
      case (df, (n, e)) => df.withColumn(n, e)
    }
    val agg = base.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sums.map(sp => sum(sp.e).as(sp.out)) ++
          exts.map(e => e.fold(col(e.c)).as(e.out)): _*)
    val baseV = Snapshot.currentVersion(fs, view).getOrElse(0L)
    val stageName = Snapshot.stageDirName(fs, view, "view")
    agg.write.mode("overwrite")
      .parquet(Snapshot.stagePath(view, stageName).toString)
    ChangeFeed.commitFold(fs, conf, view, Seq(stageName), stageName, upto,
      base = baseV)
    upto
  }

  /** An extreme-maintained column: direction + its view-column name,
    * per-direction fold/compare helpers. */
  private case class Ext(c: String, isMax: Boolean) {
    val out: String = if (isMax) s"max_$c" else s"min_$c"
    def fold(x: Column): Column = if (isMax) max(x) else min(x)
    def better(a: Column, b: Column): Column =
      if (isMax) greatest(a, b) else least(a, b)
    def worseThan(a: Column, champ: Column): Column =
      if (isMax) a < champ else a > champ
    def agg: String = if (isMax) "max" else "min"
  }

  private def applyEntries(spark: SparkSession, view: Path,
      changeDir: String, ids: Seq[Long], groupCols: Seq[String],
      sums: Seq[SumSpec], exts: Seq[Ext],
      baseDir: Option[String],
      derived: Seq[(String, Column)] = Nil): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = view.getFileSystem(conf)
    val sign = ChangeFeed.signedOp("IncrementalView")
    val feed = derived.foldLeft(ChangeFeed.read(spark, changeDir, ids)) {
      case (df, (n, e)) => df.withColumn(n, e)
    }
    val grow = (e: Ext) =>
      e.fold(when(col("_op").isin("insert", "update_postimage"),
        col(e.c))).as(s"__g_${e.out}")
    val leave = (e: Ext) =>
      e.fold(when(col("_op").isin("update_preimage", "delete"),
        col(e.c))).as(s"__p_${e.out}")
    val deltas = feed
      .groupBy(groupCols.map(col): _*)
      .agg(sum(sign).as("__dn"),
        sums.map(sp => sum(sign * sp.e).as(s"__d_${sp.out}")) ++
          exts.flatMap(e => Seq(grow(e), leave(e))): _*)
    val current: Option[DataFrame] =
      if (Snapshot.currentVersion(fs, view).isDefined)
        Some(Lake.readStore(spark, view.toString))
      else None
    val merged = current match {
      case None =>
        deltas.where(col("__dn") =!= 0L)
          .select(groupCols.map(col) ++ (col("__dn").as("n") +:
            (sums.map(sp => col(s"__d_${sp.out}").as(sp.out)) ++
              exts.map(e => col(s"__g_${e.out}").as(e.out)))): _*)
          .withColumn("__recompute", lit(false))
      case Some(cur) =>
        // growing NEW aggregate columns on an existing view cannot be
        // done incrementally (their history is not in the feed) — say
        // so instead of surfacing an unresolved-column analysis error
        val missing = (sums.map(_.out) ++ exts.map(_.out))
          .filterNot(cur.columns.contains)
        require(missing.isEmpty,
          s"IncrementalView: view store lacks column(s) " +
            s"${missing.mkString(", ")} — an existing view cannot grow " +
            "new aggregate columns from the feed; rebuild the view or " +
            "drop the new columns")
        // null-safe group match (<=>): a NULL group value must meet
        // its own delta row, not fork a duplicate group per refresh
        val d2 = deltas.select(
          groupCols.map(c => col(c).as(s"__g_$c")) ++
            (col("__dn") +: (sums.map(sp => col(s"__d_${sp.out}")) ++
              exts.flatMap(e =>
                Seq(col(s"__g_${e.out}"), col(s"__p_${e.out}"))))): _*)
        val cond = groupCols.map(c => col(c) <=> col(s"__g_$c"))
          .reduce(_ && _)
        // a group must recompute iff some extreme column's current
        // champion LEFT (a pre-image equals it) and no grow covers it
        val needs =
          if (exts.isEmpty) lit(false)
          else exts.map { e =>
            col(e.out).isNotNull &&
              (col(s"__p_${e.out}") <=> col(e.out)) &&
              (col(s"__g_${e.out}").isNull ||
                e.worseThan(col(s"__g_${e.out}"), col(e.out)))
          }.reduce(_ || _)
        cur.join(d2, cond, "full_outer")
          .select(groupCols.map(c =>
            coalesce(col(c), col(s"__g_$c")).as(c)) ++ (
            (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
              .as("n") +:
            (sums.map(sp =>
              (coalesce(col(sp.out), lit(0)) +
                coalesce(col(s"__d_${sp.out}"), lit(0))).as(sp.out)) ++
              exts.map(e =>
                e.better(col(e.out), col(s"__g_${e.out}"))
                  .as(e.out)) :+
              needs.as("__recompute"))): _*)
          .where(col("n") =!= 0L)
    }
    val pinned =
      if (exts.isEmpty) None
      else Some(merged.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
    val next =
      if (exts.isEmpty) merged.drop("__recompute")
      else {
        val m = pinned.get
        val needy = m.where(col("__recompute"))
          .select(groupCols.map(col): _*)
        if (needy.isEmpty) m.drop("__recompute")
        else {
          // authoritative maxes for exactly the affected groups: a
          // group-pruned aggregate over the base store (the broadcast
          // side is the needy-group set — bounded by this refresh's
          // touched groups)
          val n2 = needy.select(groupCols.map(c =>
            col(c).as(s"__r_$c")): _*)
          val jcond = groupCols.map(c => col(c) <=> col(s"__r_$c"))
            .reduce(_ && _)
          val authoritative = derived.foldLeft(
              Lake.readStore(spark, baseDir.get)) {
              case (df, (nm, e)) => df.withColumn(nm, e)
            }
            .join(broadcast(n2), jcond, "inner")
            .groupBy(groupCols.map(col): _*)
            .agg(exts.head.fold(col(exts.head.c)).as(s"__a_${exts.head.out}"),
              exts.tail.map(e => e.fold(col(e.c)).as(s"__a_${e.out}")): _*)
            .select(groupCols.map(c => col(c).as(s"__a_$c")) ++
              exts.map(e => col(s"__a_${e.out}")): _*)
          val acond = groupCols.map(c => col(c) <=> col(s"__a_$c"))
            .reduce(_ && _)
          m.join(authoritative, acond, "left")
            .select(groupCols.map(col) ++ (col("n") +:
              (sums.map(sp => col(sp.out)) ++
                exts.map(e =>
                  when(col("__recompute"),
                    col(s"__a_${e.out}"))
                    .otherwise(col(e.out)).as(e.out)))): _*)
        }
      }
    val baseV = Snapshot.currentVersion(fs, view).getOrElse(0L)
    val stageName = Snapshot.stageDirName(fs, view, "view")
    next.write.mode("overwrite")
      .parquet(Snapshot.stagePath(view, stageName).toString)
    ChangeFeed.commitFold(fs, conf, view, Seq(stageName), stageName,
      ids.max, base = baseV)
    Snapshot.vacuum(fs, view, keep = 2)
    } finally { pinned.foreach(_.unpersist()); () }
  }

  /** The view as a DataFrame (groupCols, n, sum_<c>…). */
  def read(spark: SparkSession, viewDir: String): DataFrame =
    Lake.readStore(spark, viewDir)

  /** EXACT distinct counts from a FINE-GRAINED view — the incremental
    * COUNT(DISTINCT v) GROUP BY g, which is NOT abelian at the (g)
    * grain (a departing duplicate must not decrement the distinct
    * count) but IS abelian one level down: maintain the view at the
    * (g, v) grain (groupCols = g ++ v — multiplicities fold as plain
    * signed counts, zero-count pairs leave the store), then derive
    * the distinct count at READ time as a bounded aggregate over the
    * store: distinct v per g = the number of surviving (g, v) rows.
    * Store size is the (g, v) DOMAIN (the same bound a shuffle-based
    * exact COUNT(DISTINCT) pays in its partial aggregate), never the
    * data; no base reads, ever. `fineCols` are the trailing columns
    * of the maintained view's group key; the result carries
    * `n_distinct` and the total row count `n`. */
  def readDistinct(spark: SparkSession, viewDir: String,
      groupCols: Seq[String], fineCols: Seq[String]): DataFrame =
    distinctFrom(read(spark, viewDir), groupCols, fineCols)

  /** [[readDistinct]] on an already-loaded fine-grained view frame.
    * SQL's COUNT(DISTINCT v) ignores NULL v, so a surviving
    * (g, NULL…) multiplicity row contributes to `n` but not to
    * `n_distinct`. */
  def distinctFrom(view: DataFrame, groupCols: Seq[String],
      fineCols: Seq[String]): DataFrame = {
    require(fineCols.nonEmpty, "readDistinct needs fineCols")
    val allSet = fineCols.map(col(_).isNotNull).reduce(_ && _)
    view.groupBy(groupCols.map(col): _*)
      .agg(count(when(allSet, 1)).as("n_distinct"), sum("n").as("n"))
  }

  /** Derived mean/spread statistics from the exact moment triple
    * (n, sum_<c>, sumsq_<c>) kept by `m2Cols` — computed at READ time
    * so the store holds only exact integers and the expensive thing
    * (the fold) stays abelian. Sample variance by the EXPLICIT moment
    * formula `(sumsq − sum²/n)/(n−1)` (NULL when n < 2), stddev its
    * square root: three IEEE double ops on identical integer inputs
    * that any oracle can replay bit-for-bit (the q162 determinism
    * discipline) — deliberately NOT an engine-private streaming
    * variance. Moments must stay within double's 2^53 integer range
    * for the derived stats to be exact-input; the STORED triple is
    * exact regardless. */
  def statsFrom(view: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(view) { (df, c) =>
      val sumD = col(s"sum_$c").cast("double")
      val sqD = col(s"sumsq_$c").cast("double")
      val nD = col("n").cast("double")
      val varS = when(col("n") >= 2L, (sqD - sumD * sumD / nD) / (nD - 1d))
      df.withColumn(s"avg_$c", sumD / nD)
        .withColumn(s"var_$c", varS)
        .withColumn(s"stddev_$c", sqrt(varS))
    }

  /** [[read]] + [[statsFrom]] in one call. */
  def readStats(spark: SparkSession, viewDir: String,
      m2Cols: Seq[String]): DataFrame =
    statsFrom(read(spark, viewDir), m2Cols)

  /** The partitioned-lake form: `mergeIntoPartitioned` publishes its
    * feed one level deeper (`changeRoot/<partCol>=<v>/merge=<k>`,
    * with ids monotonic PER PARTITION), so the view keeps one
    * sub-view store per partition — `refresh` applied verbatim per
    * directory, each with its own applied-upto marker. That is also
    * the scalable shape: partitions maintain independently (a night
    * touching 2 days folds 2 small feeds) and could run in parallel.
    * Returns the partition dir names that had pending entries. */
  def refreshPartitioned(spark: SparkSession, viewRoot: String,
      changeRoot: String, partCol: String,
      groupCols: Seq[String], sumCols: Seq[String],
      m2Cols: Seq[String] = Nil,
      parallelism: Int = 4,
      attempts: Int = 1): Seq[String] = {
    val cr = new Path(changeRoot)
    val fs = cr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cr)) return Nil
    val parts = fs.listStatus(cr).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol=")).sorted.toSeq
    val pending = parts.filter(p =>
      ChangeFeed.pending(spark, s"$viewRoot/$p", s"$changeRoot/$p").nonEmpty)
    if (pending.isEmpty) return Nil
    // sub-views are independent stores (own dir, own watermark), so
    // their refreshes run CONCURRENTLY — each is a couple of small
    // Spark jobs, and a sequential driver loop would serialize
    // #partitions × job-launch latency. Bounded pool: the win is
    // overlapping job scheduling, not saturating the cluster.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, pending.length))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(
        Future.sequence(pending.map(p => Future {
          Snapshot.retrying(attempts) {
            refresh(spark, s"$viewRoot/$p", s"$changeRoot/$p",
              groupCols, sumCols, m2Cols = m2Cols)
          }
        })), Duration.Inf)
      pending
    } finally pool.shutdown()
  }

  /** Feed RETENTION for this consumer: delete the feed entries the
    * view has already folded ([[graft.sources.ChangeFeed.sweep]] at
    * its applied-upto — the highest-id entry always survives) — the
    * sweep that keeps a long-lived feed from growing one directory per
    * merge forever. The applied-upto is THIS view's; with several
    * independent consumers on one feed, sweep at min(applied-upto) —
    * [[vacuumFeedMinWatermark]]. Returns the number of entries
    * deleted. */
  def vacuumConsumedFeed(spark: SparkSession, viewDir: String,
      changeDir: String): Int = {
    val view = new Path(viewDir)
    val fs = view.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ChangeFeed.sweep(fs, new Path(changeDir), ChangeFeed.appliedUpto(fs, view))
  }

  // ---- multi-consumer feed retention (round 10) ----------------------
  //
  // One merge change feed often serves SEVERAL independent downstream
  // consumers — two views with different groupings, an audit archiver,
  // a replica loader. `vacuumConsumedFeed` sweeps against ONE view's
  // watermark; with several consumers the sweep must wait for the
  // SLOWEST. The registry below makes that coordination explicit and
  // crash-safe: each consumer records a named watermark as a file
  // `_consumers/<id>.upto_<k>` whose VALUE IS ITS NAME — publishing is
  // one atomic create (no read-modify-write, no rename-over-existing,
  // which some filesystems refuse), a consumer's watermark is the MAX
  // over its files (watermarks are monotone), and stale smaller-k
  // files are swept lazily on the next record. `_consumers` never
  // collides with feed entries (`ChangeFeed.ids` lists entries by
  // their name prefix).

  private val consumerIdOk = "[A-Za-z0-9_-]+".r

  private def consumersDir(cd: Path) = new Path(cd, "_consumers")

  /** Record `consumerId`'s applied-upto watermark on a feed. Idempotent
    * and monotone: recording at or below the current watermark is a
    * no-op (a crash-replayed refresh re-records its old value
    * harmlessly). */
  def recordConsumer(spark: SparkSession, changeDir: String,
      consumerId: String, upto: Long): Unit = {
    require(consumerIdOk.pattern.matcher(consumerId).matches(),
      s"consumer id must be [A-Za-z0-9_-]+: '$consumerId'")
    val cd = new Path(changeDir)
    val fs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = consumersDir(cd)
    fs.mkdirs(dir)
    val mine = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(s"$consumerId.upto_"))
    val cur = mine.map(_.stripPrefix(s"$consumerId.upto_").toLong)
      .foldLeft(Long.MinValue)(math.max)
    // first call registers even at upto = -1 (a consumer that has
    // applied NOTHING yet must still hold the sweep floor down)
    if (upto > cur) {
      val out = fs.create(new Path(dir, s"$consumerId.upto_$upto"), true)
      out.close()
      // lazy cleanup: smaller-k files of THIS consumer only (a crash
      // here leaves extras; max-per-consumer makes them harmless)
      mine.foreach(n => fs.delete(new Path(dir, n), false))
    }
  }

  /** Convenience: record a VIEW consumer's watermark straight from its
    * store's applied-upto marker. */
  def recordViewConsumer(spark: SparkSession, changeDir: String,
      consumerId: String, viewDir: String): Unit = {
    val view = new Path(viewDir)
    val fs = view.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a view with no store yet records -1: registered, nothing applied
    // — it holds the sweep floor down until its first refresh
    recordConsumer(spark, changeDir, consumerId,
      ChangeFeed.appliedUpto(fs, view))
  }

  /** Every registered consumer's watermark (consumer id → max upto). */
  def consumerWatermarks(spark: SparkSession,
      changeDir: String): Map[String, Long] = {
    val cd = new Path(changeDir)
    val fs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = consumersDir(cd)
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).map(_.getPath.getName)
      .flatMap { n =>
        val i = n.lastIndexOf(".upto_")
        if (i <= 0) None
        else scala.util.Try(n.substring(i + 6).toLong).toOption
          .map(k => n.substring(0, i) -> k)
      }
      .groupBy(_._1).map { case (id, ks) => id -> ks.map(_._2).max }
  }

  /** Sweep feed entries every registered consumer has applied:
    * [[graft.sources.ChangeFeed.sweep]] at the min over consumer
    * watermarks (the highest id present always survives). A feed with
    * NO registered consumers sweeps nothing (unknown lag is assumed
    * infinite — the safe default). Returns entries deleted. */
  def vacuumFeedMinWatermark(spark: SparkSession,
      changeDir: String): Int = {
    val marks = consumerWatermarks(spark, changeDir)
    if (marks.isEmpty) return 0
    val cd = new Path(changeDir)
    val fs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ChangeFeed.sweep(fs, cd, marks.values.min)
  }

  /** Partitioned twins of the registry: each partition's feed keeps
    * its OWN `_consumers` dir (per-partition ids → per-partition
    * watermarks, same as the sub-views themselves). A consumer of the
    * whole partitioned feed records one watermark per partition it
    * has applied. */
  def recordViewConsumerPartitioned(spark: SparkSession,
      changeRoot: String, consumerId: String, viewRoot: String,
      partCol: String): Unit = {
    val cr = new Path(changeRoot)
    val fs = cr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cr)) return
    fs.listStatus(cr).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol="))
      .foreach(p => recordViewConsumer(spark, s"$changeRoot/$p",
        consumerId, s"$viewRoot/$p"))
  }

  /** Sweep every partition's feed at ITS min registered watermark;
    * returns total entries deleted. Partitions whose `_consumers` is
    * empty sweep nothing (the same safe default as the flat form). */
  def vacuumFeedMinWatermarkPartitioned(spark: SparkSession,
      changeRoot: String, partCol: String): Int = {
    val cr = new Path(changeRoot)
    val fs = cr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cr)) return 0
    fs.listStatus(cr).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol="))
      .map(p => vacuumFeedMinWatermark(spark, s"$changeRoot/$p"))
      .sum
  }

  /** The whole-lake view from the per-partition sub-views: union and
    * re-aggregate — counts and sums add across partitions, so this is
    * a bounded (#partitions × #groups rows) aggregate, never a base
    * scan. Second-moment columns (`m2Cols`): `sumsq_<c>` adds across
    * sub-views exactly like `sum_<c>` (both abelian), so the
    * whole-lake moment triple comes out of the same bounded
    * re-aggregate — compose with [[statsFrom]] for lake-wide
    * avg/stddev. */
  def readPartitioned(spark: SparkSession, viewRoot: String,
      groupCols: Seq[String], sumCols: Seq[String],
      m2Cols: Seq[String] = Nil): DataFrame = {
    val vr = new Path(viewRoot)
    val fs = vr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subs = fs.listStatus(vr).filter(_.isDirectory).map(_.getPath)
      .filter(p => Snapshot.currentVersion(fs, p).isDefined)
    require(subs.nonEmpty, s"no sub-views under $viewRoot")
    // resolve every sub-view's snapshot and read ONE multi-path
    // relation — a per-partition unionByName chain would put
    // #partitions operators in the plan; this stays one scan node at
    // any partition count (a 10k-day lake plans in constant time)
    val paths = subs.flatMap(p =>
      Snapshot.readSet(fs, p).getOrElse(Nil)).map(_.toString)
    spark.read.option("mergeSchema", "true").parquet(paths.toSeq: _*)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("n").as("n"),
        sumCols.map(c => sum(s"sum_$c").as(s"sum_$c")) ++
          m2Cols.map(c => sum(s"sumsq_$c").as(s"sumsq_$c")): _*)
  }
}
