package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MisraGries

/** Streaming GLOBAL heavy hitters (s31) — the continuous twin of
  * q150's batch Misra–Gries top-k, and the one aggregate shape the
  * per-key state model cannot host: keyed state partitions BY KEY, so
  * no single StatefulProcessor instance ever sees the whole stream —
  * a global summary has to live OUTSIDE the keyed-state machinery.
  *
  * Design (mergeable summaries, Agarwal et al. PODS'12): each
  * micro-batch folds to ONE Misra–Gries sketch row — inside the
  * batch, Spark's partial aggregation runs the sketch per partition
  * executor-side and merges the ≤ k-counter buffers (never the raw
  * rows) up the tree, so the only thing crossing the final exchange
  * is k counters per partition. The per-batch sketch row
  * `(batch, n, keys[], counts[])` appends to a sketch STORE
  * (`batch=<id>` directories under `CdcStreams.writeIfUncommitted`:
  * a checkpoint-replayed batch finds its directory and skips — the
  * store converges across crashes/restarts). The GLOBAL summary is
  * merge-on-read: fold the stored sketches with the same pairwise MG
  * merge rule the batch aggregator uses, giving the standard
  * guarantees over ALL rows ever streamed (n = Σ batch n):
  *
  *  - every key with true frequency > n/(k+1) is reported;
  *  - reported counts are lower bounds, undercounting by ≤ n/(k+1).
  *
  * Scale: the store grows one ≤ k-entry row per micro-batch (KBs) —
  * reading it is a metadata-sized scan, never data-sized; the fold
  * runs on ≤ batches × k counters (a monitoring read; compact the
  * store by folding old rows into one if batch count ever matters).
  * StreamingSpec pins the guarantees against exact counts on the
  * same replayed rows, across micro-batches AND a restart.
  */
object GlobalSketch {


  /** The directories a reader should consume, from ONE listing — the
    * store's GENERATION rule (round-8, retiring the round-7 marker +
    * aside-swap protocol and its crash states):
    *
    *   - sinks append raw `batch=<id>` dirs (idempotent on replay);
    *   - each compaction folds the live set into a FRESH
    *     `fold=<upto>` dir (upto = the highest batch id folded) and
    *     commits it with ONE atomic rename — no name is ever
    *     removed-then-recreated, so there is NO window in which any
    *     part of the store is missing;
    *   - the live set is: the newest fold generation (highest upto)
    *     plus every batch dir with id > that upto. Everything below
    *     is a superseded generation — still on disk for ONE more
    *     compaction cycle (retention: a reader that listed just
    *     before a fold committed still finds its files), ignored by
    *     every reader, removed by the next compaction's cleanup.
    *
    * Supersession can't lose a concurrent arrival: a sink committing
    * `batch=<id>` while compaction runs always carries an id above
    * every fold's upto (upto is stamped at the then-max id, and
    * committed lower ids never replay), so the cleanup set is closed
    * under concurrent appends. A REPLAYED batch id ≤ upto (its dir
    * was cleaned, the checkpoint had not committed it) rewrites its
    * dir, which this rule ignores — its rows already live in the
    * fold, so nothing double-counts; the dead dir is swept by a later
    * cleanup. */
  private def idOf(p: Path): Long = {
    val n = p.getName
    if (n.startsWith("batch=")) n.stripPrefix("batch=").toLong
    else n.stripPrefix("fold=").toLong
  }

  private def liveBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[Path] = {
    val all = fs.listStatus(root).map(_.getPath).toSeq
    val folds = all.filter(_.getName.startsWith("fold="))
    val maxUpto = folds.map(idOf).foldLeft(-1L)(math.max)
    folds.filter(idOf(_) == maxUpto) ++
      all.filter(_.getName.startsWith("batch=")).filter(idOf(_) > maxUpto)
  }

  /** Per-micro-batch sketch sink: `df`'s `keyCol` (long) is sketched
    * with a k-counter Misra–Gries per batch; one summary row lands in
    * `storePath/batch=<id>` (idempotent on replay — committed dirs
    * skip, a crash-truncated dir rewrites). */
  def mgSketchSink(df: DataFrame, keyCol: String, k: Int,
      storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dir = new Path(s"$storePath/batch=$batchId")
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        CdcStreams.writeIfUncommitted(_.getFileSystem(conf), conf, dir) {
          val mg = udaf(new MisraGries(k))
          // one row: n rows seen + the sketch entries (split into
          // parallel arrays — parquet-friendly, order preserved)
          batch.agg(
              count(lit(1)).as("n"),
              mg(col(keyCol).cast("long")).as("sk"))
            .select(col("n"),
              col("sk._1").as("keys"), col("sk._2").as("counts"))
            .coalesce(1)
            .write.mode("overwrite").parquet(dir.toString)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)

  /** Merge-on-read: fold every stored per-batch sketch with the MG
    * pairwise merge rule into the global top-k summary. Returns
    * (key, cnt) rows sorted (cnt desc, key asc) plus the total row
    * count `n` the n/(k+1) guarantees are stated against — exposed as
    * (key, cnt, n). */
  def globalTopK(spark: SparkSession, storePath: String, k: Int): DataFrame = {
    import spark.implicits._
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty[(Long, Long, Long)].toDF("key", "cnt", "n")
    val live = liveBatchDirs(fs, root)
    if (live.isEmpty) return Seq.empty[(Long, Long, Long)].toDF("key", "cnt", "n")
    val sketches = spark.read // explicit dir roots, no basePath: the batch=/fold= dir
      // names never become inferred partition columns
      .parquet(live.map(_.toString): _*)
      .select(col("n"), col("keys"), col("counts"))
      .collect() // ≤ batches × k counters — metadata-sized by design
    val mg = new MisraGries(k)
    var total = 0L
    var acc: Map[Long, Long] = Map.empty
    sketches.foreach { r =>
      total += r.getLong(0)
      val keys = r.getSeq[Long](1)
      val counts = r.getSeq[Long](2)
      acc = mg.merge(acc, keys.zip(counts).toMap)
    }
    mg.finish(acc).map { case (key, c) => (key, c, total) }
      .toDF("key", "cnt", "n")
  }

  /** The shared GENERATION compaction protocol (compactSketches /
    * compactHistogram differ ONLY in their fold — see liveBatchDirs
    * for the full rule): sweep generations older than the previous
    * one, run `fold(liveDirs, tmpDir)` to stage the folded rows, then
    * commit with ONE atomic rename to the fresh name `fold=<newUpto>`
    * — never removing-then-recreating an existing name, so readers
    * (who derive the live set from one listing) always observe a
    * complete snapshot: the old generation before the rename, the new
    * one after, never a missing dir. The just-superseded generation
    * stays on disk until the NEXT compaction (one-generation
    * retention for in-flight readers). A crash anywhere strands at
    * worst `_compact_tmp` (deleted on the next call) or skips a
    * cleanup (completed on the next call). One implementation so the
    * two stores' crash behavior can never silently diverge. */
  private def compactStore(spark: SparkSession, storePath: String)(
      fold: (Seq[Path], Path) => Unit): Unit = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val tmp = new Path(s"$storePath/_compact_tmp")
    fs.delete(tmp, true)
    // one listing drives cleanup, fold input, and the new upto
    val all = fs.listStatus(root).map(_.getPath).toSeq
    val folds = all.filter(_.getName.startsWith("fold="))
    val foldIds = folds.map(idOf).sorted
    val maxUpto = foldIds.lastOption.getOrElse(-1L)
    // retention bound: everything at or below the SECOND-newest fold's
    // upto is two generations old — no reader can still need it
    val prevUpto =
      if (foldIds.size >= 2) foldIds(foldIds.size - 2) else -1L
    folds.filter(idOf(_) < prevUpto).foreach(fs.delete(_, true))
    all.filter(_.getName.startsWith("batch="))
      .filter(idOf(_) <= prevUpto).foreach(fs.delete(_, true))
    val live = folds.filter(idOf(_) == maxUpto) ++
      all.filter(_.getName.startsWith("batch=")).filter(idOf(_) > maxUpto)
    if (live.size < 2) return
    val newUpto = live.filter(_.getName.startsWith("batch=")).map(idOf).max
    fold(live, tmp)
    // the one atomic step: the fresh fold dir appears fully formed
    if (!fs.rename(tmp, new Path(s"$storePath/fold=$newUpto")))
      throw new java.io.IOException(
        s"sketch-store fold commit rename failed at $storePath")
    // the generation we just superseded becomes the retained-previous;
    // the one BEFORE it (bounded by maxUpto) can go now
    folds.filter(idOf(_) < maxUpto).foreach(fs.delete(_, true))
    all.filter(_.getName.startsWith("batch="))
      .filter(idOf(_) <= maxUpto).foreach(fs.delete(_, true))
  }

  /** Bound MG-store growth: fold every stored per-batch sketch row
    * into ONE row living in the HIGHEST seen `batch=` directory — the
    * replay-safe id choice (a restarted stream can only replay that
    * id, found-committed → skipped, or continue at id+1; older ids are
    * committed offsets and never replay).
    *
    * Sketch counts are ADDITIVE: a folded row coexisting, LIVE, with
    * the dirs it folded would double-count. The fold's upto travels in its NAME
    * (`fold=<maxId>`, committed by one rename of a fresh name), and
    * every reader (`liveBatchDirs`) ignores batch dirs at or below
    * the newest fold's upto. Crash windows: before the rename —
    * nothing live changed (at worst a `_compact_tmp` strand, swept at
    * the next call); after the rename, before the sweeps — the new
    * fold already supersedes the old dirs (readers correct, the next
    * generation completes the cleanup). The global summary is
    * IDENTICAL before and after (the fold is the same pairwise merge
    * `globalTopK` runs — spec-pinned, including the stranded-tmp and
    * late-arrival states). */
  def compactSketches(spark: SparkSession, storePath: String, k: Int): Unit =
    compactStore(spark, storePath) { (live, tmp) =>
      import spark.implicits._
      val rows = spark.read // explicit dir roots, no basePath: the batch=/fold= dir
      // names never become inferred partition columns
        .parquet(live.map(_.toString): _*)
        .select(col("n"), col("keys"), col("counts")).collect()
      val mg = new MisraGries(k)
      var total = 0L
      var acc: Map[Long, Long] = Map.empty
      rows.foreach { r =>
        total += r.getLong(0)
        acc = mg.merge(acc, r.getSeq[Long](1).zip(r.getSeq[Long](2)).toMap)
      }
      val folded = mg.finish(acc)
      Seq((total, folded.map(_._1), folded.map(_._2)))
        .toDF("n", "keys", "counts")
        .coalesce(1).write.parquet(tmp.toString)
    }

  /** Bound histogram-store growth — `compactSketches`' sibling for the
    * s33 store, SIMPLER fold (bin counts just add: a distributed
    * `groupBy(bin).sum`, no driver state), same generation protocol:
    * the folded rows commit as `fold=<maxId>` in one rename, readers
    * ignore superseded batch dirs, the next generation completes any
    * interrupted cleanup. Estimates identical before and after
    * (spec-pinned). */
  def compactHistogram(spark: SparkSession, storePath: String): Unit =
    compactStore(spark, storePath) { (live, tmp) =>
      spark.read // explicit dir roots, no basePath: the batch=/fold= dir
      // names never become inferred partition columns
        .parquet(live.map(_.toString): _*)
        .groupBy("bin").agg(sum("cnt").as("cnt"))
        .coalesce(1).write.parquet(tmp.toString)
    }

  /** Streaming GLOBAL quantiles (s33) — the quantile twin of the MG
    * top-k, same store-outside-state design, SIMPLER merge rule: each
    * micro-batch lands its fixed-bin histogram (sparse (bin, cnt)
    * rows — exact counts, q157's binning) in an idempotent
    * `batch=<id>` directory, and counts just ADD across batches — so
    * merge-on-read is a distributed `groupBy(bin).sum`, no driver
    * fold at all. The estimate carries q157's guarantee over ALL rows
    * ever streamed: within one bin width of the order statistic at
    * rank ⌈p·n⌉ (s33 pins it against exact on the replayed rows,
    * across restarts). */
  def histogramSink(df: DataFrame, valCol: String,
      lo: Double, hi: Double, bins: Int,
      storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(bins >= 1 && hi > lo, s"bad histogram config: [$lo, $hi) / $bins")
    val w = (hi - lo) / bins
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dir = new Path(s"$storePath/batch=$batchId")
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        CdcStreams.writeIfUncommitted(_.getFileSystem(conf), conf, dir) {
          batch.select(least(lit(bins - 1), greatest(lit(0),
              floor((col(valCol) - lo) / w))).cast("int").as("bin"))
            .groupBy("bin").agg(count(lit(1)).as("cnt"))
            .coalesce(1)
            .write.mode("overwrite").parquet(dir.toString)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
  }

  /** Streaming GLOBAL distinct count (s34) — the third instance of the
    * store-outside-state template (top-k s31, quantiles s33): each
    * micro-batch lands ONE row `(n, sk)` where `sk` is Spark's own
    * Datasketches HLL binary (`hll_sketch_agg` — mergeable by
    * construction, the same persisted-sketch contract q149 pins in
    * batch), and the global estimate is `hll_union_agg` over the
    * stored rows — distributed, no driver fold. Exactly-once across
    * restarts by the `batch=<id>` idempotence protocol; estimate
    * within the sketch's standard error of the true distinct count
    * over ALL rows ever streamed (s34 pins 5%-of-exact, the q28/q149
    * contract). */
  def hllSketchSink(df: DataFrame, keyCol: String,
      storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dir = new Path(s"$storePath/batch=$batchId")
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        CdcStreams.writeIfUncommitted(_.getFileSystem(conf), conf, dir) {
          batch.agg(count(lit(1)).as("n"),
              expr(s"hll_sketch_agg($keyCol)").as("sk"))
            .coalesce(1)
            .write.mode("overwrite").parquet(dir.toString)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)

  /** Merge-on-read distinct estimate over the whole streamed history:
    * one row (approx_distinct, n). */
  def globalDistinct(spark: SparkSession, storePath: String): DataFrame = {
    import spark.implicits._
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      return Seq.empty[(Long, Long)].toDF("approx_distinct", "n")
    val live = liveBatchDirs(fs, root)
    if (live.isEmpty)
      return Seq.empty[(Long, Long)].toDF("approx_distinct", "n")
    spark.read // explicit dir roots, no basePath: the batch=/fold= dir
      // names never become inferred partition columns
      .parquet(live.map(_.toString): _*)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_distinct"),
        sum("n").as("n"))
  }

  /** Merge-on-read quantile estimates over the whole streamed history:
    * one row per requested (name, p) with the interpolated estimate
    * and the total n. Distributed end to end (bin-keyed sum + a
    * bins-sized window). */
  def globalQuantiles(spark: SparkSession, storePath: String,
      lo: Double, hi: Double, bins: Int,
      ps: Seq[(String, Double)]): DataFrame = {
    import spark.implicits._
    require(ps.nonEmpty, "globalQuantiles: ps must be non-empty")
    val w = (hi - lo) / bins
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      return Seq.empty[(String, Double, Long)].toDF("q", "est", "n")
    val live = liveBatchDirs(fs, root)
    if (live.isEmpty)
      return Seq.empty[(String, Double, Long)].toDF("q", "est", "n")
    val cum = spark.read // explicit dir roots, no basePath: the batch=/fold= dir
      // names never become inferred partition columns
      .parquet(live.map(_.toString): _*)
      .groupBy("bin").agg(sum("cnt").as("cnt"))
      .withColumn("cum", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.orderBy("bin")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("n", sum("cnt").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
    val qArr = array(ps.map { case (nm, p) =>
      struct(lit(nm).as("qname"), lit(p).as("p")) }: _*)
    cum.select(col("bin"), col("cnt"), col("cum"), col("n"),
        explode(qArr).as("q"))
      .select(col("bin"), col("cnt"), col("cum"), col("n"),
        col("q.qname").as("q"), (col("q.p") * col("n")).as("t"))
      // the unique CROSSING bin (prevcum < t ≤ cum) — interpolating
      // anywhere else is meaningless (see q157's crossing-bin note)
      .where(col("cum") >= col("t") && col("cum") - col("cnt") < col("t"))
      .groupBy("q")
      .agg(min(lit(lo) + lit(w) *
          (col("bin") + (col("t") - (col("cum") - col("cnt"))) / col("cnt")))
          .as("est"),
        max("n").as("n"))
  }

  /** Streaming GLOBAL Count–Min frequencies (s40) — the fourth
    * instance of the store-outside-state template (top-k s31,
    * quantiles s33, distinct s34): each micro-batch lands its own
    * sparse d×w CMS cells (q177's hashing — exact counts) in an
    * idempotent `batch=<id>` directory; cells ADD across batches, so
    * merge-on-read is a distributed `groupBy(i, b).sum` and point
    * estimates are min-over-rows — no driver fold anywhere. Across
    * restarts the `batch=<id>` protocol makes the store equal,
    * cell-for-cell, to a one-shot sketch of every row ever streamed
    * (s40 pins that equality, plus est ≥ exact per probe). Store
    * growth is bounded the same way as the histogram store:
    * `compactCms` folds old batches into a generation dir. */
  def cmsSketchSink(df: DataFrame, keyCol: String, depth: Int, width: Int,
      storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(depth >= 1 && width >= 1, s"bad CMS config: $depth x $width")
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dir = new Path(s"$storePath/batch=$batchId")
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        writeCmsMeta(new Path(storePath).getFileSystem(conf),
          new Path(storePath), depth, width)
        CdcStreams.writeIfUncommitted(_.getFileSystem(conf), conf, dir) {
          graft.functions.CountMin.cells(batch, keyCol, depth, width)
            .coalesce(1)
            .write.mode("overwrite").parquet(dir.toString)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
  }

  /** Merge-on-read CMS cells over the whole streamed history: the
    * summed (i, b, c) table — ≤ depth×width rows. */
  def globalCmsCells(spark: SparkSession, storePath: String): DataFrame = {
    import spark.implicits._
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      return Seq.empty[(Int, Long, Long)].toDF("i", "b", "c")
    val live = liveBatchDirs(fs, root)
    if (live.isEmpty)
      return Seq.empty[(Int, Long, Long)].toDF("i", "b", "c")
    spark.read.parquet(live.map(_.toString): _*)
      .groupBy("i", "b").agg(sum("c").as("c"))
  }

  /** The CMS store's (depth, width) are part of its identity: probing
    * with a different shape makes every (i, b) join miss and silently
    * returns est = 0 for seen keys — violating est ≥ true count, the
    * one guarantee a CMS offers. The sink records the shape once in a
    * `_cms_meta` root file (tmp-write + rename, first writer wins);
    * the probe side validates and FAILS FAST on mismatch. */
  private val CmsMetaFile = "_cms_meta"

  private def writeCmsMeta(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, depth: Int, width: Int): Unit = {
    val meta = new Path(root, CmsMetaFile)
    if (!fs.exists(meta)) {
      val tmp = new Path(root, s".$CmsMetaFile.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"$depth $width".getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, meta)) fs.delete(tmp, false)
    }
    readCmsMeta(fs, root).foreach { case (d, w) =>
      require(d == depth && w == width,
        s"CMS store $root was built with depth=$d width=$w; " +
          s"refusing to append a ${depth}x$width sketch to it")
    }
  }

  private def readCmsMeta(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Option[(Int, Int)] = {
    val meta = new Path(root, CmsMetaFile)
    if (!fs.exists(meta)) None
    else {
      val in = fs.open(meta)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val parts = s.trim.split("\\s+")
      Some((parts(0).toInt, parts(1).toInt))
    }
  }

  /** Point estimates for a probe-key frame (`keyCol`, bounded — the
    * ad-hoc query side): est = min over rows of the key's bucket
    * count, 0 for a never-seen key (its bucket may be absent from the
    * sparse store). The ≤ d×w cell table broadcasts. Fails fast when
    * (depth, width) differ from what the store's `_cms_meta` records
    * — a mismatched probe would return 0 for seen keys. */
  def globalCmsEstimate(spark: SparkSession, storePath: String,
      depth: Int, width: Int, probes: DataFrame, keyCol: String): DataFrame = {
    val rootP = new Path(storePath)
    val rootFs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rootFs.exists(rootP)) readCmsMeta(rootFs, rootP).foreach {
      case (d, w) => require(d == depth && w == width,
        s"CMS store $storePath was built with depth=$d width=$w; " +
          s"probing with depth=$depth width=$width would miss every cell")
    }
    val cells = globalCmsCells(spark, storePath)
    probes
      .select(col(keyCol),
        explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .withColumn("b",
        graft.functions.CountMin.bucket(col("i"), col(keyCol).cast("string"), width))
      .join(broadcast(cells), Seq("i", "b"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** Bound CMS-store growth — `compactHistogram`'s sibling: fold live
    * cell rows past the newest `keep` batches into one generation
    * dir (cells just ADD, q177's mergeability). */
  def compactCms(spark: SparkSession, storePath: String): Unit =
    compactStore(spark, storePath) { (live, tmp) =>
      spark.read.parquet(live.map(_.toString): _*)
        .groupBy("i", "b").agg(sum("c").as("c"))
        .coalesce(1).write.parquet(tmp.toString)
    }
}
