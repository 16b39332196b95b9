package graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-supplied star schema
  * (`TESTDATA.md:13-16`). Every query reads ONLY through here, so
  * filter/projection pushdown reaches the parquet scan uniformly.
  *
  * Scale note: `spark.read.parquet` uses the vectorized columnar
  * reader; on a real cluster the same call distributes file splits
  * across executors — nothing here is local-mode specific.
  *
  * Schema cache. Inferring a parquet schema costs one Spark job per
  * read (a footer-reading job, 30-60 ms plus scheduling), although a
  * table's files rarely change between reads. `t` keeps, per session,
  * one entry per table path: the path's file identity and the schema
  * Spark inferred for it.
  *  - Identity is the qualified path plus, for every file under it (the
  *    file itself, or all files of a directory table, recursively,
  *    markers included), its name, length and modification time, plus
  *    the session's conf at read time (a conf such as
  *    `spark.sql.parquet.binaryAsString` changes what inference yields).
  *  - The first read of a file version runs Spark's own inference
  *    (`spark.read.parquet(path)`, one job) and stores its schema; a
  *    later read with the same identity is
  *    `spark.read.schema(cached).parquet(path)` and runs no job. A
  *    changed identity replaces the entry, so the cache holds one
  *    schema per path per session.
  *  - Entries belong to one session (sessions are weakly held), so
  *    sessions with different parquet confs never share an entry.
  *  - A rewrite that keeps every file's name and length inside one
  *    modification-time tick is not seen. Local and HDFS mtimes are
  *    millisecond-grained; object stores with coarse mtimes (seconds)
  *    widen that window.
  * A missing path is passed to Spark unchanged, so it fails as before.
  */
object Tables {
  private type Identity = (Seq[(String, Long, Long)], Map[String, String])

  private val schemas = new java.util.WeakHashMap[SparkSession,
    mutable.Map[String, (Identity, StructType)]]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return spark.read.parquet(path.toString)
    val key = fs.makeQualified(path).toString
    val id: Identity = (files(fs, path), spark.conf.getAll)
    val entries = schemas.synchronized(
      schemas.computeIfAbsent(spark, _ => mutable.HashMap.empty))
    entries.synchronized(entries.get(key)) match {
      case Some((`id`, schema)) => spark.read.schema(schema).parquet(path.toString)
      case _ =>
        val df = spark.read.parquet(path.toString)
        entries.synchronized(entries(key) = (id, df.schema))
        df
    }
  }

  /** (name, length, modification time) of every file at or under `p`. */
  private def files(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Fan a scan out to all cores before CPU-heavy per-row work.
    *
    * A parquet file is splittable only at row-group boundaries, so a
    * small single-row-group file scans as ONE partition and every
    * downstream map-side expression (md5 fan-outs, JSON round-trips,
    * shingling) runs on one core until the first shuffle. On a real
    * cluster a 100 TB table arrives as thousands of splits and this is
    * a no-op (guarded on the actual scan partition count); on the
    * bench fixtures it buys full parallelism for the price of
    * shuffling a few MB of raw rows. Use it ONLY in front of
    * expression-heavy pipelines — plain scan→shuffle queries gain
    * nothing from an extra exchange.
    */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    // Streaming frames pass through untouched: micro-batch
    // partitioning is the source's business, and the batch-only
    // plan probes below (optimizedPlan / stats) are illegal on a
    // streaming plan (UnsupportedOperationChecker.checkForBatch).
    if (df.isStreaming) return df
    val target = s.sparkContext.defaultParallelism
    // Idempotent: operators now spread their own expression-heavy
    // inputs (round 16), so a caller-side spread composed with an
    // operator-side one must not stack a second exchange.
    val alreadySpread = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      case r: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionByExpression => r
    }.isDefined
    if (alreadySpread) return df
    // Estimate the scan's split count from the optimizer's size stats
    // (file bytes — already cached from the read-time listing) using
    // Spark's own split formula (FilePartition.maxSplitBytes with the
    // default 128 MB maxPartitionBytes / 4 MB openCostInBytes), instead
    // of probing df.rdd.getNumPartitions — that probe forced a full
    // physical planning of every spread query on the driver.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perCore = (bytes / target).max(1).toLong
    val maxSplit = math.min(128L << 20, math.max(4L << 20, perCore))
    val estSplits = (bytes + maxSplit - 1) / maxSplit
    if (estSplits < target) df.repartition(target) else df
  }
}
