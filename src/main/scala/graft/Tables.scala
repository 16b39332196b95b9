package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-supplied star schema
  * (`TESTDATA.md:13-16`). Every query reads ONLY through here, so
  * filter/projection pushdown reaches the parquet scan uniformly.
  *
  * Scale note: `spark.read.parquet` uses the vectorized columnar
  * reader; on a real cluster the same call distributes file splits
  * across executors — nothing here is local-mode specific.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
