package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables`' per-session schema cache: a cached schema is the one
  * Spark infers, a repeated read of an unchanged table runs no Spark
  * job, a rewritten table is re-inferred, and sessions never share an
  * entry. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val sf = "/root/testdata/sf0.01"
  val fixtures = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Spark jobs that `body`, run on this thread, starts. Jobs are
    * told apart by a unique job description (other threads' jobs do
    * not carry it), and a fence job run after `body` proves the
    * listener bus delivered every earlier event. */
  def jobsOf[T](s: SparkSession)(body: => T): (T, Int) = {
    val tag = "tables-spec-" + UUID.randomUUID()
    val fence = tag + "-fence"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith(tag)).foreach(seen.add)
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(tag)
      val out = try body finally sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(fence) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(fence), "listener bus did not deliver the fence job")
      (out, seen.asScala.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }

  test("cached schema equals Spark's inferred schema for every sf0.01 table") {
    fixtures.foreach { t =>
      val path = s"$sf/$t.parquet"
      Tables.t(spark, sf, t)
      val (cached, jobs) = jobsOf(spark)(Tables.t(spark, sf, t))
      assert(jobs == 0, s"$t: a repeated read ran $jobs jobs")
      assert(cached.schema == spark.read.parquet(path).schema, s"$t: schema differs")
    }
    // events.ts is TIMESTAMP(MICROS) on disk and reads as TIMESTAMP
    // through the cached schema, with the same values
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$sf/events.parquet"), conf))
    val tsType = try {
      val onDisk = footer.getFooter.getFileMetaData.getSchema
      onDisk.getType(onDisk.getFieldIndex("ts"))
    } finally footer.close()
    tsType.getLogicalTypeAnnotation match {
      case a: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        assert(a.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS,
          s"events.ts on disk is $tsType")
      case _ => fail(s"events.ts on disk is not a parquet timestamp: $tsType")
    }
    // an unadjusted parquet timestamp infers as TIMESTAMP_NTZ
    val events = Tables.events(spark, sf)
    assert(events.schema("ts").dataType == TimestampNTZType)
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.agg(count("ts"), countDistinct("ts"), min("ts"), max("ts")).head()
    assert(stats(events) == stats(spark.read.parquet(s"$sf/events.parquet")))
  }

  test("the first read of a table version runs one job, a repeated read none") {
    val dir = TestSpark.tmpDir("tables-jobs")
    spark.range(0, 100).select(col("id"), (col("id") * 2).as("v"))
      .write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsOf(spark)(Tables.t(spark, dir, "t"))
    val (second, secondJobs) = jobsOf(spark)(Tables.t(spark, dir, "t"))
    assert(firstJobs == 1, s"first read ran $firstJobs jobs, not the one inference job")
    assert(secondJobs == 0, s"repeated read ran $secondJobs jobs")
    assert(second.schema == first.schema)
    assert(second.orderBy("id").collect().toSeq == first.orderBy("id").collect().toSeq)
  }

  test("a table rewritten with an added column is re-inferred") {
    val dir = TestSpark.tmpDir("tables-rewrite")
    spark.range(0, 10).select(col("id")).write.parquet(s"$dir/t.parquet")
    assert(Tables.t(spark, dir, "t").columns.toSeq == Seq("id"))
    spark.range(0, 10).select(col("id"), lit("x").as("added"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.t(spark, dir, "t")
    assert(after.columns.toSeq == Seq("id", "added"))
    assert(after.where(col("added") === "x").count() == 10)
  }

  test("a cloned session with another binaryAsString gets its own entry") {
    // a plain BINARY column in a file without Spark's schema metadata
    // (Spark-written files carry it, and it overrides binaryAsString)
    val dir = TestSpark.tmpDir("tables-session")
    val onDisk = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message t { required int64 id; required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/t.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(onDisk).build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(onDisk)
    try (0 until 3).foreach(i => writer.write(rows.newGroup().append("id", i.toLong).append("b", i.toString)))
    finally writer.close()
    assert(Tables.t(spark, dir, "t").schema("b").dataType == BinaryType)
    val clone = org.apache.spark.sql.graftbridge.Sessions.cloneOf(spark)
    clone.conf.set("spark.sql.parquet.binaryAsString", "true")
    val (cloned, cloneJobs) = jobsOf(clone)(Tables.t(clone, dir, "t"))
    assert(cloneJobs == 1, "the clone reused the shared session's entry")
    assert(cloned.schema("b").dataType == StringType)
    assert(cloned.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("0", "1", "2"))
    // the shared session's entry is untouched: still binary, still cached
    val (shared, sharedJobs) = jobsOf(spark)(Tables.t(spark, dir, "t"))
    assert(sharedJobs == 0)
    assert(shared.schema("b").dataType == BinaryType)
  }
}
