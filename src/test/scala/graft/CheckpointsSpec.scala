package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Checkpoints, PageRank, TextDedup}

/** The lineage-truncation fault-tolerance contract (round 13 —
  * VERDICT r12 item 5): iterative operators localCheckpoint by
  * default (fast, no executor-loss recovery) and switch to RELIABLE
  * checkpoints when the session sets `spark.graft.checkpoint.dir` —
  * results identical either way (so the Fixpoint probe, read from an
  * observation on the checkpoint job, arrives under both modes), and
  * the reliable path must actually write recovery state into the
  * configured directory. */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pairs(ps: (Long, Long)*): DataFrame = ps.toDF("a_id", "b_id")

  private def rows(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def clusters(): Map[Long, Long] =
    rows(TextDedup.dupClusters(pairs((7L, 9L), (5L, 9L), (1L, 2L), (2L, 3L))))

  // a triangle with a pendant node: the pendant peels in round one
  private def core(): Map[Long, Long] =
    rows(TextDedup.kCore(pairs((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)), 2))

  // an asymmetric graph, so ranks differ per node: a path-dependent
  // bug in either checkpoint mode would show up
  private def ranks(): Map[String, Double] =
    PageRank.run(PageRank.undirected(
      pairs((1L, 2L), (2L, 3L), (2L, 4L), (4L, 5L)), "a_id", "b_id", "n", "n"),
      iters = 3).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("reliable escape hatch: same clusters, recovery state lands in the configured dir") {
    val want = Map(9L -> 5L, 7L -> 5L, 5L -> 5L,
      1L -> 1L, 2L -> 1L, 3L -> 1L)
    val wantCore = Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
    // default path: localCheckpoint, no conf set
    assert(spark.conf.getOption(Checkpoints.ReliableDirKey).isEmpty)
    assert(clusters() == want)
    assert(core() == wantCore)
    val localRanks = ranks()
    // reliable path: every truncate writes an RDD checkpoint under
    // the configured directory
    val dir = TestSpark.tmpDir("graft-ckpt")
    spark.conf.set(Checkpoints.ReliableDirKey, dir)
    try {
      assert(clusters() == want,
        "reliable-checkpoint run changed the result")
      assert(core() == wantCore,
        "reliable-checkpoint run changed the k-core")
      def files(): Long =
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .filter(p => p.getFileName.toString.startsWith("rdd-"))
          .count()
      assert(files() > 0,
        s"no reliable checkpoint state written under $dir")
      // PageRank's rounds run in a clone of this session: the clone
      // inherits the dir, and its final round's checkpoint is the
      // result, so the dir holds one more frame than before the call
      val before = files()
      val reliableRanks = ranks()
      assert(localRanks.keySet == reliableRanks.keySet)
      localRanks.foreach { case (k, v) =>
        assert(math.abs(v - reliableRanks(k)) < 1e-12,
          s"reliable-checkpoint run changed the rank of $k")
      }
      assert(files() > before,
        "PageRank wrote no reliable checkpoint under the session's dir")
    } finally spark.conf.unset(Checkpoints.ReliableDirKey)
  }

  test("fixpoint operators release what they pin, converged or not") {
    // a path ending in a cycle: more than one round for both operators
    val g = pairs((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    def pinned(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def leaves(df: DataFrame): Set[Int] =
      df.queryExecution.analyzed.collectLeaves()
        .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    val ops = Seq[(String, Int => DataFrame)](
      "dupClusters" -> (n => TextDedup.dupClusters(g, maxIter = n)),
      "kCore" -> (n => TextDedup.kCore(g, 2, maxIter = n)))
    for ((name, op) <- ops) {
      val before = pinned()
      intercept[IllegalStateException](op(1))
      assert((pinned() -- before).isEmpty, s"$name leaked pins when it threw")
      val out = op(20)
      assert(out.count() > 0)
      // the converged result is the one frame left pinned
      assert(pinned() -- before == leaves(out), s"$name leaked rounds")
      Checkpoints.release(out)
      assert((pinned() -- before).isEmpty, s"$name leaked its result")
    }
  }
}
