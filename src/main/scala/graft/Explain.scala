package graft

/** Dev tool: print a query key's EXECUTED plan (post-AQE when the
  * second arg is `run`) — the `.explain` feedback loop the build
  * discipline requires (SURVEY §4): check exchanges, reuse, pushdown,
  * codegen spans after every operator change.
  *
  * Usage: graft.Explain <queryKey> [run|plan|fmt] [sfDir] [outFile]
  *        graft.Explain <pagerank|dupclusters|kcore> iter [sfDir] [outFile]
  *
  * `fmt` materializes through noop (so AQE finalizes), then prints the
  * FORMATTED plan (`explain("formatted")` — numbered operators, pushed
  * filters, read schema, exchange partitioning); with a 4th arg the
  * formatted text is also written to that file (the plans/rNN/
  * before/after artifact the optimization rounds commit). Multiple
  * comma-separated keys are accepted in fmt mode; outFile then gets
  * `_<key>` inserted per key.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val mode = if (args.length > 1) args(1) else "run"
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = Session()
    if (mode == "iter") {
      // ITERATION-level plan for the fixpoint operators: the
      // declared-query dumps only show the post-checkpoint final stage.
      // Builds the first round from the same edge pipeline the consumer
      // keys use — through the operator's own seed and round functions —
      // and dumps its executed plan. Keys: `pagerank` (q115's edge set)
      // | `dupclusters` | `kcore` (the LSH pairs of q123 and q225).
      import org.apache.spark.sql.functions._
      import graft.operators.{Checkpoints, PageRank, TextDedup}
      val out = if (args.length > 3) Some(args(3)) else None
      lazy val pairs = TextDedup.lshCandidatePairs(TextDedup.minhashSignatures(
        Tables.documents(spark, sfDir), "doc_id", "text"), "doc_id")
      val frame = key match {
        case "pagerank" =>
          // q115's bipartite customer–supplier edge set
          val dir = Tables.orders(spark, sfDir)
            .join(Tables.lineitem(spark, sfDir),
              col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey").cast("long") * 2).as("src"),
              (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
          // seeded in PageRank's own AQE-off session, as run does
          val seed = PageRank.seed(
            TextDedup.undirectedEdges(dir, "src", "dst").distinct())
          PageRank.round(seed, 0.85)(Checkpoints.truncate(seed.ranks))
        case "dupclusters" =>
          val edges = Checkpoints.truncate(TextDedup.undirectedEdges(pairs))
          TextDedup.dupClustersRound(edges)(
            Checkpoints.truncate(TextDedup.dupClustersSeed(edges)))._1
        case "kcore" =>
          TextDedup.kCoreRound(2)(
            Checkpoints.truncate(TextDedup.kCoreSeed(pairs)))._1
        case other => sys.error(s"iter mode: unknown operator '$other' " +
          "(expected pagerank | dupclusters | kcore)")
      }
      frame.write.format("noop").mode("overwrite").save()
      val txt = frame.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"=== $key (one iteration) ===")
      println(txt)
      out.foreach(o =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(o), txt))
      spark.stop(); return
    }
    if (mode == "fmt") {
      val out = if (args.length > 3) Some(args(3)) else None
      key.split(",").map(_.trim).filter(_.nonEmpty).foreach { k =>
        val df = SparkEntry.queries(k)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        println(s"=== $k ===")
        println(txt)
        out.foreach { o =>
          val p = if (key.contains(",")) {
            val dot = o.lastIndexOf('.')
            if (dot > 0) o.substring(0, dot) + "_" + k + o.substring(dot)
            else o + "_" + k
          } else o
          java.nio.file.Files.writeString(java.nio.file.Paths.get(p), txt)
        }
      }
      spark.stop(); return
    }
    val df = SparkEntry.queries(key)(spark, sfDir)
    if (mode == "run") {
      // materialize so AQE finalizes the plan (ReusedExchange,
      // runtime broadcasts, skew splits only appear post-execution)
      df.write.format("noop").mode("overwrite").save()
    }
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
