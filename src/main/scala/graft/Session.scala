package graft

import org.apache.spark.sql.SparkSession

/** The one way to build this project's local session. Every main
  * (`Bench`, `Verify`, `Explain`, the Stress mains, the example mains)
  * and the test suites run on these settings, so a stress-ledger row,
  * a demo and a bench number all measure the same optimizer. Cores
  * come from `SPARK_GRAFT_CPUS` (default 4); the shuffle partition
  * count follows them. Log levels live in `log4j2.properties`.
  *
  * Streaming state lives in the RocksDB state-store provider, which
  * `transformWithState` (every `streaming.StatefulOps` operator)
  * requires; `dropDuplicates`, stream-stream joins and windowed
  * aggregates use it too. A query's offset log records the provider
  * it started under, and a restart keeps that one: a checkpoint
  * written under the HDFS provider restarts on this session with its
  * state intact and stays on HDFS, without touching this session's
  * conf (StreamingSpec "a checkpoint restarts on the provider it was
  * written under").
  */
object Session {
  def apply(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    // SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — measurement-only passthrough
    // (event logs, config A/Bs). Unset, it adds nothing.
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // InferFiltersFromGenerate double-evaluates expensive computed
      // generator inputs (shingle/minhash arrays) as scan-side filters
      // for zero pruning benefit on non-null computed arrays — measured
      // 5x on the trigram pipeline (NOTES round 3).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }
}
