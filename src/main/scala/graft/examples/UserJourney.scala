package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.{Funnel, Sessionize}

/** Per-user journey features from a raw CDC event stream — the
  * operators composed the way a feature-store materialization would
  * chain them (the behavioral sibling of `CleanCorpus`):
  *
  *   1. sessionize      — gaps-and-islands session ids per user
  *                        (`Sessionize.assign`, q105's operator)
  *   2. session stats   — per-session event count / duration / value
  *   3. user rollup     — session counts, mean session shape, totals
  *   4. funnel          — strict-order conversion over the stage list
  *                        (`Funnel.strictOrder`, q116's operator)
  *
  * Every aggregate and join keys on user_id, so the whole pipeline is
  * ONE key-partitioning reused end-to-end (the sessionize window sort,
  * both rollups and the funnel join co-locate); nothing re-shuffles.
  *
  * Invariants (pinned by UserJourneySpec): one row per user, event
  * counts conserved, n_sessions equals the sessionizer's max id,
  * `converted` agrees with the standalone funnel.
  */
object UserJourney {

  def run(events: DataFrame, gapSec: Long = 1800L,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    val e = events.withColumn("tsec", date_trunc("second", col("ts")))
    val sess = Sessionize.assign(e, "user_id", "tsec", gapSec,
      orderCols = Seq("event_id"))
    val sessStats = sess.groupBy("user_id", "sess")
      .agg(count(lit(1)).as("n_ev"),
        (max(col("tsec").cast("long")) - min(col("tsec").cast("long")))
          .as("dur_s"),
        sum("value").as("sv"))
    val userStats = sessStats.groupBy("user_id")
      .agg(count(lit(1)).cast("int").as("n_sessions"),
        sum("n_ev").as("n_events"),
        round(avg("n_ev"), 4).as("avg_sess_events"),
        round(avg("dur_s"), 4).as("avg_sess_dur_s"),
        round(sum("sv"), 2).as("total_value"))
    val conv = Funnel.strictOrder(e, "user_id", "event_type", "tsec", stages)
      .select(col("user_id"), col("converted"))
    userStats.join(conv, Seq("user_id"), "left")
      .na.fill(0, Seq("converted"))
  }

  /** Demo main: feature table from the fixture events, print shape. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session()
    val out = run(Tables.events(spark, sfDir))
    println(s"users=${out.count()} converted=${
      out.where(col("converted") === 1).count()}")
    spark.stop()
  }
}
