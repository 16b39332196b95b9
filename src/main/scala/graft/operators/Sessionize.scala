package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization as a library call — gaps-and-islands per-event
  * session ids (the reusable form of q105; the streaming twin is
  * `streaming.StatefulOps.sessionizeStreamTws`). An event more than
  * `gapSec` after the key's previous event opens a new session; ids
  * are 1-based per key in time order.
  *
  * Scale: both windows partition on the (high-cardinality) key with
  * identical ordering — one shuffle, one sort, both reused. The
  * timestamp column must already be at the granularity the gap is
  * measured in (cast/date_trunc upstream — this operator does not
  * guess; see SURVEY §2.0-③ on raw ns timestamps).
  */
object Sessionize {

  /** Appends int `sessCol` (default `sess`) to `df`. `orderCols` break
    * ties inside one timestamp value (pass the event id for a total
    * order — REQUIRED for deterministic ids when keys can emit several
    * events per tick). The output and scratch column names must be
    * absent from the input — an existing `sess` would be silently
    * overwritten and an existing `__brk` silently dropped otherwise. */
  def assign(df: DataFrame, keyCol: String, tsCol: String,
      gapSec: Long, orderCols: Seq[String] = Seq.empty,
      sessCol: String = "sess"): DataFrame = {
    require(gapSec > 0, s"gapSec must be positive, got $gapSec")
    require(!df.columns.contains(sessCol),
      s"Sessionize.assign: input already has a '$sessCol' column — pass a different sessCol")
    require(!df.columns.contains("__brk"),
      "Sessionize.assign: input already has the scratch column '__brk'")
    val order: Seq[Column] = col(tsCol) +: orderCols.map(col)
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // first event of a key: lag is NULL -> condition NULL -> 0 breaks
    df.withColumn("__brk",
        when(col(tsCol).cast("long")
          - lag(col(tsCol).cast("long"), 1).over(w) > gapSec, 1)
          .otherwise(0))
      .withColumn(sessCol, (sum("__brk").over(wCum) + 1).cast("int"))
      .drop("__brk")
  }
}
