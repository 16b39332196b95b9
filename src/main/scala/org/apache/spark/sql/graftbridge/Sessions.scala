package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** The two `private[sql]` session entry points graft's operators use,
  * opened here because they live behind Spark's package boundary. */
object Sessions {

  /** A copy of `spark`'s session state — conf, temp views, functions,
    * listeners — sharing its SparkContext and cache. Conf written on the
    * clone stays there. (`newSession` would start from SparkConf
    * defaults and drop the caller's runtime conf.) */
  def cloneOf(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s plan as a frame of session `to` (same SparkContext): it is
    * planned and executed under `to`'s conf. */
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    classic.Dataset.ofRows(to.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
