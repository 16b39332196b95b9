package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY.md §5): the mains'
  * settings at a fixed 4 cores, so plan-shape tests do not depend on
  * the host. */
object TestSpark {
  lazy val spark: SparkSession = Session(cores = 4)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
