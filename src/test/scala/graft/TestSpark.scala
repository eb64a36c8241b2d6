package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (FIXTURES.md §B), built
  * the way every entry point builds its own. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
}
