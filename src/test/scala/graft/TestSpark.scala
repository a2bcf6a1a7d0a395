package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide). */
object TestSpark {
  lazy val spark: SparkSession = Session.local(8)
  val sfDir = "/root/testdata/sf0.001"
}
