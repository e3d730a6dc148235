package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM, on the
  * shared recipe ([[BenchSession.builder]]). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = BenchSession.builder(4).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
