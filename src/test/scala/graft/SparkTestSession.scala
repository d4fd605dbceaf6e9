package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (per-suite sessions thrash the
  * JVM), built by the engine's own builder; warehouse + metastore in a fresh
  * directory under the per-JVM test root, removed with it on exit.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val wh = Fixtures.tempDir("graft_wh").toString
    // read by the session's SparkConf, like any spark.* system property
    System.setProperty("spark.sql.warehouse.dir", wh)
    graft.core.Sessions.local(4, "graft-test")
  }

  val sfDir = "/root/testdata/sf0.001"
}
