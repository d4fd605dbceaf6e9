package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (per-suite sessions thrash the
  * JVM), built by the engine's own builder; warehouse + metastore in a fresh
  * temp dir per test run.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("graft_wh").toString
    // the per-run warehouse is disposable by construction — remove it with
    // the JVM so test runs don't accumulate table data in /tmp
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(wh))
    }, "graft-test-wh-sweep"))
    // read by the session's SparkConf, like any spark.* system property
    System.setProperty("spark.sql.warehouse.dir", wh)
    graft.core.Sessions.local(4, "graft-test")
  }

  val sfDir = "/root/testdata/sf0.001"
}
