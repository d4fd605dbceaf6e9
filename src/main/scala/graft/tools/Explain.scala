package graft.tools

import graft.SparkEntry
import graft.core.Sessions

/** Dump `explain(formatted)` for selected queries (dev utility for the
  * pushdown/broadcast/codegen audit).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local()
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
