package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Prints the formatted physical plan of selected queries — the
  * evidence feed for PERF.md's pushdown/broadcast/shuffle audit.
  * Usage: tools/run.sh graft.PlanAudit [sfDir] [queryKey ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder().master(s"local[${Host.cpus}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      SparkEntry.queries.get(k).foreach { fn =>
        println(s"\n========== $k ==========")
        println(fn(spark, dir).queryExecution.explainString(ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}
