package graft

import org.apache.spark.sql.SparkSession

/** Single-query profiler: times one SparkEntry query in isolation,
  * N times, on one JVM — the tool for separating code-attributable
  * cost from this host's external CPU noise (see PERF.md: full-bench
  * readings swing 3–10×; an isolated repeated run with an `uptime`
  * check is the only trustworthy measurement).
  *
  * Usage: tools/run.sh graft.Profile <query> [sfDir] [runs] [explain]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val explain = args.contains("explain")
    val cpus = Host.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // fresh warehouse per run — see Verify.scala: stored-lifecycle
      // keys write managed tables, stale locations fail saveAsTable
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_profile_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      println(f"[profile] $name run $i: $dt%.2f s")
    }
    spark.stop()
  }
}
