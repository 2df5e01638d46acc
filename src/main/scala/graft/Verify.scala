package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py). A key
  * that fails does not stop the others; once everything else is
  * written, the run exits with status 1 and names the failed keys.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query keys (fast local iteration)
    val only = args.lift(2).map(_.split(",").toSet)
    val cpus = Host.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // fresh warehouse per run: stored-lifecycle gate keys create
      // managed tables, and a STALE ./spark-warehouse location from a
      // previous JVM (whose in-memory catalog died with it) would fail
      // saveAsTable with LOCATION_ALREADY_EXISTS
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_verify_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir, only)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} key(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Write every selected key's result and oracle_sql.json under
    * `outDir`; returns the keys whose query threw.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.filter(q => only.forall(_.contains(q._1))).flatMap {
      case (name, fn) =>
        val err =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name)
          }
        // release per-operator persisted frames between queries
        spark.sharedState.cacheManager.clearCache()
        err
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
