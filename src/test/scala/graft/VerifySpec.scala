package graft

import java.nio.file.{Files, Path, Paths}

/** The correctness dump reports a failing key instead of hiding it. */
class VerifySpec extends SparkSpec {

  test("dump writes the passing keys and oracle_sql.json, and returns the failing key") {
    // a table directory holding lineitem only: q1_agg (lineitem) runs,
    // q3_join_agg (customer ⋈ orders ⋈ lineitem) cannot
    val sf = Files.createTempDirectory("graft_verify_sf")
    Files.createSymbolicLink(sf.resolve("lineitem.parquet"),
      Paths.get(sfDir, "lineitem.parquet").toAbsolutePath)
    val out: Path = Files.createTempDirectory("graft_verify_out")
    try {
      val failed = Verify.dump(spark, sf.toString, out.toString,
        Some(Set("q1_agg", "q3_join_agg")))
      assert(failed == Seq("q3_join_agg"))
      assert(spark.read.parquet(out.resolve("q1_agg").toString).count() > 0)
      assert(!Files.exists(out.resolve("q3_join_agg")))
      val json = Files.readString(out.resolve("oracle_sql.json"))
      assert(SparkEntry.oracleSql.keys.forall(k => json.contains("\"" + k + "\":")),
        "oracle_sql.json must name every oracle key")
    } finally Seq(sf, out).foreach(d => Rehearsals.rmTree(d.toString))
  }
}
