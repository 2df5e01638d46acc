package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosineWithNorms, l2norm, toDoubleArray}
import graft.operators.Similarity

/** Scale rehearsal for the stored-IVF CODEBOOK-DRIFT lifecycle
  * ([[Similarity.ivfDriftReport]] / [[Similarity.reclusterIvfIndex]])
  * at 100k+ vectors — the spec pins the semantics on a planted
  * 3-blob fixture; this run shows the drift rule firing and the
  * recluster paying for itself at index scale, on the same synthetic
  * embedding corpus every other vector rehearsal uses
  * ([[ScaleRehearsal.synthesizeEmbeddings]], deterministic, no RNG
  * state).
  *
  * Scenario (the crawl-pipeline failure mode the r9 verdict named):
  * build at n vectors with the [[Similarity.suggestIvfGeometry]]
  * sizing, then append n/5 vectors from a SHIFTED distribution
  * (+2.0 on every component — a new modality/domain entering the
  * crawl). The frozen build-time codebook has no centroid near the
  * new mass, so the appends smear across whichever build cells
  * border the shifted region: occupancy skews, mean assign-distance
  * climbs, and a shifted query's true neighbors scatter over many
  * lists — at a fixed small nprobe its recall vs exact truth drops
  * SILENTLY. After [[Similarity.reclusterIvfIndex]] the refreshed
  * codebook dedicates cells to the new mass and the same-nprobe
  * recall recovers; the drift baseline resets to the new build.
  *
  * Self-checking (exit 1 on any failed check): unit growth at build,
  * drift rule fires after the shifted append, recall(after) >
  * recall(before) at equal nprobe, rule quiet after recluster.
  *
  *   tools/run.sh graft.IvfDriftRehearsal [nVecs] [outBase]
  */
object IvfDriftRehearsal {

  def main(args: Array[String]): Unit = {
    val nVecs = args.lift(0).map(_.toLong).getOrElse(100000L)
    val outBase = args.lift(1).getOrElse("tmp/ivf_drift_rehearsal")
    // idempotence: a completed run leaves managed-table data under
    // $outBase/warehouse that a FRESH session's DROP TABLE IF EXISTS
    // can't see (the in-memory catalog starts empty), so the CTAS
    // would die with LOCATION_ALREADY_EXISTS on any second run —
    // clear the rehearsal dir before the session starts
    Rehearsals.rmTree(outBase)
    val nAppend = nVecs / 5
    // capped at the shifted-batch size: a fixed 500 with nAppend < 500
    // would overcount the recall denominator (nQueries*k) and deflate
    // both recall numbers at small scales
    val nQueries = math.min(500L, nAppend)
    val nprobe = 8
    val k = 10
    val dim = 64
    val cpus = Host.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$outBase/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def timed[T](phase: String)(body: => T): T = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[ivf-drift] $phase%-16s ${sec}%8.2f s")
      phases += ((phase, sec))
      out
    }

    val name = "driftidx"
    val (nlist, _) = Similarity.suggestIvfGeometry(nVecs)
    System.err.println(s"[ivf-drift] n=$nVecs nlist=$nlist append=$nAppend nprobe=$nprobe")

    val base = ScaleRehearsal.synthesizeEmbeddings(spark, nVecs, dim)
    timed("build")(Similarity.writeIvfIndex(base, name, dim = dim, nlist = nlist,
      iters = 2, buckets = 64))
    val r0 = Similarity.ivfDriftReport(spark, name).head()

    // the shifted batch: same generator, new id space, +2.0 on every
    // component — far outside the build's [-1, 1] cube
    val shifted = ScaleRehearsal.synthesizeEmbeddings(spark, nAppend, dim)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => (x + lit(2.0f)).cast("float")).as("embedding"))
    timed("append")(Similarity.appendToIvfIndex(shifted, name))
    val r1 = Similarity.ivfDriftReport(spark, name).head()
    val needsAfterAppend = Similarity.ivfNeedsRecluster(spark, name)

    // recall of the stored index vs EXACT truth over the same stored
    // corpus, for queries from the shifted mass; truth ranks exactly
    // as ivfAgainstIndex does (floor-1e4 cosine, c_id tie-break)
    val queries = shifted.filter(col("vec_id") < 10000000L + nQueries)
    def recallAtNprobe(): Double = {
      val got = Similarity.ivfAgainstIndex(queries, name, nprobe = nprobe, k = k)
        .select(col("q_id"), col("c_id"))
      val q = queries.select(col("vec_id").as("q_id"),
          toDoubleArray(col("embedding")).as("qv"))
        .withColumn("qn", l2norm(col("qv")))
      val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos_fs").desc, col("c_id"))
      val truth = spark.table(s"${name}_lists").crossJoin(broadcast(q))
        .filter(col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"),
          floor(lit(10000.0) * cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
            .as("cos_fs"))
        .withColumn("rnk", row_number().over(byQ))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("c_id"))
      val hit = got.join(truth, Seq("q_id", "c_id"), "left_semi").count()
      hit.toDouble / (nQueries.toLong * k)
    }
    val recallBefore = timed("recall_drifted")(recallAtNprobe())
    timed("recluster")(Similarity.reclusterIvfIndex(spark, name, iters = 2))
    val recallAfter = timed("recall_reclustered")(recallAtNprobe())
    val r2 = Similarity.ivfDriftReport(spark, name).head()
    val needsAfterRecluster = Similarity.ivfNeedsRecluster(spark, name)

    val checks = scala.collection.immutable.ListMap(
      "build_unit_growth" -> (math.abs(r0.getAs[Double]("dist_growth") - 1.0) < 1e-9),
      "drift_rule_fires" -> needsAfterAppend,
      "recall_degrades_then_recovers" -> (recallAfter > recallBefore),
      "rule_quiet_after_recluster" -> !needsAfterRecluster,
      "corpus_preserved" ->
        (spark.table(s"${name}_lists").count() == nVecs + nAppend))
    checks.collect { case (c, false) => c }
      .foreach(c => System.err.println(s"[ivf-drift] CHECK FAILED $c"))
    val allPass = checks.values.forall(identity)
    val phaseJson = phases.map { case (p, s) => s""""$p":${fmt(s)}""" }.mkString("{", ",", "}")
    val checkJson = checks.map { case (c, v) => s""""$c":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"ivf_drift_rehearsal","n":$nVecs,"n_append":$nAppend,""" +
      s""""nlist":$nlist,"nprobe":$nprobe,"recall_before":${fmt(recallBefore)},""" +
      s""""recall_after":${fmt(recallAfter)},""" +
      s""""dist_growth_drifted":${fmt(r1.getAs[Double]("dist_growth"))},""" +
      s""""skew_growth_drifted":${fmt(r1.getAs[Double]("skew_growth"))},""" +
      s""""dist_growth_reclustered":${fmt(r2.getAs[Double]("dist_growth"))},""" +
      s""""all_checks_pass":$allPass,"checks":$checkJson,"phases":$phaseJson,""" +
      s""""cpus":"$cpus"}""")
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
