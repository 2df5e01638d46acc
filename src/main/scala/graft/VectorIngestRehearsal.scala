package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvfPq, Pipeline}

/** Scale rehearsal for the composed vector-corpus ingest step
  * ([[Pipeline.vectorIngest]]) at a 50k-vector stored IVF-PQ index —
  * the E2E spec pins semantics on the 500-row embeddings fixture;
  * this run shows the composition holding on volume with PLANTED
  * batch fractions, every classification checked against the planted
  * truth (both dedup gates are exact — id anti-join and content
  * digest — so unlike the LSH crawl rehearsal every check here is an
  * equality, not a recall model):
  *
  *  - 25% of the batch are REPLAYED ids (same vec_id, same vector) —
  *    the at-least-once redelivery shape, dropped by the id
  *    anti-join against the bucketed vecs store;
  *  - 25% are RE-SENT content under NEW vec_ids (the re-embedded
  *    duplicate document) — caught by the bloom-accelerated digest
  *    index;
  *  - 50% are genuinely new — they and ONLY they append, against the
  *    FROZEN codebooks.
  *
  * A SECOND run of the same batch must append nothing and leave the
  * stores untouched — idempotence at volume. The drift rule runs
  * both times (new vectors draw from the seed distribution, so a
  * recluster firing is legitimate either way; run 2 must not fire —
  * nothing appended). Self-checking (exit 1 on any failed check).
  *
  *   tools/run.sh graft.VectorIngestRehearsal [nCorpus] [nBatch] [outBase]
  */
object VectorIngestRehearsal {

  private val Dim = 64

  /** Deterministic nonzero embedding from a content seed. */
  private def embedding(seed: Column): Column =
    transform(sequence(lit(0), lit(Dim - 1)), d =>
      (pmod(xxhash64(concat_ws("#", seed, d)), lit(1000)) + lit(1)) / lit(1000.0))

  private def vecs(spark: SparkSession, n: Long)(idOf: Column => Column,
                                                 seedOf: Column => Column): DataFrame =
    spark.range(n).select(
      idOf(col("id")).as("vec_id"),
      embedding(seedOf(col("id"))).as("embedding"))

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(50000L)
    val b = args.lift(1).map(_.toLong).getOrElse(8000L)
    val outBase = args.lift(2).getOrElse("tmp/vector_ingest_rehearsal")
    require(n >= b, s"corpus n=$n must cover the batch's planted content range (need >= $b)")
    Rehearsals.rmTree(outBase)
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

    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def timed[T](phase: String)(body: => T): T = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[vecingest] $phase%-14s ${sec}%8.2f s")
      phases += ((phase, sec))
      out
    }

    val nRepl = b / 4             // 25% replayed ids
    val nCdup = b / 4             // 25% re-sent content under new ids
    val nNew = b - nRepl - nCdup  // 50% genuinely new
    System.err.println(s"[vecingest] corpus=$n batch=$b " +
      s"(replayed=$nRepl content-dup=$nCdup new=$nNew)")

    val name = "vecrix"
    val seedCorpus = vecs(spark, n)(identity, identity)
    timed("index_build")(Pipeline.initVectorIngest(seedCorpus, name,
      nlist = 32, m = 8, ks = 64, buckets = 32))

    // replayed: ids+content 0..; content dups copy corpus seeds b..
    // under fresh ids; new vectors use seeds n.. (never in the corpus)
    val batch = vecs(spark, nRepl)(identity, identity)
      .unionByName(vecs(spark, nCdup)(i => i + n, i => i + b))
      .unionByName(vecs(spark, nNew)(i => i + 2 * n, i => i + n))
      .localCheckpoint()

    val r1 = timed("ingest_run1")(Pipeline.vectorIngest(batch, name))
    val vecsAfter1 = spark.table(s"${name}_vecs").count()
    val codesAfter1 = spark.table(s"${name}_codes").count()
    val r2 = timed("ingest_run2")(Pipeline.vectorIngest(batch, name))
    val vecsAfter2 = spark.table(s"${name}_vecs").count()

    // the grown index still answers: a stored-index query over a few
    // seed vectors must return exactly k ranked neighbors each with
    // sane fixed-point cosines (structural sanity — the index has no
    // exact twins BY CONSTRUCTION, content dedup removed them; recall
    // quality is the recallGate key's job, not this rehearsal's)
    val qOk = timed("query_sanity") {
      val q = seedCorpus.filter(col("vec_id") < 5)
      val hits = IvfPq.queryIndex(q, name, nprobe = 4, k = 3, shortlist = 30).collect()
      hits.length == 15 &&
        hits.forall(r => r.getAs[Long]("cos_fs") <= 1000000L && r.getAs[Long]("rnk") <= 3L)
    }

    val checks = Seq(
      "run1_counts_match_planted" ->
        (r1 == Pipeline.VectorIngestReport(b, nRepl, nCdup, nNew, r1.reclustered)),
      "run1_vecs_grew_by_new" -> (vecsAfter1 == n + nNew),
      "run1_codes_match_vecs" -> (codesAfter1 == vecsAfter1),
      "run2_idempotent" ->
        (r2 == Pipeline.VectorIngestReport(b, nRepl + nNew, nCdup, 0L, false)),
      "run2_stores_untouched" -> (vecsAfter2 == vecsAfter1),
      "query_sanity" -> qOk)
    val allPass = checks.forall(_._2)

    val checkJson = checks.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val phaseJson = phases.map { case (k, s) =>
      s""""$k":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(s))}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"vector_ingest_rehearsal","n_corpus":$n,"n_batch":$b,""" +
      s""""planted":{"replayed":$nRepl,"content_dup":$nCdup,"new":$nNew},""" +
      s""""run1":{"known_id":${r1.nKnownId},"known_content":${r1.nKnownContent},""" +
      s""""appended":${r1.nAppended},"reclustered":${r1.reclustered}},""" +
      s""""run2":{"known_id":${r2.nKnownId},"appended":${r2.nAppended}},""" +
      s""""all_checks_pass":$allPass,"checks":$checkJson,"phases":$phaseJson,"cpus":"$cpus"}""")
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
