package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ExactIndex, Pipeline}
import graft.sources.Sinks

/** Scale rehearsal for the composed incremental-crawl step
  * ([[Pipeline.ingest]]) at a 100k-doc stored corpus — the E2E spec
  * pins the semantics on a 6-doc fixture; this run shows the
  * composition holding on real volume with PLANTED churn fractions,
  * every classification checked against the planted truth:
  *
  *  - 25% of the batch are UNCHANGED re-crawls (same doc_id, same
  *    text) — the bulk of any real re-crawl, dropped by the snapshot
  *    churn before any dedup work;
  *  - 5% are CHANGED re-crawls (same doc_id, new text) — reported,
  *    never silently double-appended;
  *  - 25% are EXACT dups of stored content under NEW doc_ids — the
  *    bloom-accelerated exact index catches every one (content
  *    equality is deterministic: the check is exact);
  *  - 10% are NEAR-dups of stored docs under new ids (one token of
  *    60 mutated ⇒ 2-gram Jaccard ≥ 57/61 ≈ 0.93, above the 0.9
  *    verify) — caught through the stored LSH index; banding is
  *    recall-modeled, so the check is ≥ 98% caught rather than
  *    equality, with the measured count reported;
  *  - 35% are genuinely new — they and ONLY they (plus any modeled
  *    banding misses) may append.
  *
  * A SECOND run of the same batch must accept nothing and leave every
  * store untouched — idempotence at volume, not just on the fixture.
  *
  * Self-checking (exit 1 on any failed check).
  *
  *   tools/run.sh graft.IngestRehearsal [nCorpus] [nBatch] [outBase]
  */
object IngestRehearsal {

  /** Deterministic 60-token doc text from a content seed; `mutId >= 0`
    * replaces the token at a mutId-derived position with a unique
    * token (the near-dup generator — same shape as
    * [[ScaleRehearsal.synthesize]]'s cluster mutation).
    */
  private def docText(seed: Column, mutId: Column): Column = {
    val toks = transform(sequence(lit(0), lit(59)), i =>
      concat(lit("w"), pmod(xxhash64(concat_ws("#", seed, i)), lit(20000))))
    val pos = pmod(xxhash64(concat_ws("#", lit("mut"), mutId)), lit(60))
    val mutated = zip_with(toks, sequence(lit(0), lit(59)), (t, i) =>
      when(mutId >= 0 && i === pos, concat(lit("u"), mutId)).otherwise(t))
    array_join(mutated, " ")
  }

  private def docs(spark: SparkSession, n: Long)(idOf: Column => Column,
                                                 seedOf: Column => Column,
                                                 mutOf: Column => Column): DataFrame =
    spark.range(n).select(
      idOf(col("id")).as("doc_id"),
      docText(seedOf(col("id")), mutOf(col("id"))).as("text"))

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(100000L)
    val b = args.lift(1).map(_.toLong).getOrElse(20000L)
    val outBase = args.lift(2).getOrElse("tmp/ingest_rehearsal")
    require(n >= 2 * b, s"corpus n=$n must cover the batch's planted seed ranges (need >= ${2 * b})")
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
      System.err.println(f"[ingest] $phase%-14s ${sec}%8.2f s")
      phases += ((phase, sec))
      out
    }

    // planted batch composition
    val nUnch = b / 4          // 25% unchanged re-crawls (doc_ids 0..)
    val nChg = b / 20          // 5% changed re-crawls
    val nExact = b / 4         // 25% exact dups under new ids
    val nNear = b / 10         // 10% near-dups under new ids
    val nNew = b - nUnch - nChg - nExact - nNear // 35% genuinely new
    System.err.println(s"[ingest] corpus=$n batch=$b " +
      s"(unchanged=$nUnch changed=$nChg exact=$nExact near=$nNear new=$nNew)")

    val name = "ingestrix"
    val corpus = docs(spark, n)(identity, identity, _ => lit(-1L))
    timed("corpus_write")(Sinks.writeBucketed(corpus, s"${name}_corpus", "doc_id", 64))
    timed("exact_write")(ExactIndex.write(spark.table(s"${name}_corpus"), s"${name}_exact"))
    timed("lsh_write")(Dedup.writeNgramLshIndex(spark.table(s"${name}_corpus"), s"${name}_lsh"))

    // seeds: unchanged reuse corpus seeds 0..; changed draw from a
    // disjoint 10^9 namespace; exact dups copy corpus seeds 10000..;
    // near-dups mutate corpus seeds b..; new docs use seeds n.. (never
    // in the corpus)
    val batch = docs(spark, nUnch)(identity, identity, _ => lit(-1L))
      .unionByName(docs(spark, nChg)(i => i + nUnch, i => i + nUnch + 1000000000L, _ => lit(-1L)))
      .unionByName(docs(spark, nExact)(i => i + n, i => i + 10000L, _ => lit(-1L)))
      .unionByName(docs(spark, nNear)(i => i + 2 * n, i => i + b, i => i + b))
      .unionByName(docs(spark, nNew)(i => i + 3 * n, i => i + n, _ => lit(-1L)))
      .localCheckpoint()

    val r1 = timed("ingest_run1")(Pipeline.ingest(batch, name))
    val corpusAfter1 = spark.table(s"${name}_corpus").count()
    val r2 = timed("ingest_run2")(Pipeline.ingest(batch, name))
    val corpusAfter2 = spark.table(s"${name}_corpus").count()
    // applyChanged at volume: the 1000 changed re-crawls retract and
    // re-process (their new texts are genuinely new, so each re-adds
    // 1:1 — the corpus size is invariant), paying the documented
    // LSH-rewrite + corpus-rewrite retraction cost at 100k scale
    val r3 = timed("ingest_run3_apply")(Pipeline.ingest(batch, name, applyChanged = true))
    val corpusAfter3 = spark.table(s"${name}_corpus").count()
    val r4 = timed("ingest_run4_apply")(Pipeline.ingest(batch, name, applyChanged = true))
    val corpusAfter4 = spark.table(s"${name}_corpus").count()

    val checks = Seq(
      "run1_unchanged" -> (r1.nUnchanged == nUnch),
      "run1_changed" -> (r1.nChanged == nChg),
      "run1_added" -> (r1.nAdded == nExact + nNear + nNew),
      "run1_exact_dups_all_caught" -> (r1.nExactDup == nExact),
      "run1_near_dups_modeled_recall" ->
        (r1.nNearDup <= nNear && r1.nNearDup >= (nNear * 98) / 100),
      "run1_accepted_arithmetic" ->
        (r1.nAccepted == r1.nAdded - r1.nExactDup - r1.nNearDup),
      "run1_corpus_grew_by_accepted" -> (corpusAfter1 == n + r1.nAccepted),
      "run2_idempotent" -> (r2.nAccepted == 0L),
      "run2_accepted_now_unchanged" -> (r2.nUnchanged == nUnch + r1.nAccepted),
      "run2_corpus_untouched" -> (corpusAfter2 == corpusAfter1),
      "run3_changed_applied" -> (r3.nChangedApplied == nChg && r3.nAccepted == nChg),
      "run3_corpus_size_invariant" -> (corpusAfter3 == corpusAfter2),
      "run4_apply_idempotent" ->
        (r4.nChanged == 0L && r4.nAccepted == 0L && corpusAfter4 == corpusAfter3))
    val allPass = checks.forall(_._2)

    val checkJson = checks.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val phaseJson = phases.map { case (k, s) =>
      s""""$k":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(s))}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"ingest_rehearsal","n_corpus":$n,"n_batch":$b,""" +
      s""""planted":{"unchanged":$nUnch,"changed":$nChg,"exact":$nExact,"near":$nNear,"new":$nNew},""" +
      s""""run1":{"unchanged":${r1.nUnchanged},"changed":${r1.nChanged},"exact_dup":${r1.nExactDup},""" +
      s""""near_dup":${r1.nNearDup},"accepted":${r1.nAccepted},"compacted":${r1.compacted}},""" +
      s""""run2":{"accepted":${r2.nAccepted},"unchanged":${r2.nUnchanged}},""" +
      s""""run3_apply":{"changed_applied":${r3.nChangedApplied},"accepted":${r3.nAccepted}},""" +
      s""""run4_apply":{"changed":${r4.nChanged},"accepted":${r4.nAccepted}},""" +
      s""""all_checks_pass":$allPass,"checks":$checkJson,"phases":$phaseJson,"cpus":"$cpus"}""")
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
