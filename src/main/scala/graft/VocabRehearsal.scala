package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, TextAnalysis, VocabTable}

/** Scale rehearsal for the stored-vocabulary tier beyond the driver's
  * sf0.1 corpus (the r17 verdict's Missing #4: every other stored
  * tier has an 8M–21M-row rehearsal with closed-form truth; the vocab
  * tier's claims were spec-scale only): a deterministic spark.range
  * corpus — every token a pure function of (doc_id, position), so the
  * vocabulary's (doc_freq, total_count) distribution has CLOSED-FORM
  * truth with no second engine — drives the full lifecycle at 1M+
  * docs / ~23M token occurrences / ~3.1M word types:
  *
  *   write + stamped appends → stored ≡ one-shot at volume →
  *   stamped replay no-op → trainFromCounts ≡ train at a PRODUCTION
  *   merge count (3000) → the maintain loop's quiet/drift/replay
  *   cycle.
  *
  * Data model at D docs (D a multiple of 16384), T = 22 tokens each,
  * K = 16384 core word types `w` + base-4(k) over 7 chars:
  *  - positions 0..15: core token (doc_id + i) mod K — each core type
  *    lands in exactly 16·D/K docs, once per position;
  *  - positions 16..18: the position-0 token again (3 repeats), so
  *    doc_freq < total_count distinguishes the two counts;
  *  - positions 19..21: doc-unique tokens u<doc>_<j>.
  *
  * Closed form: core types count K with (doc_freq, total_count) =
  * (16·D/K, 19·D/K) — at D = 2^20: (1024, 1216) — and unique types
  * count 3·D with (1, 1). The BPE-parity phase runs BOTH paths at
  * 3000 merges (the production scale the r17 default of 10 was not):
  * the word population (base-4 core + digit-string uniques) is
  * compositionally rich enough that neither path exhausts early, and
  * the stored-counts path must reproduce the corpus path
  * merge-for-merge. All stored-table probes (oovReport's anti-join,
  * the maintain loop) run against the token-bucketed table — cost ∝
  * batch, never corpus, which is the tier's 100 TB posture.
  *
  *   tools/run.sh graft.VocabRehearsal [D] [numMerges]
  */
object VocabRehearsal {

  private val K = 16384
  private val Name = "vocab_rehearsal"

  def main(args: Array[String]): Unit = {
    val d = args.lift(0).map(_.toLong).getOrElse(1048576L)
    val merges = args.lift(1).map(_.toInt).getOrElse(3000)
    require(d % K == 0 && d >= 4L * K, s"D=$d must be a multiple of $K, >= ${4 * K}")
    val cpus = Host.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // managed count tables: fresh warehouse per run (the
      // LOCATION_ALREADY_EXISTS lesson shared by every rehearsal)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("vocab_rehearsal_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def timed[R](phase: String)(body: => R): R = {
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[vocab] $phase%-18s ${sec}%8.2f s")
      phases += ((phase, sec))
      out
    }

    // ---- the planted corpus (pure function of (doc_id, pos)) ----------
    val abc = typedlit(Seq("a", "b", "c", "d"))
    def base4(m: org.apache.spark.sql.Column) =
      concat_ws("", transform(sequence(lit(6), lit(0), lit(-1)),
        j => element_at(abc, ((m.cast("long") / pow(lit(4), j).cast("long"))
          .cast("long") % 4 + 1).cast("int"))))
    def coreTok(m: org.apache.spark.sql.Column) = concat(lit("w"), base4(m))
    def tokenAt(i: org.apache.spark.sql.Column) =
      when(i <= 15, coreTok((col("doc_id") + i) % K))
        .when(i <= 18, coreTok(col("doc_id") % K))
        .otherwise(concat(lit("u"), col("doc_id").cast("string"), lit("_"),
          (i - 19).cast("string")))
    def docsRange(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id").as("doc_id"))
        .select(col("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(21)), i => tokenAt(i))).as("text"))
    def docs = docsRange(0L, d)

    val expect = Map(
      (16L * (d / K), 19L * (d / K)) -> K.toLong, // core
      (1L, 1L) -> 3L * d) // doc-unique tail
    def grouped(v: DataFrame): Map[(Long, Long), Long] =
      v.groupBy(col("doc_freq"), col("total_count")).count().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def fingerprint(): (Long, Long, Long) = {
      val r = VocabTable.vocabularyFromTable(spark, Name)
        .agg(count(lit(1)), sum(col("doc_freq")), sum(col("total_count"))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // ---- the one-shot at volume matches the closed form ---------------
    val directOk = timed("direct") { grouped(TextAnalysis.vocabulary(docs)) == expect }

    // ---- stored lifecycle: write + 2 stamped whole-doc-grain appends --
    timed("store-build") {
      VocabTable.writeVocabTable(spark, Name, docsRange(0L, d / 2), buckets = 32)
      VocabTable.appendToVocabTable(spark, Name, docsRange(d / 2, 3 * d / 4), batchId = 1L)
      VocabTable.appendToVocabTable(spark, Name, docsRange(3 * d / 4, d), batchId = 2L)
    }
    val storedClosedOk = timed("stored-closed-form") {
      grouped(VocabTable.vocabularyFromTable(spark, Name)) == expect
    }
    val storedDirectOk = timed("stored-vs-direct") {
      val stored = VocabTable.vocabularyFromTable(spark, Name)
      val direct = TextAnalysis.vocabulary(docs)
      stored.exceptAll(direct).count() == 0L && direct.exceptAll(stored).count() == 0L
    }
    val replayOk = timed("replay") {
      val before = fingerprint()
      VocabTable.appendToVocabTable(spark, Name, docsRange(3 * d / 4, d), batchId = 2L)
      fingerprint() == before
    }

    // ---- BPE: stored counts ≡ corpus at a production merge count ------
    val fromStore = timed("bpe-from-counts") {
      Bpe.trainFromCounts(
        VocabTable.vocabularyFromTable(spark, Name)
          .select(col("token").as("word"), col("total_count").as("weight")),
        merges).collect().map(_.toSeq).toSeq
    }
    val fromCorpus = timed("bpe-from-corpus") {
      Bpe.train(docs, merges).collect().map(_.toSeq).toSeq
    }
    val bpeParityOk = fromStore.nonEmpty && fromStore == fromCorpus
    val bpeFullOk = fromStore.length == merges // neither path exhausted early

    // ---- the maintain loop: quiet, drift-fire, stamped replay ---------
    // quiet batch: fresh docs whose 16 core tokens are all stored
    val quiet = spark.range(d, d + 4096L).select(col("id").as("doc_id"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), lit(15)), i => coreTok((col("doc_id") + i) % K))).as("text"))
    // drifted batch: an unseen alphabet ("v" prefix) — 100% OOV
    val drift = spark.range(d + 4096L, d + 8192L).select(col("id").as("doc_id"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), lit(15)),
          i => concat(lit("v"), base4((col("doc_id") + i) % K)))).as("text"))
    val quietOk = timed("maintain-quiet") {
      !VocabTable.maintainVocabTable(spark, Name, quiet, batchId = 10L, numMerges = 256) &&
        !spark.catalog.tableExists(s"${Name}_merges")
    }
    val driftOk = timed("maintain-drift") {
      VocabTable.maintainVocabTable(spark, Name, drift, batchId = 11L, numMerges = 256) &&
        VocabTable.mergesFromTable(spark, Name).count() > 0L
    }
    val maintainReplayOk = timed("maintain-replay") {
      val before = fingerprint()
      !VocabTable.maintainVocabTable(spark, Name, drift, batchId = 11L, numMerges = 256) &&
        fingerprint() == before
    }

    val allPass = directOk && storedClosedOk && storedDirectOk && replayOk &&
      bpeParityOk && bpeFullOk && quietOk && driftOk && maintainReplayOk
    val phaseJson = phases.map { case (k, s) => s""""$k":${f"$s%.2f"}""" }.mkString("{", ",", "}")
    println(s"""{"rehearsal":"vocab","docs":$d,"word_types":${K + 3 * d},""" +
      s""""num_merges":$merges,"all_checks_pass":$allPass,""" +
      s""""checks":{"direct_closed_form":$directOk,"stored_closed_form":$storedClosedOk,""" +
      s""""stored_vs_direct":$storedDirectOk,"stamped_replay_noop":$replayOk,""" +
      s""""bpe_counts_vs_corpus":$bpeParityOk,"bpe_full_budget":$bpeFullOk,""" +
      s""""maintain_quiet":$quietOk,"maintain_drift_fires":$driftOk,""" +
      s""""maintain_replay_noop":$maintainReplayOk},"phases":$phaseJson,"cpus":"$cpus"}""")
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
