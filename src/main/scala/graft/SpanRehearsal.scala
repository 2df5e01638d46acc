package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Scale rehearsal for the exact-substring span tier beyond the
  * driver's sf0.1 corpus: a deterministic spark.range document corpus
  * (every token a pure function of (doc_id, position) — closed-form
  * truth, no second engine) drives [[TextAnalysis.spanDedup]] and
  * [[TextAnalysis.spanDedupApply]] at 200k+ docs / ~10M tokens
  * (400× the gate corpus's document count).
  *
  * Data model at D docs × 48 tokens, engine defaults n=8 / minDocs=2 /
  * minSpan=16:
  *  - doc_id % 4 == 0: the 16-token family boilerplate (b0..b15) at
  *    offset 8;
  *  - doc_id % 4 == 1: the SAME block at offset 20 — the
  *    alignment-independence case stride-anchored passage dedup
  *    cannot see;
  *  - doc_id % 4 == 2: an 8-token shared phrase (s0..s7) at offset 16
  *    — exactly one shared gram, span 8 < 16, filtered as noise;
  *  - doc_id % 4 == 3: fully unique.
  *  All other tokens are u<doc>_<pos>, globally unique, so the only
  *  cross-doc grams are the planted ones (straddling grams carry a
  *  unique neighbor).
  *
  * Closed form per slot: (n_spans, dup_tokens, kept_tokens) =
  * (1, 16, 32) for slots 0/1 and (0, 0, 48) for 2/3 — checked for
  * EVERY doc via one groupBy over the accounting output; the rewrite
  * is checked doc-for-doc against the accounting (n_kept = n_tokens −
  * dup_tokens) and byte-for-byte (clean_md5) against driver-recomputed
  * expected strings for one sampled doc per slot. The boilerplate gram
  * hashes are deliberately HOT keys (D/2 docs share each of the 9
  * block grams) — the shape a real licence-block corpus feeds the
  * shared-gram groupBy and join.
  *
  *   tools/run.sh graft.SpanRehearsal [D]
  */
object SpanRehearsal {

  private val T = 48

  private def expTokens(id: Long): IndexedSeq[String] = (0 until T).map { i =>
    (id % 4) match {
      case 0 if i >= 8 && i <= 23 => s"b${i - 8}"
      case 1 if i >= 20 && i <= 35 => s"b${i - 20}"
      case 2 if i >= 16 && i <= 23 => s"s${i - 16}"
      case _ => s"u${id}_$i"
    }
  }

  private def expClean(id: Long): String = {
    val drop: Int => Boolean = (id % 4) match {
      case 0 => i => i >= 8 && i <= 23
      case 1 => i => i >= 20 && i <= 35
      case _ => _ => false
    }
    expTokens(id).zipWithIndex.collect { case (t, i) if !drop(i) => t }.mkString(" ")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val d = args.lift(0).map(_.toLong).getOrElse(200000L)
    require(d % 4 == 0 && d >= 8, s"D=$d must be a multiple of 4, >= 8")
    val cpus = Host.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the index phase writes managed tables: a stale warehouse dir
      // from a previous JVM fails saveAsTable with
      // LOCATION_ALREADY_EXISTS, so each run gets a fresh one
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("span_rehearsal_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def timed[R](phase: String)(body: => R): R = {
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[span] $phase%-12s ${sec}%8.2f s")
      phases += ((phase, sec))
      out
    }

    // ---- the planted corpus (pure function of (doc_id, pos)) ----------
    val slot = col("doc_id") % 4
    def tokenAt(i: org.apache.spark.sql.Column) = {
      val inB0 = slot === 0 && i >= 8 && i <= 23
      val inB1 = slot === 1 && i >= 20 && i <= 35
      val inS = slot === 2 && i >= 16 && i <= 23
      when(inB0, concat(lit("b"), (i - 8).cast("string")))
        .when(inB1, concat(lit("b"), (i - 20).cast("string")))
        .when(inS, concat(lit("s"), (i - 16).cast("string")))
        .otherwise(concat(lit("u"), col("doc_id").cast("string"), lit("_"), i.cast("string")))
    }
    def docs = spark.range(d).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(T - 1)), i => tokenAt(i))).as("text"))

    // ---- accounting: every doc matches its slot's closed form ---------
    val acctOk = timed("accounting") {
      val got = TextAnalysis.spanDedup(docs)
        .groupBy((col("doc_id") % 4).as("slot"), col("n_tokens"), col("n_spans"),
          col("dup_tokens"), col("kept_tokens"))
        .count()
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)) -> r.getLong(5)).toMap
      got == Map(
        (0L, 48L, 1L, 16L, 32L) -> d / 4, (1L, 48L, 1L, 16L, 32L) -> d / 4,
        (2L, 48L, 0L, 0L, 48L) -> d / 4, (3L, 48L, 0L, 0L, 48L) -> d / 4)
    }

    // ---- rewrite: per-doc coverage invariant + sampled digests --------
    val applyOk = timed("rewrite") {
      val joined = TextAnalysis.spanDedup(docs)
        .join(TextAnalysis.spanDedupApply(docs).withColumnRenamed("n_tokens", "nt2"),
          Seq("doc_id"))
      joined.filter(col("n_tokens") - col("dup_tokens") =!= col("n_kept")).count() == 0L
    }
    val md5Ok = timed("digests") {
      val got = TextAnalysis.spanDedupApply(docs)
        .filter(col("doc_id") < 4)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_md5")).toMap
      (0L until 4L).forall(id => got(id) == md5Hex(expClean(id)))
    }

    // ---- the stored index path: build on slot 0, flag slot 1 ----------
    // slot-1 docs carry slot-0's boilerplate at a DIFFERENT offset and
    // nothing else in common, so every flagged doc reads exactly
    // (1 span, 16 dup, 32 kept) — the cross-corpus closed form at
    // D/4 indexed × D/4 flagged docs with ~D/4·40 distinct unique
    // grams in the stored set
    val indexOk = timed("index-build") {
      graft.operators.SpanIndex.writeIndex(spark, "span_rehearsal",
        docs.filter(col("doc_id") % 4 === 0), n = 8, buckets = 32)
      true
    }
    val flagOk = timed("index-flag") {
      val got = graft.operators.SpanIndex
        .flagAgainstIndex(spark, "span_rehearsal", docs.filter(col("doc_id") % 4 === 1))
        .groupBy(col("n_tokens"), col("n_spans"), col("dup_tokens"), col("kept_tokens"))
        .count().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getLong(4))
        .toMap
      got == Map((48L, 1L, 16L, 32L) -> d / 4)
    }
    val appendOk = timed("index-append") {
      // fold the unique slot-3 quarter in: the anti-join finds every
      // gram fresh, the file append lands them, and a REPLAY no-ops
      val slot3 = docs.filter(col("doc_id") % 4 === 3)
      graft.operators.SpanIndex.appendToIndex(spark, "span_rehearsal", slot3)
      spark.catalog.refreshTable("span_rehearsal_grams")
      val grown = spark.table("span_rehearsal_grams").count()
      graft.operators.SpanIndex.appendToIndex(spark, "span_rehearsal", slot3)
      spark.catalog.refreshTable("span_rehearsal_grams")
      spark.table("span_rehearsal_grams").count() == grown
    }

    // ---- retraction: last-contributor semantics at scale --------------
    def slot1Flags(): Map[(Long, Long, Long, Long), Long] =
      graft.operators.SpanIndex
        .flagAgainstIndex(spark, "span_rehearsal", docs.filter(col("doc_id") % 4 === 1))
        .groupBy(col("n_tokens"), col("n_spans"), col("dup_tokens"), col("kept_tokens"))
        .count().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getLong(4))
        .toMap
    val delPartialOk = timed("index-del-1") {
      // retract ONE slot-0 doc: every boilerplate gram keeps D/4 − 1
      // live contributors, so the cross-corpus flag must be UNCHANGED
      // — the last-contributor rule at D/2 companion rows
      import spark.implicits._
      graft.operators.SpanIndex.deleteFromIndex(spark, "span_rehearsal",
        Seq(0L).toDF("doc_id"))
      slot1Flags() == Map((48L, 1L, 16L, 32L) -> d / 4)
    }
    val delAllOk = timed("index-delete") {
      // retract the ENTIRE remaining slot-0 quarter (a D/4-doc
      // takedown — the documented upper end of the bounded-retraction
      // contract: the retracted gram union is ∝ the retraction list):
      // every boilerplate gram loses its last contributor, slot-3's
      // appended grams survive untouched, and the flag zeroes out
      graft.operators.SpanIndex.deleteFromIndex(spark, "span_rehearsal",
        docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")))
      slot1Flags() == Map((48L, 0L, 0L, 48L) -> d / 4) && {
        spark.catalog.refreshTable("span_rehearsal_spandocs")
        spark.table("span_rehearsal_spandocs")
          .filter(col("doc_id") % 4 === 0).count() == 0L
      }
    }

    val allPass = acctOk && applyOk && md5Ok && indexOk && flagOk && appendOk &&
      delPartialOk && delAllOk
    val phaseJson = phases.map { case (k, s) => s""""$k":${f"$s%.2f"}""" }.mkString("{", ",", "}")
    println(s"""{"rehearsal":"span","docs":$d,"all_checks_pass":$allPass,""" +
      s""""checks":{"accounting_closed_form":$acctOk,"rewrite_invariant":$applyOk,""" +
      s""""sampled_digests":$md5Ok,"index_flag_closed_form":$flagOk,""" +
      s""""index_append_replay_noop":$appendOk,"index_delete_partial":$delPartialOk,""" +
      s""""index_delete_all":$delAllOk},"phases":$phaseJson,"cpus":"$cpus"}""")
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
