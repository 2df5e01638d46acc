package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.Dedup
import graft.sources.{FeatureSource, Sinks}
import graft.streaming.StreamingKMeans

/** One benchmark run of one workload in one JVM: `setups` set-up
  * cycles (each a fresh session, its inputs and the warm-up), then
  * operations back to back for `seconds` on the last cycle's session.
  * Writes the raw record — op times, set-up times, check inputs and,
  * when traced, spans and listener events — as JSON to `out`.
  *
  *   Main <workload> <data> <work> <seconds> <trace 0|1> <seed> <cores> <setups> <out>
  *
  * Workload `oracle_sql` writes only the DuckDB oracle SQL of the
  * checked key, for pinning its digest.
  */
object Main {
  final case class Conf(data: String, work: String, seconds: Double, trace: Boolean, seed: Long,
                        cores: Int, setups: Int)

  /** dedup_curate runs the body of this key. */
  val DedupKey = "dedup_apply_cc"

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, seconds, trace, seed, cores, setups, out) = args
    val conf = Conf(data, work, seconds.toDouble, trace == "1", seed.toLong, cores.toInt, setups.toInt)
    val tracer = new Tracer(conf.trace, s"$workload-$seed-$trace")
    val result = workload match {
      case "oracle_sql" => Map("oracle_sql" -> Map(DedupKey -> SparkEntry.oracleSql(DedupKey)))
      case "stream_kmeans" => StreamRun(conf, tracer).run()
      case "dedup_curate" => DedupRun(conf, tracer).run()
      case other => sys.error(s"unknown workload $other")
    }
    val json = org.json4s.jackson.Serialization.write(
      result ++ tracer.dump + ("workload" -> workload) + ("cores" -> conf.cores))(
      org.json4s.DefaultFormats)
    Files.writeString(Paths.get(out), json)
  }

  def session(conf: Conf, cycle: Int, tracer: Tracer): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse-$cycle")
      .config("spark.sql.streaming.checkpointLocation", s"${conf.work}/checkpoint-$cycle")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** One dedup_curate pass: md5-minhash pairs, connected-component
    * labels, written as parquet to `sink` or to the noop sink.
    */
  def dedupPass(spark: SparkSession, data: String, sink: Option[String], spans: Spans): Unit = {
    val docs = spans("Tables.documents")(Tables.documents(spark, data))
    val pairs = spans("Dedup.minhashMd5PairsUnsorted")(Dedup.minhashMd5PairsUnsorted(docs))
    val labels = spans("Dedup.ccLabels")(Dedup.ccLabels(docs, pairs))
    spans("Dataset.write")(sink match {
      case Some(path) => labels.write.mode("overwrite").parquet(path)
      case None => labels.write.format("noop").mode("overwrite").save()
    })
  }

  /** Run `body`; a failure is recorded, never rethrown. */
  def attempt(failures: ArrayBuffer[String], what: String)(body: => Unit): Boolean =
    try { body; true }
    catch { case NonFatal(e) => failures += s"$what: $e"; false }
}

import Main._

/** dedup_curate: each set-up cycle runs one warm-up pass that writes
  * its output as parquet for the oracle check, one more unmeasured pass
  * follows the last cycle, and the measured passes, on the last cycle's
  * session, end in a noop write. Only whole passes are measured.
  */
final case class DedupRun(conf: Conf, tracer: Tracer) {
  private val spans = tracer.spans
  private val failures = ArrayBuffer[String]()

  private def pass(spark: SparkSession, sink: Option[String], index: Long): Unit =
    spans("op", index) {
      dedupPass(spark, conf.data, sink, spans)
      spark.catalog.clearCache()
    }

  def run(): Map[String, Any] = {
    val setup = ArrayBuffer[Double]()
    val outputs = ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null
    for (c <- 1 to conf.setups) {
      if (spark != null) stop(spark)
      val t0 = Clock.nowMs
      spark = session(conf, c, tracer)
      val path = s"${conf.work}/out/c$c/$DedupKey"
      if (attempt(failures, s"set-up $c")(pass(spark, Some(path), -c)))
        outputs += Map("key" -> DedupKey, "cycle" -> c, "path" -> path)
      setup += (Clock.nowMs - t0) / 1000
    }
    // the first pass into the noop sink runs well above the later ones
    attempt(failures, "warm-up")(pass(spark, None, -conf.setups - 1L))
    tracer.drain(spark)
    val records = ArrayBuffer[Map[String, Any]]()
    val start = Clock.nowMs
    val deadline = start + conf.seconds * 1000
    while (Clock.nowMs < deadline) {
      val index = records.size.toLong
      val t0 = Clock.nowMs
      val ok = attempt(failures, s"pass $index")(pass(spark, None, index))
      records += Map("key" -> DedupKey, "op" -> index, "start" -> t0, "end" -> Clock.nowMs,
        "ok" -> ok)
    }
    val end = Clock.nowMs
    tracer.drain(spark)
    val heap = Heap.oldGenAfterGcMb()
    stop(spark)
    Map("setup_s" -> setup.toList, "warmup_ops" -> (conf.setups + 1),
      "ops" -> records.toList, "window" -> List(start, end), "heap_after_gc_mb" -> heap,
      "outputs" -> outputs.toList, "checks" -> Nil,
      "failures" -> failures.toList)
  }
}

/** stream_kmeans: a file-source stream with one 20k-point CSV file per
  * trigger feeds `StreamingKMeans.run` with both sinks on, as
  * `KMeansJob stream` runs it. The feeder keeps two unread files
  * staged, so each batch starts as soon as the previous one commits.
  * The first `Warmup` batches of every cycle are set-up; the last cycle
  * then runs `Settle` more unmeasured batches, because batch latency
  * keeps falling for about ten batches while the JIT settles.
  */
final case class StreamRun(conf: Conf, tracer: Tracer) {
  val Warmup = 2
  val Settle = 8
  val K = 5
  private val points = Points(conf.seed, K)
  private val failures = ArrayBuffer[String]()

  private final class Cycle(val spark: SparkSession, c: Int) {
    val dir = s"${conf.work}/stream-$c"
    val src = s"$dir/src"
    val snapDir = s"$dir/snapshots"
    val assignDir = s"$dir/assignments"
    private val mtime0 = System.currentTimeMillis() - 3600L * 1000
    Files.createDirectories(Paths.get(src))
    Files.createDirectories(Paths.get(s"$dir/staging"))
    var staged = 0
    val done = new AtomicLong()
    /** batch → (assignments start, assignments end, snapshot start, snapshot end) */
    val timing = new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()

    /** Write the next file aside, then move it into the watched dir
      * with an increasing mtime, which fixes the order batches read them.
      */
    def stage(): Unit = {
      val tmp = Paths.get(s"$dir/staging/part-$staged.csv")
      Files.write(tmp, points.lines(staged).mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtime0 + staged * 100L))
      Files.move(tmp, Paths.get(f"$src/part-$staged%06d.csv"), StandardCopyOption.ATOMIC_MOVE)
      staged += 1
    }

    (0 until Warmup + 2).foreach(_ => stage())
    val model: StreamingKMeans = tracer.spans("StreamingKMeans.seeded") {
      val seed = tracer.spans("FeatureSource.csv2d")(FeatureSource.csv2d(spark, f"$src/part-000000.csv"))
      StreamingKMeans.seeded(seed.toDF(), "id", "vec", K, dim = 2)
    }
    private val sc = spark.sparkContext
    private var streamGroup: Seq[(String, String)] = Nil

    private def onAssignments(b: Long, assigned: DataFrame): Unit = {
      val t0 = Clock.nowMs
      def sink(): Unit = Sinks.writeAssignments(b, assigned.select(col("id"), col("cluster")), assignDir)
      if (tracer.enabled) {
        JobGroup.within(sc, s"pb:$b:Sinks.writeAssignments")(sink())
        // the merge runs between this callback's return and onSnapshot
        streamGroup = JobGroup.save(sc)
        sc.setJobGroup(s"pb:$b:StreamingKMeans.merge", "merge", interruptOnCancel = true)
        timing.put(b, Array(t0, Clock.nowMs, 0.0, 0.0))
      } else sink()
    }

    private def onSnapshot(b: Long, cents: Seq[(Long, Array[Double])]): Unit = {
      val t0 = Clock.nowMs
      def sink(): Unit = Sinks.writeSnapshot(spark, snapDir, b, cents, model.weights.toMap)
      if (tracer.enabled) {
        JobGroup.restore(sc, streamGroup)
        JobGroup.within(sc, s"pb:$b:Sinks.writeSnapshot")(sink())
        Option(timing.get(b)).foreach { t => t(2) = t0; t(3) = Clock.nowMs }
      } else sink()
      done.incrementAndGet()
    }

    val query = tracer.spans("StreamingKMeans.run") {
      val stream = spark.readStream.schema(FeatureSource.csvSchema)
        .option("maxFilesPerTrigger", "1").csv(src)
        .select(col("id"), array(col("x"), col("y")).as("vec"))
      model.run(stream, "vec", onSnapshot = onSnapshot, onAssignments = onAssignments)
    }

    def batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      query.recentProgress.toSeq.filter(_.numInputRows > 0)

    def awaitBatches(n: Int): Unit =
      while (done.get < n) {
        query.exception.foreach(e => throw e)
        Thread.sleep(2)
      }
  }

  def run(): Map[String, Any] = {
    val setup = ArrayBuffer[Double]()
    var cycle: Cycle = null
    for (c <- 1 to conf.setups) {
      if (cycle != null) { cycle.query.stop(); stop(cycle.spark) }
      val t0 = Clock.nowMs
      val spark = session(conf, c, tracer)
      cycle = new Cycle(spark, c)
      cycle.awaitBatches(Warmup)
      setup += (Clock.nowMs - t0) / 1000
    }
    val cy = cycle
    def feed(until: => Boolean): Unit = while (!until) {
      if (cy.staged - cy.done.get < 2) cy.stage() else Thread.sleep(1)
      cy.query.exception.foreach(e => throw e)
    }
    var deadline = Double.MaxValue
    val fed = attempt(failures, "stream") {
      feed(cy.done.get >= Warmup + Settle)
      deadline = Clock.nowMs + conf.seconds * 1000
      feed(Clock.nowMs >= deadline)
      cy.query.processAllAvailable()
    }
    cy.query.stop()
    // a batch is measured when it is past the warm-up and ended in the window
    val ops = cy.batches.flatMap { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + p.durationMs.get("triggerExecution").longValue
      if (p.batchId >= Warmup + Settle && end <= deadline)
        Some(Map("key" -> "batch", "op" -> p.batchId, "start" -> start, "end" -> end,
          "ok" -> true, "rows" -> p.numInputRows))
      else None
    }
    val window = if (ops.isEmpty) List(0.0, 0.0) else List(ops.head("start"), ops.last("end"))
    if (tracer.enabled) {
      tracer.drain(cy.spark, ops.map(_("op").asInstanceOf[Long]))
      addBatchSpans(cy, ops)
    }
    val heap = Heap.oldGenAfterGcMb()
    val checks = if (fed) check(cy) else Nil
    stop(cy.spark)
    Map("setup_s" -> setup.toList, "warmup_ops" -> (conf.setups * Warmup + Settle), "ops" -> ops.toList,
      "window" -> window, "heap_after_gc_mb" -> heap, "outputs" -> Nil, "checks" -> checks,
      "failures" -> failures.toList)
  }

  /** Root span per measured batch from its progress, with the two sink
    * calls and the driver-side merge as children.
    */
  private def addBatchSpans(cy: Cycle, ops: Seq[Map[String, Any]]): Unit = {
    val spans = tracer.spans
    ops.foreach { o =>
      val b = o("op").asInstanceOf[Long]
      val root = spans.add("op", b, 0L, o("start").asInstanceOf[Double], o("end").asInstanceOf[Double])
      Option(cy.timing.get(b)).foreach { t =>
        spans.add("Sinks.writeAssignments", b, root, t(0), t(1))
        spans.add("StreamingKMeans.merge", b, root, t(1), t(2))
        spans.add("Sinks.writeSnapshot", b, root, t(2), t(3))
      }
    }
  }

  /** The final model against the plain-Scala replay of the same files
    * in batch order, and both sinks against the generated points.
    */
  private def check(cy: Cycle): Seq[Map[String, Any]] = {
    val spark = cy.spark
    val n = cy.staged
    val per = points.perFile
    val got = Sinks.readAssignments(spark, cy.assignDir)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("ids"), min(col("id")).as("lo"),
        max(col("id")).as("hi"), sum(col("cluster")).as("cs"), sum(col("id") * col("cluster")).as("ics"))
      .collect().map(r => r.getAs[Any]("batch_id").toString.toLong -> r).toMap
    val snaps = Sinks.readSnapshots(spark, cy.snapDir).groupBy(col("batch_id")).count()
      .collect().map(r => r.getAs[Any]("batch_id").toString.toLong -> r.getLong(1)).toMap
    val first = points.points(0).take(K).map(_._2)
    val replay = new Replay(first.toSeq, decay = 1.0)
    val bad = ArrayBuffer[String]()
    for (b <- 0L until n) got.get(b) match {
      case None => bad += s"batch $b: no assignments"
      case Some(r) =>
        val file = (r.getAs[Long]("lo") / per).toInt
        val pts = points.points(file)
        val labels = replay.update(pts.map(_._2).toSeq)
        val cs = labels.map(_.toLong).sum
        val ics = pts.map(_._1).zip(labels).map { case (id, l) => id * l }.sum
        val want = (per.toLong, per.toLong, file.toLong * per, file.toLong * per + per - 1, cs, ics)
        val have = (r.getAs[Long]("n"), r.getAs[Long]("ids"), r.getAs[Long]("lo"), r.getAs[Long]("hi"),
          r.getAs[Long]("cs"), r.getAs[Long]("ics"))
        if (have != want) bad += s"batch $b: assignments $have, replay $want"
    }
    if (got.size != n) bad += s"${got.size} assignment batches for $n files"
    val snapOk = snaps.size == n && snaps.values.forall(_ == K)
    val cents = cy.model.centroids.sortBy(_._1).map(_._2)
    val weights = cy.model.weights.sortBy(_._1).map(_._2)
    val centDiff = cents.zip(replay.centroids).flatMap { case (a, e) => a.zip(e).map(x => math.abs(x._1 - x._2)) }.max
    val weightDiff = weights.zip(replay.weights).map(x => math.abs(x._1 - x._2)).max
    Seq(
      Map("name" -> "stream.assignments", "ok" -> bad.isEmpty, "detail" -> bad.take(3).mkString("; ")),
      Map("name" -> "stream.snapshots", "ok" -> snapOk,
        "detail" -> s"${snaps.size} snapshot batches for $n batches"),
      Map("name" -> "stream.replay", "ok" -> (centDiff <= 1e-9 && weightDiff <= 1e-9),
        "detail" -> s"max |centroid diff| $centDiff, max |weight diff| $weightDiff over $n batches"))
  }
}
