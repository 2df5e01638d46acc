package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingKMeans

class ReplaySpec extends AnyFunSuite {

  test("lowest cid wins a distance tie") {
    val r = new Replay(Seq(Array(1.0, 0.0), Array(-1.0, 0.0), Array(0.0, 5.0)), decay = 1.0)
    assert(r.nearest(Array(0.0, 0.0)) == 0)
    assert(r.nearest(Array(-0.5, 0.0)) == 1)
  }

  test("replay agrees with StreamingKMeans on a tiny seeded input") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val pts = Points(seed = 7L, k = 3, perFile = 200)
      val batches = (0 until 4).map(pts.points)
      val model = StreamingKMeans.seeded(batches.head.toSeq.toDF("id", "vec"), "id", "vec", 3, dim = 2,
        decayFactor = 0.9)
      val replay = new Replay(batches.head.take(3).map(_._2).toSeq, decay = 0.9)
      batches.foreach { b =>
        val labels = replay.update(b.map(_._2).toSeq)
        val assigned = model.assign(b.toSeq.toDF("id", "vec"), "vec")
          .select(col("id"), col("cluster")).as[(Long, Long)].collect().sortBy(_._1)
        assert(assigned.map(_._2.toInt).toSeq == labels)
        model.update(b.toSeq.toDF("id", "vec"), "vec")
      }
      model.centroids.sortBy(_._1).map(_._2).zip(replay.centroids).foreach { case (a, e) =>
        a.zip(e).foreach { case (x, y) => assert(math.abs(x - y) <= 1e-9) }
      }
      model.weights.sortBy(_._1).map(_._2).zip(replay.weights).foreach { case (a, e) =>
        assert(math.abs(a - e) <= 1e-9)
      }
    } finally spark.stop()
  }

  test("the same seed gives the same points") {
    assert(Points(3L).lines(2).sameElements(Points(3L).lines(2)))
    assert(!Points(3L).lines(2).sameElements(Points(4L).lines(2)))
  }
}
