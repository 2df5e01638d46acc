package perfbench

/** The stream's input: CSV files of `id,x,y` points drawn from `k`
  * Gaussian blobs. File `f` holds ids `f·perFile` until `(f+1)·perFile`;
  * the same seed always gives the same lines.
  */
final case class Points(seed: Long, k: Int = 5, perFile: Int = 20000) {
  private val centres: Array[(Double, Double)] = {
    val r = new java.util.Random(seed)
    Array.fill(k)((r.nextDouble() * 20 - 10, r.nextDouble() * 20 - 10))
  }

  def lines(file: Int): Array[String] = {
    val r = new java.util.Random(seed * 1000003L + file + 1)
    Array.tabulate(perFile) { i =>
      val (cx, cy) = centres(r.nextInt(k))
      s"${file.toLong * perFile + i},${cx + r.nextGaussian()},${cy + r.nextGaussian()}"
    }
  }

  def points(file: Int): Array[(Long, Array[Double])] = lines(file).map { l =>
    val Array(id, x, y) = l.split(',')
    (id.toLong, Array(x.toDouble, y.toDouble))
  }
}

/** Plain-Scala streaming k-means, the reference the benchmark checks
  * `StreamingKMeans` against: each point goes to its nearest centroid
  * (squared distance summed in dimension order, lowest cid on ties),
  * then each cluster merges its batch mean with
  * `c' = (α·n·c + m·mean) / (α·n + m)`.
  */
final class Replay(init: Seq[Array[Double]], decay: Double) {
  val centroids: Array[Array[Double]] = init.map(_.clone()).toArray
  val weights: Array[Double] = Array.fill(init.size)(0.0)

  def nearest(p: Array[Double]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var i = 0
      while (i < p.length) { val t = p(i) - centroids(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Merge one batch; returns each point's cluster, assigned before the move. */
  def update(batch: Seq[Array[Double]]): Seq[Int] = {
    val labels = batch.map(nearest)
    val dim = centroids.head.length
    val m = Array.fill(centroids.length)(0L)
    val sum = Array.fill(centroids.length, dim)(0.0)
    batch.zip(labels).foreach { case (p, c) =>
      m(c) += 1
      var i = 0
      while (i < dim) { sum(c)(i) += p(i); i += 1 }
    }
    centroids.indices.foreach { c =>
      val decayed = decay * weights(c)
      if (m(c) > 0) {
        val total = decayed + m(c)
        centroids(c) = Array.tabulate(dim)(i => (decayed * centroids(c)(i) + m(c) * (sum(c)(i) / m(c))) / total)
        weights(c) = total
      } else weights(c) = decayed
    }
    labels
  }
}
