package perfbench

import scala.collection.mutable

/** Order-insensitive fingerprint of one sink's rows: integer sums must
  * match exactly, floating sums to a relative 1e-9 (Spark adds in
  * partition order, the reference in feed order).
  */
final case class Digest(rows: Long, ints: Seq[Long], reals: Seq[Double]) {
  def matches(o: Digest): Boolean =
    rows == o.rows && ints == o.ints && reals.length == o.reals.length &&
      reals.zip(o.reals).forall { case (a, b) =>
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
      }
  def json: String =
    s"""{"rows":$rows,"ints":[${ints.mkString(",")}],"reals":[${reals.mkString(",")}]}"""
}

/** The four fan-out outputs of one batch, fingerprinted. */
final case class BatchDigests(subscriberStats: Digest, celltowerStats: Digest,
                              geofenceHits: Digest, anomalies: Digest) {
  def all: Seq[(String, Digest)] = Seq("subscriber_stats" -> subscriberStats,
    "celltower_stats" -> celltowerStats, "geofence" -> geofenceHits,
    "anomalies" -> anomalies)
  def matches(o: BatchDigests): Boolean =
    all.zip(o.all).forall { case ((_, a), (_, b)) => a.matches(b) }
}

/** Pure-Scala recomputation of the telco topology's outputs from the
  * generated events, written from the semantics the engine documents
  * (not from its code): the enrichment inner join against the latest
  * attach per bearer; 30 s / 2 s sliding-window stats (count, mean,
  * population stdev, max, min) per subscriber and per cell; point-in-
  * polygon hits against the five fences; mini-batch k-means with
  * 6-decimal quantised distances and centers, then the per-cluster
  * index-quartile IQR band. The weights folded into each digest are
  * integer functions of the row key, mirrored by [[Sinks]].
  */
final class Reference(gen: TelcoGen, population: Batch, fences: Seq[(String, Array[(Double, Double)])],
                      k: Int, kmSeed: Long) {
  import Reference._

  private val subscriberOf = mutable.HashMap.empty[Int, (Int, Long)]
  population.attach.foreach(upsert)

  private var centers: Array[Array[Double]] = Array.tabulate(k, 2) { (i, j) =>
    val h = (kmSeed + i * 2654435761L + j * 40503L) % 1000003L
    (h.toDouble / 1000003.0) * 2.0 - 1.0
  }
  private val counts = Array.fill(k)(0.0)

  private val cellFences: Array[Array[Int]] = Array.tabulate(gen.cellLat.length) { c =>
    fences.indices.filter(f => inside(gen.cellLat(c), gen.cellLng(c), fences(f)._2)).toArray
  }

  private def upsert(a: AttachRec): Unit =
    if (subscriberOf.get(a.bearer).forall(_._2 < a.ts))
      subscriberOf(a.bearer) = (a.subscriber, a.ts)

  /** (bearer, subscriber) fingerprint of the store after all upserts. */
  def storeDigest: Digest = {
    var w = 0L
    subscriberOf.foreach { case (b, (s, _)) => w += pairWeight(b, s) }
    Digest(subscriberOf.size.toLong, Seq(w), Nil)
  }

  /** Apply one batch (attach first, then fan-out) and fingerprint the
    * four outputs. Batches must arrive in feed order: the k-means model
    * carries over.
    */
  def step(b: Batch): BatchDigests = {
    b.attach.foreach(upsert)
    val enriched = b.celltower.flatMap(c => subscriberOf.get(c.bearer).map(s => (c, s._1)))
    BatchDigests(
      stats(enriched.map { case (c, s) => (s, c) }),
      stats(enriched.map { case (c, _) => (c.cell, c) }),
      geofence(enriched.map(_._1)),
      anomalies(enriched))
  }

  private def stats(keyed: Array[(Int, CtRec)]): Digest = {
    // (key, windowStart/2s, metric) -> n, Σk, Σk², max k, min k
    final class Acc { var n = 0L; var s = 0L; var s2 = 0L; var mx = Long.MinValue; var mn = Long.MaxValue }
    val groups = mutable.HashMap.empty[(Int, Long, Int), Acc]
    keyed.foreach { case (key, c) =>
      val last = Math.floorDiv(c.ts, SlideMs)
      var w = last - (WindowMs / SlideMs - 1)
      while (w <= last) {
        var m = 0
        while (m < 3) {
          val a = groups.getOrElseUpdate((key, w, m), new Acc)
          val x = c.metricK(m)
          a.n += 1; a.s += x; a.s2 += x * x
          a.mx = math.max(a.mx, x); a.mn = math.min(a.mn, x)
          m += 1
        }
        w += 1
      }
    }
    var n = 0L; var wn = 0L
    val r = Array.fill(4)(0.0)
    groups.foreach { case ((key, w2, m), a) =>
      val d = TelcoGen.Denominators(m)
      // w2 counts 2 s slides, so it is the window start in seconds div 2
      val w = statsWeight(key, w2, m)
      n += a.n; wn += w * a.n
      r(0) += w * (a.s / d / a.n)
      r(1) += w * (math.sqrt((a.n * a.s2 - a.s * a.s).toDouble) / a.n / d)
      r(2) += w * (a.mx / d)
      r(3) += w * (a.mn / d)
    }
    Digest(groups.size.toLong, Seq(n, wn), r.toSeq)
  }

  private def geofence(evs: Array[CtRec]): Digest = {
    var rows = 0L; var w = 0L
    evs.foreach(c => cellFences(c.cell).foreach { f => rows += 1; w += hitWeight(c.bearer, f) })
    Digest(rows, Seq(w), Nil)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def l2sq(v: Array[Double], c: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < v.length) { val d = v(j) - c(j); s = s + d * d; j += 1 }
    s
  }

  private def predict(v: Array[Double]): Int = {
    val d = centers.map(c => round6(l2sq(v, c)))
    d.indexOf(d.min)
  }

  private def anomalies(enriched: Array[(CtRec, Int)]): Digest = {
    val vs = enriched.map { case (c, _) => Array(c.metric(0), c.metric(1)) }
    // one mini-batch update: c' = (c·n·α + Σx) / (n·α + m), decay α = 1
    val sums = Array.fill(k, 2)(0.0)
    val m = Array.fill(k)(0L)
    vs.foreach { v => val p = predict(v); m(p) += 1; sums(p)(0) += v(0); sums(p)(1) += v(1) }
    centers = centers.indices.map { p =>
      if (m(p) == 0) centers(p)
      else {
        val n = counts(p); val denom = n + m(p)
        counts(p) = denom
        Array.tabulate(2)(j => round6((centers(p)(j) * n + sums(p)(j)) / denom))
      }
    }.toArray
    val scored = enriched.zip(vs).map { case ((c, s), v) =>
      (c, s, predict(v), centers.map(cc => math.sqrt(l2sq(v, cc))).min)
    }
    var rows = 0L; var w = 0L; var dist = 0.0
    scored.groupBy(_._3).foreach { case (p, g) =>
      val n = g.length
      if (n > 4) {
        val sorted = g.map(_._4).sorted
        val q1 = sorted(n / 4); val q3 = sorted(n / 4 * 3)
        val lo = q1 - (q3 - q1) * 1.5; val hi = q3 + (q3 - q1) * 1.5
        g.foreach { case (c, s, _, d) =>
          if (d < lo || d > hi) { rows += 1; w += anomalyWeight(c.bearer, s, p); dist += d }
        }
      }
    }
    Digest(rows, Seq(w), Seq(dist))
  }
}

object Reference {
  val WindowMs = 30000L
  val SlideMs = 2000L

  // Row-key weights; Sinks computes the same integers in Spark.
  def statsWeight(key: Long, windowStartDiv2: Long, metric: Int): Long =
    1L + Math.floorMod(key * 31L + windowStartDiv2 * 17L + metric * 7L, 101L)
  def hitWeight(bearer: Long, fence: Long): Long = Math.floorMod(bearer * 7L + fence * 13L, 1009L)
  def anomalyWeight(bearer: Long, subscriber: Long, prediction: Long): Long =
    Math.floorMod(bearer * 3L + subscriber * 5L + prediction * 11L, 1009L)
  def pairWeight(bearer: Long, subscriber: Long): Long =
    Math.floorMod(bearer * 7919L + subscriber, 1000003L)

  /** Even-odd ray casting along the longitude axis. Generated points
    * are continuous, so a point on an edge has probability zero and
    * the boundary convention does not matter.
    */
  def inside(lat: Double, lng: Double, poly: Array[(Double, Double)]): Boolean = {
    var in = false
    var j = poly.length - 1
    var i = 0
    while (i < poly.length) {
      val (yi, xi) = poly(i); val (yj, xj) = poly(j)
      if ((yi > lat) != (yj > lat) && lng < (xj - xi) * (lat - yi) / (yj - yi) + xi) in = !in
      j = i; i += 1
    }
    in
  }
}
