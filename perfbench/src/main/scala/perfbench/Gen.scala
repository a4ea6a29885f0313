package perfbench

/**
 * Seeded input generators and the independent expectations the checks
 * compare against: plain Scala over the generated inputs, no Spark.
 * Every value is a closed-form function of (seed, coordinates), so an
 * expectation recomputes the exact inputs a request covers.
 */
object Gen {
  val Minute = 60000L
  val Hour = 3600000L
  val Day = 86400000L

  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def h(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((a, p) => mix(a ^ p))
  /** Uniform in [0, n). */
  def u(n: Int, seed: Long, parts: Long*): Int = java.lang.Math.floorMod(h(seed, parts: _*), n.toLong).toInt
  def strKey(s: String): Long = s.foldLeft(1125899906842597L)((a, c) => 31 * a + c)

  // ------------------------------------------------------------------
  // metrics store
  // ------------------------------------------------------------------

  val GaugeCode = 0
  val AvailCode = 1
  val CounterCode = 2

  final case class Metric(tenant: String, mtype: Int, name: String, tags: Map[String, String]) {
    def key: Long = h(strKey(tenant), mtype.toLong, strKey(name))
    def typeSeg: String = mtype match {
      case GaugeCode => "gauges"; case CounterCode => "counters"; case _ => "availability"
    }
  }

  val Dcs = Vector("east", "west")
  val Apps = Vector("web", "db", "cache")
  val Hosts = Vector("h0", "h1", "h2", "h3")

  /** The tagged definitions of a store: `perType` metrics of each type per
    * tenant, with seeded tags. */
  def metrics(seed: Long, tenants: Seq[String], gauges: Int, counters: Int,
              avails: Int): Seq[Metric] =
    for {
      t <- tenants
      (code, n, prefix) <- Seq((GaugeCode, gauges, "g"), (CounterCode, counters, "c"),
        (AvailCode, avails, "a"))
      i <- 0 until n
    } yield {
      val k = h(seed, strKey(t), code.toLong, i.toLong)
      Metric(t, code, s"$prefix$i", Map(
        "dc" -> Dcs(java.lang.Math.floorMod(k, 2L).toInt),
        "app" -> Apps(java.lang.Math.floorMod(k >>> 8, 3L).toInt),
        "host" -> Hosts(java.lang.Math.floorMod(k >>> 16, 4L).toInt)))
    }

  // A sample hashes its offset from the store's day 0 (`origin`), not its
  // absolute time: the stored timestamps follow the calendar (retention
  // needs that), the values depend on the seed alone.

  /** Gauge sample: a multiple of 0.25 in [0, 1000) — exact in binary and
    * decimal, so sums and averages compare exactly. */
  def gauge(seed: Long, m: Metric, time: Long, origin: Long): Double =
    u(4000, seed, m.key, time - origin) / 4.0
  /** Counter increment landing at `time`: in [0, 100). */
  def counterInc(seed: Long, m: Metric, time: Long, origin: Long): Long = u(100, seed, m.key, time - origin, 7L)
  /** Availability code at `time`: 0 (up) nine times in ten, else 1 (down). */
  def avail(seed: Long, m: Metric, time: Long, origin: Long): Int =
    if (u(10, seed, m.key, time - origin, 3L) == 0) 1 else 0

  /** A metric's sample times: every `stepMs` over [from, until). */
  def times(from: Long, until: Long, stepMs: Long): Seq[Long] = from until until by stepMs

  /** Counter values at `ts` (ascending, contiguous from the series' first
    * sample): the running sum of increments, starting at `base`. */
  def counterValues(seed: Long, m: Metric, ts: Seq[Long], origin: Long, base: Long = 1000L): Seq[Long] =
    ts.scanLeft(base)((v, t) => v + counterInc(seed, m, t, origin)).tail

  // ------------------------------------------------------------------
  // expectations
  // ------------------------------------------------------------------

  final case class NumStats(samples: Long, min: Double, max: Double, sum: Double,
                            avg: Double, median: Double, pcts: Map[Double, Double])

  /** Exact interpolated quantile (rank q·(n−1)), the engine's documented
    * percentile definition. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double = {
    val rank = q * (sorted.length - 1)
    val lo = sorted(rank.toInt)
    val hi = sorted(math.ceil(rank).toInt)
    lo + (rank - rank.toInt) * (hi - lo)
  }

  def numStats(values: Seq[Double], pcts: Seq[Double] = Nil): Option[NumStats] =
    if (values.isEmpty) None
    else {
      val s = values.sorted.toIndexedSeq
      val sum = values.map(BigDecimal(_)).sum.toDouble
      Some(NumStats(values.size, s.head, s.last, sum, sum / values.size, quantile(s, 0.5),
        pcts.map(p => p -> quantile(s, p / 100.0)).toMap))
    }

  /** Values bucketed on [start, end) by `step`: bucket i holds the samples
    * with start + i·step <= t < start + (i+1)·step. */
  def bucketize[V](samples: Seq[(Long, V)], start: Long, end: Long, step: Long): IndexedSeq[Seq[V]] = {
    val n = ((end - start + step - 1) / step).toInt
    (0 until n).map { i =>
      val lo = start + i * step
      val hi = math.min(lo + step, end)
      samples.collect { case (t, v) if t >= lo && t < hi => v }
    }
  }

  /** Per-minute counter rates: each consecutive pair (t0, v0), (t1, v1)
    * with v1 >= v0 yields 60000·(v1 − v0)/(t1 − t0) at t1. */
  def rates(points: Seq[(Long, Long)]): Seq[(Long, Double)] =
    points.zip(points.drop(1)).collect {
      case ((t0, v0), (t1, v1)) if v1 >= v0 => t1 -> 60000.0 * (v1 - v0).toDouble / (t1 - t0).toDouble
    }

  /** Availability durations per bucket: each sample's state holds until the
    * next sample (the last one until the end of the range), clipped to the
    * bucket. Returns (up ms, down ms) per bucket. */
  def availDurations(points: Seq[(Long, Int)], rangeEnd: Long, start: Long, end: Long,
                     step: Long): IndexedSeq[(Long, Long)] = {
    val segs = points.zip(points.drop(1).map(_._1) :+ rangeEnd)
      .map { case ((t, a), next) => (t, next, a) }
    val n = ((end - start + step - 1) / step).toInt
    (0 until n).map { i =>
      val lo = start + i * step; val hi = math.min(lo + step, end)
      segs.foldLeft((0L, 0L)) { case ((up, down), (s, e, a)) =>
        val d = math.max(0L, math.min(e, hi) - math.max(s, lo))
        if (a == 0) (up + d, down) else (up, down + d)
      }
    }
  }

  /** Set algebra over generated tags: the ids matching every (name, allowed
    * values) clause. */
  def tagMatch(ms: Seq[Metric], tenant: String, clauses: Seq[(String, Set[String])]): Set[String] =
    ms.filter(m => m.tenant == tenant && clauses.forall { case (k, vs) => m.tags.get(k).exists(vs) })
      .map(m => s"${m.mtype}:${m.name}").toSet

  // ------------------------------------------------------------------
  // corpus
  // ------------------------------------------------------------------

  val Vocab: IndexedSeq[String] = (0 until 400).map(i => s"w$i")

  /** A document of `len` words drawn from the shared vocabulary. */
  def docWords(seed: Long, id: Long, len: Int): IndexedSeq[String] =
    (0 until len).map(j => Vocab(u(Vocab.size, seed, id, j.toLong, 11L)))

  /** A near-duplicate of `src`: the same words with `edits` of them
    * replaced by words outside the vocabulary (so the planted pair's
    * Jaccard stays high and known). */
  def nearCopy(seed: Long, src: IndexedSeq[String], id: Long, edits: Int): IndexedSeq[String] = {
    val at = (0 until edits).map(e => u(src.size, seed, id, e.toLong, 13L)).toSet
    src.indices.map(i => if (at(i)) s"x${id}_$i" else src(i))
  }

  /** Word k-shingles as joined strings (the program's shingle unit). */
  def shingles(words: IndexedSeq[String], k: Int): Set[String] =
    if (words.size < k) Set(words.mkString(" "))
    else words.sliding(k).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  /** A unit-free embedding of dimension `dim`: one of `clusters` seeded
    * centres plus seeded noise, so IVF cells mean something. */
  def embedding(seed: Long, id: Long, dim: Int, clusters: Int): Array[Float] = {
    val c = u(clusters, seed, id, 17L)
    Array.tabulate(dim) { j =>
      val centre = (u(2001, seed, c.toLong, j.toLong, 19L) - 1000) / 1000.0
      val noise = (u(2001, seed, id, j.toLong, 23L) - 1000) / 4000.0
      (centre + noise).toFloat
    }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force top-k neighbours (self excluded), cosine desc, id asc. */
  def bruteTopK(corpus: Seq[(Long, Array[Float])], q: (Long, Array[Float]), k: Int): Seq[Long] =
    corpus.filter(_._1 != q._1).map { case (id, v) => (id, cosine(q._2, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
}
