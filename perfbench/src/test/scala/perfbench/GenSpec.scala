package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators and the independent checks, without Spark: run with
  * `sbt test` from the perfbench directory. */
class GenSpec extends AnyFunSuite {

  /** A context for the checks alone: they record failures and need no session. */
  private def ctx(seed: Long = 1L) = new Ctx(null, null, seed, java.nio.file.Paths.get("."))

  test("inputs are a function of the seed") {
    val a = Rest.metrics(7)
    assert(a == Rest.metrics(7))
    assert(a.map(_.tags) != Rest.metrics(8).map(_.tags))
    val m = a.head
    assert(Gen.gauge(7, m, 60000L, 0L) == Gen.gauge(7, m, 60000L, 0L))
    assert(Corpus.inputs(3) == Corpus.inputs(3))
    assert(Corpus.inputs(3).docs != Corpus.inputs(4).docs)
  }

  test("samples depend on their offset from day 0, not on the calendar day") {
    val m = Gen.metrics(3, Seq("t"), 1, 1, 1)
    val (g, c, av) = (m.find(_.mtype == Gen.GaugeCode).get, m.find(_.mtype == Gen.CounterCode).get,
      m.find(_.mtype == Gen.AvailCode).get)
    val (d0, d1) = (20000L * Gen.Day, 20001L * Gen.Day)
    val offs = (0 until 288).map(_ * Rest.Step)
    assert(offs.map(o => Gen.gauge(3, g, d0 + o, d0)) == offs.map(o => Gen.gauge(3, g, d1 + o, d1)))
    assert(offs.map(o => Gen.avail(3, av, d0 + o, d0)) == offs.map(o => Gen.avail(3, av, d1 + o, d1)))
    assert(Gen.counterValues(3, c, offs.map(d0 + _), d0) == Gen.counterValues(3, c, offs.map(d1 + _), d1))
    assert(offs.map(o => Gen.gauge(3, g, d0 + o, d0)) != offs.map(o => Gen.gauge(3, g, d1 + o, d0)))
  }

  test("gauge samples are exact quarter steps in [0, 1000)") {
    val m = Gen.metrics(1, Seq("t"), 1, 0, 0).head
    val vs = (0 until 500).map(i => Gen.gauge(1, m, i * 60000L, 0L))
    assert(vs.forall(v => v >= 0 && v < 1000 && v * 4 == math.floor(v * 4)))
  }

  test("exact interpolated quantiles and bucket statistics") {
    val s = Gen.numStats(Seq(5.0, 1.0, 4.0, 2.0, 3.0), Seq(90.0)).get
    assert(s.samples == 5 && s.min == 1.0 && s.max == 5.0 && s.sum == 15.0 && s.avg == 3.0)
    assert(s.median == 3.0)
    assert(math.abs(s.pcts(90.0) - 4.6) < 1e-12)
    assert(Gen.numStats(Nil).isEmpty)
    val b = Gen.bucketize(Seq(0L -> 1, 9L -> 2, 10L -> 3, 25L -> 4), 0L, 30L, 10L)
    assert(b == IndexedSeq(Seq(1, 2), Seq(3), Seq(4)))
  }

  test("counter rates, availability durations, tag set algebra") {
    assert(Gen.rates(Seq(0L -> 10L, 60000L -> 16L, 120000L -> 4L, 180000L -> 7L)) ==
      Seq(60000L -> 6.0, 180000L -> 3.0))
    // up for 0-10, down 10-30, up 30-40 (range end)
    val d = Gen.availDurations(Seq(0L -> 0, 10L -> 1, 30L -> 0), 40L, 0L, 40L, 20L)
    assert(d == IndexedSeq((10L, 10L), (10L, 10L)))
    val ms = Gen.metrics(5, Seq("a", "b"), 6, 3, 3)
    val got = Gen.tagMatch(ms, "a", Seq("dc" -> Set("east"), "app" -> Set("web", "db")))
    val want = ms.filter(m => m.tenant == "a" && m.tags("dc") == "east" && Set("web", "db")(m.tags("app")))
      .map(m => s"${m.mtype}:${m.name}").toSet
    assert(got == want)
  }

  test("planted near-duplicates clear the threshold; planted BM25 terms are unique") {
    val in = Corpus.inputs(11)
    val byId = (in.docs ++ in.wave).map(d => d.id -> d).toMap
    (in.planted ++ in.wavePlanted).foreach { case (src, copy) =>
      val j = Gen.jaccard(Gen.shingles(byId(src).words, 3), Gen.shingles(byId(copy).words, 3))
      assert(j >= Corpus.Threshold, s"planted pair ($src, $copy) has Jaccard $j")
    }
    (in.targets :+ in.waveTarget).foreach { case (doc, rare, _) =>
      assert(byId.values.filter(_.words.contains(rare)).map(_.id).toSeq == Seq(doc))
    }
  }

  test("brute-force top-k ranks by cosine, ties by id, self excluded") {
    val v = Array(1f, 0f)
    val corpus = Seq(1L -> Array(1f, 0f), 2L -> Array(0f, 1f), 3L -> Array(1f, 1f), 4L -> Array(2f, 0f))
    assert(Gen.bruteTopK(corpus, 1L -> v, 2) == Seq(4L, 3L))
  }

  test("a wrong answer fails its check") {
    // numeric buckets: the right answer passes, one perturbed field fails
    val want = IndexedSeq(Gen.numStats(Seq(1.0, 2.0, 3.0), Seq(90.0)), None)
    def bucket(sum: Double, median: Boolean) = Json.parse(
      s"""[{"start":0,"end":10,"min":1.0,"avg":${sum / 3},"max":3.0,"sum":$sum,"samples":3,""" +
        (if (median) """"median":2.0,""" else "") +
        """"percentiles":[{"quantile":90.0,"value":2.8}],"empty":false},{"start":10,"end":20,"empty":true}]""")
    def check(sum: Double, median: Boolean, wantMedian: Boolean) =
      Rest.checkNumBuckets(Json.elems(bucket(sum, median)), want, 0L, 10L, wantMedian, Seq(90.0))
    assert(check(6.0, median = true, wantMedian = true).isEmpty)
    assert(check(6.25, median = true, wantMedian = true).nonEmpty)
    // a tier-served answer must not carry a median, a raw-path one must
    assert(check(6.0, median = true, wantMedian = false).nonEmpty)
    assert(check(6.0, median = false, wantMedian = true).nonEmpty)

    // BM25: the planted target must rank first
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("query_id", LongType), StructField("doc_id", LongType),
      StructField("rank", LongType)))
    def rows(doc: Long): Array[Row] = Array(new GenericRowWithSchema(Array(0L, doc, 1L), schema))
    val c = ctx()
    assert(Corpus.checkBm25(c, rows(42L), Seq((42L, "k0", "w1"))))
    assert(!Corpus.checkBm25(c, rows(43L), Seq((42L, "k0", "w1"))))
    assert(c.failures.size == 1)

    // near-duplicates: a missing planted pair and a pair below the
    // threshold both fail
    val nd = StructType(Seq(StructField("query_id", LongType), StructField("corpus_id", LongType),
      StructField("jaccard", DoubleType)))
    val in = Corpus.inputs(2)
    val byId = in.docs.map(d => d.id -> d).toMap
    val (src, copy) = in.planted.head
    def pair(q: Long, cid: Long): Row = new GenericRowWithSchema(Array(q, cid, 0.9), nd)
    assert(Corpus.checkNearDup(ctx(), Array(pair(copy, src)), byId, Seq(src -> copy)))
    assert(!Corpus.checkNearDup(ctx(), Array.empty[Row], byId, Seq(src -> copy)))
    assert(!Corpus.checkNearDup(ctx(), Array(pair(copy, src), pair(copy, 399L)), byId, Seq(src -> copy)))
  }
}
