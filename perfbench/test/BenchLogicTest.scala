package perfbench

import perfbench.Gen._

/** Unit tests of the harness's own logic; no Spark session is started.
  * Run with `python3 perfbench/run.py --self-test` from the repository root. */
object BenchLogicTest {
  private var passed = 0
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit = assert(got == want, s"got $got, want $want")

  private def throws(body: => Any): Unit = {
    val threw = try { body; false } catch { case _: Exception => true }
    assert(threw, "expected an exception")
  }

  def main(args: Array[String]): Unit = {
    test("percentile is nearest-rank") {
      val xs = (1 to 10).map(_.toDouble)
      eq(Stats.percentile(xs, 50), 5.0)
      eq(Stats.percentile(xs, 90), 9.0)
      eq(Stats.percentile(xs, 100), 10.0)
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    }

    test("geometric mean weighs every value alike in log space") {
      assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
      assert(math.abs(Stats.geomean(Seq(2.0, 8.0, 4.0)) - 4.0) < 1e-9)
      // doubling any one of three values moves the mean by the same factor
      val base = Stats.geomean(Seq(10.0, 200.0, 3000.0))
      assert(math.abs(Stats.geomean(Seq(20.0, 200.0, 3000.0)) / base - math.cbrt(2)) < 1e-9)
      assert(math.abs(Stats.geomean(Seq(10.0, 200.0, 6000.0)) / base - math.cbrt(2)) < 1e-9)
      throws(Stats.geomean(Seq(1.0, 0.0)))
    }

    test("tail percentile leaves at least ten samples beyond it") {
      eq(Stats.tailPercentile(1000), Some(90))
      eq(Stats.tailPercentile(100), Some(90))
      eq(Stats.tailPercentile(99), Some(89))
      eq(Stats.tailPercentile(50), Some(80))
      eq(Stats.tailPercentile(20), Some(50))
      eq(Stats.tailPercentile(19), None)
      for (n <- 20 to 500; q <- Stats.tailPercentile(n)) {
        assert(n - math.ceil(q / 100.0 * n).toInt >= 10, s"n=$n q=$q")
        assert(q == 90 || n - math.ceil((q + 1) / 100.0 * n).toInt < 10, s"n=$n q=$q is not the highest")
      }
    }

    test("interval union counts overlaps once") {
      eq(Stats.unionLength(Nil), 0L)
      eq(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))), 25L)
      eq(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))), 100L)
      eq(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))), 30L)
      eq(Stats.unionLength(Seq((5L, 5L), (7L, 3L))), 0L)
    }

    test("driver gap is op time not covered by its jobs") {
      // jobs clipped to the op: [90,110) adds 10, [150,160) and [190,230) add 10 each
      eq(Stats.uncovered(100L, 200L, Seq((90L, 110L), (150L, 160L), (155L, 158L), (190L, 230L))), 70L)
      eq(Stats.uncovered(100L, 200L, Nil), 100L)
      eq(Stats.uncovered(100L, 200L, Seq((0L, 300L))), 0L)
      eq(Stats.uncovered(100L, 200L, Seq((250L, 300L))), 100L)
    }

    test("span self time subtracts direct children only") {
      val spans = Seq(
        Span(1, "op", "core", 1, 0, 0, 100),
        Span(2, "a", "spark", 1, 1, 10, 40),
        Span(3, "b", "spark", 1, 1, 30, 50),
        Span(4, "a.inner", "jvm", 1, 2, 15, 35),
        Span(5, "other op", "core", 5, 0, 100, 120))
      val self = Stats.selfTimes(spans)
      eq(self(1), 60L)
      eq(self(2), 10L)
      eq(self(3), 20L)
      eq(self(4), 20L)
      eq(self(5), 20L)
    }

    test("unstolen share of busy time from /proc/stat ticks") {
      eq(StealTime.unstolen(0, 0), 1.0)
      eq(StealTime.unstolen(60, 20), 0.75)
      // user nice system idle iowait irq softirq steal
      val a = Some(Seq(100L, 0L, 10L, 500L, 0L, 1L, 2L, 5L))
      val b = Some(Seq(150L, 0L, 20L, 900L, 3L, 2L, 4L, 25L))
      eq(StealTime.ticks(a, b), (63L, 20L))
      eq(StealTime.ticks(None, b), (0L, 0L))
      eq(OpRecord("k", 1, 0L, 2000000L, ok = true, 0, busyTicks = 60, stealTicks = 20).ms, 1.5)
    }

    test("kv read mix alternates its two halves by step") {
      val shape = KvShape(keySpace = 500, rowsPerStep = 100, filesPerStep = 2, deleteShare = 0.1)
      val even = kvReads(7, shape, 4)
      eq(even.count(_.isInstanceOf[PointGet]), 3)
      eq(even.last, CollapseAll)
      eq(kvReads(7, shape, 5).collect { case RangeScan(_, _, rev) => rev }, Seq(false, true))
    }

    test("changelog generator is deterministic per seed") {
      val shape = KvShape(keySpace = 500, rowsPerStep = 100, filesPerStep = 2, deleteShare = 0.1)
      eq(changelogStep(7, shape, 3), changelogStep(7, shape, 3))
      assert(changelogStep(7, shape, 3) != changelogStep(8, shape, 3))
      assert(changelogStep(7, shape, 3) != changelogStep(7, shape, 4))
      eq(kvReads(7, shape, 3), kvReads(7, shape, 3))
      assert(kvReads(7, shape, 3) != kvReads(8, shape, 3))
      val rows = changelogStep(7, shape, 3)
      eq(rows.map(_.event_id), (300L until 400L))
      assert(rows.forall(_.k % KeyStride == 0), "written keys are multiples of the stride")
      assert(rows.exists(_.is_delete) && rows.exists(!_.is_delete))
    }

    test("corpus generator is deterministic per seed and plants its ground truth") {
      val shape = CorpusShape(baseDocs = 200, exactDupShare = 0.1, nearDupShare = 0.1,
        boilerplateShare = 0.3, images = 20, imageTwinShare = 0.5, dim = 8, clusters = 4)
      def fingerprint(k: Corpus) = (k.docs, k.vecs.map(v => (v.vec_id, v.embedding.toSeq, v.label)),
        k.images.map(i => (i.doc_id, i.payload.toSeq)), k.exactPairs, k.nearPairs, k.imagePairs)
      val a = Gen.corpus(5, shape)
      eq(fingerprint(a), fingerprint(Gen.corpus(5, shape)))
      assert(fingerprint(a) != fingerprint(Gen.corpus(6, shape)))
      val byId = a.docs.map(d => d.doc_id -> d.text).toMap
      def norm(t: String) = t.split("\\s+").mkString(" ")
      assert(a.exactPairs.nonEmpty && a.nearPairs.nonEmpty && a.imagePairs.nonEmpty)
      a.exactPairs.foreach { case (o, c) => eq(norm(byId(c)), norm(byId(o))) }
      a.nearPairs.foreach { case (o, c) => assert(byId(c) != byId(o) && byId(c).split(" ").length == byId(o).split(" ").length) }
      eq(a.docs.map(_.doc_id).distinct.size, a.docs.size)
      eq(a.images.map(_.payload.take(2).toSeq).distinct, Seq(Seq('B'.toByte, 'M'.toByte)))
    }

    test("serving requests are deterministic per seed with a fixed mix") {
      val k = Gen.corpus(3, CorpusShape(50, 0, 0, 0, 0, 0, 8, 4))
      def show(rs: Seq[Request]) = rs.map {
        case IvfQuery(v) => ("ivf", v.toSeq)
        case other => (other.productPrefix, other)
      }
      eq(show(requests(3, 9, k.vocab, k.centroids)), show(requests(3, 9, k.vocab, k.centroids)))
      assert(show(requests(3, 9, k.vocab, k.centroids)) != show(requests(4, 9, k.vocab, k.centroids)))
      eq(requests(3, 9, k.vocab, k.centroids).map(_.productPrefix).sorted,
        Seq("Append", "Bm25Query", "Bm25Query", "DedupProbe", "IvfQuery", "IvfQuery"))
    }

    val spec = BenchSpec.load("BENCHMARK.json")

    test("BENCHMARK.json names only workloads the harness runs") {
      assert(spec.workloads.size >= 2 && spec.workloads.forall(Main.workloads.contains), spec.workloads.toString)
    }

    test("BENCHMARK.json metrics are well formed") {
      val all = spec.endToEnd ++ spec.perLayer
      eq(all.map(_.name).distinct.size, all.size)
      all.foreach { m =>
        assert(m.name.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), m.name)
        assert(m.unit.matches("[A-Za-z0-9_/%.-]{1,16}"), m.unit)
      }
      assert(spec.endToEnd.contains(MetricSpec("setup_s", "s")))
    }

    test("a timed result reports every end-to-end metric and nothing else") {
      val values = spec.endToEnd.map(m => m.name -> 1.5).toMap + ("unlisted" -> 2.0)
      eq(spec.select(trace = false, values).map(_._1), spec.endToEnd)
      throws(spec.select(trace = false, values - "setup_s"))
    }

    test("a traced result reports every per-layer metric, unexercised ones as 0") {
      val some = spec.perLayer.take(3).map(m => m.name -> 4.0).toMap
      val got = spec.select(trace = true, some)
      eq(got.map(_._1), spec.perLayer)
      eq(got.drop(3).map(_._2).distinct, Seq(0.0))
      eq(spec.unexercised(some), spec.perLayer.drop(3).map(_.name))
    }

    test("result line renders as one JSON object with the contract's keys") {
      import scala.collection.immutable.ListMap
      val line = Json.render(ListMap("correct" -> true, "attempted" -> 3, "failed" -> 0,
        "metrics" -> ListMap("setup_s" -> ListMap("value" -> 0.1234567891234, "unit" -> "s"))))
      eq(line, """{"correct":true,"attempted":3,"failed":0,"metrics":{"setup_s":{"value":0.1234567891234,"unit":"s"}}}""")
      eq(Json.render("a\"b\\c\n"), "\"a\\\"b\\\\c\\n\"")
      throws(Json.render(Double.NaN))
    }

    println(s"$passed passed, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
