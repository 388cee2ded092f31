package graft.qbench

/** Tests of the benchmark's own helpers: the percentile rule, open-loop
  * lateness accounting, seeded generators and span self time. Run with
  * `python3 qbench/build.py test`; exits non-zero on the first failure.
  */
object HelpersTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("percentile rule: highest percentile with >= 10 samples beyond it") {
      eq(Stats.tailPercentile(19), None)
      eq(Stats.tailPercentile(20), Some(50.0))
      eq(Stats.tailPercentile(39), Some(50.0))
      eq(Stats.tailPercentile(40), Some(75.0))
      eq(Stats.tailPercentile(100), Some(90.0))
      eq(Stats.tailPercentile(199), Some(90.0))
      eq(Stats.tailPercentile(200), Some(95.0))
      eq(Stats.tailPercentile(999), Some(95.0))
      eq(Stats.tailPercentile(1000), Some(99.0))
      eq(Stats.tailPercentile(10000), Some(99.9))
    }

    test("nearest-rank percentile and summary") {
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(xs.toArray, 90), 90.0)
      eq(Stats.percentile(xs.toArray, 100), 100.0)
      val s = Stats.summarize(xs.reverse)
      eq((s.n, s.p50, s.tailPct, s.tail), (100, 50.5, 90.0, 90.0))
      // too few samples for any percentile: the tail is the median
      val few = Stats.summarize(Seq(3.0, 1.0, 2.0))
      eq((few.tailPct, few.tail), (50.0, 2.0))
    }

    test("open loop: calls keep their schedule and lateness is charged") {
      // a fake clock where call 1 stalls for 250 ms: calls 2 and 3 start
      // late, and their latency counts from when they were due
      var now = 0L
      val clock = new OpenLoop.Clock {
        def nanoTime(): Long = now
        def sleepUntil(ns: Long): Unit = now = math.max(now, ns)
      }
      val period = 100000000L
      val calls = OpenLoop.run(4, 1000L, period, clock) { (i, _) =>
        now += (if (i == 1) 250000000L else 10000000L)
      }
      eq(calls.map(_.dueNs), Seq(1000L, 1000L + period, 1000L + 2 * period, 1000L + 3 * period))
      eq(calls.map(_.lateNs / 1000000), Seq(0L, 0L, 150L, 60L))
      eq(calls.map(_.latencyNs / 1000000), Seq(10L, 250L, 160L, 70L))
    }

    test("seeded generators: same seed, same bytes; other seed, other bytes") {
      val a = Gen.tailPayload(7L, 3, 5, 123456789L, 200)
      eq(a.toSeq, Gen.tailPayload(7L, 3, 5, 123456789L, 200).toSeq)
      assert(a.toSeq != Gen.tailPayload(8L, 3, 5, 123456789L, 200).toSeq)
      eq(Gen.tailHead(a), Gen.TailHead(3, 5, 123456789L))
      val z = new Gen.Zipf(1000, 1.1)
      eq((0L until 50L).map(Gen.event(7L, z, _)), (0L until 50L).map(Gen.event(7L, z, _)))
      assert((0L until 50L).map(Gen.event(7L, z, _)) != (0L until 50L).map(Gen.event(8L, z, _)))
      eq(Gen.corpus(7L, 200, 10, 10, 3), Gen.corpus(7L, 200, 10, 10, 3))
      eq(Gen.vectors(7L, 5, 8).map(_.toSeq), Gen.vectors(7L, 5, 8).map(_.toSeq))
    }

    test("corpus plants the duplicates it declares") {
      val docs = Gen.corpus(11L, 300, 20, 15, 3)
      eq(docs.size, 300 + 20 + 15 * 2)
      eq(docs.map(_.docId).distinct.size, docs.size)
      val byId = docs.map(d => d.docId -> d).toMap
      docs.filter(_.exactOf >= 0).foreach(d => eq(d.text, byId(d.exactOf).text))
      docs.filter(_.cluster >= 0).groupBy(_.cluster).values.foreach { ds =>
        eq(ds.size, 3)
        eq(ds.map(_.text).distinct.size, 3)
      }
    }

    test("span self time: duration minus the union of its children") {
      val spans = Seq(
        Span(0, -1, "root", 0, 100),
        Span(1, 0, "a", 10, 40),
        Span(2, 0, "b", 30, 60), // overlaps a: 10..60 covered once
        Span(3, 1, "a.child", 15, 20), // grandchild: not subtracted from root
        Span(4, 0, "c", 90, 120)) // runs past the parent: clipped to 90..100
      val self = Trace.selfTimesNs(spans)
      eq(self(0), 100L - 50L - 10L)
      eq(self(1), 30L - 5L)
      eq(self(2), 30L)
      eq(self(3), 5L)
      eq(Trace.selfMsByName(spans)("root"), 40 / 1e6)
    }

    test("tracer records parent links and nothing when disabled") {
      val t = new Tracer(true, "run")
      t.span("outer")(t.span("inner")(()))
      val byName = t.all.map(s => s.name -> s).toMap
      eq(byName("inner").parent, byName("outer").id)
      eq(byName("outer").parent, -1L)
      val off = new Tracer(false, "run")
      off.span("outer")(())
      eq(off.all, Nil)
    }

    if (failures > 0) { println(s"$failures test(s) failed"); sys.exit(1) }
    println("all helper tests passed")
  }
}
