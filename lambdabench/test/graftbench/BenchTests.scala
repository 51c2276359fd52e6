package graftbench

/** The benchmark's own tests: the percentile rule, generator
  * determinism, the output models and checkers, self-time accounting,
  * and that BENCHMARK.json names exactly the metrics a run reports.
  * Plain Scala, no Spark session. Run with
  * `python3 lambdabench/build.py --test` from the repository root.
  */
object BenchTests {

  private var run = 0
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit = {
    run += 1
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }
  }

  private def check(cond: Boolean, msg: => String = "check failed"): Unit =
    if (!cond) throw new AssertionError(msg)

  private def span(id: Long, parent: Long, start: Long, end: Long, layer: String = "bench",
                   thread: String = "main", name: String = "s") =
    Span(id, layer, name, 1L, parent, thread, start, end)

  def main(args: Array[String]): Unit = {

    // ---- percentile rule ----

    test("a tail percentile needs ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      check(Stats.percentile(xs, 0.90).contains(90.0), Stats.percentile(xs, 0.90).toString)
      check(Stats.percentile((1 to 99).map(_.toDouble), 0.90).isEmpty)
      check(Stats.percentile((1 to 200).map(_.toDouble), 0.95).contains(190.0))
      check(Stats.percentile((1 to 199).map(_.toDouble), 0.95).isEmpty)
    }

    test("the median is reported from any non-empty sample") {
      check(Stats.percentile(Seq(3.0), 0.5).contains(3.0))
      check(Stats.percentile(Nil, 0.5).isEmpty)
      check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
      check(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    }

    test("open-loop validity: lag carried forward and a growing queue") {
      check(!Stats.fellBehind(Seq(0, 900, 5, 3, 2, 4), 250), "one caught-up stall is not falling behind")
      check(Stats.fellBehind(Seq(0, 100, 200, 300, 400, 500), 250))
      check(!Stats.grew(Seq(8, 9, 8, 10, 9, 8), 4))
      check(Stats.grew(Seq(8, 9, 12, 20, 28, 40), 4))
    }

    // ---- generator determinism ----

    test("the same seed gives byte-identical inputs; another seed differs") {
      val a = Gen.masters(7, 30, 40, 6)
      val b = Gen.masters(7, 30, 40, 6)
      check(a.digest == b.digest)
      check(a.digest != Gen.masters(8, 30, 40, 6).digest)
      check(Gen.storeRows(7, 500) == Gen.storeRows(7, 500))
      check(Gen.batchViewRows(7, 60) == Gen.batchViewRows(7, 60))
      val (m1, m2) = (new Gen.StoreMix(7, 500), new Gen.StoreMix(7, 500))
      check((1 to 5).map(_ => m1.round()) == (1 to 5).map(_ => m2.round()))
      val (l1, l2) = (new Gen.LiveStream(7, "d1", "d0"), new Gen.LiveStream(7, "d1", "d0"))
      check(Seq.fill(50)(l1.nextNews()) == Seq.fill(50)(l2.nextNews()))
      check(Seq.fill(50)(l1.nextClose()) == Seq.fill(50)(l2.nextClose()))
    }

    test("the store mix only targets live keys and keeps the table keyed") {
      val mix = new Gen.StoreMix(3, 200)
      val model = new Model.StoreModel(Gen.storeRows(3, 200))
      (1 to 20).flatMap(_ => mix.round()).foreach { op =>
        op match {
          case Gen.Delete(k) => check(model.rows.contains(k), s"delete of missing key $k")
          case Gen.Lookup(k) => check(model.rows.contains(k), s"lookup of missing key $k")
          case Gen.Insert(rs) => check(rs.forall(r => !model.rows.contains(r.k)), "insert of a live key")
          case Gen.Merge(rs) => check(rs.map(_.k).distinct.size == rs.size && rs.size == 50)
          case Gen.Refresh =>
        }
        model(op)
      }
    }

    // ---- models and checkers ----

    test("clean mirrors the batch layer's text cleaning") {
      check(Model.clean("up 1").isEmpty)
      check(Model.clean("  gain on http://x.co/1 @bob #tag $AAPL a_b  ").contains("gain on   tag AAPL a b"),
        Model.clean("  gain on http://x.co/1 @bob #tag $AAPL a_b  ").toString)
    }

    test("score smooths lexicon counts over lowercased tokens") {
      val (p, n, u) = Model.score("GAIN  loss apple")
      check(p == 2.0 / 6 && n == 2.0 / 6 && u == 2.0 / 6, s"$p $n $u")
      check(Model.score("") == ((1.0 / 3, 1.0 / 3, 1.0 / 3)))
    }

    test("batch view model and checker") {
      val news = Seq("d1" -> "strong gain today", "d1" -> "weak", "d1" -> "market down today",
        "d2" -> "record rally in shares", "d3" -> "no close for this day")
      val want = Model.batchView(news.iterator, Seq("d1" -> 10.0, "d2" -> 11.0, "d9" -> 9.0), today = "d2")
      check(want.keySet == Set("d1"), want.toString) // d2 is today, d3 has no close
      check(want("d1").n == 2 && want("d1").close == 10.0)
      check(Model.checkBatchView(want, want).isEmpty)
      val w = want("d1")
      check(Model.checkBatchView(want, Map("d1" -> w.copy(pos = w.pos + 1e-12))).isEmpty)
      check(Model.checkBatchView(want, Map("d1" -> w.copy(pos = w.pos + 1e-8))).nonEmpty)
      check(Model.checkBatchView(want, Map("d1" -> w.copy(n = 3))).nonEmpty)
      check(Model.checkBatchView(want, Map.empty).nonEmpty)
      check(Model.checkBatchView(want, want + ("d7" -> w)).nonEmpty)
    }

    test("speed model folds in arrival order; checker compares count, close, sentiment") {
      val m = new Model.SpeedModel
      m.news("d", "gain"); m.news("d", "loss"); m.tick("d", 5.0); m.tick("d", 6.0)
      val s = m.snapshot("d")
      val (p1, _, _) = Model.score("gain")
      val (p2, _, _) = Model.score("loss")
      check(s.n == 2 && s.close.contains(6.0) && s.pos.contains((p1 + p2) / 2), s.toString)
      check(Model.checkSpeedView(m.snapshot, m.snapshot).isEmpty)
      check(Model.checkSpeedView(m.snapshot, Map("d" -> s.copy(close = Some(5.0)))).nonEmpty)
      check(Model.checkSpeedView(m.snapshot, Map("d" -> s.copy(n = 3))).nonEmpty)
      check(Model.checkSpeedView(m.snapshot, Map("d" -> s.copy(pos = None))).nonEmpty)
    }

    test("store model and table/view checkers") {
      val m = new Model.StoreModel(Seq(Gen.Row3(1, "a", 1.0), Gen.Row3(2, "b", 2.0)))
      m(Gen.Insert(Seq(Gen.Row3(3, "a", 3.0))))
      m(Gen.Delete(2))
      m(Gen.Merge(Seq(Gen.Row3(1, "b", 5.0), Gen.Row3(4, "b", 1.5))))
      val rows = m.rows.values.toSeq
      check(m.view == Map("a" -> (1L, 3.0), "b" -> (2L, 6.5)), m.view.toString)
      check(Model.checkTable(m.rows, rows).isEmpty)
      check(Model.checkTable(m.rows, rows :+ rows.head).nonEmpty, "duplicate key")
      check(Model.checkTable(m.rows, rows.tail).nonEmpty, "missing key")
      check(Model.checkTable(m.rows, rows.map(r => r.copy(v = r.v + 1))).nonEmpty, "changed value")
      check(Model.checkView(m.view, m.view).isEmpty)
      check(Model.checkView(m.view, m.view.updated("a", (1L, 3.0 + 1e-12))).isEmpty)
      check(Model.checkView(m.view, m.view.updated("a", (2L, 3.0))).nonEmpty)
      check(Model.checkView(m.view, m.view - "b").nonEmpty)
    }

    // ---- self time ----

    test("self time subtracts the union of children, clipped to the parent") {
      val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30, "viewstore"), span(3, 1, 20, 50, "viewstore"),
        span(4, 1, 90, 120, "serving"), span(5, 3, 25, 35, "spark"))
      val self = Trace.selfTimes(spans)
      check(self(1) == 100 - (40 + 10), self.toString)
      check(self(2) == 20 && self(3) == 20 && self(4) == 30 && self(5) == 10, self.toString)
      val layers = Trace.layerSelfMs(spans)
      check(layers("viewstore") == 40 / 1e6 && layers("bench") == 50 / 1e6, layers.toString)
    }

    test("stream-thread work is adopted by its own query's batch, batches by the drain") {
      val q1 = "stream execution thread for [id = aaaa-1, runId = r1]"
      val spans = Seq(
        span(1, 0, 0, 1000, "streaming", name = "drain"),
        span(2, 0, 100, 600, "streaming", "progress [id = aaaa-1]", "batch"),
        span(3, 0, 110, 700, "streaming", "progress [id = bbbb-2]", "batch"),
        span(4, 0, 200, 300, "viewstore", q1, "merge"),
        span(5, 0, 2000, 2100, "viewstore", q1, "merge"))
      val by = Trace.adoptStreamOrphans(spans).map(s => s.id -> s.parent).toMap
      check(by(2) == 1 && by(3) == 1, by.toString)
      check(by(4) == 2, s"merge adopted by ${by(4)}")
      check(by(5) == 0, "a span outside every batch stays a root")
    }

    test("a tracer nests spans per thread and disabled records nothing") {
      val on = new Tracer(true)
      on.span("bench", "outer")(on.span("viewstore", "inner")(()))
      val Seq(outer, inner) = on.spans
      check(inner.parent == outer.id && inner.op == outer.op && outer.parent == 0)
      val off = new Tracer(false)
      check(off.span("bench", "x")(41 + 1) == 42 && off.spans.isEmpty)
    }

    // ---- BENCHMARK.json ----

    test("BENCHMARK.json lists exactly the metrics a run reports") {
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File("BENCHMARK.json"))
      def names(k: String) = {
        val it = json.get(k).elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(n =>
          n.get("name").asText() -> n.get("unit").asText()).toSeq
      }
      check(names("end_to_end") == Metrics.EndToEnd, names("end_to_end").toString)
      check(names("per_layer") == Metrics.PerLayer, names("per_layer").diff(Metrics.PerLayer).toString)
      val wl = json.get("workloads").elements()
      check(Iterator.continually(wl).takeWhile(_.hasNext).map(_.next().get("name").asText()).toSet ==
        Main.Workloads.keySet)
    }

    println(s"$run tests, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
