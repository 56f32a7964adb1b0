package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("a tail percentile needs at least ten samples beyond it") {
    val xs199 = (1 to 199).map(_.toDouble)
    val xs200 = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs199, 0.95).isEmpty)
    assert(Stats.percentile(xs200, 0.95).contains(190.0))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 0.5).contains(10.0))
    assert(Stats.percentile(Seq(3.0), 0.5).contains(3.0))
    assert(Stats.percentile(Seq.empty, 0.5).isEmpty)
    assert(Stats.median((1 to 4).map(_.toDouble)) == 2.0)
  }

  test("covered time is the union of job intervals, clipped to the call") {
    // two overlapping jobs, one disjoint, one outside the call
    val jobs = Seq((10L, 30L), (20L, 40L), (60L, 70L), (200L, 300L))
    assert(Intervals.covered(jobs, 0L, 100L) == 40L)
    assert(Intervals.gap(jobs, 0L, 100L) == 60L)
    // clipping at both ends
    assert(Intervals.covered(jobs, 25L, 65L) == 20L)
    // nested and identical intervals count once
    assert(Intervals.covered(Seq((0L, 50L), (10L, 20L), (0L, 50L)), 0L, 100L) == 50L)
    // touching intervals merge without double counting
    assert(Intervals.covered(Seq((0L, 10L), (10L, 20L)), 0L, 20L) == 20L)
    assert(Intervals.gap(Nil, 5L, 9L) == 4L)
  }

  test("span self time excludes the part its children cover") {
    val parent = Span(1, "api.request", 0L, 100L, 0L, 7L)
    val children = Seq(
      Span(2, "operators.scan", 10L, 40L, 1L, 7L),
      Span(3, "operators.topk", 30L, 50L, 1L, 7L),
      Span(4, "cache.release", 90L, 120L, 1L, 7L))
    assert(Span.selfNs(parent, children) == 100L - 40L - 10L)
    val rec = new Recorder
    rec.add(parent)
    assert(rec.all.isEmpty, "spans are kept only while tracing is on")
    rec.on = true
    (parent +: children).foreach(rec.add)
    val self = rec.selfTimes
    assert(self(1L) == 50L)
    assert(self(2L) == 30L)
  }

  test("the result line lists every declared metric, each once") {
    val names = Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
    assert(names.distinct.length == names.length)
    assert(names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")))
    assert(Main.PerLayer.length <= 128)
  }

  test("every datagen entry has a latency limit") {
    assert(Datagen.SloMs.keySet == Datagen.Steps.flatMap(_._2).toSet)
  }

  test("BENCHMARK.json declares exactly the metrics the driven workloads print") {
    import org.json4s._
    val spec = org.json4s.jackson.JsonMethods.parse(
      scala.io.Source.fromFile("../BENCHMARK.json").mkString)
    def named(key: String) = (spec \ key).children.map(m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString))
    assert(named("end_to_end") == Main.EndToEnd)
    assert(named("per_layer") == Main.PerLayer)
    val workloads = (spec \ "workloads").children.map(w => (w \ "name").values.toString)
    assert(workloads.forall(Main.Workloads.contains))
  }

  test("the same seed gives identical inputs, another seed different ones") {
    val a = Inputs.games(5L, 300)
    val b = Inputs.games(5L, 300)
    val c = Inputs.games(6L, 300)
    assert(a.digest == b.digest)
    assert(a.digest != c.digest)
    val (d1, planted) = Inputs.documents(5L, 400, 0.05, 0.05, 0.4, 0.03)
    val (d2, _) = Inputs.documents(5L, 400, 0.05, 0.05, 0.4, 0.03)
    assert(d1.digest == d2.digest)
    assert(planted == 20)
    // exactly the planted copies repeat a text
    assert(d1.texts.length - d1.texts.distinct.length == planted)
  }
}
