package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 10) == 1.0)
    assert(Stats.percentile(Seq(3.0), 90) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("p90 is supported only with at least ten samples beyond it") {
    val at99 = (1 to 99).map(_.toDouble)
    val at100 = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(at99, 90) == 9)
    assert(!Stats.supported(at99, 90))
    assert(Stats.beyond(at100, 90) == 10)
    assert(Stats.supported(at100, 90))
    // ties at the percentile do not count as beyond it
    val tied = Seq.fill(95)(1.0) ++ (1 to 10).map(_ + 1.0)
    assert(Stats.beyond(tied, 90) == 10)
    assert(!Stats.supported(Seq.fill(200)(1.0), 90))
  }
}

class TraceSpec extends AnyFunSuite {
  private def s(id: Long, parent: Long, start: Long, end: Long, layer: String = "x") =
    Span(id, parent, layer, s"s$id", 0L, start, end)

  test("union of overlapping intervals, clipped") {
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Trace.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 15L)), 3L, 12L) == 9L)
    assert(Trace.unionLength(Nil) == 0L)
  }

  test("self time subtracts nested and overlapping children once") {
    val spans = Seq(
      s(1, 0, 0, 100, "plans"),
      // two parallel children overlapping on [30, 40)
      s(2, 1, 10, 40, "sources"), s(3, 1, 30, 60, "sources"),
      // a grandchild inside child 2
      s(4, 2, 15, 25, "spark"),
      // a child that outlives its parent counts only inside it
      s(5, 1, 90, 130, "spark"))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (50 + 10)) // [10,60) and [90,100)
    assert(self(2) == 30 - 10)
    assert(self(3) == 30)
    assert(self(4) == 10)
    assert(self(5) == 40)
    val byLayer = Trace.selfByLayer(spans)
    assert(byLayer("plans") == 40 && byLayer("sources") == 50 && byLayer("spark") == 50)
  }

  test("spans opened on other threads take the driver's open span as parent") {
    Trace.driver()
    Trace.clear()
    Trace.on = true
    try {
      Trace.span("plans", "outer") {
        val t = new Thread(() => Trace.span("sources", "task")(()))
        t.start(); t.join()
      }
    } finally Trace.on = false
    val spans = Trace.snapshot
    val outer = spans.find(_.name == "outer").get
    assert(spans.find(_.name == "task").get.parent == outer.id)
    assert(outer.parent == 0L)
    Trace.clear()
  }

  test("job spans attach to the innermost call holding their start") {
    val spans = Seq(Span(1, 0, "plans", "run", 7, 0, 100), Span(2, 1, "sources", "list", 7, 10, 20),
      Span(3, 0, "spark", "job-1", 7, 12, 18), Span(4, 0, "spark", "job-2", 7, 50, 60),
      Span(5, 0, "spark", "job-3", 8, 50, 60))
    val p = Report.parentJobs(spans).map(x => x.id -> x.parent).toMap
    assert(p(3) == 2 && p(4) == 1 && p(5) == 0)
  }
}

class GeneratorSpec extends AnyFunSuite {
  test("archive generator is a function of the seed") {
    val a = new ArchiveGen(5)
    val b = new ArchiveGen(5)
    val c = new ArchiveGen(6)
    assert(a.manifest(0, 20) == b.manifest(0, 20))
    assert(java.util.Arrays.equals(a.payload(1, 3), b.payload(1, 3)))
    assert(!java.util.Arrays.equals(a.payload(1, 3), c.payload(1, 3)))
    assert(java.util.Arrays.equals(a.maxmindPayload(2), b.maxmindPayload(2)))
    assert(!java.util.Arrays.equals(a.maxmindPayload(2), c.maxmindPayload(2)))
    assert(a.expected(20) == b.expected(20))
    // sizes stay within the stated jitter of the published ones
    val sizes = (0 to 20).map(d => a.payload(0, d).length.toDouble / ArchiveGen.PayloadBytes(0))
    assert(sizes.forall(r => r >= 1 - ArchiveGen.SizeJitter && r <= 1 + ArchiveGen.SizeJitter))
    assert(sizes.distinct.size > 1)
  }

  test("Maxmind changes weekly, so most days are month-scope duplicates") {
    val g = new ArchiveGen(1)
    val kept = (1 to 200).filter(g.maxmindKept)
    assert(kept.size > 20 && kept.size < 50, s"${kept.size} of 200 kept")
    // release days and the first day of a month are always kept
    assert((1 to 200).filter(d => g.date(d).getDayOfWeek == ArchiveGen.MaxmindRelease)
      .forall(g.maxmindKept))
    val firsts = (1 to 200).filter(d => g.date(d).getDayOfMonth == 1)
    assert(firsts.nonEmpty && firsts.forall(g.maxmindKept))
  }

  test("ingest batches are a function of the seed, with the stated shares") {
    val corpus = (0 until 500).map(i => s"doc $i " + ("w" * (i % 7 + 1)) + " text body words")
    val a = new IngestGen(3, corpus)
    val b = new IngestGen(3, corpus)
    val c = new IngestGen(4, corpus)
    assert((0 until 4).map(a.batch) == (0 until 4).map(b.batch))
    assert(a.batch(1) != c.batch(1))
    assert(a.batch(3).map(_._1) == (601L to 800L))
    val texts = (0 until 4).flatMap(a.batch).map(_._2)
    val exact = texts.size - texts.distinct.size
    assert(exact > 60 && exact < 180, s"$exact exact duplicates of ${texts.size}")
  }
}

class BenchmarkFileSpec extends AnyFunSuite {
  test("BENCHMARK.json lists exactly the per-layer metrics a traced run reports") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val listed = (0 until root.get("per_layer").size).map(root.get("per_layer").get(_))
    assert(listed.map(_.get("name").asText) == Report.layerNames)
    assert(listed.forall(m => m.get("unit").asText == Report.unit(m.get("name").asText)))
    assert(Report.complete(Map("spark.jobs" -> 3.0)).toMap.apply("spark.jobs") == 3.0)
    assertThrows[IllegalArgumentException](Report.complete(Map("spark.job" -> 1.0)))
  }
}
