package lakebench

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  import Stats.Sample

  private def landTape(seed: Long, dir: Path, files: Int): Seq[Array[Byte]] = {
    val gen = new TickGen(seed, ticksPerFile = 250, filePeriodS = 0.25)
    (0 until files).map { _ =>
      val f = gen.nextFile()
      Files.readAllBytes(TickGen.land(dir, f))
    }
  }

  test("the same seed lands byte-identical inputs; another seed does not") {
    val tmp = Files.createDirectories(Paths.get("target", "tapes"))
    val Seq(a, b, c) = Seq("a", "b", "c").map(n => Files.createTempDirectory(tmp, n))
    val ta = landTape(7, a, 12)
    val tb = landTape(7, b, 12)
    val tc = landTape(8, c, 12)
    assert(ta.zip(tb).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!ta.zip(tc).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    // nothing is left under a hidden temporary name
    assert(Files.list(a).toArray.map(_.toString).forall(_.endsWith(".json")))
    assert(CorpusGen.docs(7, 300) == CorpusGen.docs(7, 300))
    assert(CorpusGen.vectors(7, 50).map(_.embedding.toSeq) == CorpusGen.vectors(7, 50).map(_.embedding.toSeq))
  }

  test("generated tapes carry the documented late and malformed shares") {
    val gen = new TickGen(3, ticksPerFile = 1000, filePeriodS = 1.0)
    val files = (0 until 40).map(_ => gen.nextFile())
    val n = files.map(_.rows).sum.toDouble
    assert(math.abs(files.map(_.late).sum / n - 0.03) < 0.005)
    assert(math.abs(files.map(_.malformed).sum / n - 0.005) < 0.002)
    // event time runs 60x the schedule: file k's newest tick is within 1 file of k*60 s
    files.foreach { f =>
      val expected = gen.eventUsAt((f.index + 1) * 1.0)
      assert(f.maxEventUs <= expected && f.maxEventUs > expected - 60000000L)
    }
  }

  test("bronze freshness: each file is charged to the first batch that covers it") {
    val files = IndexedSeq(
      Fresh.Landed(0, dueNs = 0L, rows = 10, maxEventUs = 0),
      Fresh.Landed(1, dueNs = 250000000L, rows = 10, maxEventUs = 0),
      Fresh.Landed(2, dueNs = 500000000L, rows = 10, maxEventUs = 0))
    val batches = Seq(
      Fresh.Batch(id = 1, rows = 10, commitNs = 400000000L),
      Fresh.Batch(id = 2, rows = 20, commitNs = 900000000L))
    val s = Fresh.bronze(files, batches)
    assert(s == Seq(Sample(0.4, 1), Sample(0.65, 2), Sample(0.4, 2)))
    // a batch that has not covered a whole file yet charges nothing
    assert(Fresh.bronze(files, Seq(Fresh.Batch(1, 5, 1L))).isEmpty)
  }

  test("silver freshness: measured from the first tick that passes window end + watermark") {
    val delay = 60000000L
    val files = IndexedSeq(
      Fresh.Landed(0, dueNs = 0L, rows = 1, maxEventUs = 100000000L),
      Fresh.Landed(1, dueNs = 1000000000L, rows = 1, maxEventUs = 90000000L), // late-only file
      Fresh.Landed(2, dueNs = 2000000000L, rows = 1, maxEventUs = 130000000L),
      Fresh.Landed(3, dueNs = 3000000000L, rows = 1, maxEventUs = 190000000L))
    // window ending at 60 s closes once event time reaches 120 s: file 2
    // window ending at 130 s closes at 190 s: file 3; one ending at 200 s never does
    val (s, orphans) = Fresh.silver(files,
      Seq((5L, 2500000000L, Seq(60000000L)), (6L, 3600000000L, Seq(130000000L, 200000000L))), delay)
    assert(s == Seq(Sample(0.5, 5), Sample(0.6, 6)))
    assert(orphans == 1)
    // the prefix maximum, not a late file, decides: 100 s is reached by file 0
    assert(Fresh.firstReaching(files, 95000000L).contains(0L))
  }

  test("a percentile is valid only with ten distinct groups beyond it") {
    val twenty = (1 to 20).map(i => Sample(i.toDouble, i.toLong))
    val p50 = Stats.pct(twenty, 50)
    assert(p50.value == 10.5 && p50.groupsBeyond == 10 && p50.valid)
    assert(!Stats.pct(twenty, 90).valid)
    // many samples in few groups do not count as many samples
    val clumped = (1 to 200).map(i => Sample(i.toDouble, (i / 20).toLong))
    val c = Stats.pct(clumped, 50)
    assert(c.n == 200 && c.groupsBeyond == 6 && !c.valid)
    assert(Stats.perGroup(clumped).size == 11)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 25) == 1.75)
    // the lower median ignores one spike in two, and is the median for odd counts
    assert(Stats.lowMedian(Seq(2.9, 0.3)) == 0.3)
    assert(Stats.lowMedian(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("backlog growth: flat series stay near zero, a rising one shows its rise") {
    val flat = (0 until 40).map(i => (i * 0.25, if (i % 2 == 0) 1.0 else 2.0))
    assert(math.abs(Stats.growth(flat)) < 0.2)
    val rising = (0 until 40).map(i => (i * 0.25, i * 0.5))
    assert(math.abs(Stats.growth(rising) - 19.5) < 1e-9)
  }

  test("self time subtracts the union of child spans from each span") {
    import Tracer.Span
    val spans = Seq(
      Span(1, 0, "sources.append", 0L, 100L, "r"),
      Span(2, 1, "ingest.parse", 10L, 40L, "r"),
      Span(3, 1, "ingest.parse", 30L, 50L, "r"), // overlaps its sibling
      Span(4, 3, "gold.rollup", 35L, 45L, "r"),
      Span(5, 0, "gold.rollup", 200L, 260L, "r"))
    val self = Tracer.selfTimes(spans)
    assert(self("sources.append") == 60 / 1e9) // 100 - union(10..50)
    assert(self("ingest.parse") == (30 + 10) / 1e9) // 30 + (20 - 10 covered by the rollup)
    assert(self("gold.rollup") == (10 + 60) / 1e9)
  }

  test("the tracer records nesting and is a plain call when disabled") {
    val t = new Tracer(enabled = true, "run")
    val v = t("outer")(t("inner")(41) + 1)
    assert(v == 42)
    val spans = t.spans
    val outer = spans.find(_.name == "outer").get
    val inner = spans.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0)
    val off = new Tracer(enabled = false, "run")
    assert(off("x")(1) == 1 && off.spans.isEmpty)
  }
}
