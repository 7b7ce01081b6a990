package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("the reported tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
  }

  test("a file commits at the first batch whose cumulative input rows cover it") {
    // files of 2, 3, 1 and 4 pages; batches carrying 2, 4 and 4 rows
    val c = Stats.commitBatchOf(Seq(2L, 3L, 1L, 4L), Seq(2L, 4L, 4L))
    assert(c == Seq(Some(0), Some(1), Some(1), Some(2)))
    // a batch holding part of a file does not commit it
    assert(Stats.commitBatchOf(Seq(5L), Seq(3L)) == Seq(None))
    assert(Stats.commitBatchOf(Seq(5L, 1L), Seq(3L, 2L)) == Seq(Some(1), None))
    assert(Stats.commitBatchOf(Nil, Seq(1L)).isEmpty)
  }

  test("metric names are valid, unique and listed in BENCHMARK.json") {
    val all = Metrics.endToEnd ++ Metrics.perLayer
    all.foreach(m => assert(Stats.validName(m.name), m.name))
    assert(all.map(_.name).distinct.size == all.size)
    assert(Metrics.perLayer.size <= 128)
    Seq("1x", "a.b-c_d").foreach(n => assert(Stats.validName(n)))
    Seq("", "_a", "a b", "a/b", "x" * 65).foreach(n => assert(!Stats.validName(n), n))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of("..", "BENCHMARK.json")), "UTF-8")
    val listed = "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(json).map(_.group(1)).toSet
    all.foreach(m => assert(listed(m.name), s"${m.name} missing from BENCHMARK.json"))
  }

  test("JSON numbers keep every digit") {
    assert(Stats.jsonNum(3.0) == "3")
    assert(Stats.jsonNum(1.2345678901234) == "1.2345678901234")
    assertThrows[IllegalArgumentException](Stats.jsonNum(Double.NaN))
    assert(Stats.jsonStr("a\"b\\c\n") == "\"a\\\"b\\\\c\\u000a\"")
  }

  test("span self time excludes the part its children cover") {
    val t = new Tracer("r")
    t.span("outer") {
      t.span("a")(Thread.sleep(30))
      t.span("b")(Thread.sleep(30))
      Thread.sleep(30)
    }
    val outer = t.all.find(_.name == "outer").get
    val kids = t.all.filter(_.parent == outer.id)
    assert(kids.map(_.name) == Seq("a", "b"))
    val self = t.selfSeconds(outer)
    assert(math.abs(self - (outer.seconds - kids.map(_.seconds).sum)) < 1e-6)
    assert(self > 0.02)
  }
}

class GenSpec extends AnyFunSuite {

  test("one seed reproduces every generated row, another seed does not") {
    for (stream <- Seq(Gen.DocPages, Gen.FeedPages); i <- Seq(0L, 7L, 999L)) {
      val (a, b) = (Gen.docPage(5, stream, i), Gen.docPage(5, stream, i))
      assert(a.url == b.url && a.text == b.text && a.html.sameElements(b.html) && a.lang == b.lang)
      assert(Gen.docPage(6, stream, i).text != a.text)
    }
    val (d1, d2, d3) = (Gen.wideDim(5, 20), Gen.wideDim(5, 20), Gen.wideDim(6, 20))
    assert(d1 == d2 && d1 != d3)
    val z = new Gen.Zipf(20)
    val p = Gen.widePage(5, d1, z, 3, 42)
    assert(p.text == Gen.widePage(5, d2, z, 3, 42).text)
    assert(p.text != Gen.widePage(6, d3, z, 3, 42).text)
    assert(Gen.inDelta(5, 3) == Gen.inDelta(5, 3))
  }

  test("the wide dimension is distinct and links only within a group") {
    val d = Gen.wideDim(11, 50)
    assert(d.surfaces.size == 50 * Gen.WideDim.PerGroup)
    assert(d.surfaces.distinct.size == d.surfaces.size)
    // the three words of a group's base name belong to no other group
    val words = d.surfaces.grouped(Gen.WideDim.PerGroup).map(_.head.split(' ').toSet).toVector
    for (i <- words.indices; j <- words.indices if i < j) assert((words(i) & words(j)).isEmpty)
  }

  test("about one page in twenty lands in the refresh delta") {
    val n = (0L until 20000L).count(Gen.inDelta(3, _))
    assert(n > 800 && n < 1200, n)
  }

  test("the Zipf sampler favours low ranks and stays in range") {
    val z = new Gen.Zipf(100)
    val r = Gen.rng(1, 99, 0)
    val draws = Vector.fill(20000)(z.draw(r))
    assert(draws.forall(d => d >= 0 && d < 100))
    assert(draws.count(_ == 0) > draws.count(_ == 99) * 20)
  }
}
