package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private val locs = Gen.locations(7, 12)

  test("the same seed gives byte-identical inputs, in any generation order") {
    val forward = (0L until 30).map(e => Gen.bytes(Gen.extraction(7, locs, e)))
    val backward = (0L until 30).reverse.map(e => Gen.bytes(Gen.extraction(7, Gen.locations(7, 12), e))).reverse
    forward.zip(backward).foreach { case (a, b) => assert(java.util.Arrays.equals(a, b)) }
    assert(Gen.corpus(7, 300) == Gen.corpus(7, 300))
  }

  test("another seed gives other inputs") {
    assert(!java.util.Arrays.equals(Gen.bytes(Gen.extraction(7, locs, 40)),
      Gen.bytes(Gen.extraction(8, Gen.locations(8, 12), 40))))
    assert(Gen.corpus(7, 300).docs != Gen.corpus(8, 300).docs)
  }

  test("extractions carry the overlap window and the edge cases") {
    val lines = Gen.extraction(7, locs, 40)
    val hours = lines.flatMap(l => "\"datetime\":\"([^\"]*)\"".r.findFirstMatchIn(l).map(_.group(1)))
    assert(hours.exists(_.endsWith("+07:00")))
    assert(hours.exists(_.endsWith("+08:00")) || !locs.exists(_.offsetHours == 8))
    assert(lines.exists(_.contains("\"city\":null")) || locs.forall(_.meta.isDefined))
    assert(lines.length > lines.distinct.length, "exact duplicate lines are planted")
    val window = (20L to 40).flatMap(e => Gen.extraction(7, locs, e))
    assert(window.exists(l => Seq("\"datetime\":\"\"", "not-a-date", "2024-13-45").exists(l.contains)),
      "unparseable datetimes are planted")
    val utc = hours.flatMap(h => scala.util.Try(java.time.OffsetDateTime.parse(h)).toOption)
      .map(_.toEpochSecond / 3600 - Gen.epochHour0).distinct.sorted
    assert(utc.toSeq == (17L to 40), "the extraction covers exactly the 24 h overlap window")
  }

  test("fixed-point values print and parse back exactly") {
    Seq(0L, 5L, 455L, -7L, 123456L).foreach { v =>
      assert(Gen.fixed(v, 1).toDouble == Gen.fixedValue(v, 1))
    }
    assert(Gen.fixed(210285, 4) == "21.0285")
    assert(Gen.fixed(-7, 1) == "-0.7")
  }

  test("percentiles interpolate between closest ranks") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(math.abs(Stats.percentile((1 to 10).map(_.toDouble), 90) - 9.1) < 1e-12)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0) == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 100) == 3.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("interval union merges overlaps and clips to the window") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L)), 0, 100) == 100) // nested
    assert(Stats.unionLength(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20) // touching
    assert(Stats.unionLength(Seq((-50L, 10L), (90L, 150L)), 0, 100) == 20) // clipped
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    assert(Stats.unionLength(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("driver gap is op wall time minus the union of its task intervals") {
    assert(Stats.driverGap(Seq((10L, 30L), (20L, 40L), (60L, 70L)), 0, 100) == 60)
    assert(Stats.driverGap(Nil, 0, 100) == 100)
    assert(Stats.driverGap(Seq((0L, 100L)), 0, 100) == 0)
  }

  test("the result line carries every named metric with its unit") {
    val spec = parse(new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    implicit val formats: Formats = DefaultFormats
    def declared(key: String) = (spec \ key).extract[List[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString)

    val endToEnd = Main.endToEnd(Map.empty.withDefaultValue(1.0))
    val layers = Layers.report(Nil)
    assert(endToEnd.map(m => m._1 -> m._3) == declared("end_to_end"))
    assert(layers.map(m => m._1 -> m._3) == declared("per_layer"))
    assert((spec \ "workloads").extract[List[Map[String, String]]].map(_("name")).forall(Workloads.names.contains))

    Seq(endToEnd, layers).foreach { metrics =>
      val line = parse(Stats.resultLine(correct = true, 3, 0, metrics))
      assert((line \ "correct").extract[Boolean])
      assert((line \ "attempted").extract[Long] == 3 && (line \ "failed").extract[Long] == 0)
      val got = (line \ "metrics").extract[Map[String, Map[String, Any]]]
      assert(got.keySet == metrics.map(_._1).toSet)
      metrics.foreach { case (n, v, u) =>
        assert(got(n)("unit") == u)
        assert(got(n)("value").toString.toDouble == v)
      }
    }
  }

  test("curation truth accounts for every planted document") {
    val c = Gen.corpus(3, 500)
    assert(c.docs.map(_.id).distinct.size == 500)
    val (n, train, test, clusters, removed) = Gen.curationTruth(c)
    val exactExtra = c.exactGroups.map(_.size - 1).sum
    assert(n == 500 - c.gatedIds.size - exactExtra - removed)
    assert(train + test == n)
    assert(clusters == c.nearClusters.size && clusters > 0 && c.exactGroups.nonEmpty)
  }

  test("planted near duplicates differ from every other planted text") {
    (0L until 200).foreach { seed =>
      val c = Gen.corpus(seed, 2500)
      val text = c.docs.map(d => d.id -> d.text).toMap
      c.nearClusters.foreach { g =>
        if (g.map(text).distinct.size != g.size) fail(s"seed $seed: cluster $g holds an exact copy")
      }
      val unique = c.docs.filterNot(d => c.gatedIds(d.id) || c.exactGroups.exists(_.tail.contains(d.id)))
      if (unique.map(_.text).distinct.size != unique.size) fail(s"seed $seed: unplanted exact copy")
    }
  }
}
