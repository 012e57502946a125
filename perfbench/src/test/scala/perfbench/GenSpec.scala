package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The workload seed alone fixes every input: one seed gives
  * byte-identical request schedules and `/_bulk` payloads, and two seeds
  * give different ones. */
class GenSpec extends AnyFunSuite {

  private def inputs(seed: Long): Map[String, Array[Byte]] = {
    val schedules = Main.Workloads.map { wl =>
      val closed = Gen.closedStream(seed, wl.reqs).take(200).map(_.toString).mkString("\n")
      wl.name -> (Gen.render(Main.schedule(wl, seed, 20)) ++ closed.getBytes(UTF_8))
    }
    val bulks = (0 until 3).map(i => s"bulk$i" -> Gen.bulkPayload(seed, i).getBytes(UTF_8))
    val corpus = "corpus" -> Gen.corpusLines(seed, 5000, 0, 1).mkString("\n")
      .getBytes(UTF_8)
    (schedules ++ bulks :+ corpus).toMap
  }

  test("one seed gives byte-identical schedules, bulk payloads and corpus") {
    val a = inputs(7L)
    val b = inputs(7L)
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(java.util.Arrays.equals(v, b(k)), k) }
  }

  test("two seeds give different schedules, bulk payloads and corpus") {
    val a = inputs(7L)
    val b = inputs(8L)
    a.foreach { case (k, v) => assert(!java.util.Arrays.equals(v, b(k)), k) }
  }

  test("the corpus does not depend on how its generation is split") {
    val whole = Gen.corpusLines(3L, 1001, 0, 1).toVector
    val split = (0 until 4).flatMap(p => Gen.corpusLines(3L, 1001, p, 4)).toVector
    assert(whole == split)
  }

  test("schedules hold the workload's rate and mix") {
    val mix = Main.Workloads.find(_.name == "query-mix").get
    val s = Main.schedule(mix, 1L, 20)
    assert(s.size == math.round(mix.rate * 20))
    val kinds = s.take(20).map(_.req.label).groupBy(identity).view.mapValues(_.size).toMap
    assert(kinds == Map("needle" -> 8, "text" -> 4, "agg_count" -> 3, "agg_avg" -> 2, "histogram" -> 3))
    val live = Main.Workloads.find(_.name == "ingest-live").get
    assert(Main.schedule(live, 1L, 20).count(_.req.isInstanceOf[Gen.Bulk]) == 4)
  }
}
