package perf

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import scala.io.Source

/** Every metric the harness emits has a legal name, and BENCHMARK.json
  * lists exactly the metrics the harness emits.
  */
class MetricNamesSpec extends AnyFunSuite {

  private val families =
    LibraryMix.readNames(new File("library/queries.tsv")).map(LibraryMix.family).distinct.sorted
  private val perLayer = Main.perLayerNames(families)
  private val endToEnd = "setup_s" +: Main.EndToEndNames
  private val Legal = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  test("metric names match [A-Za-z0-9_.-]+ and are unique") {
    for (n <- perLayer ++ endToEnd) assert(Legal.matches(n), n)
    assert(perLayer.distinct.size == perLayer.size)
    assert(endToEnd.distinct.size == endToEnd.size)
    assert(perLayer.size <= 128)
  }

  test("BENCHMARK.json names the emitted metrics") {
    val src = Source.fromFile("../BENCHMARK.json", "UTF-8")
    val json = try src.mkString finally src.close()
    def names(section: String): Seq[String] = {
      val start = json.indexOf("\"" + section + "\"")
      val body = json.substring(start, json.indexOf("]", start))
      "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == endToEnd)
    assert(names("per_layer") == perLayer)
    assert(names("workloads").forall(w => Main.Specs.contains(w) || w == "library_mix"))
  }
}
