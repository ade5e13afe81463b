package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json (at the repository root, next to this build's directory)
  * declares the metrics; the harness must emit exactly those names. */
class MetricNamesSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new File("..", "BENCHMARK.json"))
  private def list(k: String): Seq[JsonNode] = spec.get(k).elements().asScala.toSeq
  private def names(k: String): Seq[String] = list(k).map(_.get("name").asText)

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
  private val UnitRe = "[A-Za-z0-9_/%.-]{1,16}"

  test("metric and workload names and units are well formed and unique") {
    val all = names("end_to_end") ++ names("per_layer") ++ names("workloads")
    all.foreach(n => assert(n.matches(NameRe), n))
    assert(all.distinct.length == all.length)
    (list("end_to_end") ++ list("per_layer")).foreach { m =>
      assert(m.get("unit").asText.matches(UnitRe), m)
      assert(Set("lower", "higher").contains(m.get("better").asText), m)
    }
  }

  test("end-to-end bounds are within 0.25 and setup_s has the largest") {
    val e2e = list("end_to_end")
    e2e.foreach(m => assert(m.get("bound").asDouble > 0 && m.get("bound").asDouble <= 0.25, m))
    val setup = e2e.find(_.get("name").asText == "setup_s").get
    assert(setup.get("unit").asText == "s" && setup.get("better").asText == "lower")
    assert(e2e.forall(_.get("bound").asDouble <= setup.get("bound").asDouble))
  }

  test("the declared workloads are the harness's workloads") {
    assert(names("workloads").toSet == Workloads.All.map(_.name).toSet)
  }

  private val rec = OpRecord("op", 1, traced = true, 0.5, 1000, Counters(jobs = 2, worstSkew = 1.5))
  private val w = WindowResult(Seq(rec, rec.copy(pass = 2)), Seq(true -> 0.5, true -> 0.5), 2, Nil)

  test("the harness emits exactly the declared end-to-end metrics") {
    assert(Main.endToEnd(Seq(1.0, 2.0, 3.0), w, 64.0).map(_._1).toSet == names("end_to_end").toSet)
  }

  test("the harness emits exactly the declared per-layer metrics") {
    val emitted = Layers.universal(w, w, new Tracer, 4, 0.4).map(_._1)
    assert(emitted.toSet == names("per_layer").toSet)
  }
}
