package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {
  test("every headline query resolves in the registry") {
    assert(Bench.missingHeadline.isEmpty)
  }

  test("the headline names each query once, so none counts twice in value") {
    val dups = Bench.headline.diff(Bench.headline.distinct)
    assert(dups.isEmpty, dups)
  }

  test("the outputs keep the r01-r09 fields in order and add the noop medians") {
    val run = Probe.Run(Seq(
      Probe.Result("a3_multikey_agg", 2.0, Seq(0.3, 0.1, 0.2), Seq(1.0, 1.2, 1.1),
        0.0, Nil, Seq("count2" -> 1L), None),
      Probe.Result("tpch_q01", 1.0, Seq(0.5, 0.5, 0.4), Seq(0.7, 0.6, 0.8),
        0.0, Nil, Nil, None),
      Probe.Result("w6b_tws_timer_session_parity", 4.0, Nil, Nil, 0.0, Nil, Nil,
        Some("IllegalStateException: \"x\"\n")),
    ), "TaskKilled (\"killed\")")
    val (detail, line) = Bench.render(run, "/data/sf0.01")
    val mapper = new ObjectMapper
    def fields(json: String): Seq[String] =
      mapper.readTree(json).fieldNames().asScala.toSeq
    val blocks = Seq("batch_total", "streaming_total", "conformance_total",
      "tpch_total", "ssb_total")
    val lineFields = fields(line)
    assert(lineFields.filterNot(_ == "value_noop") == Seq("metric", "value", "unit") ++
      blocks ++ Seq("cold_total", "n_queries", "n_errors", "task_retries",
        "first_task_error", "queries", "sf"))
    assert(lineFields.contains("value_noop"))
    assert(fields(detail).filterNot(Set("value_noop", "noop")) == Seq("metric", "value",
      "unit") ++ blocks ++ Seq("queries", "cold", "cold_total", "n_queries", "errors",
      "task_retries", "task_retries_by_pass_query", "first_task_error", "sf"))

    val l = mapper.readTree(line)
    assert(l.get("value").asDouble == 0.7)
    assert(l.get("value_noop").asDouble == 1.8)
    assert(l.get("tpch_total").asDouble == 0.5)
    assert(l.get("n_errors").asInt == 1 && l.get("task_retries").asInt == 1)
    val d = mapper.readTree(detail)
    assert(d.get("noop").get("a3_multikey_agg").asDouble == 1.1)
    assert(d.get("cold_total").asDouble == 7.0)
    assert(d.get("task_retries_by_pass_query").get("count2:a3_multikey_agg").asInt == 1)
    assert(d.get("errors").get("w6b_tws_timer_session_parity").asText ==
      "IllegalStateException: \"x\"\n")
  }
}
