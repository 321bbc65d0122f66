package graft.tools

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{Registry, SparkSpec}
import graft.ops.SessionMemo

/** The probe's record fields on the bundled sf0.001 tables, and the CLI
  * sweep's output lines. */
class QueryProbeSpec extends SparkSpec {

  private lazy val probe = QueryProbe.attach(spark)

  test("a shuffling query records shuffle work, all three Catalyst phases and a clean drain") {
    val r = probe.run(Registry.byName("q6_filtered_agg"), Sf0001)
    assert(r.shuffleRecords > 0, r.json)
    assert(Seq(r.analysisMs, r.optimizationMs, r.planningMs).forall(_ >= 0), r.json)
    assert(r.execJobs > 0 && r.stages > 0 && r.tasks > 0 && r.inputRecords > 0, r.json)
    assert(r.rows == 1L && r.sec >= r.buildSec + r.execSec - 1e-3, r.json)
    assert(r.drain == "clean", r.json)
  }

  test("jobs are attributed to the phase that started them: pagerank runs jobs at build") {
    val pagerank = probe.run(Registry.byName("x_graph_pagerank"), Sf0001)
    // q6's one build job is the parquet schema inference of its one
    // table load; a frame that reads no files builds with no job
    val q6 = probe.run(Registry.byName("q6_filtered_agg"), Sf0001)
    val range = probe.run(graft.GraftQuery("range", (s, _) => s.range(10).toDF()), Sf0001)
    assert(pagerank.buildJobs > q6.buildJobs, pagerank.json)
    assert(q6.buildJobs == 1 && q6.execJobs > 0, q6.json)
    assert(range.buildJobs == 0 && range.execJobs > 0, range.json)
  }

  test("first consumer pays: after releaseAll the first run builds its memos, the second hits them") {
    SessionMemo.releaseAll()
    val q = Registry.byName("x_graph_pagerank")
    val first = probe.run(q, Sf0001)
    val second = probe.run(q, Sf0001)
    assert(first.memo.values.map(_.builds).sum >= 1, first.json)
    assert(second.memo.values.map(_.builds).sum == 0, second.json)
    assert(second.memo.values.map(_.hits).sum >= 1, second.json)
  }

  test("the CLI sweep prints one record per rep and a Bench-shaped total line with measured canaries") {
    val lines = ArrayBuffer.empty[String]
    val names = Seq("d4_count", "q6_filtered_agg")
    QueryProbe.sweep(spark, Sf0001, 1, names.map(Registry.byName), lines += _)
    val json = new ObjectMapper()
    val records = lines.filter(_.startsWith("{\"name\"")).map(json.readTree)
    assert(records.map(_.get("name").asText) == names, lines.mkString("\n"))
    assert(records.forall(r => r.get("shuffle_records").isNumber && r.get("drain").asText == "clean"))
    val total = json.readTree(lines.last)
    assert(total.get("metric").asText == "total", lines.last)
    assert(total.get("value").isNumber && total.get("value").asDouble > 0, lines.last)
    assert(total.get("failed").asInt == 0, lines.last)
    assert(total.get("queries").size == names.size, lines.last)
    val canary = total.get("canary")
    assert(canary.get("start").isNumber && canary.get("start").asDouble > 0, lines.last)
    assert(canary.get("end").isNumber && canary.get("end").asDouble > 0, lines.last)
  }

  test("the CLI plan modes print the plan as first planned, and the final adaptive plan after a run") {
    val q = Seq(Registry.byName("q6_filtered_agg"))
    val initial, fin = ArrayBuffer.empty[String]
    QueryProbe.plans(spark, Sf0001, "initial", q, initial += _)
    QueryProbe.plans(spark, Sf0001, "final", q, fin += _)
    assert(initial.head.contains("q6_filtered_agg") && fin.head.contains("q6_filtered_agg"))
    assert(initial.mkString.contains("isFinalPlan=false"), initial.mkString("\n"))
    assert(fin.exists(_.startsWith("rows=1 ")), fin.mkString("\n"))
    assert(fin.mkString.contains("isFinalPlan=true"), fin.mkString("\n"))
  }
}
