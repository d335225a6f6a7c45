package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.BenchSections._

/** The bench registry driven with fake sections — no Spark: the ONLY gate,
  * the failure wrapper, the rerun mechanism's replay rules, the baseline
  * rule and the JSON writer.
  */
class BenchSectionsSpec extends AnyFunSuite {

  /** A section recording fixed values, counting how often it runs. */
  private final class Fake(name: String, values: Seq[(String, Double, Tag)],
      defaultOn: Boolean = true, group: String = "", throws: Boolean = false) {
    var runs = 0
    val section: BenchSection = BenchSection(name, defaultOn, { r =>
      runs += 1
      values.foreach {
        case (k, v, Tag.Timing) => r.timing(k, v)
        case (k, v, Tag.Evidence) => r.evidence(k, v)
        case (k, v, Tag.Count) => r.count(k, v.toLong)
      }
      if (throws) throw new IllegalStateException("boom")
    }, Some(if (group.isEmpty) name else group))
  }

  private def timings(name: String, keys: String*): Fake =
    new Fake(name, keys.map(k => (k, 10.0, Tag.Timing)))

  /** A baseline against which every first-pass value reads 5x slower. */
  private def fastBaseline(rungs: Seq[Rung]): Map[String, Double] =
    rungs.flatMap(_.first.values).map(v => v.path.mkString(".") -> v.value / 5).toMap

  test("ONLY: queries match by prefix, sections by exact name") {
    val only = Only.parse(Some("q44,wire_size"))
    assert(only.query("q44_grid_hierarchy_profile"))
    assert(!only.query("q01_pricing_summary"))
    val wire = timings("wire_size").section
    val matched = timings("wire_size_matched").section
    assert(only.section(wire, Nil))
    assert(!only.section(matched, Nil))
    assert(Only.parse(None).query("q01_pricing_summary"))
    assert(Only.parse(None).section(matched, Nil))
  }

  test("ONLY: opt-in sections run only when named, never through their group") {
    val optIn = new Fake("ann_append_1m", Nil, defaultOn = false, group = "ann_append").section
    val member = new Fake("mask_none", Nil, group = "filter_mask_load").section
    assert(!Only.parse(None).section(optIn, Nil))
    assert(!Only.parse(Some("ann_append")).section(optIn, Nil))
    assert(Only.parse(Some("ann_append_1m")).section(optIn, Nil))
    assert(Only.parse(Some("filter_mask_load")).section(member, Nil))
    assert(!Only.parse(Some("mask_50pct")).section(member, Nil))
  }

  test("ONLY: a session warm-up runs when a query it warms is selected") {
    val build = BenchSection("ivf_exact_build", defaultOn = true, _ => (), warms = Seq("q47"))
    val only = Only.parse(Some("q47"))
    assert(only.section(build, Seq("q47_ivf_exact")))
    assert(!only.section(build, Seq("q01_pricing_summary")))
    assert(Only.parse(Some("ivf_exact_build")).section(build, Nil))
  }

  test("a throwing section keeps its name as a failure and the values it recorded") {
    val bad = new Fake("store_remove", Seq(("store_remove_save_sec", 1.0, Tag.Timing)), throws = true)
    val ok = timings("wire_size", "ipc")
    val rungs = runAll(Seq(bad.section, ok.section), Only.parse(None), Nil)
    assert(rungs.map(_.first).filter(_.failed).map(_.name) == Seq("store_remove"))
    assert(rungs.head.first.values.map(_.key) == Seq("store_remove_save_sec"))
  }

  test("a rung replays once however many of its keys diverge") {
    val rung = timings("store_merge_1m", "store_base_build_1m", "store_save_1m", "store_merge_local10k_1m")
    val rungs = runAll(Seq(rung.section), Only.parse(None), Nil)
    val again = rerun(rungs, fastBaseline(rungs), slowest = 0, maxRungs = 2)
    assert(again.map(_.key).toSet ==
      Set("store_base_build_1m", "store_save_1m", "store_merge_local10k_1m"))
    assert(again.forall(r => r.first == 10.0 && r.again == 10.0 && r.ok))
    assert(rung.runs == 2)
  }

  test("evidence values never replay") {
    val rung = new Fake("ann_1m", Seq(("ann1m_ivf_recall_at3", 0.9, Tag.Evidence),
      ("ann1m_ivfpq_auto_nprobe", 12.0, Tag.Evidence), ("ipc_bytes", 9000.0, Tag.Count)))
    val rungs = runAll(Seq(rung.section), Only.parse(None), Nil)
    assert(rerun(rungs, fastBaseline(rungs), slowest = 8, maxRungs = 2).isEmpty)
    assert(rung.runs == 1)
  }

  test("at most two rungs replay, the slowest divergent first") {
    val fakes = Seq(5.0, 20.0, 10.0).zipWithIndex.map { case (v, i) =>
      new Fake(s"rung$i", Seq((s"key$i", v, Tag.Timing)))
    }
    val rungs = runAll(fakes.map(_.section), Only.parse(None), Nil)
    val again = rerun(rungs, fastBaseline(rungs), slowest = 0, maxRungs = 2)
    assert(again.map(_.key) == Seq("key1", "key2"))
    assert(fakes.map(_.runs) == Seq(1, 2, 2))
  }

  test("values under the noise floor or near baseline do not diverge") {
    val small = new Fake("small", Seq(("tiny", 0.4, Tag.Timing)))
    val steady = timings("steady", "flat")
    val rungs = runAll(Seq(small.section, steady.section), Only.parse(None), Nil)
    val base = Map("small.tiny" -> 0.01, "steady.flat" -> 5.0)
    assert(rerun(rungs, base, slowest = 0, maxRungs = 2).isEmpty)
  }

  test("a warm-up never replays, even when slowest") {
    val build = BenchSection("ivf_exact_build", defaultOn = true,
      _.timing("ivf_exact_build_sec", 99.0), warms = Seq("q47"))
    val rungs = runAll(Seq(build), Only.parse(None), Nil)
    assert(rerun(rungs, Map.empty, slowest = 8, maxRungs = 16).isEmpty)
  }

  test("a contaminated or other-cpus baseline is ignored") {
    val clean = """{"cpus":4,"queries":{"q01":1.5},"store_merge":{"store_save_1m":2}}"""
    assert(baseline(clean, 4) == Map("cpus" -> 4.0, "queries.q01" -> 1.5,
      "store_merge.store_save_1m" -> 2.0))
    assert(baseline(clean, 8).isEmpty)
    assert(baseline("""{"cpus":4,"suite_contaminated":true,"queries":{"q01":1.5}}""", 4).isEmpty)
    assert(baseline("""{"suite_contaminated":false,"queries":{"q01":1.5}}""", 4)
      .get("queries.q01").contains(1.5))
  }

  test("a bad numeric setting fails naming the variable and its value") {
    assert(GraftQuery.envLong("GRAFT_BENCH_SECTIONS_SPEC_UNSET", 3L) == 3L)
    val (name, value) = sys.env.find { case (_, v) => v.trim.toLongOption.isEmpty }.get
    val e = intercept[IllegalArgumentException](GraftQuery.envLong(name, 3L))
    assert(e.getMessage.contains(name) && e.getMessage.contains(value))
  }

  test("with one rep per query the cold first passes stay out of the contamination verdict") {
    // one rep: q60's first pass is its cold run, its rerun is warm
    val queries = Seq(Rerun("q60_neardup_components", 8.97, 0.33, ok = true))
    val sections = Seq(Rerun("store_save_1m", 4.0, 3.6, ok = true))
    val warm = JsonMethods.parse(render(rerunFields(queries, sections)))
    assert(warm \ "suite_contaminated" == JBool(true))
    val cold = JsonMethods.parse(render(rerunFields(queries, sections, coldQueries = true)))
    assert(cold \ "rerun" \ "q60_neardup_components" \ "first" == JDouble(8.97))
    assert(cold \ "rerun_total_ratio" == JDouble(3.6 / 4.0))
    assert(cold \ "suite_contaminated" == JBool(false))
    val queriesOnly = JsonMethods.parse(render(rerunFields(queries, Nil, coldQueries = true)))
    assert(queriesOnly \ "rerun_total_ratio" == JNothing)
    assert(queriesOnly \ "suite_contaminated" == JNothing)
  }

  test("the serialized artifact parses with json4s") {
    val rungs = runAll(Seq(
      new Fake("wire_size", Seq(("ipc_bytes", 123.0, Tag.Count),
        ("reduction_pct", 84.5, Tag.Evidence))).section,
      BenchSection("query_ladder", defaultOn = true, { r =>
        r.timing("query_ladder_ms.z0", 0.5)
        r.timing("query_ladder_ms.z2", Double.NaN)
        r.timing("query_avg_ms", 0.5)
      }),
      new Fake("mask_none", Seq(("mask_none", 3.0, Tag.Timing)), group = "filter_mask_load").section
    ), Only.parse(None), Nil)
    val fields = Seq(List("metric") -> JString("total"), List("filter_mask_load") -> JObject(),
      List("ann_fast") -> JObject(), List("errors") -> JArray(List(JString("store_remove")))) ++
      rungs.flatMap(_.first.values.map(v => v.path -> v.json)) ++
      rerunFields(Seq(Rerun("q01", 2.0, 1.0, ok = true)), Seq(Rerun("store_save_1m", 4.0, 3.0, ok = true))) ++
      Seq(List("sf") -> JString("""/data/"odd"\dir"""))
    val parsed = JsonMethods.parse(render(fields))
    assert(parsed \ "metric" == JString("total"))
    assert(parsed \ "wire_size" \ "ipc_bytes" == JInt(123))
    assert(parsed \ "query_ladder_ms" \ "z0" == JDouble(0.5))
    assert(parsed \ "filter_mask_load" \ "mask_none" == JDouble(3.0))
    assert(parsed \ "ann_fast" == JObject())
    assert(parsed \ "rerun" \ "q01" \ "ok" == JBool(true))
    assert(parsed \ "section_rerun" \ "store_save_1m" \ "ok" == JNothing)
    assert(parsed \ "rerun_total_ratio" == JDouble(4.0 / 6.0))
    assert(parsed \ "suite_contaminated" == JBool(false))
    assert(parsed \ "sf" == JString("""/data/"odd"\dir"""))
    assert(parsed.asInstanceOf[JObject].obj.map(_._1) == Seq("metric", "filter_mask_load", "ann_fast", "errors", "wire_size",
      "query_ladder_ms", "query_avg_ms", "rerun", "section_rerun", "rerun_total_ratio",
      "suite_contaminated", "sf"))
  }
}
