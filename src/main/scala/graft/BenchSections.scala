package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The Spark-free machinery behind [[Bench]]: the section registry, the
  * `SPARK_GRAFT_BENCH_ONLY` gate, the one failure wrapper, the one rerun
  * mechanism (queries and sections alike) and the one JSON writer.
  */
object BenchSections {

  /** What a recorded number is. A `Timing` is wall-clock (seconds or ms)
    * and the only kind a rerun re-measures. `Evidence` (recall, chosen
    * knobs, ratios, rates, heap, parity bits) legitimately moves when the
    * data or the calibration moves, so it never replays. `Count` is
    * evidence written as a JSON integer (byte counts).
    */
  sealed trait Tag
  object Tag {
    case object Timing extends Tag
    case object Evidence extends Tag
    case object Count extends Tag
  }

  /** One number of the artifact: `key` inside the JSON object `group` (or
    * at the top level); a dotted key nests one object deeper.
    */
  final case class BenchValue(group: Option[String], key: String, value: Double, tag: Tag) {
    def path: List[String] = group.toList ++ key.split('.')
    def json: JValue = if (tag == Tag.Count) JLong(value.toLong) else JDouble(value)
  }

  /** The one way a section body reports numbers. */
  final class Recorder(group: Option[String]) {
    private[graft] val values = ArrayBuffer.empty[BenchValue]
    private def add(key: String, v: Double, tag: Tag): Unit =
      values += BenchValue(group, key, v, tag)
    def timing(key: String, v: Double): Unit = add(key, v, Tag.Timing)
    def evidence(key: String, v: Double): Unit = add(key, v, Tag.Evidence)
    def flag(key: String, ok: Boolean): Unit = add(key, if (ok) 1.0 else 0.0, Tag.Evidence)
    def count(key: String, n: Long): Unit = add(key, n.toDouble, Tag.Count)
    /** Run `f`, record its wall seconds under `key`, return its result. */
    def time[A](key: String)(f: => A): A = {
      val (r, sec) = timed(f)
      timing(key, sec)
      r
    }
  }

  /** A bench section. It runs when `SPARK_GRAFT_BENCH_ONLY` is unset and it
    * is `defaultOn`, or when ONLY names it exactly; a default-on section
    * also runs when ONLY names its `group`, and a session warm-up also
    * runs when a query it `warms` is selected. Its values land in the
    * JSON object `group` (top level when None).
    */
  final case class BenchSection(
      name: String,
      defaultOn: Boolean,
      run: Recorder => Unit,
      group: Option[String] = None,
      warms: Seq[String] = Nil)

  /** A section whose values land in the JSON object `group` (its own name
    * when empty).
    */
  def section(name: String, defaultOn: Boolean, group: String = "")(
      body: Recorder => Unit): BenchSection =
    BenchSection(name, defaultOn, body, Some(if (group.isEmpty) name else group))

  /** The parsed ONLY list: queries match by name prefix (ONLY=q44 hits
    * q44_grid_hierarchy_profile), sections by exact name (ONLY=wire_size
    * must not drag in wire_size_matched's extra build).
    */
  final case class Only(names: Option[Seq[String]]) {
    def query(name: String): Boolean = names.forall(_.exists(name.startsWith))
    def section(s: BenchSection, queries: Seq[String]): Boolean = names match {
      case None => s.defaultOn
      case Some(o) =>
        o.contains(s.name) || (s.defaultOn && s.group.exists(o.contains)) ||
          s.warms.exists(w => queries.exists(_.startsWith(w)))
    }
  }
  object Only {
    def parse(env: Option[String]): Only = Only(env.map(_.split(",").toSeq))
  }

  /** What one query or section produced: its values (those recorded
    * before a failure are kept) and whether it failed.
    */
  final case class Outcome(name: String, values: Seq[BenchValue], failed: Boolean)

  /** The shared wrapper: run the body, keep a failure as `failed` (the
    * section's name lands in `errors`) instead of losing the section.
    */
  def run(s: BenchSection): Outcome = {
    val rec = new Recorder(s.group)
    val failed =
      try { s.run(rec); false }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] section ${s.name} failed: $e")
        true
      }
    Outcome(s.name, rec.values.toSeq, failed)
  }

  /** Run every selected section in order, each with its replay: running
    * the same body again (every rung rebuilds from deterministic
    * generators into fresh scratch dirs, so a replay measures what the
    * first pass did). Session warm-ups are memoized builds — a replay
    * would time a cache hit — so they register none.
    */
  def runAll(sections: Seq[BenchSection], only: Only, queries: Seq[String]): Seq[Rung] =
    sections.filter(only.section(_, queries)).map { s =>
      Rung(run(s), if (s.warms.isEmpty) Some(() => run(s)) else None)
    }

  final case class Rung(first: Outcome, replay: Option[() => Outcome])

  final case class Rerun(key: String, first: Double, again: Double, ok: Boolean)

  /** The one rerun mechanism. Suspects are the `slowest` timings, plus
    * every timing over 3x its `baseline` value (path-keyed, see
    * [[baseline]]; floors of 0.5 and 0.05 keep job-overhead wobble out).
    * At most `maxRungs` distinct rungs replay, each ONCE however many of
    * its keys are suspects; every suspect reads its value off that replay
    * (0.0 when the replay did not record it).
    */
  def rerun(rungs: Seq[Rung], baseline: Map[String, Double],
      slowest: Int, maxRungs: Int): Seq[Rerun] = {
    val timings = for {
      r <- rungs if r.replay.nonEmpty
      v <- r.first.values if v.tag == Tag.Timing
    } yield (r, v)
    val divergent = timings.filter { case (_, v) =>
      v.value > 0.5 &&
        baseline.get(v.path.mkString(".")).exists(b => b > 0.05 && v.value > 3 * b)
    }
    val suspects = (timings.sortBy(-_._2.value).take(slowest) ++
      divergent.sortBy(-_._2.value)).distinct
    val allowed = suspects.map(_._1.first.name).distinct.take(maxRungs).toSet
    val replayed = scala.collection.mutable.HashMap.empty[String, Outcome]
    suspects.collect { case (r, v) if allowed(r.first.name) =>
      val again = replayed.getOrElseUpdate(r.first.name, r.replay.get())
      Rerun(v.key, v.value,
        again.values.find(_.path == v.path).map(_.value).getOrElse(0.0), !again.failed)
    }
  }

  /** The previous artifact's numbers by dotted path. Empty when that
    * artifact labels itself `suite_contaminated` or was measured at
    * another `cpus`: its inflated or differently-scaled values would keep
    * the 3x test from firing, or fire it on a clean run.
    */
  def baseline(json: String, cpus: Int): Map[String, Double] = {
    val root = JsonMethods.parse(json)
    val contaminated = (root \ "suite_contaminated") == JBool(true)
    val otherBox = root \ "cpus" match {
      case JInt(c) => c != BigInt(cpus)
      case JLong(c) => c != cpus
      case _ => false
    }
    def leaves(v: JValue, at: List[String]): Seq[(String, Double)] = v match {
      case JObject(fields) => fields.flatMap { case (k, c) => leaves(c, at :+ k) }
      case JDouble(d) => Seq(at.mkString(".") -> d)
      case JInt(i) => Seq(at.mkString(".") -> i.toDouble)
      case JLong(l) => Seq(at.mkString(".") -> l.toDouble)
      case JDecimal(d) => Seq(at.mkString(".") -> d.toDouble)
      case _ => Seq.empty
    }
    if (contaminated || otherBox) Map.empty else leaves(root, Nil).toMap
  }

  /** The `rerun`/`section_rerun` maps and the suite-level verdict: one
    * ratio Σ rerun / Σ first over both. A clean run sits near 1.0; a
    * first pass hit by ambient load reads well under it, and the artifact
    * labels itself `suite_contaminated`. With `coldQueries` (one rep per
    * query) a query's first-pass value is its COLD run while its rerun is
    * warm, so the query pairs are listed but left out of the ratio: the
    * verdict compares warm against warm only.
    */
  def rerunFields(queries: Seq[Rerun], sections: Seq[Rerun],
      coldQueries: Boolean = false): Seq[(List[String], JValue)] = {
    def entries(name: String, rs: Seq[Rerun], withOk: Boolean) = rs.map { r =>
      List(name, r.key) -> JObject(List("first" -> JDouble(r.first),
        "rerun" -> JDouble(r.again)) ++ (if (withOk) List("ok" -> JBool(r.ok)) else Nil))
    }
    val judged = (if (coldQueries) Nil else queries) ++ sections
    val verdict =
      if (judged.isEmpty) Nil
      else {
        val firstSum = judged.map(_.first).sum
        val ratio = if (firstSum > 0.0) judged.map(_.again).sum / firstSum else 1.0
        List(List("rerun_total_ratio") -> JDouble(ratio),
          List("suite_contaminated") -> JBool(ratio < 0.5))
      }
    entries("rerun", queries, withOk = true) ++
      entries("section_rerun", sections, withOk = false) ++ verdict
  }

  /** The one JSON writer: path-addressed fields nested into objects in
    * first-seen order. A leaf and deeper fields under the same name merge
    * (an empty-object leaf seeds an object that must always be present).
    */
  def nest(fields: Seq[(List[String], JValue)]): JObject = {
    val heads = fields.map(_._1.head).distinct
    JObject(heads.map { h =>
      val mine = fields.filter(_._1.head == h)
      val deeper = mine.collect { case (_ :: rest, v) if rest.nonEmpty => (rest, v) }
      h -> (if (deeper.isEmpty) mine.last._2 else nest(deeper))
    }.toList)
  }

  def render(fields: Seq[(List[String], JValue)]): String =
    JsonMethods.compact(JsonMethods.render(nest(fields)))

  /** Wall seconds of `f` with its result. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
  }

  /** Median wall seconds of `runs` calls after `warmups` untimed ones;
    * each result escapes through [[Bench.blackhole]] so the JIT cannot
    * drop the measured work.
    */
  def medianSec(warmups: Int, runs: Int)(f: => Long): Double = {
    (1 to warmups).foreach(_ => Bench.blackhole = f)
    median((1 to runs).map { _ =>
      val t0 = System.nanoTime()
      Bench.blackhole = f
      (System.nanoTime() - t0) / 1e9
    })
  }
}
