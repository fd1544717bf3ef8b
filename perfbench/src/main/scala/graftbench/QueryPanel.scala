package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A panel of gates from all twelve operator registries, each written in
  * full to a `noop` sink, the plan Verify checks, so Catalyst cannot
  * prune output columns the way `count()` lets it. The data is a fixed
  * TPC-H-like set under `perfbench/data/tpch`; the seed sets the gate
  * order. The untimed warm-up pass collects every gate and compares it
  * with `perfbench/expected/panel.json`, computed by DuckDB from each
  * gate's oracle SQL. */
final class QueryPanel(seed: Long, dataDir: Path, expectedFile: Path) extends Workload {
  import QueryPanel._

  private var data: Path = _
  private val order: Seq[String] = Gen.shuffle(new SplittableRandom(seed), Gates.toIndexedSeq)
  private lazy val expected: Map[String, Canon.Digest] = {
    implicit val formats: Formats = DefaultFormats
    val js = JsonMethods.parse(new String(Files.readAllBytes(expectedFile), "UTF-8"))
    (js \ "gates").extract[Map[String, Map[String, JValue]]].map { case (g, m) =>
      g -> Canon.Digest(m("rows").extract[Long], m("sha256").extract[String])
    }
  }

  /** Copy the fixed tables into the run's input directory. */
  def generate(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.list(dataDir).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
      Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    data = dir
  }

  private def gate(name: String) = graft.SparkEntry.queries(name)

  /** The checked collect pass: the first timed pass is each gate's
    * second run. */
  def warmup(ctx: Ctx): PassOutcome = {
    val t0 = ctx.now
    var failed = 0L
    order.foreach { g =>
      val g0 = ctx.now
      val ok = Pins.scoped(ctx.spark) {
        try {
          val got = Canon.digest(gate(g)(ctx.spark, data.toString))
          Workload.check(expected.get(g).contains(got), s"gate $g: got $got, expected ${expected.get(g)}") == 0
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"CHECK FAILED: gate $g threw $e"); false
        }
      }._1
      System.err.println(f"check gate $g%-24s ${(ctx.now - g0) / 1e9}%7.3f s")
      if (!ok) failed += 1
    }
    PassOutcome((ctx.now - t0) / 1e9, Nil, order.size.toLong, failed)
  }

  /** Three timed passes in the benchmark's 30 s, so a gate's median
    * leaves out one pass slowed by the host. */
  def nominalPassSeconds: Double = 10.0

  def pass(ctx: Ctx, p: Int): PassOutcome = {
    var failed = 0L
    var pinRdds, pinBytes = 0L
    val times = order.map { g =>
      val (t, pins) = Pins.scoped(ctx.spark) {
        val t0 = ctx.now
        try ctx.span(s"gate.$g")(gate(g)(ctx.spark, data.toString).write.format("noop").mode("overwrite").save())
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"gate $g failed: $e"); failed += 1
        }
        (ctx.now - t0) / 1e9
      }
      pinRdds += pins.rdds; pinBytes += pins.bytes
      System.err.println(f"pass $p gate $g%-24s $t%7.3f s")
      g -> t
    }
    val byRegistry = times.groupMapReduce { case (g, _) => registryOf(g) }(_._2)(_ + _)
    PassOutcome(
      wall = times.map(_._2).sum,
      units = times,
      attempted = order.size.toLong,
      failed = failed,
      layers = times.map { case (g, t) => s"gate.${g}_s" -> t }.toMap ++
        Registries.map(r => s"operators.${r}_s" -> byRegistry.getOrElse(r, 0.0)) ++
        Map("pins.rdds" -> pinRdds.toDouble, "pins.bytes" -> pinBytes.toDouble))
  }
}

object QueryPanel {
  /** One or more gates from each of the twelve registries, led by the
    * ones the roadmap names: money sums (q1), the largest count/noop gaps
    * (v10, v1, x15), t49 and st28, sk5, d13 and d16. st9 is the stateful
    * stream (transformWithState on RocksDB) behind `streaming.state_*`. */
  val Gates: Seq[String] = Seq(
    "q1_agg", "q66_mincost_supplier", "d16_containment", "v1_rule_flags", "v10_profile",
    "t49_linear_classifier", "d13_span_scrub", "s28_semdedup", "sk5_cms_heavy",
    "m8_pack_interleave", "x15_interval_merge", "x58_hhi", "st9_tws_profiles", "st28_session_enrich")

  val Registries: Seq[String] = Seq(
    "RelationalQueries", "ValidationQueries", "TextQueries", "DedupQueries", "SimilarityQueries",
    "MultimodalQueries", "StreamingQueries", "CrossQueries", "SketchQueries", "AnalyticsQueries",
    "TpchQueries", "StatQueries")

  private lazy val registryKeys: Map[String, Set[String]] = {
    import graft.operators._
    Map(
      "RelationalQueries" -> RelationalQueries.queries.keySet,
      "ValidationQueries" -> ValidationQueries.queries.keySet,
      "TextQueries" -> TextQueries.queries.keySet,
      "DedupQueries" -> DedupQueries.queries.keySet,
      "SimilarityQueries" -> SimilarityQueries.queries.keySet,
      "MultimodalQueries" -> MultimodalQueries.queries.keySet,
      "StreamingQueries" -> StreamingQueries.queries.keySet,
      "CrossQueries" -> CrossQueries.queries.keySet,
      "SketchQueries" -> SketchQueries.queries.keySet,
      "AnalyticsQueries" -> AnalyticsQueries.queries.keySet,
      "TpchQueries" -> TpchQueries.queries.keySet,
      "StatQueries" -> StatQueries.queries.keySet)
  }

  def registryOf(gate: String): String =
    Registries.find(r => registryKeys(r).contains(gate)).getOrElse("unknown")

  /** The oracle SQL of every panel gate, for `tools/make_expected.py`. */
  def oracleSql(): Map[String, String] = Gates.map(g => g -> graft.SparkEntry.oracleSql(g)).toMap
}

/** Persisted or checkpointed RDDs a piece of work leaves behind. */
final case class PinCount(rdds: Long, bytes: Long)

object Pins {
  /** Run `f`, count the RDDs it pinned and their stored bytes, then
    * unpersist exactly those RDDs (blocking), leaving earlier ones. */
  def scoped[A](spark: SparkSession)(f: => A): (A, PinCount) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val a = f
    val created = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    val bytes = sc.getRDDStorageInfo.filter(i => created.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    created.values.foreach(_.unpersist(blocking = true))
    (a, PinCount(created.size.toLong, bytes))
  }
}
