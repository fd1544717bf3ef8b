package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Entry point of one benchmark run; `perfbench/run.py` builds the
  * classpath and starts it. Prints one JSON result as the last line of
  * standard output and exits 1 if any output check failed. */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      cpus: Int = 4,
      work: Path = Paths.get(".bench_work"),
      data: Path = Paths.get("perfbench/data/tpch"),
      expected: Path = Paths.get("perfbench/expected/panel.json"),
      launchMs: Long = System.currentTimeMillis(),
      dumpOracle: Option[Path] = None)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--cpus" :: v :: rest => parse(rest, o.copy(cpus = v.toInt))
    case "--work" :: v :: rest => parse(rest, o.copy(work = Paths.get(v)))
    case "--data" :: v :: rest => parse(rest, o.copy(data = Paths.get(v)))
    case "--expected" :: v :: rest => parse(rest, o.copy(expected = Paths.get(v)))
    case "--launch-ms" :: v :: rest => parse(rest, o.copy(launchMs = v.toLong))
    case "--dump-oracle" :: v :: rest => parse(rest, o.copy(dumpOracle = Some(Paths.get(v))))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  /** The confs of the engine's own bench session, written out here, plus
    * the rule set installed up front and every local path in the run's
    * work directory. */
  def session(cpus: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    o.dumpOracle.foreach { out =>
      Files.write(out, JsonMethods.compact(JsonMethods.render(
        Extraction.decompose(QueryPanel.oracleSql())(DefaultFormats))).getBytes("UTF-8"))
      return
    }
    val workload = Workload(o.workload, o.seed, o.data, o.expected)
    val spark = session(o.cpus, o.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - o.launchMs) / 1e3
    val result = new Runner(spark, workload, o).run(sessionS)
    println(result.json)
    System.out.flush()
    spark.stop()
    System.exit(if (result.correct) 0 else 1)
  }
}

final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val m = JObject(metrics.toList.map { case (n, v, u) => n -> JObject("value" -> JDouble(v), "unit" -> JString(u)) })
    JsonMethods.compact(JsonMethods.render(JObject(
      "correct" -> JBool(correct), "attempted" -> JLong(attempted), "failed" -> JLong(failed), "metrics" -> m)))
  }
}

/** One timed pass, with the live heap after it. */
final case class Timed(out: PassOutcome, heapMb: Double, traced: Boolean)

object Runner {
  /** Number of times the inputs are generated during set-up. */
  val Generations = 3

  /** Heap in use after full collections. Spark's cleaner releases the
    * blocks of collected broadcasts and shuffles asynchronously, after a
    * collection, so this collects until the heap stops shrinking. */
  def heapLiveMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var rounds = 0
    var shrinking = true
    while (shrinking && rounds < 6) {
      Thread.sleep(200)
      val now = used()
      shrinking = now < last - 0.5
      last = math.min(last, now)
      rounds += 1
    }
    last
  }
}

final class Runner(spark: SparkSession, workload: Workload, o: Main.Opts) {
  import Runner._

  private val tracer = new Tracer(false)
  private val ctx = new Ctx(spark, tracer, o.cpus, o.work)
  private val streamProbe = new StreamProbe(tracer)

  def run(sessionS: Double): Result = {
    spark.streams.addListener(streamProbe)
    var attempted = 0L
    var failed = 0L

    // Set-up: generate the inputs several times, keep the median.
    val genS = (1 to Generations).map { i =>
      val t0 = ctx.now
      workload.generate(ctx.dir(s"input_$i"))
      (ctx.now - t0) / 1e9
    }
    val w0 = ctx.now
    val warm = workload.warmup(ctx)
    attempted += warm.attempted; failed += warm.failed
    // Every timed pass then starts from a collected heap, as the passes
    // after it do; without this the first timed pass collected the
    // warm-up's garbage and ran up to 25% slower than the second.
    heapLiveMb()
    val setupS = sessionS + Stats.median(genS) + (ctx.now - w0) / 1e9
    System.err.println(f"setup: session $sessionS%.2f s, generate ${genS.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"warm-up ${(ctx.now - w0) / 1e9}%.2f s (workload ${warm.wall}%.2f s)")

    // Timed passes. Traced runs time passes in groups of four, traced,
    // untraced, untraced, traced, so both sides get early and late passes.
    val passes = Seq.newBuilder[Timed]
    val perLayer = Seq.newBuilder[Map[String, Double]]
    var p = 1
    val planned = math.max(1, (o.seconds / workload.nominalPassSeconds).toInt)
    val count = if (o.trace) 4 * ((planned + 3) / 4) else planned
    while (p <= count) {
      val p0 = ctx.now
      val traced = o.trace && p % 4 <= 1
      tracer.enabled = traced
      tracer.beginPass(p)
      val probe = if (traced) Some(startProbe()) else None
      val host0 = (Host.loadavg(), Host.stealSeconds(), SparkProbe.codegenCompiles(), startedRuns())
      val out = workload.pass(ctx, p)
      tracer.enabled = false
      attempted += out.attempted; failed += out.failed
      probe.foreach(pr => perLayer += layers(p, out, pr, host0))
      val timed = Timed(out, heapLiveMb(), traced)
      passes += timed
      System.err.println(f"pass $p: wall ${out.wall}%.3f s, with set-up and checks ${(ctx.now - p0) / 1e9}%.3f s, " +
        f"heap ${timed.heapMb}%.1f MB, host steal ${Host.stealSeconds() - host0._2}%.2f s")
      p += 1
    }
    val all = passes.result()
    if (o.trace) printSpans()

    val ok = failed == 0
    val metrics =
      if (!o.trace) endToEnd(all, setupS, attempted, failed)
      else {
        val (traced, untraced) = all.partition(_.traced)
        val rows = perLayer.result()
        val names = rows.flatMap(_.keys).distinct
        names.map(n => (n, Stats.median(rows.map(_.getOrElse(n, 0.0))), unitOf(n))) ++ Seq(
          ("trace.overhead_s", Stats.median(traced.map(_.out.wall)) - Stats.median(untraced.map(_.out.wall)), "s"),
          ("op_fail_ratio", Stats.failRatio(failed, attempted), "ratio"))
      }
    Result(ok, attempted, failed, metrics)
  }

  private def endToEnd(all: Seq[Timed], setupS: Double,
      attempted: Long, failed: Long): Seq[(String, Double, String)] = {
    val units = all.flatMap(_.out.units)
    val tail = Stats.tail(units.map(_._2))
    System.err.println(f"passes ${all.size}, units ${units.size}, op_tail_s at p${tail.percentile}%.1f of n=${tail.n}")
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", Stats.median(all.map(_.out.wall)), "s"),
      ("op_p50_s", Stats.quantile(units.map(_._2), 0.5), "s"),
      ("op_tail_s", tail.value, "s"),
      ("gate_geomean_s", Stats.geomeanOfMedians(units), "s"),
      ("op_ok_ratio", 1.0 - Stats.failRatio(failed, attempted), "ratio"),
      ("heap_live_mb", Stats.median(all.map(_.heapMb)), "MB"))
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name == "pins.bytes") "bytes"
    else if (name == "spark.cpu_util") "ratio"
    else if (name == "host.loadavg") "load"
    else "count"

  private def startedRuns(): Set[String] = streamProbe.startedIn.keySet().asScala.toSet

  private def startProbe(): SparkProbe = {
    val pr = new SparkProbe
    spark.sparkContext.addSparkListener(pr)
    spark.listenerManager.register(pr)
    pr
  }

  /** Per-layer values of one traced pass. */
  private def layers(p: Int, out: PassOutcome, pr: SparkProbe,
      before: (Double, Double, Long, Set[String])): Map[String, Double] = {
    SparkProbe.drain(spark)
    spark.sparkContext.removeSparkListener(pr)
    spark.listenerManager.unregister(pr)
    val (load0, steal0, codegen0, started0) = before
    val spans = tracer.spansOf(p)
    val byName = Tracer.secondsByName(spans)
    val batches = streamProbe.batchesOf(startedRuns() -- started0)
    val t = pr.total
    val byRun = batches.groupBy(_.runId).values
    val base = Map(
      "control.fanout_s" -> byName.getOrElse("control.fanout", 0.0),
      "control.item_wait_s" -> 0.0,
      "control.retries" -> 0.0,
      "control.report_s" -> byName.getOrElse("control.report", 0.0),
      "sources.input_rows" -> t.inputRecords.toDouble,
      "sources.input_bytes" -> t.inputBytes.toDouble,
      "validate.run_s" -> byName.getOrElse("validate.run", 0.0),
      "validate.rows_in" -> 0.0,
      "validate.rows_valid" -> 0.0,
      "validate.groups_failed" -> 0.0,
      "sinks.jdbc_load_s" -> byName.getOrElse("sinks.jdbc_load", 0.0),
      "sinks.jdbc_rows" -> 0.0,
      "sinks.csv_write_s" -> pr.csvWriteNs / 1e9,
      "sinks.csv_files" -> 0.0,
      "sinks.csv_bytes" -> 0.0,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_s" -> batches.map(_.batchSeconds).sum,
      "streaming.add_batch_s" -> batches.map(_.phase("addBatch")).sum,
      "streaming.commit_s" -> batches.map(_.phase("commitOffsets")).sum,
      "streaming.planning_s" -> batches.map(_.phase("queryPlanning")).sum,
      "streaming.offset_s" -> batches.map(_.phase("latestOffset", "getBatch", "walCommit")).sum,
      "streaming.state_rows" -> byRun.map(_.map(_.stateRows).max).sum.toDouble,
      "streaming.state_mem_bytes" -> byRun.map(_.map(_.stateMemBytes).max).sum.toDouble,
      "streaming.state_commit_s" -> batches.map(_.stateCommitMs).sum / 1e3,
      "plans.analysis_s" -> pr.analysisMs / 1e3,
      "plans.optimization_s" -> pr.optimizationMs / 1e3,
      "plans.planning_s" -> pr.planningMs / 1e3,
      "plans.graft_rules_s" -> pr.graftRuleNs / 1e9,
      "plans.graft_rules_effective" -> pr.graftRuleEffective.toDouble,
      "pins.rdds" -> 0.0,
      "pins.bytes" -> 0.0,
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.task_run_s" -> t.runMs / 1e3,
      "spark.task_cpu_s" -> t.cpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble,
      "spark.codegen_compile_s" -> SparkProbe.codegenCompileSeconds(codegen0),
      "spark.cpu_util" -> t.cpuNs / 1e9 / (out.wall * o.cpus),
      "host.loadavg" -> (load0 + Host.loadavg()) / 2,
      "host.steal_s" -> (Host.stealSeconds() - steal0)) ++
      QueryPanel.Registries.map(r => s"operators.${r}_s" -> 0.0) ++
      QueryPanel.Gates.map(g => s"gate.${g}_s" -> 0.0)
    printGroups(p, spans, pr)
    base ++ out.layers
  }

  /** Spark totals per span, attributed through job groups. */
  private def printGroups(p: Int, spans: Seq[Span], pr: SparkProbe): Unit = {
    val spanName = spans.map(s => s.id -> s.name).toMap
    // A job group is a span id, or a stream's runId started inside a span.
    def nameOf(group: String): String = {
      val span =
        if (group.startsWith("span-")) group.stripPrefix("span-").toIntOption
        else Option(streamProbe.startedIn.get(group)).map(_.span)
      span.flatMap(spanName.get).getOrElse("(other)")
    }
    val agg = pr.synchronized(pr.byGroup.toList).groupBy { case (g, _) => nameOf(g) }
    agg.toSeq.sortBy(_._1).foreach { case (n, gs) =>
      val t = new TaskTotals
      gs.foreach { case (_, x) => t.add(x) }
      System.err.println(f"pass $p spark  $n%-36s jobs ${t.jobs}%5d tasks ${t.tasks}%6d cpu ${t.cpuNs / 1e9}%8.3f s")
    }
  }

  private def printSpans(): Unit = {
    val spans = tracer.spans
    val self = Tracer.selfTimes(spans)
    spans.groupBy(s => (s.pass, s.name)).toSeq.sortBy(_._1).foreach { case ((p, n), ss) =>
      System.err.println(f"pass $p span   $n%-36s n ${ss.size}%4d total ${ss.map(_.seconds).sum}%8.3f s self ${ss.map(s => self(s.id)).sum}%8.3f s")
    }
  }
}
