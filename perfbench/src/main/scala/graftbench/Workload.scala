package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one pass of a workload measured and checked. `units` are the
  * workload's unit latencies keyed by unit (gate, opco, batch); `layers`
  * are per-layer values only the workload can see. */
final case class PassOutcome(
    wall: Double,
    units: Seq[(String, Double)],
    attempted: Long,
    failed: Long,
    layers: Map[String, Double] = Map.empty)

/** The run's shared state. [[span]] opens a trace span and, while it is
  * open, tags this thread's Spark jobs with the span's id as job group. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val cpus: Int, val work: Path) {
  private val JobGroup = "spark.jobGroup.id"

  def span[A](name: String, parent: Int = Int.MinValue)(f: => A): A =
    if (!tracer.enabled) f
    else {
      val sc = spark.sparkContext
      val saved = sc.getLocalProperty(JobGroup)
      try tracer.span(name, parent, id => sc.setJobGroup(s"span-$id", name))(f)
      finally sc.setLocalProperty(JobGroup, saved)
    }

  /** A fresh directory under the run's work dir. */
  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }

  def now: Long = System.nanoTime()
}

trait Workload {
  /** Write this run's inputs under `dir`. Called several times during
    * set-up; every call writes the same files. */
  def generate(dir: Path): Unit

  /** Work before timing starts, counted in set-up. Its output checks
    * count like those of a timed pass. */
  def warmup(ctx: Ctx): PassOutcome

  def pass(ctx: Ctx, p: Int): PassOutcome

  /** The share of a run's `--seconds` one timed pass stands for: a run
    * of `--seconds s` times `s / nominalPassSeconds` passes, a count that
    * does not depend on how fast the host happens to be. */
  def nominalPassSeconds: Double
}

object Workload {
  def apply(name: String, seed: Long, dataDir: Path, expected: Path): Workload = name match {
    case "etl_batch" => new EtlBatch(seed)
    case "query_panel" => new QueryPanel(seed, dataDir, expected)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Several warm-up passes as one outcome. */
  def combine(outs: Seq[PassOutcome]): PassOutcome =
    PassOutcome(outs.map(_.wall).sum, outs.flatMap(_.units), outs.map(_.attempted).sum, outs.map(_.failed).sum)

  /** Report an output-check mismatch on stderr; returns 1 if `ok` is
    * false, for counting. */
  def check(ok: Boolean, what: => String): Long =
    if (ok) 0L else { System.err.println(s"CHECK FAILED: $what"); 1L }

  /** Data rows per partition value in a landed layout: every file under
    * a `<key>=<value>` directory, minus one header line per file. Read
    * with plain file IO, independent of the engine. */
  def landedRows(root: Path, key: String): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val files = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".csv")).toList
      files.flatMap { f =>
        val part = f.iterator().asScala.map(_.toString).find(_.startsWith(s"$key="))
        part.map(_.stripPrefix(s"$key=") -> (Files.lines(f).count() - 1))
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }

  /** CSV files and their bytes under a directory. */
  def csvFiles(root: Path): (Long, Long) =
    if (!Files.isDirectory(root)) (0L, 0L)
    else {
      val fs = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".csv")).toList
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    }
}
