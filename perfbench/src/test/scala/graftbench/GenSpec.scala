package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tree(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private def generated(w: Workload): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try { w.generate(dir); tree(dir) }
    finally Workload.deleteTree(dir)
  }

  test("the same seed writes byte-identical inputs, another seed different ones") {
    val a = generated(new EtlBatch(42))
    val b = generated(new EtlBatch(42))
    val c = generated(new EtlBatch(43))
    assert(a.nonEmpty)
    assert(a == b)
    assert(a.keySet == c.keySet)
    assert(a != c)
  }

  test("the expected report matches the rows written") {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      val in = EtlBatch.input(new SplittableRandom(5), dir.resolve("e.csv"), 20000)
      val lines = Files.readAllLines(in.exportFile).asScala.toSeq
      assert(lines.head == PriceZoneGen.Header)
      val rows = lines.tail.map(_.split(",", -1).toSeq)
      val e = in.expected
      assert(rows.size == e.received)
      val byOpco = rows.groupBy(_.head).map { case (o, rs) => o -> rs.size.toLong }
      assert(byOpco.size == EtlBatch.Opcos)
      e.validRows.foreach { case (o, n) => assert(byOpco(o) == n) }
      assert(e.valid == e.validRows.values.sum)
      assert(e.failedOpcos.size == EtlBatch.BrokenRanks.size + EtlBatch.InactiveRanks.size)
      assert(e.failedOpcos.toSet.intersect(e.validRows.keySet).isEmpty)
      assert(e.violations.keySet == PriceZoneGen.RuleNames.toSet)
      assert(e.violations(PriceZoneGen.Membership) ==
        e.failedOpcos.filterNot(in.active.contains).map(byOpco).sum)
      e.validRows.keys.foreach { o =>
        val zs = rows.filter(_.head == o).map(_(2).toLong)
        assert(zs.forall(z => z >= 1 && z <= 5))
        assert(zs.sum == e.zoneSums(o))
      }
      val keys = in.keyRows.values.flatten.map(k => (k.supc, k.customerId)).toSet
      assert(keys.size == in.keyRows.values.map(_.size).sum)
      assert(keys.subsetOf(rows.map(r => (r(1), r(3))).toSet))
    } finally Workload.deleteTree(dir)
  }

  test("opco sizes are skewed and sum to the requested rows") {
    val s = PriceZoneGen.zipfSizes(24, 100000)
    assert(s.sum == 100000)
    assert(s.head > 10 * s.last)
    assert(s == s.sorted.reverse)
  }
}
