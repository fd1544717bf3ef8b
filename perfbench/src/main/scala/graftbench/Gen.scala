package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Every value the output checks compare
  * against is computed here, from the generated rows, without calling
  * the engine. The same seed writes byte-identical files. */
object Gen {

  def shuffle[A](rnd: SplittableRandom, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  def writeLines(path: Path, header: String, lines: Iterator[String]): Long = {
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(header); w.write('\n')
      lines.foreach { l => w.write(l); w.write('\n') }
    } finally w.close()
    Files.size(path)
  }
}

/** Price-zone exports: `co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm`,
  * every field a string, the reference's raw contract. */
object PriceZoneGen {

  /** The nine validation rules, by the names the run report uses. */
  val RuleNames: Seq[String] = Seq(
    "customer_id_nonnull_numeric", "supc_nonnull_numeric", "price_zone_nonnull_numeric",
    "eff_from_dttm_date_format", "customer_id_maxlen_14", "supc_maxlen_9",
    "opco_id_membership", "price_zone_range_1_5", "eff_from_dttm_parseable_ts")

  val Membership = "opco_id_membership"

  /** The eight rules one row can break. Each injected value breaks
    * exactly one of them. Membership is broken by inactive opcos. */
  val RowRules: Seq[String] = RuleNames.filterNot(_ == Membership)

  val Header = "co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm"

  /** What one export must produce. `validRows` and `zoneSums` cover the
    * opcos that pass validation. */
  final case class Expected(
      received: Long,
      valid: Long,
      failedOpcos: Seq[String],
      violations: Map[String, Long],
      validRows: Map[String, Long],
      zoneSums: Map[String, Long])

  /** A row kept for the load's conflict path: its key and a zone. */
  final case class KeyRow(supc: String, customerId: String, effectiveDate: String)

  /** The shape of one export: rows per opco, the inactive opcos and the
    * opcos that break one row rule `k` times. */
  final case class Shape(
      sizes: Seq[(String, Int)],
      inactive: Set[String],
      broken: Map[String, (String, Int)])

  /** Write one export. Opco rows are interleaved in a seeded order. The
    * returned key rows are every `conflictEvery`-th row of each opco
    * that passes validation (none when 0). */
  def write(
      rnd: SplittableRandom,
      path: Path,
      shape: Shape,
      conflictEvery: Int = 0): (Expected, Long, Map[String, Seq[KeyRow]]) = {
    val opcos = shape.sizes.map(_._1).toIndexedSeq
    val seq = Gen.shuffle(rnd, shape.sizes.zipWithIndex.flatMap { case ((_, n), i) => Seq.fill(n)(i) }.toIndexedSeq)
    val badOrdinals: Map[String, Set[Int]] = shape.broken.map { case (o, (_, k)) =>
      val n = shape.sizes.find(_._1 == o).get._2
      require(k <= n, s"opco $o has $n rows, cannot break $k")
      o -> Gen.shuffle(rnd, (0 until n).toIndexedSeq).take(k).toSet
    }
    val failed = shape.inactive ++ shape.broken.keySet
    val ordinal = new Array[Int](opcos.size)
    val zoneSum = new Array[Long](opcos.size)
    val keys = opcos.map(_ => Seq.newBuilder[KeyRow])
    val lines = seq.iterator.map { i =>
      val o = opcos(i)
      val ord = ordinal(i)
      ordinal(i) += 1
      var supc = (100000 + ord).toString
      var cust = (1L + rnd.nextLong(99999999999L)).toString
      val z = 1 + rnd.nextInt(5)
      var zone = z.toString
      val base = f"2020-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d " +
        f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
      var eff = if (rnd.nextInt(4) == 0) base + ".000000" else base
      if (badOrdinals.get(o).exists(_.contains(ord))) shape.broken(o)._1 match {
        case "customer_id_nonnull_numeric" => cust = cust + "A"
        case "supc_nonnull_numeric" => supc = supc + "x"
        case "price_zone_nonnull_numeric" => zone = "z"
        case "eff_from_dttm_date_format" => eff = base + ".abc"
        case "customer_id_maxlen_14" => cust = "123456789012345"
        case "supc_maxlen_9" => supc = "1234567890"
        case "price_zone_range_1_5" => zone = if (rnd.nextBoolean()) "0" else "6"
        case "eff_from_dttm_parseable_ts" => eff = "2019-02-30" + base.substring(10)
        case other => throw new IllegalArgumentException(other)
      }
      if (!failed.contains(o)) {
        zoneSum(i) += z
        if (conflictEvery > 0 && ord % conflictEvery == 0) keys(i) += KeyRow(supc, cust, base)
      }
      s"$o,$supc,$zone,$cust,$eff"
    }
    val bytes = Gen.writeLines(path, Header, lines)
    val sizes = shape.sizes.toMap
    val violations = RuleNames.map { r =>
      r -> (if (r == Membership) shape.inactive.toSeq.map(sizes(_).toLong).sum
            else shape.broken.values.collect { case (`r`, k) => k.toLong }.sum)
    }.toMap
    val passing = opcos.filterNot(failed.contains)
    val expected = Expected(
      received = sizes.values.map(_.toLong).sum,
      valid = passing.map(sizes(_).toLong).sum,
      failedOpcos = failed.toSeq.sorted,
      violations = violations,
      validRows = passing.map(o => o -> sizes(o).toLong).toMap,
      zoneSums = passing.map(o => o -> zoneSum(opcos.indexOf(o))).toMap)
    (expected, bytes, opcos.zip(keys.map(_.result())).filter(p => !failed.contains(p._1)).toMap)
  }

  /** Opco ids `001`..`nnn`. */
  def opcoIds(n: Int): IndexedSeq[String] = (1 to n).map(i => f"$i%03d")

  /** Zipf(1) shares over `n` ranks, rounded to whole rows summing to
    * `total`. Rank 0 is the largest. */
  def zipfSizes(n: Int, total: Int): IndexedSeq[Int] = {
    val w = (1 to n).map(r => 1.0 / r)
    val raw = w.map(x => (x / w.sum * total).toInt)
    raw.updated(0, raw(0) + total - raw.sum)
  }
}
