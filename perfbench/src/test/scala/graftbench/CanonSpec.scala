package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class CanonSpec extends AnyFunSuite {

  test("numbers render exactly and independent of their type") {
    assert(Canon.value(5) == "5")
    assert(Canon.value(5L) == "5")
    assert(Canon.value(5.0) == "5")
    assert(Canon.value(new java.math.BigDecimal("5.0000")) == "5")
    assert(Canon.value(-0.0) == "0")
    assert(Canon.value(0.5) == "0.5")
    assert(Canon.value(0.1) == "0.1000000000000000055511151231257827021181583404541015625")
    assert(Canon.value(1e20) == "100000000000000000000")
    assert(Canon.value(Double.NaN) == "NaN")
  }

  test("times, nulls and nested values") {
    assert(Canon.value(null) == "\\N")
    assert(Canon.value(java.time.LocalDate.of(1970, 1, 3)) == "d2")
    assert(Canon.value(java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 1)) == "t1000000")
    assert(Canon.value(Seq(1, null, Seq(2.5f))) == "[1,\\N,[2.5]]")
    assert(Canon.value(Row("a", 1)) == "{a,1}")
  }

  test("digest ignores row and column order") {
    val a = Canon.digest(Seq("b", "a"), Seq(Row(1, "x"), Row(2, "y")))
    val b = Canon.digest(Seq("a", "b"), Seq(Row("y", 2), Row("x", 1)))
    assert(a == b)
    assert(a.rows == 2)
    assert(a != Canon.digest(Seq("a", "b"), Seq(Row("y", 2), Row("x", 3))))
  }
}
