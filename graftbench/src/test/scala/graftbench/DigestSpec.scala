package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val rows = Seq(Row(1L, "a", 0.1), Row(2L, "b", 0.2), Row(3L, null, Double.NaN))

  test("the digest ignores row order") {
    assert(Digest.of(rows) == Digest.of(rows.reverse))
    assert(Digest.of(rows) == Digest.of(Seq(rows(1), rows(2), rows(0))))
  }

  test("the digest carries the row count and sees duplicate rows") {
    assert(Digest.of(rows).startsWith("3:"))
    assert(Digest.of(Seq.empty[Row]) == "0:0000000000000000")
    // xor would cancel a pair of equal rows; the sum must not
    assert(Digest.of(rows :+ rows.head) != Digest.of(rows))
    assert(!Digest.of(Seq(rows.head, rows.head)).endsWith("0000000000000000"))
  }

  test("any changed value changes the digest") {
    assert(Digest.of(Seq(Row(1L, "a", 0.1))) != Digest.of(Seq(Row(1L, "a", 0.1 + 1e-15))))
    assert(Digest.of(Seq(Row(1L, "a"))) != Digest.of(Seq(Row(1L, "b"))))
    assert(Digest.of(Seq(Row(1L, null))) != Digest.of(Seq(Row(1L, ""))))
  }

  test("values of different types do not collide") {
    assert(Digest.canonical(1L) != Digest.canonical("1"))
    assert(Digest.canonical(1.0) != Digest.canonical(1.0f))
    assert(Digest.canonical(Row("a", "b")) != Digest.canonical(Row("a\u0001b")))
    assert(Digest.canonical(Seq(1, 2)) != Digest.canonical(Seq(2, 1)))
  }

  test("timestamps digest at microsecond precision, and map order is irrelevant") {
    val t = Data.ts(1704067200123456L)
    assert(Digest.canonical(t) == "t1704067200123456")
    assert(Digest.canonical(Data.ts(-1L)) == "t-1")
    assert(Digest.canonical(Map("a" -> 1, "b" -> 2)) == Digest.canonical(Map("b" -> 2, "a" -> 1)))
  }

  test("nested rows and arrays take part in the hash") {
    assert(Digest.of(Seq(Row(1L, Seq(1.0f, 2.0f)))) != Digest.of(Seq(Row(1L, Seq(1.0f, 2.5f)))))
    assert(Digest.of(Seq(Row(Row("x", 1L)))) != Digest.of(Seq(Row(Row("x", 2L)))))
  }
}
