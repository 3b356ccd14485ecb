package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import TestSession.spark.implicits._

  test("the digest ignores row order and partitioning") {
    val df = (1 to 500).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("a", "b", "c")
    val a = Digest.of(df)
    val b = Digest.of(df.orderBy($"a".desc).repartition(7))
    assert(a == b)
    assert(a.rows == 500L)
  }

  test("one changed value changes the digest") {
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("a", "b")
    val changed = df.withColumn("b", org.apache.spark.sql.functions.when($"a" === 250L, "x")
      .otherwise($"b"))
    assert(Digest.of(df).hash != Digest.of(changed).hash)
  }

  test("map columns are hashed by their sorted entries") {
    val df = spark.sql("SELECT map('k', 1, 'j', 2) AS m UNION ALL SELECT map('z', 3) AS m")
    assert(Digest.of(df).rows == 2L)
  }

  test("a wrong hash or row count does not match; rows-only ignores the hash") {
    val want = Expect(10, Some("123"))
    assert(Digest.matches(want, Expect(10, Some("123"))))
    assert(!Digest.matches(want, Expect(10, Some("124"))))
    assert(!Digest.matches(want, Expect(11, Some("123"))))
    assert(Digest.matches(Expect(10, None), Expect(10, Some("999"))))
  }

  test("digests.json round-trips") {
    val f = java.nio.file.Files.createTempFile("digests", ".json")
    java.nio.file.Files.write(f, Digest.toJson(Seq("s" -> Seq(
      "q1" -> Expect(3, Some("-42")), "q2" -> Expect(0, None)))).getBytes("UTF-8"))
    assert(Digest.load(f.toString, "s") ==
      Map("q1" -> Expect(3, Some("-42")), "q2" -> Expect(0, None)))
  }
}
