package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("doubles are rounded to 1e-9 and signs of zero agree") {
    assert(Digest.canon(0.1 + 0.2) == "0.3")
    assert(Digest.canon(1.0000000004) == "1")
    assert(Digest.canon(1.0000000006) == "1.000000001")
    assert(Digest.canon(-0.0) == Digest.canon(0.0))
  }

  test("map entries are canonical in key order; nulls differ from the text null") {
    assert(Digest.canon(Map("b" -> 1, "a" -> 2)) == Digest.canon(Map("a" -> 2, "b" -> 1)))
    assert(Digest.canon(null) != Digest.canon("null"))
    assert(Digest.canon(Row(1, Seq(2.5, null))) == "(1,[2.5,␀])")
  }

  test("the digest ignores row order and partitioning but not content") {
    import spark.implicits._
    val rows = Seq((1L, "a", 0.1 + 0.2), (2L, "b", 2.0), (3L, "c", 3.5))
    val d = Digest.of(rows.toDF("k", "s", "v").repartition(2))
    assert(d == Digest.of(rows.reverse.toDF("k", "s", "v").coalesce(1)))
    assert(d.rows == 3)
    assert(d == Digest.of(Seq((1L, "a", 0.3), (2L, "b", 2.0), (3L, "c", 3.5)).toDF("k", "s", "v")))
    assert(d != Digest.of(Seq((1L, "a", 0.3), (2L, "b", 2.0), (3L, "c", 3.6)).toDF("k", "s", "v")))
    assert(d != Digest.of(rows.take(2).toDF("k", "s", "v")))
  }

  test("columns are compared by name, not position") {
    import spark.implicits._
    val a = Digest.of(Seq((1L, "x")).toDF("k", "s"))
    val b = Digest.of(Seq(("x", 1L)).toDF("s", "k"))
    assert(a == b)
  }

  test("a digest survives its text form") {
    val d = Digest.D(12, -42L)
    assert(Digest.parse(d.toString) == d)
  }
}
