package dwbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def rows = Seq((1L, "a", 0.1 + 0.2, Seq(1.5, 2.5)), (2L, "b", 3.0, Seq(0.0)),
    (3L, null, -0.0, Seq.empty[Double]))

  private def df(r: Seq[(Long, String, Double, Seq[Double])]) =
    r.toDF("id", "s", "x", "xs")

  test("row order and partitioning do not change the fingerprint") {
    val a = Fingerprint.of(df(rows))
    assert(Fingerprint.of(df(rows.reverse).repartition(3)) == a)
    assert(a.startsWith("3:"))
  }

  test("every column is consumed: changing any one value changes it") {
    val a = Fingerprint.of(df(rows))
    assert(Fingerprint.of(df(rows.updated(0, (9L, "a", 0.3, Seq(1.5, 2.5))))) != a)
    assert(Fingerprint.of(df(rows.updated(1, (2L, "c", 3.0, Seq(0.0))))) != a)
    assert(Fingerprint.of(df(rows.updated(1, (2L, "b", 3.5, Seq(0.0))))) != a)
    assert(Fingerprint.of(df(rows.updated(1, (2L, "b", 3.0, Seq(0.5))))) != a)
    assert(Fingerprint.of(df(rows.take(2))) != a)
  }

  test("last-bit float noise is rounded away, a wrong value is not") {
    val a = Fingerprint.of(df(rows))
    // 0.1 + 0.2 differs from 0.3 in its last bits; -0.0 is folded into 0.0
    assert(Fingerprint.of(df(rows.updated(0, (1L, "a", 0.3, Seq(1.5, 2.5 + 1e-15)))
      .updated(2, (3L, null, 0.0, Seq.empty[Double])))) == a)
    assert(Fingerprint.of(df(rows.updated(0, (1L, "a", 0.30001, Seq(1.5, 2.5))))) != a)
  }

  test("nested structs of doubles are canonicalised too") {
    val nested = df(rows).select(col("id"), struct(col("x"), col("xs")).as("st"))
    val noisy = df(rows.updated(0, (1L, "a", 0.3, Seq(1.5, 2.5))))
      .select(col("id"), struct(col("x"), col("xs")).as("st"))
    assert(Fingerprint.of(nested) == Fingerprint.of(noisy))
  }

  test("an empty result has a fingerprint") {
    assert(Fingerprint.of(df(rows).filter(lit(false))) == "0:0")
  }
}
