package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("digest-spec")
    .config("spark.sql.shuffle.partitions", "3").config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private def frame = spark.range(0, 500).select(col("id"), (col("id") % 7).as("k"),
    (col("id") * 0.1).as("x"), when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string"))
      .as("s"))

  test("row order and partitioning do not change the digest") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.orderBy(col("id").desc)) == d)
    assert(Digest.of(frame.repartition(7, col("k"))) == d)
    assert(Digest.of(frame.coalesce(1)) == d)
  }

  test("a changed, missing or duplicated row changes the digest") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.withColumn("x", when(col("id") === 3, 99.0).otherwise(col("x")))) != d)
    assert(Digest.of(frame.filter(col("id") =!= 42)) != d)
    assert(Digest.of(frame.union(frame.filter(col("id") === 42))) != d)
  }

  test("a null moving between columns changes the digest") {
    val a = spark.sql("SELECT CAST(NULL AS STRING) AS p, 'v' AS q")
    val b = spark.sql("SELECT 'v' AS p, CAST(NULL AS STRING) AS q")
    assert(Digest.of(a) != Digest.of(b))
  }

  test("last-bit differences in doubles are rounded away") {
    val a = spark.sql("SELECT 0.1 + 0.2 AS x")
    val b = spark.sql("SELECT 0.3 AS x")
    assert(Digest.of(a.selectExpr("CAST(x AS DOUBLE) AS x")) ==
      Digest.of(b.selectExpr("CAST(x AS DOUBLE) AS x")))
  }

  test("the observed digest equals the aggregate digest") {
    val o = new Digest.Observed(frame)
    o.frame.write.format("noop").mode("overwrite").save()
    assert(o.read() == Digest.of(frame))
  }
}
