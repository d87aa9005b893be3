package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(0, 5000).select(
    col("id"), (col("id") % 7).as("k"), (col("id") * 0.5).as("x"),
    concat(lit("doc "), col("id").cast("string")).as("text"),
    array(col("id"), col("id") + 1).as("arr"),
    map(lit("a"), col("id"), lit("b"), col("id") % 3).as("m"))

  test("the digest does not depend on the partition count") {
    val d = Digest.of(frame)
    assert(d.rows == 5000)
    Seq(1, 2, 7, 64).foreach(n => assert(Digest.of(frame.repartition(n)) == d, s"$n partitions"))
  }

  test("the digest does not depend on row or column order") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.orderBy(col("x").desc)) == d)
    assert(Digest.of(frame.select("m", "text", "x", "k", "arr", "id")) == d)
  }

  test("map entry order does not matter, map contents do") {
    val a = spark.range(3).select(map(lit("a"), col("id"), lit("b"), lit(1L)).as("m"))
    val b = spark.range(3).select(map(lit("b"), lit(1L), lit("a"), col("id")).as("m"))
    val c = spark.range(3).select(map(lit("b"), lit(2L), lit("a"), col("id")).as("m"))
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(a) != Digest.of(c))
  }

  test("one changed value, a lost row or a duplicated row changes the digest") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.withColumn("x", when(col("id") === 4321, 0.25).otherwise(col("x")))) != d)
    assert(Digest.of(frame.filter(col("id") =!= 17)) != d)
    assert(Digest.of(frame.union(frame.filter(col("id") === 17))) != d)
  }
}
