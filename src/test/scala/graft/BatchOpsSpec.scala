package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions
import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}
import graft.operators.{Joins, Ops, Windows}

/** Batch operator semantics, pinned against the reference's behavioral
  * tests (reference: pkg/processing/default_operators_test.go,
  * pkg/events/selection_policy_test.go).
  */
class BatchOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    Sessions.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  test("even/odd truncate floats before parity (ref test :117-143)") {
    val df = Seq(2.9, 3.1, -2.5, -3.7, 4.0).toDF("v")
    assert(Ops.even(col("v"))(df).as[Double].collect().toSet ==
      Set(2.9, -2.5, 4.0)) // trunc: 2, -2, 4 even; 3, -3 odd
    assert(Ops.odd(col("v"))(df).as[Double].collect().toSet ==
      Set(3.1, -3.7))
  }

  test("selectFromJson: missing key yields NULL (ref test :339-362)") {
    val df = Seq("""{"a": 1}""", """{"b": 2}""").toDF("props")
    val out = Ops.selectFromJson(col("props"), "a", "a")(df)
      .select("a").as[Option[String]].collect()
    assert(out.toSet == Set(Some("1"), None))
  }

  test("counting window ids: tumbling, overlap, skip assignments") {
    val df = (0 until 10).map(i => (i.toLong, 1.0)).toDF("id", "v")

    def ids(n: Int, shift: Int): Map[Long, Seq[Long]] =
      Windows.countingWindowIds(Seq(col("id")), n, shift)(df)
        .select("window_id", "id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap

    // tumbling n=3 shift=3: rows 0-2 / 3-5 / 6-8 / 9
    assert(ids(3, 3)(0L) == Seq(0L, 1L, 2L))
    assert(ids(3, 3)(2L) == Seq(6L, 7L, 8L))
    // overlap n=3 shift=1: window 4 = rows 4,5,6
    assert(ids(3, 1)(4L) == Seq(4L, 5L, 6L))
    // skip n=2 shift=3: rows 2, 5, 8 fall in no window
    val skip = ids(2, 3)
    assert(skip.values.flatten.toSet == Set(0L, 1L, 3L, 4L, 6L, 7L, 9L))
  }

  test("global counting windows reject a non-numeric or multi-column key by name") {
    val df = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("s", "id")
    def err(keys: Column*): String = intercept[IllegalArgumentException](
      Windows.countingWindowIds(keys, 2, 2)(df)).getMessage
    // a string key would cast to null and put every row in window 0
    assert(err(col("s")).contains("countingWindowIds"))
    assert(err(col("s")).contains("string"))
    assert(err(col("id"), col("s")).contains("single numeric order key"))
    assert(err().contains("single numeric order key"))
    // the per-key form still orders by any column
    assert(Windows.countingWindowIds(Seq(col("s")), 2, 2,
      partitionBy = Seq(col("id")))(df).count() == 3)
  }

  test("counting window agg fires only complete windows (ref :144-146)") {
    val df = (0 until 10).map(i => (i.toLong, 1.0)).toDF("id", "v")
    val out = Windows.countingWindowAgg(Seq(col("id")), 3, 3)(
      Seq(count(lit(1)).as("n")))(df)
      .select("window_id", "n").as[(Long, Long)].collect().toMap
    // 10 rows, n=3 shift=3: windows 0,1,2 complete (rows 9 pending)
    assert(out == Map(0L -> 3L, 1L -> 3L, 2L -> 3L))
  }

  test("windowed join: right side wins on column collision (ref :144-147)") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    val l = Seq((1L, ts0, "left-val")).toDF("k", "ts", "value")
    val r = Seq((1L, ts0, "right-val")).toDF("k", "ts", "value")
    val out = Joins.windowedJoin(l, r, "k", "ts", "600 seconds")
    assert(out.select("value").as[String].collect().toSeq == Seq("right-val"))
  }

  test("windowed left join: unmatched left passes through (ref :186-207)") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    val l = Seq((1L, ts0, "left-val"), (2L, ts0, "lonely"))
      .toDF("k", "ts", "value")
    val r = Seq((1L, ts0, "right-val")).toDF("k", "ts", "value")
    val out = Joins.windowedLeftJoin(l, r, "k", "ts", "600 seconds")
      .select("k", "value").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "right-val", 2L -> "lonely"))
  }

  test("asof join: inclusive ties, latest prior wins, NULL when no prior") {
    def ats(s: Long) = timestamp_micros(col("t") * 1000000L)
    val left = Seq((1L, 100L, "l1"), (1L, 205L, "l2"), (2L, 50L, "l3"))
      .toDF("k", "t", "tag").withColumn("ts", ats(0)).drop("t")
    val right = Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (1L, 300L, 30.0),
      (3L, 10L, 99.0))
      .toDF("k", "t", "v").withColumn("pts", ats(0)).drop("t")
    val out = Joins.asofJoin(left, right, "k", "ts", "pts", carry = Seq("v"))
      .select("tag", "asof_v").as[(String, Option[Double])].collect().toMap
    assert(out("l1").contains(10.0), "equal-ts right row must be visible")
    assert(out("l2").contains(20.0), "latest prior must win; future hidden")
    assert(out("l3").isEmpty, "no prior right row -> NULL")
  }

  test("time-range join: boundaries inclusive, bucket-crossing pairs " +
      "found, every pair exactly once") {
    def ats = timestamp_micros(col("t") * 1000000L)
    val left = Seq((1L, 100L, "e1"), (1L, 20L, "e2"))
      .toDF("k", "t", "tag").withColumn("ts", ats).drop("t")
    val right = Seq((1L, 90L, "c90"), (1L, 100L, "c100"), (1L, 89L, "c89"),
      (1L, 15L, "c15"), (1L, 9L, "c9"), (2L, 95L, "otherkey"))
      .toDF("k", "t", "ctag").withColumn("cts", ats).drop("t")
    val out = Joins.timeRangeJoin(left, right, "k", "ts", "cts", 10L)
      .select("tag", "ctag").as[(String, String)].collect()
    // e1@100, lookback [90,100]: c90 (lower bound inclusive, lands in
    // the PREVIOUS bucket), c100 (upper inclusive); c89 excluded.
    // e2@20, [10,20]: c15 only. Key 2 never matches.
    assert(out.toSet ==
      Set(("e1", "c90"), ("e1", "c100"), ("e2", "c15")))
    assert(out.length == 3, s"pair emitted more than once: ${out.toList}")
  }

  test("salted join equals plain join on skewed data") {
    // one hot key (90% of rows) + a long tail
    val probe = ((1 to 900).map(i => (1L, i)) ++
      (1 to 100).map(i => (i.toLong + 1, i))).toDF("k", "pv")
    val build = (1 to 50).map(i => (i.toLong, s"d$i")).toDF("k", "bv")
    val plain = probe.join(build, "k")
      .select("k", "pv", "bv").as[(Long, Int, String)].collect().sorted
    val salted = Joins.saltedJoin(probe, build, "k", col("pv"), 8)
      .select("k", "pv", "bv").as[(Long, Int, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
  }

  test("tokens: trims empties; shingles; fingerprint stable") {
    val df = Seq("  the quick  brown fox  ").toDF("text")
    assert(df.select(TextFunctions.tokens(col("text"))).as[Seq[String]]
      .head() == Seq("the", "quick", "brown", "fox"))
    assert(df.select(TextFunctions.wordShingles(col("text"), 2))
      .as[Seq[String]].head() ==
      Seq("the quick", "quick brown", "brown fox"))
    // fewer tokens than the shingle size -> empty set, no crash (the
    // Column-composed formulation hit sequence(1,0)/slice(_,0,_) here)
    assert(df.select(TextFunctions.wordShingles(col("text"), 5))
      .as[Seq[String]].head() == Seq.empty)
    assert(Seq("").toDF("text")
      .select(TextFunctions.wordShingles(col("text"), 2))
      .as[Seq[String]].head() == Seq.empty)
    val fp = Seq("ab").toDF("text")
      .select(TextFunctions.fingerprint(col("text"))).as[Long].head()
    assert(fp == 97L * 257 + 98) // (0*257+97)*257+98 mod 1e9+7
  }

  test("vector math: cosine of identical=1, orthogonal=0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val Row(same: Double, orth: Double) = df.select(
      VectorFunctions.cosine(col("a"), col("b")),
      VectorFunctions.cosine(col("a"), col("c"))).head()
    assert(math.abs(same - 1.0) < 1e-12 && math.abs(orth) < 1e-12)
  }

  test("jaccard of string arrays as sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(HashFunctions.jaccard(col("x"), col("y")))
      .as[Double].head()
    assert(math.abs(j - 0.5) < 1e-12) // |{b,c}| / |{a,b,c,d}|
  }

  test("minhash LSH: near-identical shingle sets collide on every band") {
    val df = Seq(
      (1L, (1 to 40).map(i => s"sh$i")),
      (2L, (1 to 40).map(i => s"sh$i")),          // identical
      (3L, (100 to 140).map(i => s"sh$i")))       // disjoint
      .toDF("id", "sh")
    val sigs = df.select(col("id"),
      HashFunctions.minhashSignature(col("sh"), 16).as("sig"))
    val banded = sigs.select(col("id"),
      explode(HashFunctions.lshBands(col("sig"), 4, 4)).as("b"))
    val pairs = banded.as("x").join(banded.as("y"),
      col("x.b") === col("y.b") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().as[(Long, Long)]
      .collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("lshBands64 (streaming suppression hash): same banding semantics " +
      "as the 31-bit fold, full 64-bit range") {
    val df = Seq(
      (1L, (1 to 40).map(i => s"sh$i")),
      (2L, (1 to 40).map(i => s"sh$i")),          // identical
      (3L, (100 to 140).map(i => s"sh$i")))       // disjoint
      .toDF("id", "sh")
    val sigs = df.select(col("id"),
      HashFunctions.minhashSignature(col("sh"), 16).as("sig"))
    val banded = sigs.select(col("id"),
      explode(HashFunctions.lshBands64(col("sig"), 4, 4)).as("b"))
    val pairs = banded.as("x").join(banded.as("y"),
      col("x.b") === col("y.b") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().as[(Long, Long)]
      .collect().toSet
    assert(pairs == Set((1L, 2L)))
    // The point of the 64-bit variant: the gate suppresses on collision
    // with NO verify stage, so its chance-collision floor must be
    // ~n/2^64, not ~16n/2^31. Pin that the hash actually uses the full
    // 64-bit range — the 31-bit fold can never leave [0, 2^31).
    val hs = banded.select(col("b.h")).as[Long].collect()
    assert(hs.exists(h => h < 0L || h >= (1L << 31)),
      "band hashes all fit in 31 bits — the streaming gate lost its " +
        "64-bit collision bound")
  }
}
