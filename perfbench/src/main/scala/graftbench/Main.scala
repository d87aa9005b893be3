package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** Runs one workload of the benchmark and prints its result as one JSON
  * line: `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics, or with `--trace 1` the per-layer metrics. Everything else the
  * run produces (the full result, the per-layer table, the spans) goes to
  * `--out`.
  *
  *   graftbench.Main --workload corpus|pubsub --seed N --seconds S
  *     --trace 0|1 --out DIR --data DIR --digests FILE
  *   graftbench.Main --bootstrap-digests FILE --data DIR --out DIR
  */
object Main {

  /** The host the benchmark is sized for: one JVM running local[4]. */
  val Cores = 4

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 15.0,
      trace: Boolean = false,
      out: String = "",
      data: String = "",
      digests: String = "",
      bootstrap: String = "")

  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toDouble)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--out" +: v +: rest => parse(rest).copy(out = v)
    case "--data" +: v +: rest => parse(rest).copy(data = v)
    case "--digests" +: v +: rest => parse(rest).copy(digests = v)
    case "--bootstrap-digests" +: v +: rest => parse(rest).copy(bootstrap = v)
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val a = parse(argv.toSeq)
    require(a.out.nonEmpty && a.data.nonEmpty, "--out and --data are required")
    require(a.bootstrap.nonEmpty || Workloads.names.contains(a.workload),
      s"--workload must be one of ${Workloads.names.mkString(", ")}")
    Sessions.assertJdkOpens()
    val out = Paths.get(a.out)
    Files.createDirectories(out)

    val s0 = WallClock.nowUs
    val spark = Sessions.tune(SparkSession.builder().master(s"local[$Cores]")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true"),
      Cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietSupersededCheckpointWarnings()
    val sessionS = (WallClock.nowUs - s0) / 1e6

    try {
      if (a.bootstrap.nonEmpty) bootstrap(spark, a)
      else {
        val r = new Run(spark, a, jvmStartUs, sessionS).run()
        val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
        Files.writeString(out.resolve(s"result-$tag.json"), r.fullJson + "\n")
        if (a.trace) Files.writeString(out.resolve(s"layers-$tag.tsv"), r.layerTable)
        r.problems.take(10).foreach(p => System.err.println(s"[perfbench] $p"))
        println(r.line)
      }
    } finally spark.stop()
  }

  /** Run every workload query once and write its digest (the bootstrap of
    * the committed expected digests).
    */
  private def bootstrap(spark: SparkSession, a: Args): Unit = {
    val w = new BatchWorkload(spark, a.data, "bootstrap", Workloads.corpus.sorted,
      Map.empty, a.seed, None, None)
    w.warmUp(1)
    val lines = w.computed.map { case (q, d) => s"$q\t${d.rows}\t${d.sum}" }
    Files.writeString(Paths.get(a.bootstrap), lines.mkString("", "\n", "\n"))
    val errors = w.digestFailures.filterNot(_.contains("expected none"))
    errors.foreach(e => System.err.println(s"[perfbench] $e"))
    if (errors.nonEmpty) sys.exit(1)
  }

  def loadDigests(path: String): Map[String, Digest] =
    if (path.isEmpty) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, sum) = l.split("\t")
        q -> Digest(rows.toLong, sum)
      }.toMap

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The fixed, scan-free host-load probe: the same tiny job every time,
    * whose time moves only with load on the host. Median of three, in ms.
    */
  def probeMs(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, max, xxhash64}
    val t = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, 4).select(max(xxhash64(col("id")))).head()
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(t.toArray)
  }
}
