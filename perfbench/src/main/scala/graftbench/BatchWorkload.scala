package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A catalog workload: the same fixed set of queries, run as passes in a
  * seed-shuffled order. Every query execution is `SparkEntry.queries(q)`
  * (the query's build) followed by a `noop` write of the frame it returns,
  * with the cache cleared first. The first passes are the untimed warm-up;
  * in the first of them the digest of each result takes the place of the
  * noop write and is checked against the expected one.
  */
final class BatchWorkload(spark: SparkSession, dataDir: String, name: String,
    queries: Seq[String], expected: Map[String, Digest], seed: Long,
    trace: Option[SparkTrace], spans: Option[Spans]) {
  import BatchWorkload._

  private val entries = SparkEntry.queries
  val samples = mutable.ArrayBuffer.empty[Sample]
  val warmSamples = mutable.ArrayBuffer.empty[Sample]
  val passWalls = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val digestFailures = mutable.ArrayBuffer.empty[String]
  val computed = mutable.LinkedHashMap.empty[String, Digest]
  var failed = 0L
  var attempted = 0L

  def group(pass: Int, q: String, phase: String): String = s"$name/p$pass/$q/$phase"

  private def runQuery(pass: Int, q: String, checkDigest: Boolean): Sample = {
    spark.catalog.clearCache()
    val t0 = WallClock.nowUs
    var t1 = t0
    var t2 = t0
    var ok = true
    attempted += 1
    try {
      spark.sparkContext.setJobGroup(group(pass, q, "build"), q)
      val df = entries(q)(spark, dataDir)
      t1 = WallClock.nowUs
      spark.sparkContext.setJobGroup(group(pass, q, "exec"), q)
      // The digest evaluates every output column, like the noop write.
      if (!checkDigest) df.write.mode("overwrite").format("noop").save()
      else {
        val d = Digest.of(df)
        computed(q) = d
        if (!expected.get(q).contains(d)) {
          ok = false
          digestFailures += s"$q: got ${d.json}, expected ${expected.get(q).map(_.json).getOrElse("none")}"
        }
      }
      t2 = WallClock.nowUs
    } catch {
      case e: Exception =>
        ok = false
        digestFailures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
    } finally spark.sparkContext.clearJobGroup()
    if (!ok) failed += 1
    if (t1 == t0 || t2 == t0) t2 = WallClock.nowUs
    Sample(pass, q, Catalog.moduleOf(q), t0, math.max(t1, t0), math.max(t2, t1), ok)
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  private var warmPasses = 0

  /** The untimed warm-up: `passes` passes, the first (the cold one) with
    * its result digests checked.
    */
  def warmUp(passes: Int): Unit = {
    (0 until passes).foreach { pass =>
      val p0 = WallClock.nowUs
      order(pass).foreach(q => warmSamples += runQuery(pass, q, checkDigest = pass == 0))
      passWalls += ((pass, p0, WallClock.nowUs))
    }
    warmPasses = passes
  }

  /** Timed passes until at least `seconds` have passed and at least
    * `minSamples` query executions were timed.
    */
  def measure(seconds: Double, minSamples: Int): Unit = {
    val start = System.nanoTime()
    var pass = warmPasses
    while ((System.nanoTime() - start) / 1e9 < seconds || samples.size < minSamples) {
      val p0 = WallClock.nowUs
      order(pass).foreach(q => samples += runQuery(pass, q, checkDigest = false))
      passWalls += ((pass, p0, WallClock.nowUs))
      pass += 1
    }
  }

  def measuredPasses: Seq[(Int, Long, Long)] = passWalls.filter(_._1 >= warmPasses).toSeq

  /** Span tree: workload -> pass -> query -> {build, execute} -> job -> stage. */
  def recordSpans(parent: Int): Unit = spans.foreach { sp =>
    val all = warmSamples ++ samples
    val w = sp.add(parent, "workload", name, passWalls.head._2, passWalls.last._3)
    passWalls.foreach { case (pass, a, b) =>
      val p = sp.add(w, "pass", s"pass $pass", a, b, "warmup" -> (pass < warmPasses))
      all.filter(_.pass == pass).foreach { s =>
        val qs = sp.add(p, "query", s.query, s.startUs, s.endUs,
          "module" -> s.module, "ok" -> s.ok)
        Seq("build" -> (s.startUs, s.buildEndUs), "execute" -> (s.buildEndUs, s.endUs))
          .foreach { case (phase, (a2, b2)) =>
            val ph = sp.add(qs, phase, s.query, a2, b2)
            val g = group(pass, s.query, if (phase == "build") "build" else "exec")
            trace.foreach { t =>
              val stages = t.stagesOf(g)
              t.jobsOf(g).foreach { j =>
                val js = sp.add(ph, "job", s"job ${j.id}", j.startMs * 1000, j.endMs * 1000)
                stages.filter(_.jobId == j.id).foreach { st =>
                  sp.add(js, "stage", s"stage ${st.id}", st.startMs * 1000, st.endMs * 1000,
                    "tasks" -> st.tasks)
                }
              }
            }
          }
      }
    }
  }
}

object BatchWorkload {
  final case class Sample(pass: Int, query: String, module: String,
      startUs: Long, buildEndUs: Long, endUs: Long, ok: Boolean) {
    def buildS: Double = (buildEndUs - startUs) / 1e6
    def execS: Double = (endUs - buildEndUs) / 1e6
    def totalS: Double = (endUs - startUs) / 1e6
  }
}
