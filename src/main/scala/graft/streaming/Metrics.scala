package graft.streaming

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-query in/out event counters (reference: stream metrics,
  * pkg/pubsub/stream.go:144-195; drain-barrier test
  * stream_test.go:275-300). Spark's StreamingQueryProgress already
  * carries numInputRows/processedRowsPerSecond per source — this listener
  * folds them into the reference's counter shape.
  *
  * It also folds the phases of every trigger that ran a batch: the
  * checkpoint commit (`walCommit` + `commitOffsets`), the sink's
  * `addBatch`, and for stateful queries the state-store commit time and
  * total state rows. The p50 accessors read the last
  * [[MetricsListener.Window]] such triggers per query.
  */
final class MetricsListener extends StreamingQueryListener {
  import MetricsListener._

  private val in = mutable.Map.empty[UUID, Long]
  private val batches = mutable.Map.empty[UUID, Long]
  private val commitMs = mutable.Map.empty[UUID, Samples]
  private val addBatchMs = mutable.Map.empty[UUID, Samples]
  private val stateCommitMs = mutable.Map.empty[UUID, Samples]
  private val stateRows = mutable.Map.empty[UUID, Long]

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val id = p.id
    in(id) = in.getOrElse(id, 0L) + p.numInputRows
    batches(id) = batches.getOrElse(id, 0L) + 1
    val d = p.durationMs
    def ms(phase: String): Long = Option(d.get(phase)).fold(0L)(_.longValue)
    // idle triggers report no addBatch and commit nothing
    if (d.containsKey("addBatch")) {
      fold(addBatchMs, id, ms("addBatch"))
      fold(commitMs, id, ms("walCommit") + ms("commitOffsets"))
      if (p.stateOperators.nonEmpty) {
        fold(stateCommitMs, id, p.stateOperators.map(_.commitTimeMs).sum)
        stateRows(id) = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def eventsIn(queryId: UUID): Long =
    synchronized(in.getOrElse(queryId, 0L))
  def batchCount(queryId: UUID): Long =
    synchronized(batches.getOrElse(queryId, 0L))
  def totalEventsIn: Long = synchronized(in.values.sum)

  /** Median checkpoint commit (`walCommit` + `commitOffsets`) per
    * trigger, ms. */
  def commitMsP50(queryId: UUID): Option[Long] = p50(commitMs, queryId)
  /** Median sink `addBatch` time per trigger, ms. */
  def addBatchMsP50(queryId: UUID): Option[Long] = p50(addBatchMs, queryId)
  /** Median state-store commit time per trigger (summed over the
    * query's stateful operators), ms. */
  def stateCommitMsP50(queryId: UUID): Option[Long] =
    p50(stateCommitMs, queryId)
  /** State rows held after the latest trigger, over all operators. */
  def stateRowsTotal(queryId: UUID): Option[Long] =
    synchronized(stateRows.get(queryId))

  private def fold(m: mutable.Map[UUID, Samples], id: UUID, v: Long): Unit =
    m.getOrElseUpdate(id, new Samples).add(v)
  private def p50(m: mutable.Map[UUID, Samples], id: UUID): Option[Long] =
    synchronized(m.get(id).flatMap(_.p50))
}

object MetricsListener {
  /** Triggers per query the p50s cover: recent behaviour, bounded memory
    * for subscriptions that run for days. */
  val Window = 1024

  private final class Samples {
    private val q = mutable.Queue.empty[Long]
    def add(v: Long): Unit = {
      q.enqueue(v)
      if (q.size > Window) q.dequeue()
    }
    def p50: Option[Long] =
      if (q.isEmpty) None else Some(q.toArray.sorted.apply((q.size - 1) / 2))
  }
}

object Metrics {
  /** Install a metrics listener on the session and return it. */
  def install(spark: SparkSession): MetricsListener = {
    val l = new MetricsListener
    spark.streams.addListener(l)
    l
  }
}
