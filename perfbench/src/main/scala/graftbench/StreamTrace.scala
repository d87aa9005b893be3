package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Keeps every progress report of every streaming query (one per
  * trigger), so the trigger phases and state-store figures of each
  * subscription can be read back after its step.
  */
final class StreamTrace(spark: SparkSession) extends StreamingQueryListener {
  private val progress = mutable.Map.empty[java.util.UUID, mutable.Buffer[StreamingQueryProgress]]
  private val terminated = mutable.Set.empty[java.util.UUID]

  def install(): this.type = { spark.streams.addListener(this); this }
  def uninstall(): Unit = spark.streams.removeListener(this)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    progress.getOrElseUpdate(e.progress.id, mutable.Buffer.empty) += e.progress
  }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    terminated += e.id
  }

  /** The query's triggers that processed data, once it has terminated. */
  def triggers(id: java.util.UUID): Seq[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (!synchronized(terminated(id)) && System.nanoTime() < deadline) Thread.sleep(5)
    synchronized(progress.getOrElse(id, mutable.Buffer.empty).filter(_.numInputRows > 0).toList)
  }
}
