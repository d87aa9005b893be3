package graft.streaming

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.EventEnvelope

/** Typed topic identity. Two streams may share a topic name with different
  * content types — the registry key is the (topic, type) pair, mirroring
  * the reference's StreamID{Topic, TopicType}
  * (reference: pkg/pubsub/stream_id.go:27-30; coexistence pinned by
  * pkg/pubsub/pub_sub_test.go:102-118).
  */
final case class StreamKey(topic: String, typeName: String)

final class StreamTypeMismatchException(msg: String)
  extends IllegalArgumentException(msg)

/** A single publish larger than the topic's capacity (reference:
  * ErrLimitExceeded, pkg/events/buffer.go:514-520).
  */
final class BufferLimitExceededException(msg: String)
  extends IllegalStateException(msg)

/** One registered topic: an in-memory streaming source of enveloped
  * events plus the handles needed to publish into it.
  *
  * Spark stance: the reference's sync/async/sorted delivery coordinators
  * (reference: pkg/pubsub/stream.go:240-251) collapse into the micro-batch
  * pipeline — delivery is always asynchronous-batched, and event-time
  * ordering (the sorted mode's purpose) is recovered per-batch or via
  * watermarked event-time operators rather than by a sorting ingest
  * buffer.
  */
final class Topic[T] private[streaming] (
    val key: StreamKey,
    spark: SparkSession,
    /** Remove this topic from the registry when its last tracked
      * publisher/subscriber detaches — the reference marks auto-created
      * streams this way (getOrAddStreamByID -> WithAutoCleanup(true),
      * pub_sub.go:370-384) while explicitly added streams default to
      * manual lifecycle (config.go:27).
      */
    val autoCleanup: Boolean,
    /** Max events accepted in ONE publish (reference:
      * LimitedSimpleAsyncBuffer — a batch larger than the limit is
      * ErrLimitExceeded outright, buffer.go:514-520. The reference's
      * second behavior, blocking while the buffer is full, maps to
      * Spark's trigger-rate backpressure — maxFilesPerTrigger /
      * maxOffsetsPerTrigger on real sources — not to the in-memory
      * path.)
      */
    initialCapacity: Option[Int] = None,
    /** Policy handed to subscribers that don't pick one — the
      * reference's StreamConfig.DefaultSubscribers
      * (config.go:23-31); its zero-value subscriber buffer delivers
      * one event at a time, i.e. SelectNext.
      */
    initialDefaultPolicy: SelectionPolicy = SelectNext)(
    implicit enc: Encoder[EventEnvelope[T]]) {

  // One MemoryStream PER CONSUMER, not per topic: Spark's
  // MicroBatchExecution calls source.commit() after each batch, and
  // MemoryStream.commit TRUNCATES its retained batches (dropInPlace)
  // and throws IllegalStateException on offsets "committed out of
  // order" — so two streaming queries sharing one MemoryStream instance
  // race on its commit log, and the second subscriber misses data or
  // kills its query. The reference's streams are explicitly
  // multi-subscriber (both pubsub example programs attach two
  // subscribers to one stream; subscriber.go keeps a buffer per
  // subscriber), so each `stream` call materializes a private source
  // and `publish` fans out to all of them. The replay log preserves the
  // previous observable behavior — a consumer attached after some
  // publishes still sees the topic's full history (the single source
  // retained addData'd batches until its query committed them). Like
  // that design, history is O(events published) driver memory: this is
  // the reference-parity single-process pub/sub surface; the scale
  // ingest plane (sources/EventSources) reads files/streams and never
  // touches MemoryStream.
  private val log = mutable.Buffer.empty[EventEnvelope[T]]
  private val consumers = mutable.Buffer.empty[MemoryStream[EventEnvelope[T]]]

  private def newConsumer(): MemoryStream[EventEnvelope[T]] = {
    val s = MemoryStream[EventEnvelope[T]](
      Topic.nextId.getAndIncrement(), spark, None)(enc)
    if (log.nonEmpty) s.addData(log.toSeq)
    consumers += s
    s
  }

  // Stream config is MUTABLE under the topic monitor: hot migration
  // (reference: migrateStream, stream.go:109-123) re-configures a live
  // topic between publishes. Reads synchronize for the same reason.
  private var cap: Option[Int] = initialCapacity
  private var defPolicy: SelectionPolicy = initialDefaultPolicy

  def capacity: Option[Int] = synchronized(cap)
  def defaultPolicy: SelectionPolicy = synchronized(defPolicy)

  /** Live config swap (reference: migrateStream, stream.go:109-123). Runs
    * entirely under the topic monitor, so concurrent publishers BLOCK at
    * publish() until the swap completes — exactly the reference's mutex
    * barrier. `drain` is the WaitUntilDrained analogue (every event
    * published before the swap is delivered to the topic's subscribers
    * before the new config applies); like the reference, a subscriber
    * callback that publishes back into THIS topic during a migrate would
    * deadlock the drain — publish from callbacks into other topics only.
    */
  private[streaming] def migrate(newCapacity: Option[Int],
      newDefaultPolicy: SelectionPolicy, drain: () => Unit): Unit =
    synchronized {
      drain()
      cap = newCapacity
      defPolicy = newDefaultPolicy
    }

  private var inCount = 0L

  /** The unbounded stream of this topic's events. Every call returns an
    * independent consumer (own source, own commit log) pre-loaded with
    * the topic's history — see the multi-subscriber note above.
    */
  def stream: Dataset[EventEnvelope[T]] = synchronized { newConsumer().toDS() }

  /** Detach one consumer from the fan-out (identity match). Called by
    * Subscription.close via the release hook PubSub arms at subscribe
    * time: without it every closed subscription left its MemoryStream
    * registered forever, and publish kept addData-ing batches no query
    * would ever commit or truncate — O(events x dead consumers) driver
    * memory on a long-lived topic with subscribe/close churn. Dropping
    * the reference stops future fan-out and lets the stopped query's
    * retained batches be GC'd with the source. (A consumer obtained via
    * `stream` but never subscribed stays registered — it still owes its
    * eventual subscriber the full history.)
    */
  private[streaming] def releaseConsumer(s: AnyRef): Boolean = synchronized {
    val i = consumers.indexWhere(_ eq s)
    if (i >= 0) { consumers.remove(i); true } else false
  }

  /** Registered fan-out targets — observability for the leak contract
    * (PubSubLifecycleSpec pins subscribe/close returning this to its
    * prior value).
    */
  def consumerCount: Int = synchronized(consumers.size)

  /** Publish pre-stamped events (reference: Publisher.Publish,
    * pkg/pubsub/publisher.go:160-162).
    */
  def publish(events: Seq[EventEnvelope[T]]): Unit = synchronized {
    // Synchronizing on the topic monitor doubles as the migration
    // barrier: migrateTopic holds it across drain+reconfigure, so a
    // publisher blocks here until the swap completes (reference:
    // publish waits on b.mutex while migrateStream runs,
    // stream.go:109-133).
    cap.filter(_ < events.size).foreach { c =>
      throw new BufferLimitExceededException(
        s"publish of ${events.size} events exceeds capacity $c " +
          s"of topic ${key.topic}")
    }
    if (events.nonEmpty) {
      log ++= events
      consumers.foreach(_.addData(events))
      inCount += events.size
    }
  }

  def publishValues(values: T*): Unit =
    publish(values.map(EventEnvelope.of[T]))

  /** Events published so far (reference metric: stream.go:144-195). */
  def eventsIn: Long = synchronized(inCount)
}

private object Topic {
  val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** A running subscription: a foreachBatch sink pumping windows/events into
  * a callback (reference: subscriber callbacks,
  * pkg/pubsub/subscriber.go:122-196).
  */
final class Subscription[T](
    private[streaming] val query: StreamingQuery,
    detach: () => Unit = () => (),
    private[streaming] val ownerTopic: Option[Topic[_]] = None) {

  private var closed = false

  /** The id of the streaming query behind this subscription — the key of
    * its progress in Spark's listeners and in [[MetricsListener]]. */
  def queryId: java.util.UUID = query.id

  /** Set by PubSub after registration: removes this subscription from
    * the registry's live list on close, so migrate drains and teardown
    * never iterate subscriptions that were already closed.
    */
  private[streaming] var unregister: () => Unit = () => ()

  /** Set by PubSub at subscribe time: detaches the topic consumer(s)
    * feeding this subscription's plan from their topics' publish
    * fan-out (Topic.releaseConsumer) — the dead-consumer memory-leak
    * fix. Runs once, on close, after the query has stopped.
    */
  private[streaming] var releaseSources: () => Unit = () => ()

  /** Block until everything published so far has been delivered —
    * the reference's drain barrier (stream.go:179-189) as
    * processAllAvailable.
    */
  def drain(): Unit = query.processAllAvailable()

  /** Stop the sink and detach from the owning topic (if the subscription
    * was opened against one) — the detach may auto-clean the topic
    * (reference: UnsubscribeOnRepository -> TryRemoveStreams,
    * pub_sub.go:183-211).
    */
  def close(): Unit = {
    // the detach transition must run even if stop() throws (a query that
    // already failed with a StreamingQueryException rethrows it here) —
    // otherwise the attachment count leaks and an auto-cleanup topic is
    // pinned in the registry forever
    try query.stop()
    finally {
      // synchronized: concurrent closes must not double-detach (each
      // detach decrements the owning topic's attachment count once)
      val doDetach = synchronized {
        if (closed) false else { closed = true; true }
      }
      if (doDetach) { detach(); unregister(); releaseSources() }
    }
  }
}

/** A registered publisher handle for one topic (reference:
  * RegisterPublisherByTopic, pub_sub.go:229-251). While open it pins the
  * topic against auto-cleanup; closing the last handle detaches
  * (UnRegisterPublisherOnRepository, pub_sub.go:253-286).
  */
final class Publisher[T] private[streaming] (
    private[streaming] val topic: Topic[T], detach: () => Unit) {

  @volatile private var closed = false

  /** Publishing after close() is an error — the detach may have
    * auto-cleaned the topic, so silently writing into the defunct stream
    * would diverge from the reference's error-after-unregister behavior
    * (pub_sub.go:253-286).
    */
  def publish(events: Seq[EventEnvelope[T]]): Unit = {
    ensureOpen()
    topic.publish(events)
  }
  def publishValues(values: T*): Unit = {
    ensureOpen()
    topic.publishValues(values: _*)
  }

  private def ensureOpen(): Unit =
    if (closed) throw new IllegalStateException(
      s"publisher for topic '${topic.key.topic}' is closed")

  def close(): Unit = synchronized {
    if (!closed) { closed = true; detach() }
  }
}

/** Stream repository + pub/sub facade (reference: pkg/pubsub/pub_sub.go).
  * Topics are auto-created on first use (getOrAddStreamByID,
  * pub_sub.go:370-384); asking for an existing topic with a different
  * content type is an error for the same name+kind
  * (ErrStreamTypeMismatch, pub_sub.go:386-397).
  */
final class PubSub(val spark: SparkSession) {

  private val topics = mutable.Map.empty[StreamKey, Topic[_]]
  private val subs = mutable.ListBuffer.empty[Subscription[_]]
  // tracked attachments per topic INSTANCE: open Publisher handles +
  // owner-scoped Subscriptions (the reference's publishersMap/subscribers
  // counts that gate tryClose, stream.go:83-107). Keyed by identity, not
  // StreamKey, so a handle surviving a force-remove can never detach a
  // RECREATED topic under the same name.
  private val attached = mutable.Map.empty[Topic[_], Int].withDefaultValue(0)

  private def keyOf[T](topic: String)(implicit tt: TypeTag[T]) =
    StreamKey(topic, tt.tpe.toString)

  /** Get or auto-create the typed topic. Same name with a different
    * content type coexists — the composite key keeps them apart
    * (reference: pub_sub_test.go:102-118). Auto-created topics are
    * auto-cleaned on last detach, like the reference's implicit
    * getOrAddStreamByID path (pub_sub.go:370-384).
    */
  def topic[T: TypeTag](name: String): Topic[T] =
    getOrCreate[T](name, clean = true)

  /** Explicitly add a topic with a manual lifecycle (reference:
    * AddOrReplaceStream — explicit streams default AutoCleanup=false,
    * config.go:27). Returns the existing topic if already present.
    */
  def createTopic[T: TypeTag](name: String,
      autoCleanup: Boolean = false,
      capacity: Option[Int] = None): Topic[T] =
    getOrCreate[T](name, clean = autoCleanup, capacity = capacity)

  private def getOrCreate[T: TypeTag](name: String, clean: Boolean,
      capacity: Option[Int] = None): Topic[T] = synchronized {
    val key = keyOf[T](name)
    implicit val enc: Encoder[EventEnvelope[T]] =
      ExpressionEncoder[EventEnvelope[T]]()
    topics.getOrElseUpdate(key, new Topic[T](key, spark, clean, capacity))
      .asInstanceOf[Topic[T]]
  }

  /** Register a publisher handle on the (auto-created) topic (reference:
    * RegisterPublisherByTopic, pub_sub.go:229-251). The open handle pins
    * the topic; closing the last one may auto-clean it.
    */
  def registerPublisher[T: TypeTag](name: String): Publisher[T] =
    synchronized {
      val t = topic[T](name)
      attached(t) += 1
      new Publisher[T](t, () => detach(t))
    }

  private def detach(t: Topic[_]): Unit = synchronized {
    if (attached.contains(t)) {
      attached(t) -= 1
      if (attached(t) <= 0) {
        attached.remove(t)
        // only the still-registered instance auto-cleans; a force-removed
        // topic's stale handles must not touch a recreated namesake
        if (t.autoCleanup && topics.get(t.key).contains(t))
          topics.remove(t.key)
      }
    }
  }

  /** Remove the topic iff nothing is attached (reference:
    * TryRemoveStreams/tryClose, pub_sub.go:95-105, stream.go:83-107):
    * returns false and leaves it registered while any tracked publisher
    * or owner-scoped subscription is open.
    */
  def tryRemoveTopic[T: TypeTag](name: String): Boolean = synchronized {
    topics.get(keyOf[T](name)) match {
      case Some(t) if attached(t) > 0 => false
      case Some(t) => attached.remove(t); topics.remove(t.key).isDefined
      case None => false
    }
  }

  /** Fetch an EXISTING topic expecting type T; a type mismatch is an
    * error rather than an auto-create (reference:
    * getAndConvertStreamByID -> ErrStreamTypeMismatch,
    * pub_sub.go:386-397).
    */
  def existingTopic[T: TypeTag](name: String): Topic[T] = synchronized {
    val key = keyOf[T](name)
    topics.get(key) match {
      case Some(t) => t.asInstanceOf[Topic[T]]
      case None =>
        val others = topics.keys.filter(_.topic == name).map(_.typeName)
        if (others.nonEmpty)
          throw new StreamTypeMismatchException(
            s"topic '$name' exists with type(s) ${others.mkString(", ")}, " +
              s"not ${key.typeName}")
        else throw new NoSuchElementException(s"no topic '$name'")
    }
  }

  /** Subscribe a per-batch callback to a dataset (usually a topic stream
    * or an operator chain over one). Delivery is micro-batched; within a
    * batch, events are sorted by event time — the observable behavior of
    * the reference's sorted stream (stream.go:279-319).
    */
  def subscribe[T](ds: Dataset[EventEnvelope[T]],
      checkpointName: Option[String] = None,
      owner: Option[Topic[T]] = None,
      // ContinuousQuery passes false: its restart() stops and re-starts
      // sinks over the SAME consumer (checkpointed resume — the
      // migrate-without-loss contract), so close must not detach it
      // from publish fan-out. One-shot subscriptions keep the default
      // and release their consumer on close (the dead-consumer fix).
      releaseOnClose: Boolean = true)(
      cb: Seq[EventEnvelope[T]] => Unit): Subscription[T] = synchronized {
    var w = ds.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[EventEnvelope[T]], _: Long) =>
        val rows = batch.collect().sortBy(_.stamp.start_time.getTime)
        if (rows.nonEmpty) PubSub.guarded(cb(rows.toSeq))
      }
    // A stable checkpoint name lets a restarted subscription resume from
    // its committed offset — the reference's migrate-without-loss
    // guarantee (pub_sub_test.go:136-166).
    checkpointName.foreach { n =>
      spark.conf.getOption("spark.sql.streaming.checkpointLocation")
        .foreach(base => w = w.option("checkpointLocation", s"$base/$n"))
    }
    val release =
      if (releaseOnClose) consumerReleaseHook(Seq(ds)) else () => ()
    val q = w.start()
    val s = register(attachSub(q, owner))
    s.releaseSources = release
    s
  }

  /** Track an owner-scoped subscription: it pins the topic while open and
    * its close() detaches (reference: SubscribeByTopic attaches by stream
    * id, so Unsubscribe can auto-clean — subscriber.go + pub_sub.go:183-211;
    * a Subscription over an arbitrary operator chain has no owner and
    * never triggers cleanup).
    */
  private def attachSub[T](q: StreamingQuery,
      owner: Option[Topic[T]]): Subscription[T] = owner match {
    case Some(t) =>
      attached(t) += 1
      new Subscription[T](q, () => detach(t), Some(t))
    case None => new Subscription[T](q)
  }

  /** Register a subscription in the live list and arm its close-time
    * removal — closed subscriptions must not linger in `subs`, or every
    * later migrate drain / teardown iterates dead queries.
    */
  private def register[T](s: Subscription[T]): Subscription[T] = {
    subs += s
    s.unregister = () => synchronized { subs -= s }
    s
  }

  /** Find the MemoryStream consumers feeding a subscription's plan and
    * pair each with the topic that owns it, so Subscription.close can
    * detach them from publish fan-out (the dead-consumer leak —
    * Topic.releaseConsumer). The plan walk sees through any operator
    * chain the caller built over `Topic.stream`; non-topic memory
    * sources (tests driving their own MemoryStream) match no topic and
    * are left alone. Identity pairs are captured at subscribe time: a
    * later force-remove/re-create of the topic name must not let a stale
    * subscription detach a recreated namesake's consumers.
    */
  private def consumerReleaseHook(inputs: Seq[Dataset[_]]): () => Unit = {
    val sources: Seq[AnyRef] = inputs.flatMap(_.queryExecution.logical.collect {
      case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
          if r.table.isInstanceOf[
            org.apache.spark.sql.execution.streaming.runtime.MemoryStreamTable] =>
        r.table.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.MemoryStreamTable]
          .stream.asInstanceOf[AnyRef]
    })
    // Topics snapshotted here (callers already hold the PubSub monitor;
    // no topic monitor is touched under it — migrate takes topic ->
    // pubsub, so nesting the other way would deadlock). releaseConsumer
    // itself runs at CLOSE time with no PubSub lock held, and is an
    // identity-matched no-op on every topic that doesn't own the source.
    val ts = topics.values.toList
    () => for (t <- ts; src <- sources) t.releaseConsumer(src)
  }

  /** Batch subscriber with a selection policy (reference:
    * SubscriberWithSelectionPolicy, pkg/pubsub/config.go:37-41 +
    * newBufferForSubscriber, subscriber.go:277-289): the callback receives
    * whole windows. SelectNext delivers one-event windows; counting and
    * temporal policies window via the stateful/watermarked operators.
    */
  def subscribeBatch[T: TypeTag](ds: Dataset[EventEnvelope[T]],
      policy: SelectionPolicy,
      owner: Option[Topic[T]] = None)(
      cb: WindowBatch[T] => Unit): Subscription[T] = synchronized {
    val windows: Dataset[WindowBatch[T]] = policy match {
      case SelectNext =>
        StatefulOps.countingWindows[T](1, 1)(ds)
      case CountingWindowPolicy(n, shift) =>
        StatefulOps.countingWindows[T](n, shift)(ds)
      // Temporal policies go through the gapless sequencer so batch
      // subscribers observe the reference buffer's FULL window sequence
      // — strict order, sliding overlap, and EMPTY windows between
      // distant events (selection_policy_test.go:100-201). Like the
      // counting policies above, this is deliberate single-sequence
      // parity with the reference's one-buffer-per-stream model; for
      // horizontally scaled consumption use the keyed sequencer or the
      // distributed grouped-agg operators (TemporalOps) directly.
      // alignToEpoch puts window STARTS on window()'s epoch-floored
      // grid; note the sequence still begins at the first event's
      // window, so the grouped-agg path may emit earlier partial
      // windows for the very first events that this path does not.
      case TemporalWindowPolicy(length, slide, lateness) =>
        val slideMs = PubSub.intervalMs(slide)
        require(slideMs > 0,
          s"temporal policy slide must be positive, got '$slide'")
        StatefulOps.temporalBatchesGapless[T](
          PubSub.intervalMs(length), slideMs, alignToEpoch = true,
          latenessMs = PubSub.intervalMs(lateness))(ds)
    }
    val q = windows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[WindowBatch[T]], _: Long) =>
        batch.collect().sortBy(_.windowId)
          .foreach(w => PubSub.guarded(cb(w))); ()
      }
      .start()
    val s = register(attachSub(q, owner))
    s.releaseSources = consumerReleaseHook(Seq(ds))
    s
  }

  /** Multi-input batch subscriber — the reference's
    * MultiTemporalWindowPolicy over a fan-in of streams (one buffer per
    * input; a window fires only when EVERY input holds an event past its
    * end, selection_policy.go:385-398). Routed through the
    * watermark-gated fan-in sequencer: each branch carries a 0-delay
    * watermark, the query watermark is their minimum, and windows
    * (including empty ones) close against that minimum — a lagging input
    * holds the whole fan-in back, exactly the reference readiness rule.
    */
  def subscribeBatchMulti[T: TypeTag](inputs: Seq[Dataset[EventEnvelope[T]]],
      policy: TemporalWindowPolicy)(
      cb: WindowBatch[T] => Unit): Subscription[T] = synchronized {
    val slideMs = PubSub.intervalMs(policy.slide)
    require(slideMs > 0,
      s"temporal policy slide must be positive, got '${policy.slide}'")
    val windows = StatefulOps.temporalBatchesGaplessMulti[T](
      PubSub.intervalMs(policy.length), slideMs,
      alignToEpoch = true,
      latenessMs = PubSub.intervalMs(policy.allowedLateness))(inputs)
    val q = windows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[WindowBatch[T]], _: Long) =>
        batch.collect().sortBy(_.windowId)
          .foreach(w => PubSub.guarded(cb(w))); ()
      }
      .start()
    val s = register(attachSub[T](q, None))
    s.releaseSources = consumerReleaseHook(inputs)
    s
  }

  /** Hot-migrate a LIVE topic to a new configuration (reference:
    * migrateStream via AddOrReplaceStream on an existing id,
    * stream.go:109-123): drain everything published so far to the
    * topic's owner-scoped subscribers, then swap capacity and default
    * policy — all under the topic monitor, so concurrent publishers
    * block (never fail, never lose events) until the swap completes.
    * Open publisher handles and running subscriptions survive untouched;
    * the new default policy applies to subscribers that attach after the
    * migrate (the reference semantics: the carried-over subscriberMap
    * keeps existing buffers, new subscribers get the new config).
    *
    * Drain-barrier scope: the owner-scoped subscription list is
    * snapshotted UNDER THE TOPIC MONITOR, after migrate has acquired it
    * — so every subscription attached before the barrier went up is
    * drained, with no escape window between a call-time snapshot and
    * monitor acquisition. A subscription attached after the barrier is
    * up starts against the post-swap config anyway (a default
    * subscriber blocks on `defaultPolicy` until the swap completes); one
    * that terminated with an error cannot observe anything, so it is
    * skipped rather than allowed to rethrow its failure into the
    * migrate.
    *
    * Re-entrancy: the drain runs under the TOPIC MONITOR, so a
    * subscriber callback that re-enters any topic-monitor API while
    * draining — publishing to THIS topic, subscribeTopicBatch on it,
    * a nested migrate — deadlocks, not just the documented same-topic
    * publish. Callbacks must stay off this topic's control surface;
    * other topics are safe (per-topic monitors).
    */
  def migrateTopic[T: TypeTag](name: String,
      capacity: Option[Int] = None,
      defaultPolicy: SelectionPolicy = SelectNext): Unit = {
    val t = existingTopic[T](name)
    t.migrate(capacity, defaultPolicy, () => {
      // snapshot INSIDE the barrier (the drain thunk runs under the
      // topic monitor): no subscription can slip between a call-time
      // snapshot and monitor acquisition. Lock order is topic -> pubsub
      // here; no path takes pubsub -> topic (publish/stop never hold
      // the PubSub monitor), so this nesting cannot deadlock.
      val owned = synchronized(
        subs.toList.filter(_.ownerTopic.exists(_ eq t)))
      // isActive re-checked per subscription INSIDE the barrier: a
      // query that already terminated (stopped or failed) has nothing
      // left to deliver, and processAllAvailable on a failed query
      // would rethrow its StreamingQueryException mid-migrate, aborting
      // the config swap for a subscriber that is already dead
      owned.foreach(s =>
        if (s.query.isActive)
          try s.query.processAllAvailable()
          catch {
            case _: org.apache.spark.sql.streaming.StreamingQueryException =>
              // the query died WHILE draining — equally unobservable
          })
    })
  }

  /** Subscribe whole-window batches using the topic's CURRENT default
    * policy (reference: a subscriber registered without an explicit
    * buffer gets the stream's DefaultSubscribers config,
    * subscriber.go:277-289 + config.go:23-31) — after a migrateTopic,
    * new default subscribers observe the migrated policy.
    */
  def subscribeTopicBatch[T: TypeTag](t: Topic[T])(
      cb: WindowBatch[T] => Unit): Subscription[T] =
    subscribeBatch[T](t.stream, t.defaultPolicy, Some(t))(cb)

  /** One-shot publish without keeping a publisher handle (reference:
    * InstantPublishByTopic, pub_sub.go:215-227).
    */
  def instantPublish[T: TypeTag](name: String, values: T*): Unit =
    topic[T](name).publishValues(values: _*)

  /** Force-remove one typed topic regardless of attachments (reference:
    * ForceRemoveStream). Prefer tryRemoveTopic / auto-cleanup; open
    * subscriptions on a force-removed topic keep running but the name is
    * free for re-creation.
    */
  def removeTopic[T: TypeTag](name: String): Boolean = synchronized {
    val key = keyOf[T](name)
    topics.get(key).foreach(attached.remove)
    topics.remove(key).isDefined
  }

  def topicCount: Int = synchronized(topics.size)

  /** Open (not yet closed) subscriptions in the registry — closed ones
    * are pruned eagerly by Subscription.close, so migrate drains and
    * teardown only ever touch live queries.
    */
  def subscriptionCount: Int = synchronized(subs.size)

  def close(): Unit = {
    // snapshot under the lock, stop OUTSIDE it: s.close() blocks on the
    // micro-batch thread, and a subscriber callback that re-enters a
    // synchronized PubSub method (e.g. instantPublish into another
    // topic) would deadlock teardown if we held the monitor here
    val snapshot = synchronized {
      val ss = subs.toList
      subs.clear()
      ss
    }
    snapshot.foreach(s => try s.close() catch { case _: Throwable => () })
    synchronized {
      topics.clear()
      attached.clear()
    }
  }
}

object PubSub {
  /** Subscriber panic isolation (reference: doNotify recovers and logs a
    * panicking callback, subscriber.go:122-133): a throwing callback must
    * not kill the streaming query — later batches keep delivering. Fatal
    * JVM errors (OOM etc.) still propagate.
    */
  private[streaming] def guarded(body: => Unit): Unit =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[pubsub] subscriber callback recovered: $e")
    }

  /** Parse a Spark interval string ("10 seconds") to milliseconds. */
  private[streaming] def intervalMs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"month-based window '$s' not supported")
    iv.days * 86400000L + iv.microseconds / 1000L
  }
}
