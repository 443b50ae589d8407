package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to a tag. A tag is a `/`-separated path (journey,
  * then span names); a Spark job carries the tag that was current on the
  * thread that started it (the `perfbench.tag` local property), and its
  * stages and tasks inherit the job's tag.
  */
final class Tally {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var runMs = 0L

  def add(o: Tally): Tally = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs; runMs += o.runMs
    this
  }
}

/** Counts jobs, stages, tasks and task metrics per tag (public listener
  * API). Read the tallies after `SparkSession.stop()`, which drains the
  * listener bus, so no event is still in flight.
  */
final class WorkListener extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Tally]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def tally(tag: String): Tally = byTag.getOrElseUpdate(tag, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.TagKey))).getOrElse("")
    tally(tag).jobs += 1
    e.stageIds.foreach(id => stageTag.getOrElseUpdate(id, tag))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      tally(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageTag.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.executorCpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.runMs += m.executorRunTime
    }
  }

  /** Everything tagged `tag` or below it. */
  def under(tag: String): Tally = synchronized {
    byTag.foldLeft(new Tally) { case (acc, (k, v)) =>
      if (k == tag || k.startsWith(tag + "/")) acc.add(v) else acc
    }
  }
}

final case class Batch(durationMs: Long, commitMs: Long, stateRows: Long)

/** Micro-batch progress of the streaming queries, keyed by run id (one
  * `start()` of a query).
  */
final class StreamListener extends StreamingQueryListener {
  private val byQuery = mutable.HashMap.empty[String, mutable.ArrayBuffer[Batch]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      byQuery.getOrElseUpdate(p.runId.toString, mutable.ArrayBuffer.empty) +=
        Batch(ms("triggerExecution"), ms("walCommit") + ms("commitOffsets"),
          state)
    }

  def batches(runId: String): Seq[Batch] = synchronized {
    byQuery.get(runId).map(_.toSeq).getOrElse(Nil)
  }
}

/** One timed call: name (`layer.call`), wall interval, parent span, the
  * journey it belongs to, and the tag its Spark jobs carry.
  */
final case class Span(id: Int, name: String, parent: Int, journey: String,
                      tag: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Tags Spark jobs with the current journey/call and, when enabled,
  * records a span around each call. With tracing off a call is neither
  * tagged nor recorded.
  */
final class Tracer(spark: SparkSession) {
  var enabled = false
  private val sc = spark.sparkContext
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil // (span id, tag)
  private var journeyId = ""
  private var nextId = 1
  /** Time spent recording spans and switching tags (what tracing adds). */
  var bookkeepingNs = 0L

  def spans: Seq[Span] = recorded.toSeq

  /** The tag Spark jobs started now would carry. */
  def tag: String = sc.getLocalProperty(Tracer.TagKey)

  private def withTag[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Tracer.TagKey)
    sc.setLocalProperty(Tracer.TagKey, tag)
    try body finally sc.setLocalProperty(Tracer.TagKey, prev)
  }

  /** The root of one journey: every job inside carries `id` as its tag. */
  def journey[T](id: String)(body: => T): T = {
    journeyId = id
    stack = List((0, id))
    try withTag(id)(body) finally stack = Nil
  }

  /** A call into a module. Returns the body's value; the tag of this call
    * is `parentTag/name`.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val tag = s"${stack.headOption.map(_._2).getOrElse("")}/$name"
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, tag) :: stack
      val prev = sc.getLocalProperty(Tracer.TagKey)
      sc.setLocalProperty(Tracer.TagKey, tag)
      val t0 = System.nanoTime()
      bookkeepingNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.TagKey, prev)
        recorded += Span(id, name, parent, journeyId, tag, t0, t1)
        stack = stack.tail
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  /** Wall seconds of each layer's spans minus their child spans, over every
    * span of the run (the traced journey, the single-module calls and the
    * incremental loop).
    */
  def selfSeconds: Map[String, Double] = {
    val childTime = recorded.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    recorded.groupBy(_.layer).view.mapValues(ss => ss.map { s =>
      (s.endNs - s.startNs - childTime.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }
}

object Tracer {
  val TagKey = "perfbench.tag"
}

/** The largest heap occupancy a garbage collection left behind since
  * `reset()`: what the program held live (driver collects, broadcast and
  * cached blocks), whatever the young generation's size.
  */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = synchronized { peak / (1024.0 * 1024.0) }
}
