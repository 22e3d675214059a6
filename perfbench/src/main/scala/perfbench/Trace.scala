package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into a layer of the program. `parent`
  * is the enclosing span's id (0 at the root); `op` names the operation the
  * span belongs to, so all spans of one operation share it. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long)

/** Spans kept in memory while the traced pass runs and written at exit.
  * The active span's name travels to Spark as a job-local property, so the
  * listener can charge every job to the layer that launched it (jobs of a
  * streaming query inherit the property of the span that started it). */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Long, String)]

  def span[T](name: String, op: String)(f: => T): T = {
    val id = Tracer.nextId.incrementAndGet()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    stack = (id, name) :: stack
    sc.setLocalProperty(Tracer.LayerProp, name)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, name, op, t0, System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(Tracer.LayerProp, stack.headOption.map(_._2).orNull)
    }
  }
}

object Tracer {
  val LayerProp = "perfbench.layer"
  /** Span ids are unique across all traced passes of a run. */
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Per-layer Spark counters: jobs, stages and tasks charged to the span
  * layer active when each job was submitted, plus streaming batch progress.
  * Attached only for traced passes. */
final class LayerListener extends SparkListener {
  final class Tasks {
    val durationsMs = ArrayBuffer.empty[Long]
    var shuffleRead, shuffleWrite, spill, failed = 0L
  }
  val jobs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  val stagesByLayer = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private val stageLayer = scala.collection.mutable.Map.empty[Int, String]
  /** (layer, stageId) -> task stats; stage ids are unique per context. */
  val tasks = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Tasks]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.LayerProp))).getOrElse("untraced")
    jobs(layer) += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagesByLayer(stageLayer.getOrElse(e.stageInfo.stageId, "untraced")) += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val layer = stageLayer.getOrElse(e.stageId, "untraced")
    val t = tasks.getOrElseUpdate((layer, e.stageId), new Tasks)
    t.durationsMs += e.taskInfo.duration
    if (e.reason != Success) t.failed += 1
    Option(e.taskMetrics).foreach { m =>
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
    }
  }
}

final class StreamProgress extends StreamingQueryListener {
  /** (batch duration ms, input rows) per completed micro-batch. */
  val batches = ArrayBuffer.empty[(Long, Long)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { batches += ((e.progress.batchDuration, e.progress.numInputRows)) }
}

/** Listener pair attached for one traced pass. */
final class TracedPass(spark: SparkSession) {
  val layers = new LayerListener
  val stream = new StreamProgress
  val tracer = new Tracer(spark.sparkContext)
  spark.sparkContext.addSparkListener(layers)
  spark.streams.addListener(stream)

  def close(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(layers)
    spark.streams.removeListener(stream)
    spark.sparkContext.setLocalProperty(Tracer.LayerProp, null)
  }
}
