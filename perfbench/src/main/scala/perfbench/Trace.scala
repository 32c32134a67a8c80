package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans held in memory for the traced run: one per call into a layer,
  * recorded around the call from outside the program. `op` is the cycle
  * index the span belongs to and `parent` the id of the span that caused
  * it (0 for an op's root span).
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    table: String, startNs: Long, endNs: Long)

/** Spark task counters summed per span. Jobs find their span through the
  * `perfbench.span` local property, which the tracer sets on the calling
  * thread; thread pools the program creates inside a call inherit it.
  */
final class SpanCounters {
  val jobs = new AtomicInteger
  val tasks = new AtomicInteger
  @volatile var cpuNs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var inputRows = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks.incrementAndGet()
    cpuNs += m.executorCpuTime
    shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
      m.shuffleWriteMetrics.bytesWritten
    inputRows += m.inputMetrics.recordsRead
  }
}

final class Tracer(sc: SparkContext) extends SparkListener {
  private val nextId = new AtomicInteger
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  sc.addSparkListener(this)

  /** Runs `f` as span `name`; jobs it submits are charged to the span. */
  def span[T](name: String, op: Int, parent: Int, table: String = "")
      (f: Int => T): T = {
    val id = nextId.incrementAndGet()
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, id.toString)
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.Key, prev)
      spans.synchronized(spans += Span(id, name, op, parent, table, t0, t1))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).foreach { id =>
        counters.computeIfAbsent(id, _ => new SpanCounters).jobs.incrementAndGet()
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      if (e.taskMetrics != null)
        counters.computeIfAbsent(id, _ => new SpanCounters).add(e.taskMetrics)
    }

  /** The spans with their counters, after every queued listener event
    * has been delivered.
    */
  def finish(): Seq[(Span, SpanCounters)] = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    sc.removeSparkListener(this)
    spans.synchronized(spans.toList).sortBy(_.id).map(s =>
      s -> Option(counters.get(s.id)).getOrElse(new SpanCounters))
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Collection time of all the JVM's garbage collectors so far, in seconds. */
object Gc {
  def seconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}
