package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a layer of the program. */
final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long)

/** Records spans around the benchmark's calls into the program. The
  * untraced run uses [[NoTrace]], which runs the same code unrecorded. */
sealed trait Tracer {
  def span[T](name: String)(f: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(f: => T): T = f
}

/** Spans plus Spark's scheduler, SQL and codegen counters for one run.
  *
  * Spans are kept in memory and written when the run ends. Each span tags
  * the jobs submitted inside it through a thread-local job property, so
  * job counts per span are exact even though listener events arrive
  * asynchronously. Counters are cumulative from [[start]] to [[stop]].
  */
final class SparkTrace(spark: SparkSession) extends Tracer {
  private val SpanProp = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private val nextId = new AtomicInteger(0)
  private val jobsBySpan = new ConcurrentHashMap[Int, AtomicLong]()

  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    counters.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      val tag = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp)))
      tag.foreach(t =>
        jobsBySpan.computeIfAbsent(t.toInt, _ => new AtomicLong())
          .incrementAndGet())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val info = e.taskInfo
      val m = e.taskMetrics
      if (info != null) add("task_ms", info.duration)
      if (m != null) {
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        if (info != null) add("delay_ms", math.max(0L,
          info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime))
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_b", m.inputMetrics.bytesRead)
        add("output_b", m.outputMetrics.bytesWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("aqe_replans", 1)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => add(s"${p}_ms", s.durationMs))
      }
    }
    override def onFailure(fn: String, qe: QueryExecution,
        ex: Exception): Unit = ()
  }

  // CodegenMetrics is a process-wide static source; read it by reflection
  // so the driver needs no access to Spark-internal types
  private def compileHistogram: com.codahale.metrics.Histogram = {
    val cls = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    val module = cls.getField("MODULE$").get(null)
    cls.getMethod("METRIC_COMPILATION_TIME").invoke(module)
      .asInstanceOf[com.codahale.metrics.Histogram]
  }
  private var compiles0 = 0L
  private var compileMs0 = 0.0

  /** (compiles, compile ms). The histogram keeps a sampling reservoir,
    * so the time is its mean times the exact count. */
  private def compileTotals: (Long, Double) = {
    val h = compileHistogram
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val (c, ms) = compileTotals
    compiles0 = c
    compileMs0 = ms
  }

  def span[T](name: String)(f: => T): T = {
    val id = nextId.getAndIncrement()
    val sc = spark.sparkContext
    val prevTag = sc.getLocalProperty(SpanProp)
    val parent = stack.head
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanProp, prevTag)
      stack = stack.tail
      spans += Span(id, name, parent, t0, t1)
    }
  }

  /** Drain the listener bus, then freeze the counters. */
  def stop(): Unit = {
    Main.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val (c, ms) = compileTotals
    add("codegen_compiles", c - compiles0)
    add("codegen_compile_ms_x1000", math.round((ms - compileMs0) * 1000))
  }

  def report(originNs: Long): Map[String, Any] = Map(
    "spans" -> spans.toSeq.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.startNs - originNs) / 1e9,
      "end_s" -> (s.endNs - originNs) / 1e9,
      "jobs" -> Option(jobsBySpan.get(s.id)).map(_.get).getOrElse(0L))),
    "counters" -> counters.asScala.map { case (k, v) => k -> v.get }.toMap)
}
