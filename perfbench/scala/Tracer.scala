package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import graft.streaming.StreamPipeline.Notifier

/** One recorded interval: layer, name, wall-clock bounds (epoch ms) and
  * the unit of work that caused it (a batch id, or empty).
  */
final case class Span(layer: String, name: String, startMs: Double,
    endMs: Double, cause: String, attrs: Map[String, Double] = Map.empty)

/** Wall clock in epoch milliseconds with nanosecond resolution: one base
  * for every span, so notify and listener times compare.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Wraps a [[Notifier]] and records one span per (batch, filter) call. */
class TimingNotifier(inner: Notifier, spans: ConcurrentLinkedQueue[Span])
    extends Notifier {
  def notify(filterName: String, batchId: Long, passing: DataFrame): Unit = {
    val t0 = Clock.nowMs
    inner.notify(filterName, batchId, passing)
    spans.add(Span("notify", filterName, t0, Clock.nowMs, batchId.toString))
  }
}

/** The traced run's instruments, all attached through Spark's public
  * listener interfaces from the benchmark's own code: a SparkListener
  * (jobs, stages, tasks, task metrics, block updates), a
  * QueryExecutionListener (`qe.tracker.phases`), a StreamingQueryListener
  * (micro-batch progress) and before/after readings of CodegenMetrics.
  * Spans stay in memory until [[writeSpans]].
  */
class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val sc = spark.sparkContext
  private val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  @volatile var stages = 0L
  @volatile var tasks = 0L
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Double]()
  private val blockBytes = mutable.Map[RDDBlockId, Long]()
  private var cachedNow = 0L
  @volatile var cachedPeak = 0L
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def add(k: String, v: Double): Unit = sums.synchronized {
    sums(k) += v
  }
  def sum(k: String): Double = sums.synchronized(sums(k))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.synchronized { jobStart(e.jobId) = Clock.nowMs }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.synchronized(jobStart.remove(e.jobId))
      t0.foreach(s => spans.add(Span("job", s"job-${e.jobId}", s, Clock.nowMs,
        "")))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        add("executor.run_ms", m.executorRunTime.toDouble)
        add("executor.cpu_ms", m.executorCpuTime / 1e6)
        add("executor.gc_ms", m.jvmGCTime.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks += 1
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case id: RDDBlockId => blockBytes.synchronized {
          val info = e.blockUpdatedInfo
          val now = if (info.storageLevel.isValid) info.memSize + info.diskSize
            else 0L
          cachedNow += now - blockBytes.getOrElse(id, 0L)
          if (now == 0L) blockBytes.remove(id) else blockBytes(id) = now
          cachedPeak = math.max(cachedPeak, cachedNow)
        }
        case _ =>
      }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = Clock.nowMs
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => add(s"plan.${p}_ms", s.durationMs.toDouble))
      }
      spans.add(Span("query", funcName, end - durationNs / 1e6, end, "",
        phases.map { case (k, v) => k -> v.durationMs.toDouble }))
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private def codegen: (Long, Double, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }
  private var codegenBefore = (0L, 0.0, 0L)
  private val windows = mutable.ArrayBuffer[(Double, Double)]()
  private var startMs = 0.0

  /** Opens a traced window. A tracer may open several; every metric
    * sums over them.
    */
  def start(): Unit = {
    codegenBefore = codegen
    sc.addSparkListener(sparkListener)
    classic.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    startMs = Clock.nowMs
  }

  def stop(): Unit = {
    windows += ((startMs, Clock.nowMs))
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    classic.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val (n0, s0, c0) = codegenBefore
    val (n1, s1, c1) = codegen
    // the compile-time histogram keeps every sample until its reservoir
    // (1028) fills; past that, estimate the window from the mean
    val compileMs =
      if (n1 <= 1028) s1 - s0
      else (n1 - n0) * (s1 / math.max(1, math.min(n1, 1028)))
    add("codegen.compile_ms", compileMs)
    add("codegen.classes", (c1 - c0).toDouble)
  }

  def wallMs: Double = windows.map { case (s, e) => e - s }.sum

  /** Wall time in the traced windows with no Spark job running. */
  def driverGapMs: Double = windows.map { case (ws, we) =>
    val jobs = spans.asScala.filter(s => s.layer == "job" &&
      s.endMs > ws && s.startMs < we).toSeq
      .map(s => (math.max(s.startMs, ws), math.min(s.endMs, we))).sortBy(_._1)
    var covered = 0.0
    var (curS, curE) = (Double.NaN, Double.NaN)
    jobs.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) covered += curE - curS
    math.max(0.0, we - ws - covered)
  }.sum

  def jobCount: Int = spans.asScala.count(_.layer == "job")

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      Json.obj(Seq("layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "cause" -> s.cause) ++
        s.attrs.toSeq.sortBy(_._1))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
