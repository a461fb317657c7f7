package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api._
import graft.config.{SinkConfig, SourceConfig, TransformConfig}

/** One timed call into a layer. `parent` is the index of the enclosing span
  * on the same thread (-1 at the top); spans of one pipeline run share
  * `run`. */
final case class Span(name: String, detail: String, startNs: Long, endNs: Long,
                      parent: Int, run: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task, stage and job totals the Spark listener attributes to one run. */
final class RunCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var fetchWaitMs = 0L
  var spillBytes = 0L; var inputBytes = 0L; var inputRows = 0L
  /** (start, end) wall-clock millis of each job, end = -1 while running. */
  val jobIntervals = mutable.Map.empty[Int, (Long, Long)]
}

/**
 * Outside-in tracer. It touches no program code: it wraps every registry
 * entry in a delegating timer (through the public `Registry.register`) and
 * listens with Spark's public listener APIs. Spans stay in memory until
 * [[writeSpans]] at exit.
 */
final class Tracer(spark: SparkSession) {
  @volatile var currentRun: String = ""
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val openStack = new ThreadLocal[List[Int]] { override def initialValue = Nil }

  def spans: Seq[Span] = spansBuf.synchronized(spansBuf.toList)

  def span[T](name: String, detail: String)(body: => T): T = {
    val parent = openStack.get.headOption.getOrElse(-1)
    val idx = spansBuf.synchronized {
      spansBuf += Span(name, detail, System.nanoTime(), -1L, parent, currentRun)
      spansBuf.length - 1
    }
    openStack.set(idx :: openStack.get)
    try body finally {
      openStack.set(openStack.get.tail)
      spansBuf.synchronized { spansBuf(idx) = spansBuf(idx).copy(endNs = System.nanoTime()) }
    }
  }

  /** Wall-clock millis at which each run's first `Sink.write` began; jobs
    * that started earlier in the run belong to the quality gate. */
  val sinkStartMs = new ConcurrentHashMap[String, java.lang.Long]()

  // ------------------------------------------------------ registry wrappers

  def wrapSources(reg: Registry[Source]): Registry[Source] = {
    reg.list.foreach { t =>
      val inner = reg.get(t)
      reg.register(t, new Source {
        val sourceType: String = inner.sourceType
        def read(config: SourceConfig)(implicit spark: SparkSession): DataFrame =
          span("sources.read", t)(inner.read(config))
        override def validate(config: SourceConfig): List[String] = inner.validate(config)
      })
    }
    reg
  }

  def wrapTransforms(reg: Registry[Transform]): Registry[Transform] = {
    reg.list.foreach { t =>
      val inner = reg.get(t)
      reg.register(t, new Transform {
        val transformType: String = inner.transformType
        def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
          span("operators.apply", config.name)(inner.apply(input, config, ctx))
        override def validate(config: TransformConfig,
                              schema: org.apache.spark.sql.types.StructType): List[String] =
          inner.validate(config, schema)
      })
    }
    reg
  }

  def wrapSinks(reg: Registry[Sink]): Registry[Sink] = {
    reg.list.foreach { t =>
      val inner = reg.get(t)
      reg.register(t, new Sink {
        val sinkType: String = inner.sinkType
        def write(data: DataFrame, config: SinkConfig, ctx: RunContext): LoadResult = {
          sinkStartMs.putIfAbsent(currentRun, System.currentTimeMillis())
          span("sinks.write", t)(inner.write(data, config, ctx))
        }
        override def validate(config: SinkConfig): List[String] = inner.validate(config)
      })
    }
    reg
  }

  // ------------------------------------------------------------- listeners

  val runCounters = new ConcurrentHashMap[String, RunCounters]()
  private val stageRun = new ConcurrentHashMap[Int, String]()
  private val jobRun = new ConcurrentHashMap[Int, String]()
  private def counters(run: String): RunCounters =
    runCounters.computeIfAbsent(run, _ => new RunCounters)

  /** Plan-phase totals from each action's QueryPlanningTracker. */
  final class PhaseTotals {
    var actions = 0L; var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  }
  val phases = new PhaseTotals
  /** Micro-batch progress, keyed by the streaming query's run id. */
  val progress = new ConcurrentHashMap[String, java.util.List[StreamingQueryProgress]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val run = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.RunKey)))
        .getOrElse("")
      jobRun.put(e.jobId, run)
      e.stageIds.foreach(s => stageRun.put(s, run))
      val c = counters(run)
      c.synchronized { c.jobs += 1; c.jobIntervals(e.jobId) = (e.time, -1L) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val c = counters(jobRun.getOrDefault(e.jobId, ""))
      c.synchronized {
        c.jobIntervals.get(e.jobId).foreach { case (s, _) => c.jobIntervals(e.jobId) = (s, e.time) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(stageRun.getOrDefault(e.stageInfo.stageId, ""))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val i = e.taskInfo
      val c = counters(stageRun.getOrDefault(e.stageId, ""))
      val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult
      c.synchronized {
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.schedulerDelayMs += math.max(0L, delay)
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(phase: String) = p.get(phase).map(_.durationMs).getOrElse(0L)
      phases.synchronized {
        phases.actions += 1
        phases.analysisMs += ms("analysis")
        phases.optimizationMs += ms("optimization")
        phases.planningMs += ms("planning")
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.computeIfAbsent(e.progress.runId.toString,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList[StreamingQueryProgress]()))
        .add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Listeners are installed around each traced run only, so untraced
    * runs in the same JVM pay nothing for them. */
  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Snapshot of the plan-phase totals (actions, analysis, optimization,
    * planning ms). */
  def phaseSnapshot: (Long, Long, Long, Long) = phases.synchronized(
    (phases.actions, phases.analysisMs, phases.optimizationMs, phases.planningMs))

  /** Millis of [startMs, endMs] that no job of `run` covered. */
  def driverGapMs(run: String, startMs: Long, endMs: Long): Long = {
    val c = runCounters.get(run)
    if (c == null) return endMs - startMs
    val iv = c.synchronized(c.jobIntervals.values.toList)
      .map { case (s, e) => (math.max(s, startMs), math.min(if (e < 0) endMs else e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (endMs - startMs) - covered
  }

  /** Jobs of `run` that started before its sink write began. */
  def jobsBeforeSink(run: String): Long = {
    val c = runCounters.get(run)
    val sink = sinkStartMs.get(run)
    if (c == null || sink == null) 0L
    else c.synchronized(c.jobIntervals.values.count(_._1 < sink).toLong)
  }

  /** One JSON object per line, in start order; `id` is what `parent` refers to. */
  def writeSpans(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, spans.zipWithIndex.map { case (s, i) =>
      Harness.json.writeValueAsString(Map("id" -> i, "name" -> s.name, "detail" -> s.detail,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent, "run" -> s.run))
    }.mkString("", "\n", "\n"))
}

object Tracer {
  /** SparkContext local property carrying the benchmark's run id; jobs
    * started by the run (or by its stream thread, which inherits local
    * properties) carry it in their job-start properties. */
  val RunKey = "perfbench.run"

  def durations(p: StreamingQueryProgress): Map[String, Long] =
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
}
