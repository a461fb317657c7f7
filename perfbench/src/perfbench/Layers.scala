package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.config.YamlConfigParser
import graft.runtime.PipelineExecutor

/** Per-layer numbers of one traced loop, as per-run means unless a name
  * says otherwise. */
object Layers {
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def compute(tracer: Tracer, traced: Seq[RunRecord], untraced: Seq[RunRecord],
              cores: Int): Map[String, Double] = {
    val spans = tracer.spans.toIndexedSeq
    val childMs = spans.filter(_.parent >= 0).groupBy(_.parent).view
      .mapValues(_.map(_.ms).sum).toMap
    val byRun = spans.zipWithIndex.groupBy(_._1.run)
    def spanMs(run: String, name: String, self: Boolean = false): Double =
      byRun.getOrElse(run, Nil).collect {
        case (s, i) if s.name == name => s.ms - (if (self) childMs.getOrElse(i, 0.0) else 0.0)
      }.sum
    val counters = traced.map(r => Option(tracer.runCounters.get(r.id)).getOrElse(new RunCounters))
    def perRun(f: RunCounters => Double): Double = mean(counters.map(f))

    val readMs = traced.map(r => spanMs(r.id, "sources.read"))
    val applyMs = traced.map(r => spanMs(r.id, "operators.apply", self = true))
    val sinkMs = traced.map(r => spanMs(r.id, "sinks.write"))
    val wallMs = traced.map(_.wallS * 1000)
    val n = math.max(traced.size, 1)
    val (actions, analysis, optimization, planning) = tracer.phaseSnapshot

    def runProgress(r: RunRecord) =
      Option(tracer.progress.get(r.streamRunId)).map(_.asScala.toList).getOrElse(Nil)
    def triggerMs(p: StreamingQueryProgress) =
      Tracer.durations(p).getOrElse("triggerExecution", 0L).toDouble
    val progress = traced.flatMap(runProgress)
    val dur = progress.map(Tracer.durations)
    def durSum(k: String): Double = dur.map(_.getOrElse(k, 0L).toDouble).sum
    val batches = math.max(progress.size, 1)
    val lastState = traced.flatMap(runProgress(_).lastOption)
    // what the layers account for: a batch run's source reads, transform
    // applies (self time), quality gate and sink write; a stream run's
    // micro-batches
    val explainedMs = traced.indices.map { i =>
      val r = traced(i)
      if (r.streamRunId.nonEmpty) runProgress(r).map(triggerMs).sum
      else readMs(i) + applyMs(i) + sinkMs(i) + r.qualityMs.toDouble
    }

    Map(
      "config.parse_ms" -> mean(traced.map(_.parseMs)),
      "runtime.analysis_ms" -> analysis.toDouble / n,
      "runtime.optimization_ms" -> optimization.toDouble / n,
      "runtime.planning_ms" -> planning.toDouble / n,
      "runtime.actions" -> actions.toDouble / n,
      "runtime.jobs" -> perRun(_.jobs.toDouble),
      "runtime.stages" -> perRun(_.stages.toDouble),
      "runtime.tasks" -> perRun(_.tasks.toDouble),
      "runtime.driver_gap_ms" -> mean(traced.map(r =>
        tracer.driverGapMs(r.id, r.startMs, r.endMs).toDouble)),
      "runtime.task_cpu_ms" -> perRun(_.taskCpuNs / 1e6),
      "runtime.task_run_ms" -> perRun(_.taskRunMs.toDouble),
      "runtime.scheduler_delay_ms" -> perRun(_.schedulerDelayMs.toDouble),
      "runtime.shuffle_write_bytes" -> perRun(_.shuffleWriteBytes.toDouble),
      "runtime.shuffle_read_bytes" -> perRun(_.shuffleReadBytes.toDouble),
      "runtime.shuffle_fetch_wait_ms" -> perRun(_.fetchWaitMs.toDouble),
      "runtime.spill_bytes" -> perRun(_.spillBytes.toDouble),
      "runtime.core_busy_frac" ->
        counters.map(_.taskRunMs.toDouble).sum / math.max(cores * wallMs.sum, 1.0),
      "sources.read_ms" -> mean(readMs),
      "sources.input_bytes" -> perRun(_.inputBytes.toDouble),
      "sources.input_rows" -> perRun(_.inputRows.toDouble),
      "operators.apply_ms" -> mean(applyMs),
      "quality.ms" -> mean(traced.map(_.qualityMs.toDouble)),
      "quality.jobs" -> mean(traced.filter(_.quarantinePath.nonEmpty)
        .map(r => tracer.jobsBeforeSink(r.id).toDouble)),
      "quality.quarantined_rows" -> mean(traced.map(r => math.max(r.quarantined, 0L).toDouble)),
      "sinks.write_s" -> mean(sinkMs) / 1000,
      "sinks.rows" -> mean(traced.filter(_.streamRunId.isEmpty).map(r => math.max(r.loaded, 0L).toDouble)),
      "streaming.batches" ->
        progress.size.toDouble / math.max(traced.count(_.streamRunId.nonEmpty), 1),
      "streaming.trigger_ms" -> durSum("triggerExecution") / batches,
      "streaming.add_batch_ms" -> durSum("addBatch") / batches,
      "streaming.planning_ms" -> durSum("queryPlanning") / batches,
      "streaming.wal_commit_ms" -> durSum("walCommit") / batches,
      "streaming.commit_offsets_ms" -> durSum("commitOffsets") / batches,
      "streaming.latest_offset_ms" -> durSum("latestOffset") / batches,
      "streaming.overhead_frac" ->
        (if (progress.isEmpty) 0.0 else 1.0 - durSum("addBatch") / math.max(durSum("triggerExecution"), 1.0)),
      "streaming.state_rows" -> mean(lastState.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)),
      "streaming.state_bytes" -> mean(lastState.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)),
      "streaming.state_commit_ms" ->
        progress.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble).sum / batches,
      "trace.overhead_s" -> (median(traced.map(_.wallS)) - median(untraced.map(_.wallS))),
      "trace.unexplained_s" -> mean(traced.indices.map(i => wallMs(i) - explainedMs(i))) / 1000,
      "trace.unexplained_frac" ->
        (wallMs.sum - explainedMs.sum) / math.max(wallMs.sum, 1e-9))
  }

  final case class Step(name: String, selfS: Double, rowsOut: Long)
  final case class Prefixes(steps: Seq[Step], fullNoopWriteS: Double)

  /** Per-step self time as the difference between cumulative prefixes of
    * the pipeline, each composed through `PipelineExecutor.compose` and
    * written to the noop sink once, compose included, since some transforms
    * run jobs while composing; rows from a count of each prefix. The noop
    * write of the full pipeline's composed frame is what the sink's own
    * cost is measured against. */
  def prefixes(p: Harness.Pipeline, regs: Harness.Components)
              (implicit spark: SparkSession): Prefixes = {
    val cfg = new YamlConfigParser().parse(p.template.replace("__RUN__", "prefix"))
    val exec = new PipelineExecutor(regs.sources, regs.transforms, regs.sinks)
    val ts = cfg.transformations
    val prefixCfgs = (0 to ts.size).map(k => cfg.copy(transformations = ts.take(k)))
    // (compose + write, write alone) seconds
    val times = prefixCfgs.map { c =>
      val t0 = System.nanoTime()
      val df = exec.compose(c)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      ((t2 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val rows = prefixCfgs.map(c => exec.compose(c).count())
    Prefixes(ts.indices.map(i => Step(ts(i).name, times(i + 1)._1 - times(i)._1, rows(i + 1))),
      times.last._2)
  }
}
