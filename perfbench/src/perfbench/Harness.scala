package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.api.{Registry, Sink, Source, Transform}
import graft.config.{ExecutionMode, PipelineConfig, YamlConfigParser}
import graft.runtime.{ExecutionMetrics, Main, PipelineExecutor, Registries}
import graft.streaming.StreamingExecutor

/** One pipeline run as the harness saw it. `startMs`/`endMs` are wall
  * clock, `wallS` is measured with the monotonic clock. */
final case class RunRecord(id: String, pipeline: String, wallS: Double, startMs: Long,
                           endMs: Long, parseMs: Double, status: String, loaded: Long,
                           quarantined: Long, qualityMs: Long, sinkPath: String,
                           quarantinePath: String, error: String, streamRunId: String = "") {
  def toMap: Map[String, Any] = Map("id" -> id, "pipeline" -> pipeline, "wall_s" -> wallS,
    "parse_ms" -> parseMs, "status" -> status, "loaded" -> loaded,
    "quarantined" -> quarantined, "sink_path" -> sinkPath,
    "quarantine_path" -> quarantinePath, "error" -> error)
}

/**
 * The benchmark's JVM side. It drives generated inputs through graft's
 * public entry points — `Main.createSparkSession`, `Registries`,
 * `YamlConfigParser`, `PipelineExecutor.execute`/`compose` and
 * `StreamingExecutor.start` — in a closed loop with one client, and writes
 * what it measured to a JSON file for `run.py`.
 *
 * `--mode setup` stops after set-up; `--mode full` then makes the first
 * (cold) run, `--warmup` unmeasured passes over the pipelines and
 * `--cycles` measured ones. With `--trace 1` each measured run is repeated
 * with the [[Tracer]] installed, and time is attributed to pipeline steps
 * by prefix composition.
 */
object Harness {
  final case class Pipeline(name: String, template: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opt("root"))
    val tag = opt("tag")
    val mode = opt("mode")
    val cycles = opt.getOrElse("cycles", "1").toInt
    val warmupCycles = opt.getOrElse("warmup", "0").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = opt.getOrElse("cores", "4").toInt
    val pipelines = opt("pipelines").split(",").toSeq.map { f =>
      Pipeline(Paths.get(f).getFileName.toString.stripSuffix(".yaml"),
        Files.readString(Paths.get(f)))
    }
    val prefixPipelines = opt.get("prefixes").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val loadAtStart = graft.Bench.loadAvg()

    // ---- set-up: what every `Main` invocation pays before its first read
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    implicit val spark: SparkSession = Main.createSparkSession(Main.AppConfig(
      pipelinePath = "", appName = s"perfbench-$tag", master = Some(s"local[$cores]"),
      conf = Map(
        "spark.local.dir" -> root.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> root.resolve("warehouse").toString,
        "spark.ui.enabled" -> "false",
        "spark.sql.session.timeZone" -> "UTC")))
    spark.sparkContext.setLogLevel("ERROR")
    val plain = Components(Registries.sources(), Registries.transforms(), Registries.sinks())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val results = mutable.LinkedHashMap.empty[String, Any]
    results += "setup_s" -> setupS
    results += "load_avg_1m_start" -> loadAtStart

    val runner = new Runner(spark)
    if (mode != "setup") {
      val cold = runner.run(pipelines.head, s"$tag-cold", plain, None)
      results += "cold" -> cold.toMap
      results += "jit_ms_cold" -> jitMs
      results += "gc_ms_cold" -> gcMs
    }
    if (mode == "full") {
      val warmup = runner.loop(pipelines, s"$tag-u", warmupCycles, plain, None)
      results += "warmup_runs" -> warmup.map(_.toMap)
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val traced = tracer.map(t => Components(t.wrapSources(Registries.sources()),
        t.wrapTransforms(Registries.transforms()), t.wrapSinks(Registries.sinks())))
      // with tracing, every untraced run is followed by the same run traced,
      // so both halves see the same JIT warm-up and their difference is the
      // tracing overhead
      val pairs = for (c <- 0 until cycles; p <- pipelines) yield {
        val plainRun = runner.run(p, s"$tag-w$c-${p.name}", plain, None)
        val tracedRun = tracer.map { t =>
          t.install()
          try runner.run(p, s"$tag-t$c-${p.name}", traced.get, Some(t)) finally t.uninstall()
        }
        (plainRun, tracedRun)
      }
      val warm = pairs.map(_._1)
      results += "runs" -> warm.map(_.toMap)
      tracer.foreach { tracer =>
        val tracedRuns = pairs.flatMap(_._2)
        results += "traced_runs" -> tracedRuns.map(_.toMap)
        val layers = Layers.compute(tracer, tracedRuns, warm, cores)
        // prefix attribution runs untraced, after the traced loop's totals
        // are taken, so its extra actions stay out of the layer numbers
        val prefix = prefixPipelines.flatMap(n => pipelines.find(_.name == n))
          .map(p => Layers.prefixes(p, plain)(spark))
        val ownS = prefix.map(pr => layers("sinks.write_s") - pr.fullNoopWriteS).sum
        results += "layers" -> (layers + ("sinks.own_s" -> ownS))
        results += "steps" -> prefix.flatMap(_.steps).map(st =>
          Map("step" -> st.name, "self_s" -> st.selfS, "rows_out" -> st.rowsOut))
        tracer.writeSpans(root.resolve(s"spans-$tag.jsonl"))
      }
    }
    results += "rss_mb" -> peakRssMb
    results += "external_cpu_end" -> graft.Bench.externalCpu()
    results += "load_avg_1m_end" -> graft.Bench.loadAvg()
    results += "external_cpu_threshold" -> graft.Bench.ExternalCpuThreshold
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Harness.json.writeValueAsString(results))
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Components(sources: Registry[Source], transforms: Registry[Transform],
                               sinks: Registry[Sink])

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(-1L)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Runs pipelines one at a time: a run starts when the previous returns. */
  final class Runner(spark: SparkSession) {
    private implicit val session: SparkSession = spark

    /** `cycles` passes over the pipelines, each run once per pass. */
    def loop(pipelines: Seq[Pipeline], prefix: String, cycles: Int,
             regs: Components, tracer: Option[Tracer]): Seq[RunRecord] =
      for (c <- 0 until cycles; p <- pipelines)
        yield run(p, s"$prefix$c-${p.name}", regs, tracer)

    def run(p: Pipeline, id: String, regs: Components, tracer: Option[Tracer]): RunRecord = {
      val tp = System.nanoTime()
      val cfg = new YamlConfigParser().parse(p.template.replace("__RUN__", id))
      val parseMs = (System.nanoTime() - tp) / 1e6
      tracer.foreach(_.currentRun = id)
      spark.sparkContext.setLocalProperty(Tracer.RunKey, id)
      val sinkPath = cfg.sink.options.getOrElse("path", "")
      val quarantinePath = cfg.quality.flatMap(_.quarantinePath).getOrElse("")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      def done(status: String, loaded: Long, quarantined: Long, qualityMs: Long,
               error: String, streamRunId: String) = {
        val wall = (System.nanoTime() - t0) / 1e9
        RunRecord(id, p.name, wall, startMs, System.currentTimeMillis(), parseMs, status,
          loaded, quarantined, qualityMs, sinkPath, quarantinePath, error, streamRunId)
      }
      val rec = tracer match {
        case Some(t) => t.span("run", p.name)(execute(cfg, regs, done))
        case None => execute(cfg, regs, done)
      }
      spark.sparkContext.setLocalProperty(Tracer.RunKey, null)
      rec
    }

    private def execute(cfg: PipelineConfig, regs: Components,
                        done: (String, Long, Long, Long, String, String) => RunRecord)
        : RunRecord =
      if (cfg.executionMode == ExecutionMode.MicroBatch) {
        try {
          val q = new StreamingExecutor(regs.sources, regs.transforms, regs.sinks).start(cfg)
          q.awaitTermination()
          done("SUCCESS", q.recentProgress.map(_.numInputRows).sum, 0L, 0L, "", q.runId.toString)
        } catch {
          case e: Exception => done("FAILED", -1L, -1L, 0L, String.valueOf(e.getMessage), "")
        }
      } else {
        val m: ExecutionMetrics =
          new PipelineExecutor(regs.sources, regs.transforms, regs.sinks).execute(cfg)
        val qualityMs = m.stages.find(_.stage == "quality").map(_.durationMs).getOrElse(0L)
        done(m.status, m.recordsLoaded, m.recordsFailed, qualityMs, m.error.getOrElse(""), "")
      }
  }
}
