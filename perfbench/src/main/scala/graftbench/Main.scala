package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. `repoRoot` holds the engine's
  * templates and quality suites; `workDir` is scratch space that the
  * run owns and removes.
  */
final case class Config(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    repoRoot: File, workDir: File, outDir: File)

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      repoRoot = new File(need("repo-root")),
      workDir = new File(need("work-dir")),
      outDir = new File(need("out-dir")))
  }
}

/** One metric as printed: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int = 1)

/** A benchmark workload: a seeded fixture and a fixed operation
  * schedule. Cycles are identical passes of that schedule, so the run
  * repeats whole cycles until its time is used.
  */
trait Workload {
  /** Generates the inputs. The harness runs it `SetupReps` times and
    * counts the median in set-up.
    */
  def setup(rep: Int): Unit

  /** Builds, once, the part of the fixture too costly to repeat: a table
    * history, table loads, a trained index. Counted in set-up.
    */
  def fixture(): Unit = ()

  /** Light pass over every operation kind, so JIT and caches are warm
    * before timing. Counted in set-up.
    */
  def warmUp(): Unit

  /** What the seed generated, for the report. */
  def inputs: ListMap[String, Any]

  /** One pass of the operation schedule, recorded on `rec`. */
  def cycle(rec: Recorder): Unit

  /** The workload's own figures (named per operation kind) over `rec`. */
  def report(rec: Recorder): ListMap[String, Metric]

  /** Per-layer metrics from the traced operations' spans. */
  def layers(rec: Recorder, idx: SpanIndex): ListMap[String, Double]
}

object Main {
  val SetupReps = 3
  /** Spark's local[N]: the processors this JVM may use (affinity and
    * cgroup limits applied, as `nproc` reports them).
    */
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(cfg.workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(cfg.workDir, "spark-warehouse").getAbsolutePath)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(cfg: Config, spark: SparkSession): Workload = cfg.workload match {
    case "commit_history"  => new CommitHistory(cfg, spark)
    case "lakehouse_reads" => new LakehouseReads(cfg, spark)
    case "corpus_pipeline" => new CorpusPipeline(cfg, spark)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    cfg.workDir.mkdirs()
    cfg.outDir.mkdirs()
    val spark = session(cfg)
    val w = workload(cfg, spark)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupRuns = (0 until SetupReps).map(r => seconds(w.setup(r))._1)
    val (fixtureS, _) = seconds(w.fixture())
    val (warmS, _) = seconds(w.warmUp())
    val setupS = sessionS + Stats.median(setupRuns) + fixtureS + warmS

    // untraced runs: whole cycles until the time is used; traced runs:
    // two cycles, each operation traced in one of them
    val rec = new Recorder(new Tracer(spark), traceRun = cfg.trace)
    val budgetNs = cfg.seconds * 1000000000L
    val t0 = System.nanoTime()
    while (rec.cycles == 0 || (if (cfg.trace) rec.cycles < 2
        else System.nanoTime() - t0 < budgetNs)) {
      rec.startCycle()
      w.cycle(rec)
    }
    val attempted = rec.attempted
    val failed = rec.failed

    val metrics: ListMap[String, Metric] =
      if (!cfg.trace) {
        val lat = rec.latencies()
        ListMap(
          "setup_s" -> Metric(setupS, "s", SetupReps),
          "ops_per_s" -> Metric(lat.size / (lat.sum / 1e3), "1/s", lat.size),
          "op_ms.geomean" -> Metric(Stats.geomean(lat), "ms", lat.size))
      } else {
        val spans = rec.tracer.finish()
        val idx = new SpanIndex(spans)
        writeSpans(cfg, spans)
        val layer = w.layers(rec, idx) ++ common(rec, idx) ++
          ListMap("trace.overhead_frac" -> rec.overheadFrac)
        val own = w.report(rec).map { case (k, m) => k -> m.value }
        val values = layer ++ own ++ ListMap(
          "failed_frac" -> failed.toDouble / math.max(1L, attempted))
        val units = perLayerUnits(cfg)
        values.keys.filterNot(units.contains).foreach(k =>
          throw new IllegalStateException(s"per-layer metric $k is not in BENCHMARK.json"))
        // a layer the workload does not call reads 0
        units.map { case (k, u) => k -> Metric(values.getOrElse(k, 0.0), u) }
      }

    val own = w.report(rec)
    val report = ListMap(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "inputs" -> w.inputs, "cycles" -> rec.cycles, "setup_runs_s" -> setupRuns, "session_s" -> sessionS,
      "fixture_s" -> fixtureS, "warm_up_s" -> warmS, "failed_frac" -> failed.toDouble / math.max(1L, attempted),
      "failures" -> rec.failures.map(f => ListMap("op" -> f.opId, "kind" -> f.kind,
        "cause" -> f.cause)),
      "samples" -> (if (cfg.trace) Map.empty else metrics.map { case (k, m) => k -> m.samples }),
      "latency_ms" -> rec.latenciesByKind.map { case (k, xs) => k -> latencySummary(xs) },
      "workload_metrics" -> own.map { case (k, m) =>
        k -> ListMap("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples) })
    writeJson(new File(cfg.outDir,
      s"report-${cfg.workload}-${cfg.seed}-t${if (cfg.trace) 1 else 0}.json"), report)
    println("report " + json.writeValueAsString(report))
    val result = ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) })
    spark.stop()
    println(json.writeValueAsString(result))
    Console.out.flush()
    if (failed > 0) sys.exit(1)
  }

  /** Sample count, median and the highest tail percentile that has at
    * least ten samples beyond it, when there is one.
    */
  def latencySummary(xs: Seq[Double]): ListMap[String, Any] =
    ListMap("samples" -> xs.size, "p50" -> Stats.median(xs)) ++
      Seq(0.99, 0.9, 0.75).view.flatMap(p => Stats.tailPercentile(xs, p).map(p -> _))
        .headOption.map { case (p, v) => s"p${math.round(p * 100)}" -> v }

  /** Layer metrics every workload shares: Spark, planner and JVM. */
  private def common(rec: Recorder, idx: SpanIndex): ListMap[String, Double] = {
    val c = rec.tracer.listener.counters
    val roots = idx.named("").filter(_.parent == 0)
    val wallMs = roots.map(_.durNs).sum / 1e6
    val jobMs = roots.map(s => Intervals.covered(s.startNs, s.endNs,
      idx.jobs.filter(_.opId == s.opId).map(j => (j.startNs, j.endNs)))).sum / 1e6
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    ListMap(
      "plans.analysis_ms" -> c.analysisMs.toDouble,
      "plans.optimization_ms" -> c.optimizationMs.toDouble,
      "plans.planning_ms" -> c.planningMs.toDouble,
      "spark.jobs" -> idx.jobs.size.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.job_ms" -> jobMs,
      "spark.driver_only_ms" -> (wallMs - jobMs),
      "spark.slot_busy_frac" -> (if (wallMs > 0) c.executorRunMs / (wallMs * Cores) else 0.0),
      "spark.task_wait_ms" -> c.taskWaitMs.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.input_bytes" -> c.inputBytes.toDouble,
      "spark.gc_ms" -> c.gcMs.toDouble,
      "spark.task_failures" -> c.taskFailures.toDouble,
      "jvm.gc_ms" -> gcBeans.map(_.getCollectionTime).sum.toDouble,
      "jvm.heap_peak_mb" -> heapPeak)
  }

  /** The per-layer metrics BENCHMARK.json declares, with their units, in order. */
  def perLayerUnits(cfg: Config): ListMap[String, String] =
    ListMap.from(json.readTree(new File(cfg.repoRoot, "BENCHMARK.json")).get("per_layer")
      .elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText))

  def writeJson(f: File, value: Any): Unit =
    Files.write(f.toPath, json.writeValueAsString(value).getBytes(StandardCharsets.UTF_8))

  private def writeSpans(cfg: Config, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startNs).map(s => json.writeValueAsString(ListMap(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.opId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(new File(cfg.outDir, s"spans-${cfg.workload}-${cfg.seed}.jsonl").toPath,
      lines.asJava, StandardCharsets.UTF_8)
  }
}
