package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: set up, warm up, then timed ops. */
trait Workload {
  /** Input sizes, for the result file. */
  def sizes: String
  /** One set-up repetition: make the inputs and any store from scratch. */
  def prepare(): Unit
  /** Untimed ops after set-up, so JIT and codegen finish before timing. */
  def warmup(): Unit
  /** Timed ops for about `seconds`. */
  def measure(seconds: Double): Unit
  /** Op kinds whose latency makes `op_p50_ms` / `op_p90_ms`. */
  def latencyKinds: Set[String] = Set("batch")
  /** The workload's own end-to-end figures: (name, value, unit). */
  def named: Seq[(String, Double, String)]
  /** The workload's own per-layer metrics over traced ops. */
  def layers(ops: Seq[OpRec]): Map[String, Double]
  /** Extra work a traced run does, still traced, for its layer counts. */
  def layout(): Unit = ()
}

object Stats {
  /** Whole units of work (rounds, passes) that make up `seconds` of
    * timing: one per `unitS`, at least one. A fixed count, not a
    * deadline, so every run of a workload times the same work. */
  def units(seconds: Double, unitS: Double): Int = math.max(1, math.round(seconds / unitS).toInt)

  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Runs one workload in one JVM and prints its result as the last line
  * of standard output. Arguments: `--workload ingest|serve|olap --seed n
  * --seconds s --trace 0|1 --work dir --out dir --expected file
  * [--record-expected]`. */
object Main {
  val SetupReps = 2

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = new File(args("work"))
    val out = new File(args("out"))
    val record = argv.contains("--record-expected")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.catalog.graftcat", classOf[graft.sources.cell.GraftCellCatalog].getName)
      .config("spark.sql.catalog.graftcat.root", new File(work, "catalog").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bootS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val rec = new Recorder(spark, tracer)
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, rec, seed, work)
      case "serve"  => new Serve(spark, rec, seed, work)
      case "olap"   => new Olap(spark, rec, seed, work, new File(args("expected")), record)
      case other    => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val prepS = (1 to SetupReps).map(_ => timed(w.prepare()))
    val warmS = timed(w.warmup())
    val setupS = bootS + Stats.median(prepS) + warmS

    val gc0 = gcMs(); val jit0 = jitMs()
    var gc1 = gc0; var jit1 = jit0
    if (trace) {
      // untraced half, then traced half: the difference is the overhead
      w.measure(seconds / 2)
      gc1 = gcMs(); jit1 = jitMs()
      rec.startTracing()
      w.measure(seconds / 2)
      w.layout()
      rec.tracing = false
    } else w.measure(seconds)
    val gc2 = gcMs(); val jit2 = jitMs()

    val lat = rec.samples.filter(s => w.latencyKinds(s._1)).map(_._2).toSeq
    val named = w.named
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Stats.quantile(lat, 0.5), "ms"),
        ("ops_per_s", lat.size / (lat.sum / 1e3), "1/s"))
      else layerMetrics(rec, w, gc2 - gc1, jit2 - jit1)

    named.foreach { case (n, v, u) => System.out.println(s"[perfbench] $workload $n = ${Json.num(v)} $u") }
    val correct = rec.failed == 0 && lat.nonEmpty
    val resultMap = Map(
      "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    val result = Json.render(resultMap)
    out.mkdirs()
    Files.write(new File(out, "result.json").toPath, Json.render(Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cpus, "sizes" -> w.sizes, "setup" -> Map("boot_s" -> bootS,
        "prepare_s" -> prepS, "warmup_s" -> warmS),
      "samples" -> rec.samples.size, "rss_peak_mb" -> rssPeakMb(),
      "by_kind" -> rec.samples.groupBy(_._1).map { case (k, xs) =>
        k -> Map("n" -> xs.size, "p50_ms" -> Stats.median(xs.map(_._2).toSeq)) },
      "op_ms" -> rec.samples.map(s => math.rint(s._2 * 10) / 10), "gc_ms" -> (gc2 - gc0), "jit_ms" -> (jit2 - jit0),
      "failures" -> rec.failures,
      "named" -> named.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "result" -> resultMap)).getBytes(UTF_8))
    if (trace) writeTrace(new File(out, "trace.json"), rec)
    spark.stop()
    System.out.println(result)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Peak resident set (VmHWM) of this JVM. */
  private def rssPeakMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def layerMetrics(rec: Recorder, w: Workload, gcMs: Long, jitMs: Long): Seq[(String, Double, String)] = {
    // per-op figures over the workload's own op kinds; the checks over
    // every traced op, `layout()`'s included
    val all = rec.ops.toSeq
    val ops = all.filter(r => w.latencyKinds(r.kind))
    val stages = all.map(r => r -> rec.stagesOf(r)).toMap
    val self = ops.map(r => Layers.self(r, stages(r)))
    val checks = all.map(r => Layers.check(r, stages(r)))
    def mean(f: OpRec => Double) = Stats.mean(ops.map(f))
    def phase(r: OpRec, name: String) = r.phases.filter(_._1 == name).map(_._2.ms).sum.toDouble
    val untraced = Stats.median(rec.samples.filter(s => w.latencyKinds(s._1)).map(_._2).toSeq)
    val traced = Stats.median(rec.tracedSamples.filter(s => w.latencyKinds(s._1)).map(_._2).toSeq)
    val generic = Map(
      "driver.analysis_ms" -> mean(phase(_, "analysis")),
      "driver.optimizer_ms" -> mean(phase(_, "optimization")),
      "driver.physical_ms" -> mean(phase(_, "planning")),
      "scheduler.jobs_per_op" -> mean(_.jobs.size.toDouble),
      "scheduler.stages_per_op" -> mean(stages(_).size.toDouble),
      "scheduler.tasks_per_op" -> mean(stages(_).map(_.tasks).sum.toDouble),
      "scheduler.gap_ms" -> Stats.mean(ops.zip(self).map { case (r, s) => r.wallMs - s.exec }),
      "exec.shuffle_bytes" -> mean(stages(_).map(_.shuffleWrite).sum.toDouble),
      "exec.spill_bytes" -> mean(stages(_).map(_.spill).sum.toDouble),
      "exec.executor_cpu_s" -> mean(stages(_).map(_.cpuNs).sum / 1e9),
      "self.op_ms" -> Stats.mean(self.map(_.op.toDouble)),
      "self.driver_ms" -> Stats.mean(self.map(_.driver.toDouble)),
      "self.scheduler_ms" -> Stats.mean(self.map(_.scheduler.toDouble)),
      "self.exec_ms" -> Stats.mean(self.map(_.exec.toDouble)),
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.jit_ms" -> jitMs.toDouble,
      "jvm.code_cache_mb" -> codeCacheMb(),
      "jvm.rss_peak_mb" -> rssPeakMb(),
      "op.p90_ms" -> Stats.quantile(rec.tracedSamples.filter(s => w.latencyKinds(s._1)).map(_._2).toSeq, 0.9),
      "trace.overhead_pct" -> (traced - untraced) / untraced * 100,
      "trace.nest_violations" -> checks.map(_._1).sum.toDouble,
      "trace.sum_err_ms" -> (if (checks.isEmpty) 0.0 else checks.map(_._2).max),
      "trace.ops" -> all.size.toDouble)
    (generic ++ w.layers(ops)).toSeq.sortBy(_._1).map { case (n, v) => (n, v, "") }
  }

  /** All traced spans, one object per op with its layer self times. */
  private def writeTrace(f: File, rec: Recorder): Unit = {
    val ops = rec.ops.map { r =>
      val st = rec.stagesOf(r)
      val s = Layers.self(r, st)
      Map("id" -> r.id, "kind" -> r.kind, "start_ms" -> r.start, "end_ms" -> r.end,
        "wall_ms" -> r.wallMs, "ok" -> r.ok, "rows" -> r.rows,
        "self_ms" -> Map("op" -> s.op, "driver" -> s.driver,
                         "scheduler" -> s.scheduler, "exec" -> s.exec),
        "spans" -> r.spans.map { case (n, iv) => Map("name" -> n, "start_ms" -> iv.start, "end_ms" -> iv.end) },
        "queries" -> r.phases.map { case (n, iv) => Map("phase" -> n, "start_ms" -> iv.start, "end_ms" -> iv.end) },
        "jobs" -> r.jobs.map { j =>
          Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.start, "end_ms" -> j.end,
            "stages" -> j.stages.flatMap(id => st.find(_.id == id)).map { x =>
              Map("id" -> x.id, "start_ms" -> x.submit, "end_ms" -> x.complete, "tasks" -> x.tasks,
                "run_ms" -> x.runMs, "cpu_ms" -> x.cpuNs / 1e6, "shuffle_write_bytes" -> x.shuffleWrite,
                "shuffle_read_bytes" -> x.shuffleRead, "spill_bytes" -> x.spill,
                "input_bytes" -> x.bytesRead, "input_records" -> x.recordsRead)
            })
        },
        "scans" -> r.scans.map(sc => Map("files" -> sc.files.size, "rows_out" -> sc.rowsOut)))
    }
    Files.write(f.toPath, Json.render(Map(
      "layer_tolerance" -> Map("ms" -> Layers.TolMs, "frac_of_wall" -> Layers.TolFrac),
      "ops" -> ops)).getBytes(UTF_8))
  }
}
