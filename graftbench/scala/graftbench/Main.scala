package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** One measured window of a workload: per-operation latencies (one search
  * query, one curation pass, one maintenance cycle) and its checks. */
final case class Window(opsMs: Seq[Double], docsPerS: Double,
    attempted: Long, failed: Long, named: Seq[Metric])

/** A workload: built once per set-up, then driven in measured windows. */
trait Workload {
  def name: String
  /** One set-up of the program's own state; returns its seconds. */
  def build(): Double
  def warmup(): Unit
  def window(seconds: Double): Window
  /** Per-layer metrics of the last window, run with tracing on. */
  def layers(): Seq[Metric]
  def close(): Unit
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    out: Path, work: Path, nproc: Int, gitRev: String, sourceSha: String, buildS: Double)

/** Short standalone JSON lines, echoed to stdout and the run's record file. */
final class Out(path: Path) {
  def line(fields: ListMap[String, Any]): Unit = {
    val s = Json(fields)
    println(s)
    Files.write(path, (s + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
  def metric(workload: String, m: Metric): Unit =
    line(ListMap("kind" -> "metric", "workload" -> workload, "name" -> m.name,
      "value" -> m.value, "unit" -> m.unit))
}

/** The engine session and the run's paths, shared by the workloads. */
final class Ctx(val o: Opts, val out: Out) {
  var spark: SparkSession = newSession()

  private def newSession(): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${o.nproc}]", o.nproc)
      .appName("graftbench")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", o.work.resolve("checkpoints").toString)
      .getOrCreate()
    s.range(1).count() // the session is ready once it has run a job
    s
  }

  /** Stop the session and start a fresh one; returns the start's seconds. */
  def restartSession(): Double = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val t = System.nanoTime()
    spark = newSession()
    (System.nanoTime() - t) / 1e9
  }

  def inputDir(workload: String): Path = o.work.resolve("inputs").resolve(workload)
  def outputDir(workload: String): Path = o.work.resolve("outputs").resolve(workload)

  /** Storage memory and disk held by cached and checkpointed blocks, after
    * a GC so blocks of unreachable datasets have been released. */
  def cacheMb(): Double = {
    for (_ <- 0 until 2) { System.gc(); Thread.sleep(250) }
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }
}

object Main {
  val Workloads = Seq("search_interactive", "curate_batch", "ingest_maintain")
  val SetupReps = 3

  val curateSpans = Seq("sources.read", "ops.quality", "ops.exact_dedup",
    "ops.jaccard_join", "ops.components", "ops.survivors", "search.embed_corpus",
    "ops.hard_negatives", "sources.write")

  /** Every per-layer metric; a workload that does not run a layer reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "search.embed_query_ms" -> "ms", "search.plan_ms" -> "ms", "search.exec_ms" -> "ms",
    "engine.jobs_per_query" -> "count", "engine.tasks_per_query" -> "count",
    "engine.driver_gap_ms_per_query" -> "ms", "engine.task_busy_ms_per_query" -> "ms",
    "search.index_build_s" -> "s", "functions.distance_evals_per_s" -> "1/s") ++
    curateSpans.map(s => s"${s}_s" -> "s") ++
    Seq("ops.quality_kept_ratio" -> "ratio", "ops.jaccard_pairs_per_candidate" -> "ratio") ++
    curateSpans.flatMap(s => Seq(s"engine.$s.jobs" -> "count", s"engine.$s.stages" -> "count",
      s"engine.$s.shuffle_write_mb" -> "MB", s"engine.$s.spill_mb" -> "MB")) ++
    Seq("ingest", "delete").flatMap(k => Seq("add_batch", "query_planning", "wal_commit",
      "commit_offsets").map(p => s"streaming.$k.${p}_ms" -> "ms")) ++
    Seq("engine.jobs_per_ingest_epoch" -> "count", "engine.jobs_per_delete_epoch" -> "count",
      "engine.driver_gap_ms_per_epoch" -> "ms", "engine.shuffle_write_mb_per_epoch" -> "MB",
      "streaming.epoch_growth_ms" -> "ms", "ops.state_label_rows" -> "count",
      "ops.cluster_state_build_s" -> "s") ++
    Seq("bench", "search", "ops", "sources", "streaming").map(l => s"self.${l}_ms" -> "ms") :+
    ("trace.overhead_pct" -> "%")

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toArray
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) CPU ticks from /proc/stat, where the host exposes it:
    * steal is time the hypervisor ran something else on our CPUs. */
  private def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f(7), f.take(8).sum)
  }.toOption

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("out")), Paths.get(m("work")), m("nproc").toInt,
      m.getOrElse("git-rev", ""), m.getOrElse("source-sha256", ""),
      m.getOrElse("build-s", "0").toDouble)
    require(o.workload == "all" || Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  private def make(name: String, ctx: Ctx): Workload = name match {
    case "search_interactive" => new SearchWorkload(ctx)
    case "curate_batch" => new CurateWorkload(ctx)
    case "ingest_maintain" => new IngestWorkload(ctx)
  }

  /** Runs one workload; returns (attempted, failed, contract metrics). */
  private def run(name: String, ctx: Ctx): (Long, Long, Seq[Metric]) = {
    val out = ctx.out
    val w = make(name, ctx)
    val setups = (1 to SetupReps).map(_ => w.build())
    val setupS = median(setups)
    w.warmup()
    val plain = w.window(ctx.o.seconds)
    val result = if (!ctx.o.trace) {
      val metrics = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("p50_ms", median(plain.opsMs), "ms"),
        Metric("docs_per_s", plain.docsPerS, "docs/s"),
        Metric("cache_mb", ctx.cacheMb(), "MB"))
      out.line(ListMap("kind" -> "window", "workload" -> name, "traced" -> false,
        "ops" -> plain.opsMs.size, "setup_s_each" -> setups))
      (plain.named ++ metrics :+ Metric("failed_frac",
        plain.failed.toDouble / math.max(plain.attempted, 1L), "ratio")).foreach(out.metric(name, _))
      (plain.attempted, plain.failed, metrics)
    } else {
      Trace.reset()
      Trace.start(ctx.spark)
      val traced = try w.window(ctx.o.seconds) finally Trace.stop()
      val layers = w.layers()
      // untraced windows on both sides of the traced one, so warm-up drift
      // does not read as tracing overhead
      val after = w.window(ctx.o.seconds)
      val p50Plain = median(plain.opsMs ++ after.opsMs)
      val p50Traced = median(traced.opsMs)
      val overhead = Metric("trace.overhead_pct", 100.0 * (p50Traced - p50Plain) / p50Plain, "%")
      out.line(ListMap("kind" -> "tracing_overhead", "workload" -> name,
        "p50_ms_untraced" -> p50Plain, "p50_ms_traced" -> p50Traced,
        "ops_untraced" -> (plain.opsMs.size + after.opsMs.size),
        "ops_traced" -> traced.opsMs.size, "overhead_pct" -> overhead.value))
      val roots = Trace.spans.filter(_.parent == 0)
      val self = Seq("bench", "search", "ops", "sources", "streaming").map { l =>
        Metric(s"self.${l}_ms",
          Trace.spans.filter(_.layer == l).map(Trace.selfMs).sum / math.max(roots.size, 1), "ms")
      }
      val got = (layers ++ self :+ overhead).map(m => m.name -> m).toMap
      val unknown = got.keySet -- PerLayer.map(_._1)
      require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
      val metrics = PerLayer.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
      metrics.filter(m => got.contains(m.name)).foreach(out.metric(name, _))
      Trace.writeSpans(ctx.o.out.resolve(s"spans-$name.jsonl"))
      val all = Seq(plain, traced, after)
      (all.map(_.attempted).sum, all.map(_.failed).sum, metrics)
    }
    w.close()
    result
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.out)
    val out = new Out(o.out.resolve("record.jsonl"))
    val t0 = System.nanoTime()
    val ticks0 = cpuTicks()
    out.line(ListMap("kind" -> "run", "workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace, "master" -> s"local[${o.nproc}]",
      "nproc" -> o.nproc, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "loadavg_before" -> loadavg(), "git_rev" -> o.gitRev,
      "source_sha256" -> o.sourceSha, "build_s" -> o.buildS,
      "java" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
      "run_dir" -> o.out.toString))
    EmbedClock.client = Thread.currentThread()
    val ctx = new Ctx(o, out)
    val names = if (o.workload == "all") Workloads else Seq(o.workload)
    val results = names.map(n => n -> run(n, ctx))
    ctx.spark.stop()
    val steal = for ((steal0, total0) <- ticks0; (steal1, total1) <- cpuTicks()
        if total1 > total0) yield 100.0 * (steal1 - steal0) / (total1 - total0)
    out.line(ListMap("kind" -> "run_end", "loadavg_after" -> loadavg(),
      "cpu_steal_pct" -> steal, "wall_s" -> (System.nanoTime() - t0) / 1e9))
    val attempted = results.map(_._2._1).sum
    val failed = results.map(_._2._2).sum
    val metrics = results.flatMap { case (n, (_, _, ms)) =>
      ms.map(m => (if (names.size > 1) s"$n.${m.name}" else m.name) ->
        ListMap("value" -> m.value, "unit" -> m.unit))
    }
    out.line(ListMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> ListMap(metrics: _*)))
    System.exit(0)
  }
}
