package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark client: one closed-loop client that sends the next request
  * only after the previous one returned, against inputs `perfbench/run.py`
  * generated from the seed. Prints every metric by name with its unit and,
  * last, one JSON result line.
  *
  *   perfbench.Main --workload W --data DIR --results FILE --seconds N
  *                  --trace 0|1 --seed N --gen-seconds S [--keys FILE]
  *                  [--expected DIR [--record]]
  */
object Main {
  final case class Conf(
      workload: String, data: String, results: String, seconds: Int, trace: Boolean,
      seed: Long, genSeconds: Double, expected: Option[String], keys: Option[String],
      record: Boolean, sourceSha: String)

  /** One request stream. `request` returns normally only when the output
    * it produced is correct; anything else counts as a failed request. */
  trait Workload {
    /** Untimed warm-up and output checks; returns failures by name. */
    def setup(): Seq[String]
    def request(i: Int, tracer: Option[Tracer]): Unit
    /** Per-layer metrics of the traced requests, as per-request medians;
      * layers the workload does not run are reported as 0. */
    def layers(tracer: Tracer, counters: Counters, reqs: Seq[Int]): Map[String, Double]
    /** Records for the trace artifact beyond spans and counters. */
    def artifact: String = "null"
    /** Untimed work after a request: clean-up, and output checks that are
      * too costly to time; throws when the request's output was wrong. */
    def afterRequest(i: Int, traced: Boolean): Unit = ()
    /** Requests in a run of `seconds`: a fixed count sized to take about
      * that long on 4 cores, so every run measures the same work whatever
      * the speed of the individual requests. */
    def requestsPerRun(seconds: Int): Int
  }

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    val hostBefore = Stamp.host()
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.start(cores, new File(conf.results).getParent)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try { run(spark, conf, cores, sessionS, hostBefore); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, conf: Conf, cores: Int, sessionS: Double,
      hostBefore: String): Unit = {
    val counters = new Counters
    val w: Workload = conf.workload match {
      case "advise" => new Advisor(spark, conf)
      case "operator_surface" => new Surface(spark, conf, cores, counters)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (conf.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val s0 = System.nanoTime()
    val setupFailures = w.setup()
    val setupS = conf.genSeconds + sessionS + (System.nanoTime() - s0) / 1e9
    setupFailures.foreach(f => println(s"FAILED setup: $f"))

    val tracer = new Tracer
    val latencies = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val tracedReqs = mutable.ArrayBuffer.empty[Int]
    val failures = mutable.ArrayBuffer.empty[String]
    val hostStart = Stamp.host()
    // the traced run interleaves untraced requests so the tracing overhead
    // is measured in the same process and epoch; it makes one of each at least
    val requests = math.max(w.requestsPerRun(conf.seconds), if (conf.trace) 2 else 1)
    val runStart = System.nanoTime()
    val cpuStart = processCpuSeconds()
    var i = 0
    while (i < requests) {
      val traced = conf.trace && i % 2 == 1
      val tr = if (traced) Some(tracer) else None
      spark.sparkContext.setJobGroup(s"req-$i", conf.workload, interruptOnCancel = false)
      if (conf.trace) counters.open(i)
      tr.foreach(_.begin(i))
      def attempt(body: => Unit): Option[String] =
        try { body; None }
        catch { case e: Throwable => Some(s"request $i: ${e.toString.take(300)}") }
      val r0 = System.nanoTime()
      val timedFailure = attempt(w.request(i, tr))
      val secs = (System.nanoTime() - r0) / 1e9
      spark.sparkContext.clearJobGroup()
      if (conf.trace) {
        org.apache.spark.BusDrain(spark.sparkContext)
        counters.close(i)
      }
      val failed = timedFailure.orElse(attempt(w.afterRequest(i, traced)))
      failed.foreach { f => failures += f; println(s"FAILED $f") }
      val latency = if (failed.isDefined) Double.PositiveInfinity else secs
      if (traced) tracedReqs += i else untraced += latency
      latencies += latency
      i += 1
    }
    val elapsed = (System.nanoTime() - runStart) / 1e9
    val cpuPerRequest = (processCpuSeconds() - cpuStart) / latencies.size
    val hostEnd = Stamp.host()
    val heapMb = retainedHeapMb()
    val attempted = latencies.size + setupFailures.size
    val failed = failures.size + setupFailures.size

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) Seq(
        ("latency_p50_s", Stats.quantile(latencies.toSeq, 0.5), "s"),
        ("requests_per_min", latencies.size / elapsed * 60.0, "1/min"),
        ("cpu_s_per_request", cpuPerRequest, "s"),
        ("setup_s", setupS, "s"))
      else {
        val tracedLat = tracedReqs.map(r => tracer.spans.find(s => s.request == r && s.parent == -1)
          .map(_.seconds).getOrElse(Double.PositiveInfinity)).toSeq
        val reqs = tracedReqs.toSeq
        val m = w.layers(tracer, counters, reqs) ++ sparkLayer(counters, reqs,
          r => tracer.total(r, "request"), cores) ++ Map(
          "trace.coverage" -> tracedReqs.map(tracer.coverage).minOption.getOrElse(0.0),
          "trace.overhead_s" ->
            (Stats.quantile(tracedLat, 0.5) - Stats.quantile(untraced.toSeq, 0.5)))
        Layers.all.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
      }
    metrics.foreach { case (n, v, u) => println(f"$n%-28s $v%14.6f $u") }

    val stamp = Stamp.json(spark, conf, hostBefore, hostStart, hostEnd)
    val record =
      s"""{"stamp":$stamp,"workload":"${conf.workload}","seed":${conf.seed},""" +
        s""""trace":${conf.trace},"attempted":$attempted,"failed":$failed,""" +
        s""""retained_heap_mb":$heapMb,""" +
        s""""failures":${Json.strs(setupFailures ++ failures)},""" +
        s""""latencies_s":${Json.nums(latencies.toSeq)},""" +
        s""""metrics":${Json.metrics(metrics)},"workload_records":${w.artifact},""" +
        s""""counters":${counterJson(counters)},"spans":${tracer.toJson}}"""
    Files.write(Paths.get(conf.results), record.getBytes(UTF_8))

    val correct = failed == 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${Json.metrics(metrics)}}""")
  }

  /** Spark task counters of the traced requests, as per-request medians. */
  private def sparkLayer(c: Counters, reqs: Seq[Int], wallS: Int => Double,
      cores: Int): Map[String, Double] = {
    def med(f: c.Agg => Double) =
      Stats.quantile(reqs.map(r => f(c.byRequest.getOrElse(r, new c.Agg))), 0.5)
    Map(
      "spark.jobs" -> med(_.jobs),
      "spark.stages" -> med(_.stages),
      "spark.tasks" -> med(_.tasks),
      "spark.task_run_s" -> med(_.runMs / 1e3),
      "spark.task_cpu_s" -> med(_.cpuNs / 1e9),
      "spark.gc_s" -> med(_.gcMs / 1e3),
      "spark.busy_ratio" -> Stats.quantile(reqs.map { r =>
        val run = c.byRequest.get(r).map(_.runMs / 1e3).getOrElse(0.0)
        if (wallS(r) > 0) run / (wallS(r) * cores) else 0.0
      }, 0.5),
      "spark.scan_bytes" -> med(_.scanBytes),
      "spark.shuffle_read_bytes" -> med(_.shuffleRead),
      "spark.shuffle_write_bytes" -> med(_.shuffleWrite),
      "spark.spill_bytes" -> med(_.spill),
      "spark.peak_exec_mem_bytes" -> med(_.peakExecMem),
      "spark.result_bytes" -> med(_.resultBytes))
  }

  private def counterJson(c: Counters): String = c.byRequest.toSeq.sortBy(_._1).map {
    case (r, a) =>
      s"""{"request":$r,"jobs":${a.jobs},"build_jobs":${a.buildJobs},"stages":${a.stages},""" +
        s""""tasks":${a.tasks},"task_run_ms":${a.runMs},"task_cpu_ns":${a.cpuNs},""" +
        s""""gc_ms":${a.gcMs},"scan_bytes":${a.scanBytes},""" +
        s""""shuffle_read_bytes":${a.shuffleRead},""" +
        s""""shuffle_write_bytes":${a.shuffleWrite},"spill_bytes":${a.spill},""" +
        s""""peak_exec_mem_bytes":${a.peakExecMem},"result_bytes":${a.resultBytes},""" +
        s""""plan_ms":${a.planMs}}"""
  }.mkString("[", ",", "]")

  /** CPU time of every thread of this process: tasks, driver, JIT, GC. */
  private def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Driver heap still in use after full collections. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach(_ => System.gc())
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def parse(argv: Array[String]): Conf = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Conf(need("--workload"), need("--data"), need("--results"), need("--seconds").toInt,
      need("--trace") == "1", need("--seed").toLong, need("--gen-seconds").toDouble,
      m.get("--expected"), m.get("--keys"), argv.contains("--record"),
      m.getOrElse("--source-sha", "unknown"))
  }
}

/** Every per-layer metric with its unit, in report order. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "catalog.discover_s" -> "s",
    "profile.profile_s" -> "s",
    "profile.columns" -> "count",
    "pipeline.text_stats_s" -> "s",
    "introspect.select_s" -> "s",
    "introspect.parse_s" -> "s",
    "introspect.texts" -> "count",
    "introspect.parsed_ratio" -> "ratio",
    "score.refs_s" -> "s",
    "usage.frequency_s" -> "s",
    "score.weights_s" -> "s",
    "score.priorities_s" -> "s",
    "score.rank_s" -> "s",
    "recommend.scripts_s" -> "s",
    "recommend.views_with_spec" -> "count",
    "apply.write_s" -> "s",
    "apply.bytes_written" -> "bytes",
    "apply.files_written" -> "count",
    "surface.build_s" -> "s",
    "surface.build_jobs" -> "count",
    "surface.plan_s" -> "s",
    "surface.exec_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.busy_ratio" -> "ratio",
    "spark.scan_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.result_bytes" -> "bytes",
    "trace.coverage" -> "ratio",
    "trace.overhead_s" -> "s")
}

object Stats {
  /** Linear-interpolated quantile; +Inf samples (failed requests) sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(hi).isInfinite) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  // a failed request's infinite latency has no JSON form; it is reported
  // as null in the artifact and the result line is marked incorrect
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def nums(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def metrics(ms: Seq[(String, Double, String)]): String = ms.map { case (n, v, u) =>
    s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}"""
  }.mkString("{", ",", "}")
}

/** Result stamps: which tree and which host state produced the numbers. */
object Stamp {
  /** Host state at one moment: `/proc/loadavg` and the seconds a fixed
    * single-thread integer loop takes, so a run on a contended or slowed
    * host shows in its own record. */
  def host(): String = {
    val load = try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val loop = (System.nanoTime() - t0) / 1e9
    s"""{"loadavg":${Json.str(load)},"cpu_loop_s":$loop,"loop_value":$x}"""
  }

  def json(spark: SparkSession, conf: Main.Conf, before: String, start: String,
      end: String): String = {
    val gitSha = try {
      import scala.sys.process._
      val devNull = ProcessLogger(_ => ())
      val sha = Seq("git", "rev-parse", "--short=12", "HEAD").!!(devNull).trim
      val dirty = Seq("git", "status", "--porcelain").!!(devNull).trim.nonEmpty
      if (dirty) s"$sha-dirty" else sha
    } catch { case _: Throwable => "unknown" }
    val sparkConf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    s"""{"git_sha":${Json.str(gitSha)},"source_sha":${Json.str(conf.sourceSha)},""" +
      s""""cores":${Runtime.getRuntime.availableProcessors()},""" +
      s""""host":{"before_session":$before,"run_start":$start,"run_end":$end},""" +
      s""""spark_conf":$sparkConf}"""
  }
}

/** The Bench/Verify session configuration. */
object Session {
  def start(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
