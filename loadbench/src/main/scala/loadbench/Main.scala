package loadbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.BenchBridge
import org.apache.spark.sql.SparkSession

/** Host context, reported with every run and never gating. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Milliseconds to hash a fixed 16 MiB through SHA-256: a fixed-work
    * CPU canary, run at start and end. */
  def canaryMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = Array.tabulate[Byte](1 << 20)(_.toByte)
    val t0 = System.nanoTime()
    (0 until 16).foreach(_ => md.update(buf))
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }
}

/** Minimal JSON rendering for the result lines and the span dump. */
object Json {
  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                => n.toString
    case n: Long               => n.toString
    case xs: Iterable[_]       => xs.map(apply).mkString("[", ",", "]")
    case other                 => apply(other.toString)
  }

  /** An object with keys in the given order. */
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, x) => apply(k) + ":" + (x match {
      case r: Raw => r.json; case o => apply(o) }) }.mkString("{", ",", "}")

  final case class Raw(json: String)
}

object Main {
  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, work: Path = Paths.get(".bench_build/work"))

  /** Spark `local[k]` threads. */
  val Cpus: Int = math.min(4, Host.nproc)
  /** Set-up builds per run; `setup_s` counts their median, not the cold
    * first build alone. */
  val Setups = 3

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest     => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest  => parse(rest, o.copy(seconds = v.toInt))
    case "--trace" :: v :: rest    => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest     => parse(rest, o.copy(work = Paths.get(v)))
    case Nil                       => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  /** What one timed window measured. `cachedMb` is the storage held
    * after the window's first op: after a fixed number of ops in the
    * session, so that a faster program, which runs more ops in the
    * window, does not read as holding more. */
  final case class Window(startNs: Long, ops: Int, units: Long, latMs: Seq[Double],
      cpuPerUnitMs: Seq[Double], wallS: Double, totals: Totals, cachedMb: Double,
      jitMs: Long, gcMs: Long) {
    def workPerS: Double = units / wallS
    /** Executor CPU per unit of work. When every op does the same work,
      * the median over the ops, so that one op slowed by the host or by a
      * burst of code generation does not move it; otherwise the window's
      * total ÷ its units. */
    def cpuMsPerUnit(sameWorkPerOp: Boolean): Double =
      if (sameWorkPerOp && cpuPerUnitMs.nonEmpty) Stats.median(cpuPerUnitMs)
      else totals.cpuMs / units
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = o.work.resolve(o.workload).toAbsolutePath
    val canary0 = Host.canaryMs()
    val load0 = Host.loadAvg
    val spark = SparkSession.builder().master(s"local[$Cpus]").appName("loadbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * Cpus).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // the default 100 generated classes thrash on these plans: every op
      // would recompile most of its stages
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // a stage's class name carries its stage id, which AQE assigns in a
      // different order from one run of a plan to the next, so the same
      // code would compile again, a varying number of times per op
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    val code = try run(o, spark, work, jvmStartMs, canary0, load0) finally spark.stop()
    sys.exit(code)
  }

  private def workload(name: String, spark: SparkSession, tr: Tracer, work: Path,
      seed: Long): Workload = name match {
    case "ingest" => new IngestWorkload(spark, tr, work, seed)
    case "search" => new SearchWorkload(spark, tr, work, seed)
    case "curate" => new CurateWorkload(spark, tr, work, seed)
    case other    => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Block-manager storage held by every cached or checkpointed RDD. */
  private def storedMb(spark: SparkSession) =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize) / 1048576.0).sum

  private def run(o: Opts, spark: SparkSession, work: Path, jvmStartMs: Long,
      canary0: Double, load0: Double): Int = {
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    val tr = new Tracer(spark, meter)
    val wl = workload(o.workload, spark, tr, work, o.seed)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    var attempted = 0
    var failed = 0
    var next = 0

    // one op whose input is prepared: run and check it; returns
    // (latency ms, units, ok)
    def runOp(): (Double, Long, Boolean) = {
      tr.req = next
      val t0 = System.nanoTime()
      val done = try Some(tr.span("op", o.workload)(wl.op(next))) catch {
        case NonFatal(e) =>
          System.err.println(s"op $next failed: $e")
          None
      } finally tr.endOp()
      val ms = (System.nanoTime() - t0) / 1e6
      next += 1
      attempted += 1
      val ok = done.exists(_.ok)
      if (!ok) failed += 1
      (ms, done.map(_.units).getOrElse(0L), ok)
    }

    // set-up: the inputs are generated and the state built `Setups`
    // times (the median counts), then the ops warm up once
    // (a traced run also traces the last build: on `search` it is a
    // bulk load through every ingest-path layer)
    val buildS = (1 to Setups).map { rep =>
      val t0 = System.nanoTime()
      wl.reset()
      tr.enabled = o.trace && rep == Setups
      try wl.build() finally { tr.enabled = false; tr.endOp() }
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = {
      val t0 = System.nanoTime()
      (0 until wl.warmOps).foreach { _ => wl.prepare(next); runOp() }
      (System.nanoTime() - t0) / 1e9
    }
    // JVM start to the first timed op, all set-up builds included
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    def window(): Window = {
      BenchBridge.drain(sc)
      val before = meter.totals
      val (jit0, gc0) = (Host.jitMs, Host.gcMs)
      val lat = mutable.ArrayBuffer.empty[Double]
      var units = 0L
      val cpuPerUnit = mutable.ArrayBuffer.empty[Double]
      var cachedMb = 0.0
      var paused = 0L // input generation and the storage reading, excluded
      val start = System.nanoTime()
      while (System.nanoTime() - start - paused < o.seconds * 1e9) {
        val p0 = System.nanoTime()
        wl.prepare(next)
        paused += System.nanoTime() - p0
        val cpu0 = meter.totals.cpuMs
        val (ms, u, _) = runOp()
        // the op's task-end events must be in before its CPU is read
        val d0 = System.nanoTime()
        BenchBridge.drain(sc)
        paused += System.nanoTime() - d0
        if (u > 0) cpuPerUnit += (meter.totals.cpuMs - cpu0) / u
        lat += ms
        units += u
        if (lat.size == 1) {
          val p1 = System.nanoTime()
          cachedMb = storedMb(spark)
          paused += System.nanoTime() - p1
        }
      }
      val wallS = (System.nanoTime() - start - paused) / 1e9
      BenchBridge.drain(sc)
      Window(start, lat.size, units, lat.toSeq, cpuPerUnit.toSeq, wallS,
        meter.totals - before, cachedMb, Host.jitMs - jit0, Host.gcMs - gc0)
    }

    val plain = window()
    val traced = if (!o.trace) None else {
      tr.enabled = true
      try Some(window()) finally tr.enabled = false
    }
    val wrong = try wl.finalCheck() catch {
      case NonFatal(e) =>
        System.err.println(s"final check failed: $e")
        1
    }
    failed = math.min(attempted, failed + wrong)
    val tail = Stats.tail(plain.latMs)
    val setupMedian = sessionS + Stats.median(buildS) + warmS
    val host = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> Cpus,
      "nproc" -> Host.nproc, "load_avg_start" -> load0, "load_avg_end" -> Host.loadAvg,
      "canary_ms_start" -> canary0, "canary_ms_end" -> Host.canaryMs(),
      "jvm.jit_ms" -> plain.jitMs, "jvm.gc_ms" -> plain.gcMs,
      "session_s" -> sessionS, "build_s" -> buildS, "warm_s" -> warmS,
      "setup_wall_s" -> setupWallS,
      "window_ops" -> plain.ops, "window_s" -> plain.wallS,
      "window_cpu_ms_per_unit" -> (if (wl.sameWorkPerOp) plain.cpuPerUnitMs else Nil),
      "latency_tail" -> Json.Raw(Json.obj("percentile" -> tail.pct, "samples" -> tail.n,
        "beyond" -> tail.beyond)),
      "error_rate" -> failed.toDouble / attempted)
    println(host)
    def m(v: Double, unit: String) = Json.Raw(Json.obj("value" -> v, "unit" -> unit))
    val metrics: Seq[(String, Any)] = traced match {
      case None => Seq(
        "setup_s" -> m(setupMedian, "s"),
        "work_per_s" -> m(plain.workPerS, "1/s"),
        "latency_p50_ms" -> m(Stats.median(plain.latMs), "ms"),
        "latency_tail_ms" -> m(tail.value, "ms"),
        "cpu_ms_per_op" -> m(plain.cpuMsPerUnit(wl.sameWorkPerOp), "ms"),
        "cached_mb_end" -> m(plain.cachedMb, "MB"))
      case Some(w) =>
        val layers = Layers.metrics(spark, tr, w) :+
          (("trace_overhead", plain.workPerS / w.workPerS, "ratio"))
        Layers.dump(tr, work.resolve(s"trace-${o.seed}.json"))
        layers.map { case (k, v, u) => k -> m(v, u) }
    }
    println(Json.obj("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(metrics: _*))))
    0
  }
}
