package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every entry point runs on, so the
  * mains (Bench, Verify, Smoke, diagnostics) and the specs measure the
  * same engine. */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS`, else the host's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared conf set: `local[cpus]` with one shuffle partition per
    * core, the graft SQL extensions, UTC, no UI. */
  def builder(cpus: Int = Session.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Fall back from whole-stage fusion when the compiled method exceeds
      // HotSpot's 8000-byte JIT ceiling (SPARK-21871): a fused method past
      // that limit silently runs interpreted — measured 6x slower on the
      // wide enrich projection than per-operator codegen that does JIT.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Create (or join) the session from [[builder]] plus the caller's own
    * `conf`, with Spark's logging at ERROR so that no log line follows a
    * main's last stdout line (Bench's compact JSON line). */
  def local(cpus: Int = Session.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = builder(cpus).config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
