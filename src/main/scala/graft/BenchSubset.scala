package graft

/** Dev harness: time a comma-separated subset of SparkEntry.queries in
  * one warm session (same config as [[Bench]]), printing per-query
  * seconds plus start/end parallel canaries — the local feedback loop
  * for plan work on one family without paying the full 177-query run.
  * Args: <sfDir> <q1,q2,...> [reps]. Queries run in the given ORDER
  * (staging-sensitive families care), each `reps` times. */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Session.local()
    def run(name: String): Unit = Bench.run(spark, sfDir, name)
    Bench.warmUp(spark, sfDir)
    println(f"par_canary_start_ms=${Bench.parallelCanaryMs(spark)}%.0f")
    (1 to reps).foreach { r =>
      names.foreach { name =>
        val t0 = System.nanoTime()
        run(name)
        println(f"[$r] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    println(f"par_canary_end_ms=${Bench.parallelCanaryMs(spark)}%.0f")
    spark.stop()
  }
}
