package graft

/** Plan auditor: print the formatted/codegen plan for one SparkEntry
  * query and time it — the `.explain`-driven iteration loop.
  * Usage: runMain graft.Plan <queryName> [sfDir] [codegen]
  */
object Plan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = Session.local()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain(mode)
    val iters = sys.env.getOrElse("PLAN_ITERS", "1").toInt
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[plan] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
