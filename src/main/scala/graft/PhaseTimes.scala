package graft

/** Diagnostic: break a query's one-shot cost into Catalyst phase times
  * (parsing/analysis/optimization/planning from QueryPlanningTracker)
  * vs total wall time of the first noop execution — the measurement
  * behind the r21 "where does a 2-second small-data query actually
  * spend its time" question. Usage:
  *   runMain graft.PhaseTimes <sfDir> <q1,q2,...>
  */
object PhaseTimes {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = Session.local()
    Bench.warmUp(spark, sfDir)
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = (System.nanoTime() - t1) / 1e9
      val phases = df.queryExecution.tracker.phases
        .map { case (k, v) => f"$k=${(v.endTimeMs - v.startTimeMs) / 1e3}%.2fs" }
        .mkString(" ")
      println(f"[phase] $name build=$tBuild%.2fs exec=$tExec%.2fs $phases")
    }
    spark.stop()
  }
}
