package graft

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

import graft.operators.Graph
import org.apache.spark.sql.functions.col

/** Dev harness (`Test/runMain`): where `Graph.LocalEdgeRows` belongs.
  * Times [[Graph.connectedComponents]], [[Graph.labelPropagation]] and
  * `Graph.kCoreNumbers` (20 sweeps) on their driver path against their
  * distributed rounds (forced with `localEdgeRows = -1`) over
  * synthetic near-dup-shaped graphs: N clusters of 8 ids, each a path
  * plus five chords (12 edges, diameter 3), so a graph has 24
  * bidirected edge rows per cluster. Per size, operator and path it
  * prints the seconds of the call plus a full read of its result, and
  * the rise of the driver's old-generation heap peak over the call (G1
  * puts arrays of a region or more there directly, so the driver
  * path's packed edge arrays show up in it). The edge list is a
  * `range` cross join, cheap next to either path and the same for
  * both. Args: <bidirected rows,...> [reps] [lpa sweeps]. */
object GraphBound {
  def main(args: Array[String]): Unit = {
    val sizes = args(0).split(",").map(_.toLong).toSeq
    val reps = if (args.length > 1) args(1).toInt else 2
    val sweeps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local()
    import spark.implicits._
    val shape = ((0 until 7).map(i => (i, i + 1)) ++
      Seq((0, 4), (2, 6), (1, 5), (3, 7), (0, 7))).toDF("x", "y")
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
    def oldUsed(peak: Boolean): Long = oldGen.map { p =>
      (if (peak) p.getPeakUsage else p.getUsage).getUsed
    }.sum
    for (rows <- sizes) {
      val edges = spark.range(rows / 24).crossJoin(shape)
        .select((col("id") * 8 + col("x")).as("s"),
          (col("id") * 8 + col("y")).as("d"))
      val ops = Seq[(String, Long => org.apache.spark.sql.DataFrame)](
        "cc" -> (b => Graph.connectedComponents(edges, "s", "d", 20, b)),
        "lpa" -> (b => Graph.labelPropagation(edges, "s", "d", sweeps, b)),
        "kcore" -> (b =>
          Graph.kCoreNumbersConverged(edges, "s", "d", 20, b)._1))
      for ((op, run) <- ops; rep <- 1 to reps;
           (path, bound) <- Seq("driver" -> Long.MaxValue,
             "distributed" -> -1L)) {
        System.gc()
        oldGen.foreach(_.resetPeakUsage())
        val before = oldUsed(peak = false)
        val t0 = System.nanoTime()
        run(bound).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val riseMb = (oldUsed(peak = true) - before) / 1e6
        println(f"[graph-bound] $op rows=$rows $path rep=$rep " +
          f"$sec%.3f s old_gen_peak_rise_mb=$riseMb%.0f")
        Staging.evictSession(spark)
      }
    }
    spark.stop()
  }
}
