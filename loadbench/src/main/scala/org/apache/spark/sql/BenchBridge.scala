package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD

/** The two Spark-internal calls the benchmark needs. */
object BenchBridge {

  /** Wait until every listener event posted so far has been delivered,
    * so task-metric totals read at a window boundary are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Eager local checkpoint of `df` as a leaf that carries its stored
    * size as statistics and no constraints. `Dataset.localCheckpoint`
    * keeps the origin plan's constraints, and a table replaced by a
    * checkpoint of itself plus a batch, batch after batch, then plans
    * ever more slowly. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    try rdd.count()
    catch { case t: Throwable => rdd.unpersist(blocking = false); throw t }
    val bytes = spark.sparkContext.getRDDStorageInfo.filter(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize).sum
    val plan = LogicalRDD(DataTypeUtils.toAttributes(df.schema), rdd,
      UnknownPartitioning(0), Nil, isStreaming = false)(
      spark, Some(Statistics(sizeInBytes = BigInt(math.max(1L, bytes)))), None)
    classic.Dataset.ofRows(spark, plan)
  }
}
