package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sc = spark.sparkContext
}

object SparkSpec {
  // a fixed 4 cores so spec timings and partition counts do not follow
  // the host; the warehouse dir keeps BucketedStoreSpec's managed tables
  // out of the working tree
  lazy val session: SparkSession = Session.local(cpus = 4,
    conf = Map("spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse"))
}
