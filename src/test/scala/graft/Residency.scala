package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** Block-manager residency as the release tests measure it: the ids of
  * the RDDs holding blocks (`SparkContext.getRDDStorageInfo`). Only
  * RDDs that are new since a baseline count, so pins other suites left
  * to the ContextCleaner neither fail nor mask a test. */
object Residency {
  def ids(spark: SparkSession): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** RDDs resident now that were not in `before`. */
  def grown(spark: SparkSession, before: Set[Int]): Set[Int] =
    ids(spark) -- before

  /** Everything made resident since `before` is freed; `Pin.close`
    * releases asynchronously, so this waits for it. */
  def assertReleased(spark: SparkSession, before: Set[Int]): Unit =
    eventually(timeout(Span(30, Seconds))) {
      assert(grown(spark, before).isEmpty)
    }
}
