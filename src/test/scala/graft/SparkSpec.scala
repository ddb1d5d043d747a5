package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The JVM's shared SparkSession for specs (never stopped: getOrCreate
  * hands the same session to every suite in the JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // cpus pinned so test partitioning does not follow the box's core count
  lazy val spark: SparkSession = Sessions.get(getClass.getSimpleName, cpus = 4)
}
