package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite run (object = one per JVM). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(cpus = 8)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Every message down `t`'s cause chain — a task-side failure reaches
    * the driver wrapped in a SparkException. */
  def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
}
