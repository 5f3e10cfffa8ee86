package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the engine's own batch session
  * ([[Session.batch]]) over the sf0.01 tables at a fixed `local[4]`, so
  * every plan a suite audits is one the entry points run, on any box. One
  * JVM-wide session; suites grab it lazily so sbt's single forked test JVM
  * reuses it. */
object SparkSpec {
  lazy val spark: SparkSession = Session.batch("/root/testdata/sf0.01", cpus = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
