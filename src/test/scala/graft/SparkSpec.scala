package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: one JVM-wide session from the
  * production factory, small shuffle parallelism for test speed.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    // TableLayout specs call saveAsTable; SparkConf picks up spark.*
    // system properties, so the temp warehouse needs no factory option.
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    val s = graft.runtime.Sessions.local(4, "graft-tests")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
