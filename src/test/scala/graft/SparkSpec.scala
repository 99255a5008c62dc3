package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide instance). */
object TestSpark {
  // SPARK_GRAFT_MASTER=local-cluster[2,4,2048] runs the whole suite
  // multi-JVM (round 13): executor JVMs get the test classpath and
  // JDK-17 opens via Util.withMaster.
  lazy val spark: SparkSession = Util.withMaster(SparkSession.builder(), "local[4]")
    .appName("graft-test")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // tz-naive parquet timestamps read as UTC instants, not NTZ
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val Sf: String = "/root/testdata/sf0.001"

  private val tempDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())

  /** A fresh temp directory that is deleted after the suite. */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    finally super.afterAll()
}
