package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — sbt forks once). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-wh")
    // Outlives every suite, so it goes when the JVM does.
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse.toFile))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = "/root/testdata/sf0.001"

  private val tempDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh temp dir named `prefix…`, deleted with its contents after
    * the suite's last test. */
  def tempDir(prefix: String): String = synchronized {
    val d = Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }

  override protected def afterAll(): Unit =
    try synchronized(tempDirs.foreach(FileUtils.deleteQuietly))
    finally super.afterAll()
}
