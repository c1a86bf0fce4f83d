package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite via lazy val).
  * Persisted stage boundaries default to a fresh root per test JVM
  * ([[SparkSpec.shardRoot]]), so no suite reads a boundary that an
  * earlier run — possibly of older code — left under the machine-wide
  * default root. Suites that set `graft.shards.dir` themselves keep it.
  * The root is deleted when the test JVM exits.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .config("spark.hadoop.fs.file.impl",
      "graft.sources.QuietLocalFileSystem")
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      "graft.sources.QuietLocalAbstractFs")
    .config("spark.ui.enabled", "false")
    .config("graft.shards.dir", SparkSpec.shardRoot)
    .getOrCreate()
}

object SparkSpec {
  lazy val shardRoot: String = {
    val root = java.nio.file.Files.createTempDirectory("graft_shards")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root.toString
  }
}
