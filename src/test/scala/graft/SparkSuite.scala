package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite: the drivers' session. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkEntry.session(cpus = 4, shufflePartitions = 4)

  lazy val sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
