package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; UTC + small shuffle width. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
