package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (session startup dominates
  * suite wall time otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = Session.local(2)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sql(q: String): org.apache.spark.sql.DataFrame = spark.sql(q)

  /** A fresh directory under `target/` of the working directory. */
  def targetTmp(prefix: String): String = {
    val target = Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(target, prefix).toAbsolutePath.toString
  }
}
