package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (session startup dominates
  * suite wall time otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = Session.local(2)

  // every temp directory the suites made, deleted when the test JVM exits
  // together with the stores named after it, beside it (`<dir>_view`,
  // `<dir>-index`) or under the store root (`events_<dir>_rateidx_1`)
  private val tmpDirs = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook {
    val names = tmpDirs.asScala.map(_.getFileName.toString).toSeq
    (tmpDirs.asScala.map(_.getParent).toSet + Paths.get(graft.store.SnapshotStore.root))
      .flatMap(root => Option(root.toFile.listFiles()).toSeq.flatten)
      .filter(f => names.exists(f.getName.contains))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** A fresh directory under `root`, deleted when the test JVM exits. */
  def tmpUnder(root: Path, prefix: String): String = {
    val dir = Files.createTempDirectory(Files.createDirectories(root), prefix).toAbsolutePath
    tmpDirs.add(dir)
    dir.toString
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sql(q: String): org.apache.spark.sql.DataFrame = spark.sql(q)

  /** A fresh directory under `target/` of the working directory, deleted
    * when the test JVM exits. */
  def targetTmp(prefix: String): String = SparkSpec.tmpUnder(Paths.get("target"), prefix)
}
