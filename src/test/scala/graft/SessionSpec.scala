package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

class SessionSpec extends SparkSpec {

  private lazy val census = StageCensus.install(spark)

  test("Session.local sets the shared keys") {
    assert(spark.sparkContext.master == "local[2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.algorithm.version") == "2")
  }

  test("StageCensus: a one-task 250 ms stage is serial wall, a 4-task stage is not") {
    val sc = spark.sparkContext
    val (_, one) = census.measure(sc.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(250)))
    assert(one.serialMs >= 250, one)
    assert(one.stages.size == 1 && one.stages.head.contains("SERIAL"), one)
    val (_, four) = census.measure(sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(250)))
    assert(four.serialMs == 0, four)
    assert(four.stages.size == 1 && four.stages.head.contains("tasks=  4"), four)
  }

  test("StageCensus: a groupBy records shuffle bytes") {
    val (n, w) = census.measure(
      spark.range(1000).groupBy(col("id") % 10).count().collect().length)
    assert(n == 10)
    assert(w.shuffleBytes > 0, w)
  }

  /** Each .scala file under `root` (relative to it) with its text. */
  private def sources(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally s.close()
  }

  /** Occurrences of `token` per file that holds it. */
  private def occurrences(files: Map[String, String], token: String): Map[String, Int] =
    files.map { case (f, text) =>
      f -> java.util.regex.Pattern.quote(token).r.findAllMatchIn(text).size }
      .filter(_._2 > 0)

  test("only Session builds a SparkSession and only StageCensus adds a listener") {
    val all = sources(Paths.get("src"))
    // the tokens are split so that this file does not match itself
    def callers(token: String): Set[String] = occurrences(all, token).keySet
    assert(callers("SparkSession" + ".builder") == Set("main/scala/graft/Session.scala"))
    assert(callers("addSpark" + "Listener") == Set("main/scala/graft/StageCensus.scala"))
  }

  test("only GraftRules.install registers optimizer rules and planning strategies") {
    val main = sources(Paths.get("src", "main"))
    // one registration point: every store read installs the same rules
    Seq("extraOptimizations", "extraStrategies").foreach { field =>
      val assigned = main.map { case (f, text) =>
        f -> (java.util.regex.Pattern.quote(field) + "\\s*=(?!=)").r.findAllMatchIn(text).size }
        .filter(_._2 > 0)
      assert(assigned == Map("scala/graft/plans/GraftRules.scala" -> 1), field)
    }
  }

  test("the only mains under src/main are Bench, Verify, Profile, PlanDump and Scratch") {
    val main = sources(Paths.get("src", "main"))
    // a one-off probe main belongs in Profile or a scratch copy, not here
    assert(occurrences(main, "def main(").keySet ==
      Set("Bench", "Verify", "Profile", "PlanDump", "Scratch").map(n => s"scala/graft/$n.scala"))
  }

  test("only ParquetFiles opens a parquet reader on the driver") {
    val main = sources(Paths.get("src", "main"))
    // a reader not handed the session's Hadoop conf builds its own
    val readers = Seq("ParquetFileReader" + ".open(", "ParquetReader" + ".builder(",
      "ParquetReader" + ".Builder")
    assert(readers.flatMap(occurrences(main, _).keySet).toSet ==
      Set("scala/graft/store/ParquetFiles.scala"))
  }

  test("the planner rules name no store directory") {
    // a store is matched by the marker its reader sets on the relation
    val plans = sources(Paths.get("src", "main", "scala", "graft", "plans"))
    assert(plans.contains("GraftRules.scala"))
    assert(occurrences(plans, "/graft" + "store/") == Map.empty)
  }

  test("one versioned-view fold and one RocksDB provider setting under src/main") {
    val main = sources(Paths.get("src", "main"))
    // latestView's definition and the two reads of Replay.foldView: a
    // hand-copied fold anywhere adds a call
    assert(occurrences(main, "latestView(") == Map("scala/graft/streaming/Replay.scala" -> 3))
    assert(occurrences(main, "RocksDBStateStoreProvider").values.sum == 1)
  }
}
