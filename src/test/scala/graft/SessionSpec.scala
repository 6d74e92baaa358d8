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

  test("only Session builds a SparkSession and only StageCensus adds a listener") {
    val src = Paths.get("src")
    val sources: Seq[Path] = {
      val s = Files.walk(src)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    // the tokens are split so that this file does not match itself
    def callers(token: String): Set[String] = sources
      .filter(p => Files.readString(p).contains(token))
      .map(p => src.relativize(p).toString).toSet
    assert(callers("SparkSession" + ".builder") == Set("main/scala/graft/Session.scala"))
    assert(callers("addSpark" + "Listener") == Set("main/scala/graft/StageCensus.scala"))
  }
}
