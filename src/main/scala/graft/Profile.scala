package graft

/** Where did a registry query's time go: runs each named query through
  * the noop sink twice (cold, then warm) and prints its wall time and the
  * [[StageCensus]] line of every stage it ran — stages with ≤2 tasks for
  * ≥200 ms are flagged SERIAL. Usage:
  *   runMain graft.Profile <sfDir> q1 q2 ...
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> q...")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val qs = SparkEntry.queries
    names.foreach(n => require(qs.contains(n), s"unknown query: $n"))
    val spark = Session.local()
    val census = StageCensus.install(spark)
    names.foreach { n =>
      Seq("cold", "warm").foreach { label =>
        val (dt, w) = census.measure {
          val t0 = System.nanoTime()
          qs(n)(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"PROFILE $n $label: $dt%.2f s")
        w.stages.foreach(s => println(s"  [$n $label] $s"))
      }
    }
    spark.stop()
  }
}
