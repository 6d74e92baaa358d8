package graft

/** Dump `.explain("formatted")` for named registry queries to files —
  * the r15 optimization round's plan-evidence artifact generator
  * (plans/r15/<query>_{before,after}.txt). Usage:
  *   runMain graft.PlanDump <outDir> <suffix> <sfDir> q1 q2 ...
  * Writes <outDir>/<query>_<suffix>.txt for each query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <outDir> <suffix> <sfDir> q...")
    val (outDir, suffix, sfDir) = (args(0), args(1), args(2))
    val names = args.drop(3).toSeq
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val qs = SparkEntry.queries
    names.foreach { n =>
      val fn = qs.getOrElse(n, sys.error(s"unknown query: $n"))
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"PLANDUMP wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
