package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the graft mains and tests, so that a
  * result or a timing never depends on which entry point built the
  * session. */
object Session {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // v2 commit: tasks move their output into place at task commit
      // instead of a second job-commit rename pass — the hour-partitioned
      // stores write 720 one-file directories, which is otherwise 1440
      // renames per store build. Trade-off: a failed job may leave
      // partial output; every store here is rebuilt from scratch.
      // (fs.file.impl stays the default checksummed LocalFileSystem:
      // RocksDB state stores call FileSystem.getLocal, which casts to it.)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `settings` on the session, then restore each key
    * (unset if it had no value). Safe only where the work that reads the
    * settings finishes inside `body`: a streaming query run to
    * termination, an eager write. A lazy batch plan captures its conf
    * when it executes, after the scope has closed. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
