package graft.store

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** The driver's parquet reads: a data file's footer, and the rows of a
  * small file (a Delta checkpoint). Both readers take the session's Hadoop
  * `Configuration`. A parquet-mr reader handed none builds a fresh one and
  * loads its defaults (`core-default.xml` and the like) from the classpath
  * jars: a footer read took 10–14 ms that way and 1.0–1.4 ms with the
  * session's conf (local files, 4 cores). */
object ParquetFiles {

  private def input(spark: SparkSession, file: String): HadoopInputFile =
    HadoopInputFile.fromPath(new Path(file), spark.sparkContext.hadoopConfiguration)

  def footer(spark: SparkSession, file: String): ParquetMetadata = {
    val in = input(spark, file)
    val reader = ParquetFileReader.open(in, HadoopReadOptions.builder(in.getConfiguration).build())
    try reader.getFooter finally reader.close()
  }

  /** Every row of `file` as a parquet-mr `Group`. */
  def rows(spark: SparkSession, file: String): List[Group] = {
    // the InputFile builder reads with the input's configuration; the
    // Path builder would build its own first
    val reader = new ParquetReader.Builder[Group](input(spark, file)) {
      override protected def getReadSupport: ReadSupport[Group] = new GroupReadSupport()
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).toList
    finally reader.close()
  }
}
