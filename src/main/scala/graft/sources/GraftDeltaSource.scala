package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}

import graft.store.DeltaLogStore

/** `spark.read.format("graftdelta")` / `df.write.format("graftdelta")` —
  * [[graft.store.DeltaLogStore]]'s transaction log behind the reference's
  * API shape (`delta_lake.py:31-40`: `format("delta")` append + read with
  * `versionAsOf`).
  *
  * Options: `path` (the table root — also the `.load(path)`/`.save(path)`
  * argument) and `versionAsOf` (read only; default = latest version).
  *
  * Read: the relation is [[graft.store.DeltaLogStore.relation]], the one
  * `DeltaLogStore.read` returns — parquet files resolved from the log on
  * the driver, skipped by their stats, typed by the log's `metaData`, and
  * planned with graft's store rules. Schema and file list come from one
  * resolution of the log, and an EMPTY snapshot (every add later removed)
  * reads as zero rows with the declared schema, like a real Delta reader.
  * The schema is never the user's: the source is no
  * `SchemaRelationProvider`, so Spark rejects `.schema(...)` on it.
  *
  * Write: APPEND and OVERWRITE commit through
  * [[graft.store.DeltaLogStore.commit]] — parquet part files + one JSON
  * commit with `add` (and, for overwrite, `remove`) actions, version =
  * latest + 1, the incoming columns matched to the table's by name. A
  * FIRST append (or overwrite) to a fresh directory CREATES the table:
  * commit(version = 0) writes the protocol/metaData header from the
  * incoming schema — the reference's `store_document` appends to a
  * directory it never explicitly created and relies on exactly this Delta
  * semantic (`delta_lake.py:31-36`). The writer rejects `versionAsOf`
  * (writes go to the head, not into history) and the modes that would
  * silently skip a write or fail only on an existing table; READS of a
  * never-created table fail loudly. */
class GraftDeltaSource extends RelationProvider with CreatableRelationProvider
  with DataSourceRegister {

  override def shortName(): String = "graftdelta"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graftdelta requires a table path: spark.read.format(\"graftdelta\").load(path)"))

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = tablePath(parameters)
    val asOf = parameters.get("versionAsOf").map(_.toLong)
    if (DeltaLogStore.latestVersion(path) < 0)
      throw new IllegalArgumentException(s"no graftdelta log found at $path " +
        (if (asOf.isDefined) "(cannot time-travel a table that was never created)"
        else "(create the table by appending to it, or with DeltaLogStore.commit)"))
    DeltaLogStore.relation(sqlContext.sparkSession, path, asOf)
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = tablePath(parameters)
    // the head version current at write time: a reader holding an older
    // relation keeps its resolved snapshot (Delta's snapshot isolation)
    val head = DeltaLogStore.latestVersion(path)
    parameters.get("versionAsOf").foreach { v =>
      require(head >= 0, s"no graftdelta log found at $path " +
        "(cannot time-travel a table that was never created)")
      throw new IllegalArgumentException(
        s"cannot write to a time-traveled graftdelta table ($path@v$v): " +
          "writes always target the table head")
    }
    require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
      s"graftdelta cannot be written with $mode mode: use append or overwrite")
    // an existing table takes the data by column name, cast to its types
    // where the cast is safe; a missing or extra column fails the write
    val rows =
      if (head < 0) data
      else {
        val schema = DeltaLogStore.relation(spark, path, Some(head)).schema
        require(data.columns.length == schema.length,
          s"graftdelta table $path has columns ${schema.fieldNames.mkString(", ")}; " +
            s"the data has ${data.columns.mkString(", ")}")
        data.to(schema)
      }
    val removes =
      if (head < 0 || mode == SaveMode.Append) Nil
      else DeltaLogStore.liveFiles(spark, path, Some(head))
    DeltaLogStore.commit(spark, path, Some(rows), head + 1, removePaths = removes)
    createRelation(sqlContext, parameters)
  }
}
