package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/check.py).
  * A query that throws is named in failed.json, and Verify exits 1 once
  * both manifests are written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional extra args = run only these queries (local iteration; the
    // driver always passes exactly two args → full registry).
    val only = args.drop(2).toSet
    def selected = if (only.isEmpty) SparkEntry.queries
                   else SparkEntry.queries.filter(kv => only(kv._1))
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }.sorted
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __GRAFT_SF__ binds the scale-factor name into store-path oracles
    // (q_store_size reads the engine-written store's own files back via
    // DuckDB read_blob — the store path is keyed by sf, which only the
    // Verify invocation knows)
    val sfName = graft.store.SnapshotStore.sfName(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_SF__", sfName))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full query-name manifest: lets the checker treat a crashed query
    // (no output dir) as a failure instead of silently skipping it.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map(q).mkString("[", ",", "]"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
