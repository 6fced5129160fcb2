package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER=local-cluster[2,4,3072] replays the identical
    // sweep across separate executor JVMs (multi-JVM serialization check)
    val spark = Sessions.graft().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration aid: GRAFT_ONLY=q08,q11 restricts the dump.
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    // coalesce(1) gives the driver its one-file-per-query layout, but it
    // is a NARROW repartition: everything after the last exchange —
    // including a global sort's reduce side — collapses into ONE task.
    // Harmless at the sf0.01 gate; at sf10 it single-threads the heavy
    // queries' whole tail (observed: q61 wedged 18+ min in one write
    // task). GRAFT_VERIFY_MULTIFILE=1 keeps the plan's own output
    // partitioning for scale sweeps — the compare tools glob
    // <query>/*.parquet, so the layout is equivalent to them.
    val multiFile = sys.env.get("GRAFT_VERIFY_MULTIFILE").contains("1")
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (multiFile) df else df.coalesce(1))
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // scalable twins for the naive-oracle queries: the sf1 sweep
    // (COMPARE_SCALABLE=1) overlays these on the primary map
    val scalable = SparkEntry.oracleSqlScalable
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_scalable.json"), scalable)
    spark.stop()
  }
}
