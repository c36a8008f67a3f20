package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (iterating on a single oracle without the full 80-query sweep)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.graft.topk.rewrite", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) },
      sfDir, outDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each query's result to `$outDir/<name>` and a
    * verify_status.json with, per query, `ok`, `error`, `rows` and
    * `wall_ms`. Each query's directory is deleted before the query runs, so
    * a failed query leaves no output at all, never an earlier run's. */
  def dump(spark: SparkSession, queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val status = queries.map { case (name, fn) =>
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      val t0 = System.nanoTime()
      val result =
        try {
          dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
          fn(spark, sfDir).coalesce(1).write.parquet(dir.toString)
          Right(spark.read.parquet(dir.toString).count())
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Left(String.valueOf(e.getMessage))
        }
      val wallMs = (System.nanoTime() - t0) / 1000000
      // release relations persisted inside operators (SQL cache is held by
      // the CacheManager until explicitly dropped, NOT the ContextCleaner);
      // drain the tracked registry, then blanket-clear query-local caches
      graft.io.Persisted.release(spark)
      spark.catalog.clearCache()
      val (ok, error, rows) = result.fold(e => ("false", q(e), "null"),
        n => ("true", "null", n.toString))
      s"${q(name)}: {\"ok\": $ok, \"error\": $error, \"rows\": $rows, \"wall_ms\": $wallMs}"
    }
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), status.mkString("{", ",\n", "}"))
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in a query's SQL would otherwise make the oracle
  // checker's json.load fail and silently drop every oracle.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
