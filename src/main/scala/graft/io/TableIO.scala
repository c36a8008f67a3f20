package graft.io

import graft.model.LineageRow

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style table emulation (no Iceberg runtime jar ships in this
  * environment — see SURVEY.md §7.6): a Parquet table physically partitioned
  * by `partition_id`, written with dynamic partition overwrite so re-running
  * a partition is idempotent, plus an append-only lineage/metrics table that
  * doubles as the commit log. A partition is "committed" iff it has a lineage
  * row; resume = left-anti join of all partitions against the lineage table.
  *
  * Both writes run with [[localFsOptions]]: `file:` paths go through
  * [[NioLocalFileSystem]], which sets permissions in process instead of
  * forking `chmod` per file and directory; other schemes are untouched.
  */
object TableIO {

  /** Per-write Hadoop options that route the `file` scheme to
    * [[NioLocalFileSystem]]. Hadoop caches filesystems by scheme, so the
    * cache is bypassed for these writes; the session's cached local FS is
    * left as it is. */
  private val localFsOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Write `df` partitioned by partition_id; existing partitions touched by
    * this write are replaced atomically-per-partition (dynamic overwrite),
    * untouched partitions are preserved — the idempotent-resume contract.
    */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.write
      .options(localFsOptions)
      .partitionBy("partition_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** Appends `rows` as one parquet file: one file per commit, not one per
    * core. */
  def appendLineage(spark: SparkSession, rows: Seq[LineageRow], path: String): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      rows.toDS().coalesce(1).write.options(localFsOptions)
        .mode(SaveMode.Append).parquet(path)
  }

  def readLineage(spark: SparkSession, path: String): Dataset[LineageRow] = {
    import spark.implicits._
    if (exists(spark, path)) spark.read.parquet(path).as[LineageRow]
    else spark.emptyDataset[LineageRow]
  }

  /** Partitions still to process: all input partitions anti-joined against
    * committed lineage rows (J7, the north rule's resume contract).
    */
  def pendingPartitions(input: DataFrame, lineagePath: String): Seq[Int] = {
    val spark = input.sparkSession
    val all = input.select(col("partition_id").cast("int")).distinct()
    val committed = readLineage(spark, lineagePath).toDF()
      .select(col("partition_id").cast("int")).distinct()
    all.join(committed, Seq("partition_id"), "left_anti")
      .collect().map(_.getInt(0)).sorted.toSeq
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
