package graft.io

import graft.SparkTestBase
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

class NioLocalFileSystemSpec extends SparkTestBase {

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  /** Every path under `root` with the task/job UUIDs blanked out, its kind
    * and its mode bits. */
  private def tree(root: JPath): Seq[(String, Boolean, Int)] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filterNot(_ == root).map { p =>
      val rel = root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U")
      (rel, Files.isDirectory(p), mode(p))
    }.toSeq.sorted
    finally st.close()
  }

  /** Bytes written so far through [[NioLocalFileSystem]] in this JVM (local
    * mode: the write tasks run here too). */
  @scala.annotation.nowarn("cat=deprecation")
  private def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getStatistics("file", classOf[NioLocalFileSystem.Raw])
      .getBytesWritten

  test("setPermission sets the same rwx bits as Hadoop's raw local FS") {
    val dir = Files.createTempDirectory("niofs")
    val (nio, hadoop) = (raw(new NioLocalFileSystem.Raw), raw(new RawLocalFileSystem))
    for (bits <- Seq(0x1ff, 0x1ed, 0x1a4, 0x180, 0x124, 0x1c0, 0x0, 0x16d)) {
      val a = Files.createFile(dir.resolve(s"a$bits"))
      val b = Files.createFile(dir.resolve(s"b$bits"))
      nio.setPermission(new Path(a.toUri), new FsPermission(bits.toShort))
      hadoop.setPermission(new Path(b.toUri), new FsPermission(bits.toShort))
      assert(mode(a) == bits && mode(a) == mode(b), f"mode $bits%o")
    }
  }

  test("bits beyond 0777 take Hadoop's chmod path") {
    val d = Files.createTempDirectory("niofs-sticky")
    // java.nio cannot set the sticky bit; only the fallback keeps it
    raw(new NioLocalFileSystem.Raw).setPermission(new Path(d.toUri),
      new FsPermission(0x3ff.toShort))
    assert(mode(d) == 0x3ff, f"got ${mode(d)}%o")
  }

  test("TableIO writes the same files, .crc files and modes as the default local FS") {
    val df = spark.range(0, 400).select(col("id"), (col("id") % 3).cast("int").as("partition_id"))
      .repartition(2, col("id"))
    val dir = Files.createTempDirectory("niofs-write")
    val (viaTableIO, viaDefault) = (dir.resolve("tableio"), dir.resolve("default"))
    val written = bytesWritten
    TableIO.writePartitioned(df, viaTableIO.toString)
    assert(bytesWritten > written, "the write did not go through NioLocalFileSystem")
    df.write.partitionBy("partition_id").option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(viaDefault.toString)
    val got = tree(viaTableIO)
    assert(got == tree(viaDefault))
    assert(got.count(_._1.endsWith(".parquet.crc")) == got.count(_._1.endsWith(".parquet")))
    assert(got.count(_._2) == 3)

    val (linTableIO, linDefault) = (dir.resolve("lin-tableio"), dir.resolve("lin-default"))
    val rows = Seq(graft.model.LineageRow(0, 1, 1, 2, 3))
    TableIO.appendLineage(spark, rows, linTableIO.toString)
    import spark.implicits._
    rows.toDS().coalesce(1).write.parquet(linDefault.toString)
    assert(tree(linTableIO) == tree(linDefault))
  }
}
