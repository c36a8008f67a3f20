package graft.pipeline

import graft.SparkTestBase
import graft.io.{Synth, TableIO}
import graft.model.{Doc, Kind, Span}
import graft.segment.PageSegmenter

import java.nio.file.Files

class Ep1PipelineSpec extends SparkTestBase {

  private def mk(kind: String, page: Int, body: String, off: Int): Span =
    Span(kind, PageSegmenter.renderMarker(page) + body, "", off)

  private val smallCfg = Ep1Config(minTotalChars = 0)

  // ------------------------------------------------- hand-derived golden ---
  test("golden: dollar hit with buffer, media and table passthrough") {
    val doc = Doc("g1", Seq(
      mk(Kind.Ocr, 1, "intro with nothing", 0), mk(Kind.Text, 1, "intro with nothing", 1),
      mk(Kind.Ocr, 2, "limit $5,000 coverage", 2), mk(Kind.Text, 2, "limit $5,000 coverage", 3),
      Span(Kind.Media, "", "img://g1/2/0", 4),
      mk(Kind.Ocr, 3, "plain three", 5), mk(Kind.Text, 3, "plain three", 6),
      Span(Kind.Table, "a | b | $300", "", 7),
      mk(Kind.Ocr, 4, "plain four", 8), mk(Kind.Text, 4, "plain four", 9),
      mk(Kind.Ocr, 5, "plain five", 10), mk(Kind.Text, 5, "plain five", 11)), 0)
    val expected = Seq(
      Span(Kind.Ocr, "intro with nothing", "", 0),
      Span(Kind.Text, "intro with nothing", "", 1),
      Span(Kind.Ocr, "limit $5,000 coverage", "", 2),
      Span(Kind.Text, "limit $5,000 coverage", "", 3),
      Span(Kind.Media, "", "img://g1/2/0", 4),
      Span(Kind.Ocr, "plain three", "", 5),
      Span(Kind.Text, "plain three", "", 6),
      Span(Kind.Table, "a | b | $300", "", 7))
    assert(Ep1Core.process(doc, smallCfg) == expected)
  }

  test("golden: page missing from one source yields a placeholder") {
    val doc = Doc("g2", Seq(
      mk(Kind.Ocr, 1, "costs $300 total", 0), mk(Kind.Text, 1, "costs $300 total", 1),
      mk(Kind.Ocr, 2, "ocr only page", 2)), 0)
    val expected = Seq(
      Span(Kind.Ocr, "costs $300 total", "", 0),
      Span(Kind.Text, "costs $300 total", "", 1),
      Span(Kind.Ocr, "ocr only page", "", 2),
      Span(Kind.Text, "[Page not found in text extraction]", "", 3))
    assert(Ep1Core.process(doc, smallCfg) == expected)
  }

  test("golden: missing endpoint page silently drops the whole range (R4 quirk)") {
    val doc = Doc("g3", Seq(
      mk(Kind.Ocr, 1, "page one body text", 0), mk(Kind.Text, 1, "page one body text", 1),
      mk(Kind.Ocr, 2, "mortgagee schedule", 2), mk(Kind.Text, 2, "mortgagee schedule", 3),
      mk(Kind.Ocr, 3, "page three body", 4), // page 3 missing from text
      mk(Kind.Ocr, 4, "page four body", 5), mk(Kind.Text, 4, "page four body", 6),
      mk(Kind.Ocr, 5, "page five body", 7), mk(Kind.Text, 5, "page five body", 8)), 0)
    // text: hits={2}, range (1,3), endpoint 3 not in text pages -> dropped
    // ocr: hits={2}, range (1,3) -> kept {1,2,3}
    val expected = Seq(
      Span(Kind.Ocr, "page one body text", "", 0),
      Span(Kind.Text, "[Page not found in text extraction]", "", 1),
      Span(Kind.Ocr, "mortgagee schedule", "", 2),
      Span(Kind.Text, "[Page not found in text extraction]", "", 3),
      Span(Kind.Ocr, "page three body", "", 4),
      Span(Kind.Text, "[Page not found in text extraction]", "", 5))
    assert(Ep1Core.process(doc, smallCfg) == expected)
  }

  test("golden: corrupted ocr source is dropped (A2 strategy gate)") {
    val gib = "\u0001\u0002\u0003\u0004 " * 30
    val doc = Doc("g4", Seq(
      mk(Kind.Ocr, 1, gib, 0), mk(Kind.Text, 1, "keep $900 here", 1),
      mk(Kind.Ocr, 2, gib, 2), mk(Kind.Text, 2, "tail", 3)), 0)
    val expected = Seq(
      Span(Kind.Ocr, "[Page not found in ocr extraction]", "", 0),
      Span(Kind.Text, "keep $900 here", "", 1),
      Span(Kind.Ocr, "[Page not found in ocr extraction]", "", 2),
      Span(Kind.Text, "tail", "", 3))
    assert(Ep1Core.process(doc, smallCfg) == expected)
  }

  test("golden: duplicate adjacent page marker — first occurrence wins") {
    val doc = Doc("g5", Seq(
      mk(Kind.Ocr, 1, "loss payee FIRST", 0),
      mk(Kind.Ocr, 1, "duplicate SECOND", 1),
      mk(Kind.Text, 1, "loss payee FIRST", 2)), 0)
    val expected = Seq(
      Span(Kind.Ocr, "loss payee FIRST", "", 0),
      Span(Kind.Text, "loss payee FIRST", "", 1))
    assert(Ep1Core.process(doc, smallCfg) == expected)
  }

  test("golden: no hits anywhere -> empty output") {
    val doc = Doc("g6", Seq(
      mk(Kind.Ocr, 1, "nothing", 0), mk(Kind.Text, 1, "nothing", 1)), 0)
    assert(Ep1Core.process(doc, smallCfg).isEmpty)
  }

  // ------------------------------------- engine vs independent oracle ------
  test("span engine equals the file-route oracle on 250 synthetic docs") {
    var mismatches = 0
    for (id <- 0L until 250L) {
      val doc = Synth.mkDoc(id, 8)
      val got = Ep1Core.process(doc)
      val want = RefOracle.process(doc)
      if (got != want) {
        mismatches += 1
        if (mismatches <= 3) {
          info(s"MISMATCH doc ${doc.doc_id}: got ${got.size} spans, want ${want.size}")
          got.zipAll(want, null, null).zipWithIndex.filter(p => p._1._1 != p._1._2)
            .take(2).foreach { case ((g, w), i) =>
              info(s"  at $i:\n   got  $g\n   want $w")
            }
        }
      }
    }
    assert(mismatches == 0, s"$mismatches/250 docs diverged from the oracle")
  }

  // ----------------------------- typed (zero-shuffle) vs Catalyst plan -----
  test("exploded Catalyst plan equals the typed zero-shuffle plan") {
    import spark.implicits._
    val docs = Synth.generate(spark, 120, nPartitions = 8)
    val typed = ExtractJob.runTyped(docs).collect().map(d => d.doc_id -> d.spans).toMap
    val exploded = ExtractJob.runExploded(docs.toDF()).as[Doc].collect()
    assert(exploded.length == 120)
    for (d <- exploded)
      assert(d.spans == typed(d.doc_id), s"doc ${d.doc_id} diverged")
  }

  test("row-based read path (runRows) equals the typed pipeline, incl. after parquet") {
    import spark.implicits._
    val docs = Synth.generate(spark, 120, nPartitions = 8)
    val typed = ExtractJob.runTyped(docs).collect().map(d => d.doc_id -> d.spans).toMap
    // direct DataFrame path
    val direct = ExtractJob.runRows(docs.toDF()).as[Doc].collect()
    assert(direct.length == 120)
    for (d <- direct) assert(d.spans == typed(d.doc_id), s"doc ${d.doc_id} diverged (direct)")
    // through a real parquet round-trip (the production read shape), with a
    // carried extra column passing through untouched
    val dir = Files.createTempDirectory("ep1-rows").toString
    docs.toDF().withColumn("extra",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("x-"),
        org.apache.spark.sql.functions.col("doc_id")))
      .write.mode("overwrite").parquet(dir)
    val rt = ExtractJob.runRows(spark.read.parquet(dir))
    val extras = rt.select("doc_id", "extra").as[(String, String)].collect()
    assert(extras.forall { case (id, e) => e == s"x-$id" })
    val rtDocs = rt.drop("extra").as[Doc].collect()
    assert(rtDocs.length == 120)
    for (d <- rtDocs) assert(d.spans == typed(d.doc_id), s"doc ${d.doc_id} diverged (parquet)")
  }

  // --------------------------------------------- lineage + resume (J7) -----
  test("runJob commits lineage per partition and resumes idempotently") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_e2e").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val lin = s"$dir/lineage"
    Synth.generate(spark, 64, nPartitions = 8).toDF()
      .write.partitionBy("partition_id").parquet(in)

    val rows1 = ExtractJob.runJob(spark, in, out, lin, commitBatch = 3)
    assert(rows1.map(_.partition_id).sorted == (0 to 7))
    val full = spark.read.parquet(out).as[Doc].collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(full.size == 64)

    // simulate a kill after partitions 0-3 committed: lineage truncated to
    // 0-3, output for 4-7 destroyed
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lin), true)
    TableIO.appendLineage(spark, rows1.filter(_.partition_id <= 3), lin)
    (4 to 7).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(s"$out/partition_id=$p"), true))

    val rows2 = ExtractJob.runJob(spark, in, out, lin, commitBatch = 3)
    assert(rows2.map(_.partition_id).sorted == (4 to 7))
    val resumed = spark.read.parquet(out).as[Doc].collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(resumed == full, "resumed output differs from the single-run output")

    // third run: nothing pending, nothing rewritten
    assert(ExtractJob.runJob(spark, in, out, lin, commitBatch = 3).isEmpty)
  }

  test("runJob lineage: docs_in from the input, spans_out from the output, one file per batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, size, sum}
    val dir = Files.createTempDirectory("graft_lineage").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val lin = s"$dir/lineage"
    Synth.generate(spark, 90, nPartitions = 7).toDF()
      .write.partitionBy("partition_id").parquet(in)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

    val rows = ExtractJob.runJob(spark, in, out, lin, commitBatch = 3)
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- persisted).isEmpty,
      "runJob left a persisted RDD behind")

    def perPartition(path: String) = spark.read.parquet(path).groupBy("partition_id")
      .agg(count(lit(1)), sum(size(col("spans"))).cast("long"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val input = perPartition(in)
    val written = perPartition(out)
    val lineage = TableIO.readLineage(spark, lin).collect().sortBy(_.partition_id).toSeq
    assert(lineage.map(_.partition_id) == (0 until 7))
    assert(rows.sortBy(_.partition_id) == lineage)
    for (r <- lineage) {
      assert(r.docs_in == input(r.partition_id)._1, s"docs_in of ${r.partition_id}")
      assert(r.docs_out == written(r.partition_id)._1, s"docs_out of ${r.partition_id}")
      assert(r.spans_out == written(r.partition_id)._2, s"spans_out of ${r.partition_id}")
    }
    // 7 partitions in batches of 3: three commits, one lineage file each
    val files = new java.io.File(lin).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 3)
  }
  test("runJob: a failed write appends no lineage row") {
    val dir = Files.createTempDirectory("graft_failed_write")
    val in = s"$dir/in"; val lin = s"$dir/lineage"
    Synth.generate(spark, 20, nPartitions = 2).toDF()
      .write.partitionBy("partition_id").parquet(in)
    // the output path is a regular file, so the write cannot create it
    val out = Files.writeString(dir.resolve("out"), "not a table").toString
    intercept[Exception](ExtractJob.runJob(spark, in, out, lin, commitBatch = 1))
    assert(!TableIO.exists(spark, lin))
  }
}
