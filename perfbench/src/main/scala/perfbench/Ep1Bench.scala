package perfbench

import graft.io.{Skew, Synth, TableIO}
import graft.model.LineageRow
import graft.pipeline.{Ep1Config, ExtractJob}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Per-partition digest of an EP1 output table: doc count, span count, and
  * an order-sensitive hash of the span sequences (doc_id, position, kind,
  * text, media_ref, offset) combined order-independently across rows. */
final case class PartDigest(docs: Long, spans: Long, docHash: Long, spanHash: Long)

/** The EP1 production-job workload. It calls `ExtractJob.runJob` exactly as
  * `graft.Main run` does, on a corpus staged the way `graft.Main gen` stages
  * it, and gates every commit batch against the declarative
  * `ExtractJob.runExploded` form of the same input. */
final class Ep1Bench(spark: SparkSession, work: Path, seed: Long) {
  private val cfg = Ep1Config()
  private var dirCounter = 0

  def freshDir(prefix: String): String = {
    dirCounter += 1
    work.resolve(s"$prefix-$dirCounter").toString
  }

  /** Stages `nDocs` Synth docs as a parquet table partitioned by
    * partition_id, one file per partition. */
  def stage(nDocs: Long, parts: Int, dir: String): Unit =
    Synth.generate(spark, nDocs, parts, seed).toDF()
      .repartition(parts, col("partition_id"))
      .write.partitionBy("partition_id").mode("overwrite").parquet(dir)

  def digest(df: DataFrame): Map[Int, PartDigest] = {
    val docs = df.groupBy(col("partition_id").cast("int").as("p"))
      .agg(count(lit(1)).as("docs"), sum(size(col("spans"))).as("spans"),
        bit_xor(xxhash64(col("doc_id"))).as("dh"))
    val spans = df.select(col("partition_id").cast("int").as("p"), col("doc_id"),
        posexplode(col("spans")).as(Seq("pos", "s")))
      .groupBy("p")
      .agg(bit_xor(xxhash64(col("doc_id"), col("pos"), col("s.kind"), col("s.text"),
        col("s.media_ref"), col("s.offset"))).as("sh"))
    docs.join(spans, Seq("p"), "left").collect().map { r =>
      r.getInt(0) -> PartDigest(r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) 0L else r.getLong(4))
    }.toMap
  }

  /** Expected output per partition, from the independent Catalyst form
    * over the whole input. */
  def expected(in: String): Map[Int, PartDigest] = {
    // digest reads its input twice; compute runExploded once
    val df = ExtractJob.runExploded(spark.read.parquet(in), cfg).cache()
    try digest(df) finally df.unpersist()
  }

  def inputDocs(in: String): Map[Int, Long] =
    spark.read.parquet(in).groupBy(col("partition_id").cast("int")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** (files, bytes) of the parquet files under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) return (0L, 0L)
    val st = Files.walk(root)
    try {
      val files = st.iterator().asScala.filter { f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")
      }.toSeq
      (files.length.toLong, files.map(Files.size).sum)
    } finally st.close()
  }

  /** Problems per partition in a committed output + lineage pair: every
    * partition equals `expected` (the `runExploded` digest) and has exactly
    * one lineage row, and the lineage's docs_in sums to the input's docs. */
  def check(out: String, lin: String, docsIn: Map[Int, Long],
      expected: Map[Int, PartDigest]): (Map[Int, PartDigest], Map[Int, String]) = {
    val got = digest(spark.read.parquet(out))
    val lineage = spark.read.parquet(lin).collect().map(r =>
      (r.getAs[Int]("partition_id"), r.getAs[Long]("docs_in"))).toSeq
    val perPart = lineage.groupBy(_._1)
    val bad = scala.collection.mutable.Map.empty[Int, String]
    docsIn.foreach { case (p, n) =>
      val g = got.get(p)
      if (!g.exists(_.docs == n)) bad(p) = s"partition $p output $g, input has $n docs"
      else if (g != expected.get(p))
        bad(p) = s"partition $p output $g != runExploded ${expected.get(p)}"
      val rows = perPart.getOrElse(p, Seq.empty)
      if (rows.length != 1) bad(p) = s"partition $p has ${rows.length} lineage rows"
    }
    (got.keySet ++ perPart.keySet -- docsIn.keySet).foreach(p => bad(p) = s"unexpected partition $p")
    val sum = lineage.map(_._2).sum
    if (sum != docsIn.values.sum && bad.isEmpty)
      bad(docsIn.keys.min) = s"lineage docs_in sum $sum != input docs ${docsIn.values.sum}"
    (got, bad.toMap)
  }

  /** Drops the last span of one document of partition `p` in place: the
    * self-test's proof that the gate catches a corrupted output. */
  def corrupt(out: String, p: Int): Unit = {
    val dir = s"$out/partition_id=$p"
    val df = spark.read.parquet(dir)
    val victim = df.filter(size(col("spans")) > 0).agg(min("doc_id")).head().getString(0)
    val tmp = s"$dir.tmp"
    df.withColumn("spans", when(col("doc_id") === victim,
        slice(col("spans"), lit(1), size(col("spans")) - 1)).otherwise(col("spans")))
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    Fs.rm(java.nio.file.Paths.get(dir))
    Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(dir))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** `ExtractJob.runJob`'s calls, replayed one layer at a time. Read-only
    * steps are forced through the noop sink; a step that re-runs an earlier
    * step's work records that time as overlap, not as its own. */
  def replay(tr: Tracer, in: String, out: String, lin: String, commitBatch: Int): Unit = {
    val input = spark.read.parquet(in)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    tr.span("ExtractJob.runJob") {
      val pending = tr.span("TableIO.pendingPartitions",
          counts = p => Map("parts" -> p.asInstanceOf[Seq[Int]].length.toDouble)) {
        tr.span("TableIO.readLineage") { noop(TableIO.readLineage(spark, lin).toDF()) }
        TableIO.pendingPartitions(input, lin)
      }
      pending.grouped(commitBatch).foreach { batch =>
        tr.span("batch", counts = _ => Map("parts" -> batch.length.toDouble)) {
          val docs = Skew.rebalanceBySize(input.filter(col("partition_id").isin(batch: _*)),
            size(col("spans")), col("doc_id"), shufflePartitions)
          val tReb = tr.span("Skew.rebalanceBySize") { timed(noop(docs))._2 }
          val tRows = tr.span("ExtractJob.runRows", overlapS = tReb) {
            timed(noop(ExtractJob.runRows(docs, cfg)))._2
          }
          val outDf = ExtractJob.runRows(docs, cfg).cache()
          tr.span("TableIO.writePartitioned", overlapS = tRows) {
            TableIO.writePartitioned(outDf, out)
          }
          val rows = tr.span("ExtractJob.stats") {
            outDf.groupBy("partition_id")
              .agg(count(lit(1)).as("docs"), sum(size(col("spans"))).as("spans"))
              .collect().map(r => LineageRow(r.getAs[Int]("partition_id"),
                r.getAs[Long]("docs"), r.getAs[Long]("docs"), r.getAs[Long]("spans"), 0L))
              .toSeq
          }
          tr.span("TableIO.appendLineage") { TableIO.appendLineage(spark, rows, lin) }
          outDf.unpersist()
        }
      }
    }
  }
}

/** Workload driver for `ep1_bulk`. */
object Ep1Workload {
  final case class Shape(docs: Long, parts: Int, commitBatch: Int)

  private def path(s: String) = java.nio.file.Paths.get(s)

  def run(spark: SparkSession, ctx: RunContext, shape: Shape): WorkloadResult = {
    val b = new Ep1Bench(spark, ctx.work, ctx.seed)
    val res = new WorkloadResult
    // ---- set-up: stage, the runExploded reference, warm-up
    val in = b.freshDir("in")
    b.stage(shape.docs, shape.parts, in)
    val docsIn = b.inputDocs(in)
    ctx.log("corpus staged")
    val parts = (0 until shape.parts).toSet
    val batches = (0 until shape.parts).grouped(shape.commitBatch).toSeq
    val (_, inBytes) = b.parquetFiles(in)
    // the self-test damages one seed-chosen partition
    val victim = new scala.util.Random(ctx.seed).nextInt(shape.parts)
    def prepare(): (String, String) = (b.freshDir("out"), b.freshDir("lin"))
    def job(out: String, lin: String): Double = {
      val t0 = System.nanoTime()
      ExtractJob.runJob(spark, in, out, lin, Ep1Config(), shape.commitBatch)
      (System.nanoTime() - t0) / 1e9
    }
    val expected = b.expected(in)
    ctx.log("runExploded reference digested")
    // warm-up: the timed operation twice, untimed (a single warm-up left
    // the first timed job about 15% slower than the ones after it)
    (1 to 2).foreach { _ =>
      val (o, l) = prepare()
      job(o, l)
      Fs.rm(path(o)); Fs.rm(path(l))
    }
    /** Runs `f` (one timed operation) and gates its committed table;
      * returns the operation's seconds if it completed. */
    def attempt(corrupt: Boolean)(f: (String, String) => Double): Option[Double] = {
      val (out, lin) = prepare()
      res.attempted += batches.length
      try {
        val t = f(out, lin)
        if (corrupt) b.corrupt(out, victim)
        val (got, bad) = b.check(out, lin, docsIn, expected)
        bad.values.take(3).foreach(m => res.failures += m)
        res.failed += batches.count(_.exists(bad.contains)) +
          (if (bad.keySet.exists(p => !parts.contains(p))) 1 else 0)
        res.spansOut = parts.toSeq.flatMap(got.get).map(_.spans).sum.toDouble
        val (files, bytes) = b.parquetFiles(out)
        res.outBytes = bytes.toDouble
        res.filesOut = files.toDouble
        Some(t)
      } catch { case e: Exception =>
        res.failed += batches.length
        res.failures += s"runJob failed: ${e.getMessage}"
        None
      } finally { Fs.rm(path(out)); Fs.rm(path(lin)) }
    }
    ctx.log(s"set-up done: ${shape.docs} docs, ${shape.parts} partitions, ${batches.length} batches")

    res.docs = docsIn.values.sum.toDouble
    res.inBytes = inBytes.toDouble

    if (!ctx.trace) {
      // ---- timed closed loop: one caller, one runJob at a time, started
      // while the window lasts and at least three, so that wall_s is a
      // median of three; a GC before each keeps earlier garbage out
      val t0 = System.nanoTime()
      var i = 0
      while (i < 3 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        System.gc()
        attempt(ctx.corrupt && i == 0)(job).foreach(res.opSeconds += _)
        i += 1
      }
      ctx.log(s"timed: ${res.opSeconds.mkString(", ")}")
    } else {
      // ---- traced run: untraced reference, listened job, layer replay
      val untraced = attempt(false)(job)
      untraced.foreach(res.opSeconds += _)
      val counters = new SparkCounters(spark).register()
      val s0 = counters.snap()
      val w0 = System.currentTimeMillis()
      val listened = attempt(false)(job)
      val w1 = System.currentTimeMillis()
      val s1 = counters.snap()
      val tr = new Tracer(ctx.runId)
      attempt(false) { (o, l) =>
        val t0 = System.nanoTime()
        b.replay(tr, in, o, l, shape.commitBatch)
        (System.nanoTime() - t0) / 1e9
      }
      counters.unregister()
      val wallU = untraced.getOrElse(Double.NaN)
      val layers = Seq("TableIO.pendingPartitions", "TableIO.readLineage",
        "Skew.rebalanceBySize", "ExtractJob.runRows", "TableIO.writePartitioned",
        "ExtractJob.stats", "TableIO.appendLineage")
      val attributed = layers.map(tr.self).sum
      // a batch as production runs it: the span minus the forced re-runs
      val batchProd = tr.spans.filter(_.name == "batch").map { s =>
        s.seconds - tr.spans.filter(c => c.parent == s.id &&
          (c.name == "Skew.rebalanceBySize" || c.name == "ExtractJob.runRows")).map(_.seconds).sum
      }
      val replayWall = tr.spans.find(_.name == "ExtractJob.runJob").map(_.seconds).getOrElse(Double.NaN)
      val wallL = (w1 - w0) / 1e3
      res.layers ++= Map(
        "tableio.pending_s" -> tr.self("TableIO.pendingPartitions"),
        "tableio.pending_parts" -> parts.size.toDouble,
        "tableio.write_s" -> tr.self("TableIO.writePartitioned"),
        "tableio.files_out" -> res.filesOut,
        "tableio.bytes_out" -> res.outBytes,
        "tableio.lineage_read_s" -> tr.self("TableIO.readLineage"),
        "tableio.lineage_append_s" -> tr.self("TableIO.appendLineage"),
        "skew.rebalance_s" -> tr.self("Skew.rebalanceBySize"),
        "skew.shuffle_bytes" -> (s1.shuffleWriteBytes - s0.shuffleWriteBytes).toDouble,
        "skew.task_max_over_median" -> SparkCounters.kernelSkew(s0, s1),
        "extractjob.rows_self_s" -> tr.self("ExtractJob.runRows"),
        "extractjob.stats_s" -> tr.self("ExtractJob.stats"),
        "extractjob.jobs_per_batch" -> (s1.jobs - s0.jobs).toDouble / batches.length,
        "extractjob.batch_p50_s" -> Stats.median(batchProd),
        "extractjob.gc_s" -> (s1.gcMs - s0.gcMs) / 1e3,
        "extractjob.spill_bytes" -> (s1.spillBytes - s0.spillBytes).toDouble,
        "spark.no_task_s" -> SparkCounters.noTaskSeconds(
          s1.intervals.drop(s0.intervals.length), w0, w1),
        "spark.jobs" -> (s1.jobs - s0.jobs).toDouble,
        "spark.tasks" -> (s1.tasks - s0.tasks).toDouble,
        "spark.cpu_util" -> (s1.cpuNs - s0.cpuNs) / 1e9 / (wallL * ctx.cores),
        "trace.overhead_s" -> (replayWall - wallU),
        "trace.unattributed_frac" -> (1.0 - attributed / wallU))
      res.traceSpans = Some(tr)
      if (listened.isEmpty) ctx.log("listened run failed")
    }
    res
  }
}
