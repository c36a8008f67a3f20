package perfbench

import graft.io.Synth

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.nio.file.{Files, Paths}

/** The benchmark's JVM side. `run.py` starts it; it is never part of the
  * engine. It builds the session, runs one trivial job, runs one workload
  * and writes the raw measurements to `--out` as JSON. Set-up time is
  * counted from `--t0-ms`, the launcher's clock at process start.
  *
  * The session carries `graft.Main`'s settings, so the plans benched are
  * the plans production runs.
  */
object BenchMain {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.graft.topk.rewrite", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.range(0L, 1000L, 1L, cores).selectExpr("sum(id)").collect()
    s
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Ms = opt("t0-ms").toLong
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val spark = session(cores, work.toString)
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3

    val ctx = RunContext(opt("workload"), opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", cores, work, opt("run-id"), opt.get("corrupt").contains("1"),
      Sweep.parseFamilies(opt("families")),
      m => System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1e3}%.1fs $m"))
    def size(k: String): Int = opt(k).toInt
    val data = opt("data")

    val controlBefore = graft.Bench.calibrationControl(cores)
    ctx.log(s"session ready after ${setupS}s; calibration control ${controlBefore}s")
    val res = ctx.workload match {
      case "ep1_bulk" =>
        Ep1Workload.run(spark, ctx, Ep1Workload.Shape(size("bulk-docs"), size("bulk-parts"), 8))
      case "query_sweep" => Sweep.run(spark, ctx, data)
    }
    if (ctx.trace) {
      // every traced run reports every layer: the layers a workload does
      // not exercise come from a small companion run of the other kind
      val (c, companion) =
        if (ctx.workload == "query_sweep") {
          val c = Ep1Workload.run(spark, ctx, Ep1Workload.Shape(size("companion-docs"), 8, 2))
          (c, c.layers.filter { case (k, _) => !k.startsWith("spark.") && !k.startsWith("trace.") })
        } else {
          val c = new WorkloadResult
          (c, Sweep.tracedPass(spark, ctx, data, c, new Tracer(ctx.runId + "-companion"))
            .filter { case (k, _) => k.startsWith("sweep.") || k.startsWith("query.") })
        }
      res.attempted += c.attempted
      res.failed += c.failed
      res.failures ++= c.failures
      val docs = (0 until size("kernel-docs")).map(i =>
        Synth.mkDoc(i.toLong, size("bulk-parts"), ctx.seed)).toArray
      val kernels = Kernels.measure(docs, cores)
      val primary = res.layers.toMap
      res.layers.clear()
      res.layers ++= companion ++ kernels ++ primary
    }
    ctx.log("workload done")
    val controlAfter = graft.Bench.calibrationControl(cores)

    val out = Map(
      "setup_s" -> setupS,
      "op_seconds" -> res.opSeconds.toSeq,
      "query_seconds" -> res.querySeconds.view.mapValues(_.toSeq).toMap,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "failures" -> res.failures.take(20).toSeq,
      "docs" -> res.docs,
      "spans_out" -> res.spansOut,
      "in_bytes" -> res.inBytes,
      "out_bytes" -> res.outBytes,
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> res.layers.toMap,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "control_before_s" -> controlBefore,
      "control_after_s" -> controlAfter) ++ res.extra.toMap
    Files.writeString(Paths.get(opt("out")), Serialization.write(out)(DefaultFormats))
    res.traceSpans.foreach { tr =>
      Files.writeString(Paths.get(opt("trace-file")), tr.toJson(Map(
        "workload" -> ctx.workload, "seed" -> ctx.seed,
        "layer_self_s" -> tr.spans.map(_.name).distinct.map(n => n -> tr.self(n)).toMap,
        "metrics" -> res.layers.toMap)))
    }
    spark.stop()
  }
}
