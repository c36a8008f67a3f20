package perfbench

import graft.SparkEntry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The `query_sweep` workload: registry queries, by family, each timed
  * once per run, in a seed-determined order, through the noop sink, after
  * an untimed pass whose results the DuckDB gate checks. */
object Sweep {
  /** Parses `extract=ep1_extract,f1_dollar_filter;qc=...` (run.py owns the
    * query list). */
  def parseFamilies(spec: String): Seq[(String, Seq[String])] =
    spec.split(";").toSeq.map { f =>
      val Array(name, qs) = f.split("=", 2)
      name -> qs.split(",").toSeq
    }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drops what a query left cached, as `graft.Bench` does between queries,
    * so no query inherits another's memory pressure or background clean-up. */
  private def cleanup(spark: SparkSession): Unit = {
    graft.io.Persisted.release(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def order(ctx: RunContext, pass: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(ctx.families.flatMap(_._2))

  /** Runs one query to its sink: the noop sink, or (`out` given) a parquet
    * directory that must not exist yet, as `graft.Verify` writes it. */
  private def timeQuery(spark: SparkSession, data: String, name: String,
      out: Option[String] = None): Double = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, data)
    out.fold(noop(df))(o => df.coalesce(1).write.parquet(o))
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass over every query in the order the seed and pass number
    * give. With `outRoot`, each query writes its result into a new
    * directory of its own, as `graft.Verify` does (the write fails if the
    * directory exists, so a failed query can never leave a stale result to
    * be scored by the DuckDB gate); without, it runs through the noop sink.
    * Returns per-query seconds or the failure. */
  private def pass(spark: SparkSession, ctx: RunContext, data: String, p: Int,
      outRoot: Option[String], res: WorkloadResult): Seq[(String, Either[String, Double])] =
    order(ctx, p).map { name =>
      res.attempted += 1
      if (outRoot.isEmpty) System.gc() // timed: start each query on a clean heap
      val r = try Right(timeQuery(spark, data, name, outRoot.map(o => s"$o/$name"))) catch {
        case e: Exception =>
          res.failed += 1
          res.failures += s"$name: ${e.getMessage}"
          Left(e.getMessage)
      }
      cleanup(spark)
      name -> r
    }

  /** A traced pass: per-query spans plus listener counters per query. */
  def tracedPass(spark: SparkSession, ctx: RunContext, data: String,
      res: WorkloadResult, tr: Tracer): Map[String, Double] = {
    val counters = new SparkCounters(spark).register()
    val fam = mutable.LinkedHashMap.empty[String, Double]
    var noTask = 0.0
    var planS, jobs, tasks, cpuS = 0.0
    tr.span("sweep") {
      order(ctx, 2).foreach { name =>
        val f = ctx.families.collectFirst { case (f, qs) if qs.contains(name) => f }.get
        val s0 = counters.snap()
        val w0 = System.currentTimeMillis()
        val t = tr.span(s"query.$name") {
          try timeQuery(spark, data, name) catch {
            case e: Exception =>
              res.failed += 1
              res.failures += s"$name: ${e.getMessage}"
              Double.NaN
          }
        }
        val w1 = System.currentTimeMillis()
        res.attempted += 1
        val s1 = counters.snap()
        cleanup(spark)
        val plan = (s1.planMs - s0.planMs) / 1e3
        noTask += SparkCounters.noTaskSeconds(s1.intervals.drop(s0.intervals.length), w0, w1)
        planS += plan
        jobs += s1.jobs - s0.jobs
        tasks += s1.tasks - s0.tasks
        cpuS += (s1.cpuNs - s0.cpuNs) / 1e9
        def add(k: String, v: Double): Unit = fam(k) = fam.getOrElse(k, 0.0) + v
        add(s"sweep.${f}_s", t)
        add(s"sweep.${f}_plan_s", plan)
        add(s"sweep.${f}_tasks", (s1.tasks - s0.tasks).toDouble)
        add(s"sweep.${f}_shuffle_bytes", (s1.shuffleWriteBytes - s0.shuffleWriteBytes).toDouble)
        fam(s"query.${name}_s") = t
      }
    }
    counters.unregister()
    val wall = ctx.families.flatMap(_._2).map(q => fam(s"query.${q}_s")).sum
    fam ++= Map("spark.no_task_s" -> noTask, "spark.jobs" -> jobs, "spark.tasks" -> tasks,
      "spark.cpu_util" -> cpuS / (wall * ctx.cores),
      // share of the sweep's wall time spent neither planning nor running tasks
      "trace.unattributed_frac" -> (noTask - planS) / wall)
    fam.toMap
  }

  def run(spark: SparkSession, ctx: RunContext, data: String): WorkloadResult = {
    val res = new WorkloadResult
    val outRoot = ctx.work.resolve("sweep-out").toString
    res.docs = spark.read.parquet(s"$data/documents.parquet").count().toDouble
    res.inBytes = Fs.sizeOf(Paths.get(data)).toDouble
    // set-up: the gated pass, which also warms the session
    val gated = pass(spark, ctx, data, 0, Some(outRoot), res)
    res.outBytes = Fs.sizeOf(Paths.get(outRoot)).toDouble
    val oracles = ctx.families.flatMap(_._2).map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.writeString(Paths.get(s"$outRoot/oracle_sql.json"), Serialization.write(oracles)(DefaultFormats))
    res.extra("verify_dir") = outRoot
    res.extra("verify_failed") = gated.collect { case (n, Left(_)) => n }
    if (ctx.corrupt) res.extra("corrupt_query") = gated.collectFirst { case (n, Right(_)) => n }
    ctx.log("set-up done: gated pass written")

    // the timed operation: one pass, each query once, through the noop sink
    val times = pass(spark, ctx, data, 1, None, res)
    times.foreach { case (n, r) => r.foreach(t => res.querySeconds(n) = mutable.ArrayBuffer(t)) }
    if (times.forall(_._2.isRight)) res.opSeconds += times.flatMap(_._2.toOption).sum
    ctx.log(times.sortBy(-_._2.getOrElse(0.0))
      .map { case (n, t) => f"$n=${t.getOrElse(-1.0)}%.2f" }.mkString(" "))
    if (ctx.trace) {
      val tr = new Tracer(ctx.runId)
      res.layers ++= tracedPass(spark, ctx, data, res, tr)
      res.layers("trace.overhead_s") = ctx.families.flatMap(_._2)
        .map(q => res.layers(s"query.${q}_s")).sum - res.opSeconds.headOption.getOrElse(Double.NaN)
      res.traceSpans = Some(tr)
    }
    res
  }
}
