package perfbench

import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import scala.collection.mutable

/** One timed interval at a layer boundary. `overlapS` is time inside the
  * span spent re-running upstream work that an earlier span already
  * measured (the replay forces each layer through its own action), so it
  * counts as neither this layer's self time nor a child's. */
final case class TraceSpan(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long, overlapS: Double, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out once, at the end. */
final class Tracer(val runId: String) {
  private val buf = mutable.ArrayBuffer.empty[TraceSpan]
  private var stack: List[Int] = Nil
  private val origin = System.nanoTime()

  def span[A](name: String, overlapS: => Double = 0.0,
      counts: Any => Map[String, Double] = _ => Map.empty)(f: => A): A = {
    val id = buf.length
    buf += null // reserve the id so children get higher ids
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    val out = try f finally stack = stack.tail
    val t1 = System.nanoTime()
    buf(id) = TraceSpan(id, name, parent, runId, t0, t1, overlapS, counts(out))
    out
  }

  def spans: Seq[TraceSpan] = buf.toSeq

  def selfSeconds(s: TraceSpan): Double =
    s.seconds - s.overlapS - buf.filter(_.parent == s.id).map(_.seconds).sum

  /** Self seconds of every span with this name, summed. */
  def self(name: String): Double = buf.filter(_.name == name).map(selfSeconds).sum

  def toJson(extra: Map[String, Any]): String = Serialization.write(extra ++ Map(
    "run_id" -> runId,
    "spans" -> buf.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "self_s" -> selfSeconds(s), "overlap_s" -> s.overlapS, "counts" -> s.counts)
    }.toSeq))(DefaultFormats)
}

final case class Snap(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
    spillBytes: Long, shuffleWriteBytes: Long, planMs: Long,
    intervals: Vector[(Long, Long)], stageRunMs: Map[Int, Vector[Long]],
    stageShuffleRead: Map[Int, Long])

/** Cumulative Spark counters, fed by a SparkListener and a
  * QueryExecutionListener that the benchmark registers itself. Read them
  * with [[snap]] after a [[drain]], and attribute differences between two
  * snapshots to the step that ran in between. */
final class SparkCounters(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private var jobs, tasks, cpuNs, gcMs, spill, shuffleW, planMs = 0L
  private var intervals = Vector.empty[(Long, Long)]
  private val stageRunMs = mutable.Map.empty[Int, Vector[Long]]
  private val stageShuffleRead = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    intervals :+= ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      stageRunMs(e.stageId) = stageRunMs.getOrElse(e.stageId, Vector.empty) :+ m.executorRunTime
      stageShuffleRead(e.stageId) = stageShuffleRead.getOrElse(e.stageId, 0L) +
        m.shuffleReadMetrics.totalBytesRead
    }
  }

  private def plan(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = Bus.drain(spark.sparkContext)

  def snap(): Snap = { drain(); synchronized {
    Snap(jobs, tasks, cpuNs, gcMs, spill, shuffleW, planMs, intervals,
      stageRunMs.toMap, stageShuffleRead.toMap)
  } }
}

object SparkCounters {
  /** Seconds of `[fromMs, toMs]` during which no task was running. */
  def noTaskSeconds(intervals: Seq[(Long, Long)], fromMs: Long, toMs: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    math.max(0L, (toMs - fromMs) - busy) / 1e3
  }

  /** Max over median task run time of the heaviest stage that reads a
    * shuffle (the kernel stage behind the size rebalance). */
  def kernelSkew(a: Snap, b: Snap): Double = {
    val stages = b.stageRunMs.keySet -- a.stageRunMs.keySet
    val kernel = stages.filter(s => b.stageShuffleRead.getOrElse(s, 0L) > 0)
    if (kernel.isEmpty) 1.0
    else {
      val times = kernel.maxBy(s => b.stageRunMs(s).sum)
      val sorted = b.stageRunMs(times).sorted
      val med = Stats.median(sorted.map(_.toDouble))
      if (med <= 0) 1.0 else sorted.last / med
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
