package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one benchmark process was asked to do. */
final case class RunContext(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: Path, runId: String, corrupt: Boolean,
    families: Seq[(String, Seq[String])], log: String => Unit)

/** Raw measurements of one workload run. End-to-end metrics are derived
  * from them in one place (run.py), per-layer metrics land in `layers`. */
final class WorkloadResult {
  /** Wall seconds of each timed operation that passed its gate. */
  val opSeconds = mutable.ArrayBuffer.empty[Double]
  /** Per-query seconds (query_sweep only), one entry per timed execution. */
  val querySeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var docs, spansOut, inBytes, outBytes, filesOut = 0.0
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var traceSpans: Option[Tracer] = None
  val extra = mutable.LinkedHashMap.empty[String, Any]
}

object Fs {
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally st.close()
  }

  def sizeOf(p: Path): Long = if (!Files.exists(p)) 0L else {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }
}
