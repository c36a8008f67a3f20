package perfbench

import graft.classify.Filters
import graft.model.{Doc, Kind}
import graft.pipeline.{Ep1Config, Ep1Core}
import graft.ranges.Islands
import graft.segment.PageSegmenter

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

/** Per-layer costs of the EP1 kernel's pure functions, called directly on
  * `threads` plain threads over the workload's documents (no Spark): thread
  * nanoseconds per item and allocated bytes per item. */
object Kernels {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  @volatile private var sink = 0L

  /** Runs `work(i)` for i in [0, n) striped over `threads` threads; returns
    * (thread nanoseconds, allocated bytes) summed over the threads. */
  private def onThreads(threads: Int, n: Int)(work: Int => Long): (Long, Long) = {
    val ns, bytes, acc = new AtomicLong
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val id = Thread.currentThread().getId
        val b0 = mx.getThreadAllocatedBytes(id)
        val t0 = System.nanoTime()
        var local = 0L
        var i = t
        while (i < n) { local += work(i); i += threads }
        ns.addAndGet(System.nanoTime() - t0)
        bytes.addAndGet(mx.getThreadAllocatedBytes(id) - b0)
        acc.addAndGet(local)
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    sink += acc.get
    (ns.get, bytes.get)
  }

  /** Median over `passes` of per-item (ns, bytes); the first pass warms. */
  private def perItem(threads: Int, n: Int, passes: Int)(work: Int => Long): (Double, Double) = {
    onThreads(threads, n)(work)
    val runs = (1 to passes).map(_ => onThreads(threads, n)(work))
    (Stats.median(runs.map(_._1.toDouble / n)), Stats.median(runs.map(_._2.toDouble / n)))
  }

  private def isTextKind(k: String) = k == Kind.Ocr || k == Kind.Text
  private def hit(text: String) = Filters.f1DollarPage(text) || Filters.f2Keyword(text)

  def measure(docs: Array[Doc], threads: Int, passes: Int = 3): Map[String, Double] = {
    val cfg = Ep1Config()
    val (coreNs, coreBytes) = perItem(threads, docs.length, passes) { i =>
      Ep1Core.process(docs(i), cfg).length.toLong
    }

    val spans = docs.flatMap(_.spans)
    val (parseNs, _) = perItem(threads, spans.length, passes) { i =>
      PageSegmenter.parseHead(spans(i).text)._1.toLong
    }

    val texts = spans.filter(s => isTextKind(s.kind)).map(_.text)
    val (filterNs, _) = perItem(threads, texts.length, passes) { i =>
      if (hit(texts(i))) 1L else 0L
    }
    val hitFrac = texts.count(hit).toDouble / math.max(1, texts.length)

    // islands inputs per (doc, kind): hit pages and the page domain, built
    // outside the timed region the way Ep1Core builds them
    val inputs = docs.flatMap { d =>
      val parsed = d.spans.sortBy(_.offset).map(s => (s, PageSegmenter.parseHead(s.text)._1))
      var cur = 1
      val paged = parsed.map { case (s, p) => if (p >= 0) cur = p; (s, cur) }
      Seq(Kind.Ocr, Kind.Text).map { k =>
        val ofKind = paged.filter(_._1.kind == k)
        val pages = ofKind.map(_._2).distinct
        val hits = ofKind.filter(x => hit(x._1.text)).map(_._2).distinct
        (hits, pages)
      }
    }
    val (islandNs, _) = perItem(threads, inputs.length, passes) { i =>
      val (hits, pages) = inputs(i)
      Islands.keptPages(Islands.mergeRanges(hits, pages, cfg.buffer), pages.toSet).length.toLong
    }
    val kept = inputs.map { case (h, p) =>
      Islands.keptPages(Islands.mergeRanges(h, p, cfg.buffer), p.toSet).length }.sum
    val pages = inputs.map(_._2.length).sum

    Map(
      "ep1core.ns_per_doc" -> coreNs,
      "ep1core.alloc_bytes_per_doc" -> coreBytes,
      "pagesegmenter.parse_ns_per_span" -> parseNs,
      "filters.ns_per_span" -> filterNs,
      "filters.hit_frac" -> hitFrac,
      // two (doc, kind) inputs per doc
      "islands.ns_per_doc" -> islandNs * 2,
      "islands.kept_page_frac" -> kept.toDouble / math.max(1, pages))
  }
}
