package graft.pipeline

import graft.classify.Filters
import graft.interleave.Interleave
import graft.io.TableIO
import graft.model.{Doc, Kind, LineageRow}
import graft.ranges.Islands
import graft.segment.PageSegmenter

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EP1 — the flagship extraction pipeline (reference: policy_extract.py →
  * policy_filter.py → combine_extractions.py), in two equivalent physical
  * forms that are asserted equal in tests:
  *
  *  - [[runTyped]]: per-partition typed pipeline. The whole computation is
  *    per-document, so this is a ZERO-SHUFFLE narrow map — the shape that
  *    scales linearly to 10^12 documents: no exchange, no skew-sensitive
  *    join; giant docs only skew individual tasks, which AQE-sized input
  *    splits and the size-bucketed repartition in [[runJob]] absorb.
  *
  *  - [[runExploded]]: fully declarative Catalyst plan (posexplode → window
  *    page-fill → predicate filters → gaps-and-islands → range join →
  *    full-outer interleave → array re-assembly), for when downstream stages
  *    want to compose relationally with the intermediate page rows.
  */
object ExtractJob {

  /** Narrow, shuffle-free execution: one pass, pure function per doc. */
  def runTyped(docs: Dataset[Doc], cfg: Ep1Config = Ep1Config()): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions(_.map(d => Doc(d.doc_id, Ep1Core.process(d, cfg), d.partition_id)))
  }

  /** Row-based twin of [[runTyped]] for the parquet read path: span structs
    * decode straight off the scan rows and results emit through
    * `Encoders.row` — no `Dataset[Doc]` encoder round-trip, whose
    * object-graph materialization BASELINE.md measures at 3-20x the kernel
    * cost at 32 threads. Column positions are resolved from the actual
    * schema once, extra columns pass through untouched; output schema ==
    * input schema. Equality with [[runTyped]] is asserted in
    * Ep1PipelineSpec. */
  def runRows(docs: DataFrame, cfg: Ep1Config = Ep1Config()): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val schema = docs.schema
    val iDoc = schema.fieldIndex("doc_id")
    val iSpans = schema.fieldIndex("spans")
    val spanType = schema(iSpans).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val iKind = spanType.fieldIndex("kind")
    val iText = spanType.fieldIndex("text")
    val iRef = spanType.fieldIndex("media_ref")
    val iOff = spanType.fieldIndex("offset")
    docs.mapPartitions { it =>
      it.map { r =>
        val spanRows = r.getSeq[Row](iSpans)
        val spans = new Array[graft.model.Span](spanRows.length)
        var i = 0
        val srIt = spanRows.iterator
        while (srIt.hasNext) {
          val sr = srIt.next()
          spans(i) = graft.model.Span(sr.getString(iKind), sr.getString(iText),
            sr.getString(iRef), sr.getInt(iOff))
          i += 1
        }
        val out = Ep1Core.process(
          Doc(r.getString(iDoc),
            scala.collection.immutable.ArraySeq.unsafeWrapArray(spans), 0), cfg)
        val outSpans = out.map { s =>
          val vals = new Array[Any](spanType.length)
          vals(iKind) = s.kind; vals(iText) = s.text
          vals(iRef) = s.media_ref; vals(iOff) = s.offset
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        }
        val values = new Array[Any](r.length)
        var j = 0
        while (j < r.length) { values(j) = r.get(j); j += 1 }
        values(iSpans) = outSpans
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(values))
      }
    }(Encoders.row(schema))
  }

  /** Declarative Catalyst form of the same semantics. */
  def runExploded(docs: DataFrame, cfg: Ep1Config = Ep1Config()): DataFrame = {
    val spark = docs.sparkSession

    // explode + page identity (marker parse, forward-filled onto unmarked spans)
    val wFill = Window.partitionBy("doc_id").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    val located = docs
      .select(col("doc_id"), col("partition_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("partition_id"), col("pos"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref"), col("span.offset").as("offset"))
      .withColumn("mpage", PageSegmenter.markerPageCol(col("text")))
      .withColumn("page", coalesce(last("mpage", ignoreNulls = true).over(wFill), lit(1)))
      .withColumn("body", PageSegmenter.stripMarkerCol(col("text")))

    // A2 — ocr-source quality gate, per doc over ALL ocr spans (dups included)
    val dropOcr = located
      .filter(col("kind") === Kind.Ocr)
      .groupBy("doc_id")
      .agg(
        (sum(Filters.f5GibberishCol(col("body")).cast("int")) / count(lit(1)))
          .as("corruption_ratio"),
        sum(length(col("body"))).as("total_chars"))
      .select(col("doc_id"),
        (col("corruption_ratio") > cfg.corruptionRatio ||
          col("total_chars") < cfg.minTotalChars).as("drop_ocr"))

    val textKinds = located.filter(col("kind").isin(Kind.Ocr, Kind.Text))
      .join(dropOcr, Seq("doc_id"), "left")
      .withColumn("drop_ocr", coalesce(col("drop_ocr"), lit(false)))

    // first occurrence of each (doc, kind, page) wins (P2 dedup)
    val wFirst = Window.partitionBy("doc_id", "kind", "page").orderBy("offset")
    val pages = textKinds
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .select("doc_id", "partition_id", "kind", "page", "body", "drop_ocr")

    // F1 ∨ F2 hit pages per (doc, kind) — evaluated on every span (dups too),
    // suppressed entirely for dropped ocr sources
    val hits = textKinds
      .filter(!(col("kind") === Kind.Ocr && col("drop_ocr")))
      .filter(Filters.f1DollarPageCol(col("text")) || Filters.f2KeywordCol(col("text")))
      .select("doc_id", "kind", "page").distinct()

    // page domain per (doc, kind) for buffer clamping
    val domain = pages.groupBy("doc_id", "kind")
      .agg(min("page").as("min_page"), max("page").as("max_page"))

    // R1 — gaps-and-islands buffer merge
    val ranges = Islands.mergeRangesDf(
      hits.join(domain, Seq("doc_id", "kind")),
      Seq("doc_id", "kind"), "page", "min_page", "max_page", cfg.buffer)

    // R4 — drop ranges whose endpoint pages are missing (silent-drop quirk),
    // then slice: kept pages = domain pages within surviving ranges
    val pageSet = pages.select("doc_id", "kind", "page")
    val validRanges = ranges
      .join(pageSet.withColumnRenamed("page", "range_start"),
        Seq("doc_id", "kind", "range_start"), "left_semi")
      .join(pageSet.withColumnRenamed("page", "range_end"),
        Seq("doc_id", "kind", "range_end"), "left_semi")
    val kept = pageSet
      .join(validRanges, Seq("doc_id", "kind"))
      .filter(col("page").between(col("range_start"), col("range_end")))
      .select("doc_id", "kind", "page").distinct()

    // J1 — union of kept pages across sources; per-source placeholder rows
    val keptUnion = kept.select("doc_id", "page").distinct()
    val keptContent = kept.join(pages, Seq("doc_id", "kind", "page"))
      .select("doc_id", "kind", "page", "body")
    val sourceRows = keptUnion
      .crossJoin(spark.createDataFrame(Seq(Tuple1(Kind.Ocr), Tuple1(Kind.Text))).toDF("kind"))
      .join(keptContent, Seq("doc_id", "kind", "page"), "left")
      .select(col("doc_id"), col("page"),
        lit(0).as("tie"), col("kind"),
        coalesce(col("body"),
          concat(lit("[Page not found in "), col("kind"), lit(" extraction]"))).as("text"),
        lit("").as("media_ref"))

    // table/media passthrough iff their page is kept
    val passthrough = located
      .filter(col("kind").isin(Kind.Table, Kind.Media))
      .join(keptUnion, Seq("doc_id", "page"), "left_semi")
      .select(col("doc_id"), col("page"), col("offset").as("tie"), col("kind"),
        col("body").as("text"), col("media_ref"))

    // assemble: stable (page, kind-rank, tie) order, offsets renumbered 0..n
    val rankCol = when(col("kind") === Kind.Ocr, 0)
      .when(col("kind") === Kind.Text, 1)
      .when(col("kind") === Kind.Table, 2)
      .when(col("kind") === Kind.Media, 3).otherwise(4)
    val assembled = sourceRows.unionByName(passthrough)
      .withColumn("rank", rankCol)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(
        col("page"), col("rank"), col("tie"),
        col("kind"), col("text"), col("media_ref")))).as("raw"))
      .select(col("doc_id"), transform(col("raw"),
        (x, i) => struct(
          x.getField("kind").as("kind"),
          x.getField("text").as("text"),
          x.getField("media_ref").as("media_ref"),
          i.cast("int").as("offset"))).as("spans"))

    // docs with no kept pages still appear, with empty span arrays
    docs.select(col("doc_id"), col("partition_id")).distinct()
      .join(assembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("spans"), Interleave.emptySpans).as("spans"),
        col("partition_id"))
  }

  /** Full job: process pending partitions (resume via lineage anti-join),
    * write with dynamic partition overwrite, append lineage rows. Partitions
    * are committed in batches of `commitBatch` so a killed run loses at most
    * one uncommitted batch and the rerun picks up exactly the pending ones.
    *
    * A batch runs one scan-and-rebalance job, one write job and one lineage
    * append, with nothing cached. Its lineage counts are observed while the
    * write runs: `docs_in` on the input side, before the rebalance, and
    * `docs_out`/`spans_out` on the written rows. One counter per partition
    * id of the batch keeps the observation bounded by `commitBatch`. A
    * failed write throws before any lineage row is appended.
    */
  def runJob(spark: SparkSession, inputPath: String, outputPath: String,
      lineagePath: String, cfg: Ep1Config = Ep1Config(), commitBatch: Int = 8): Seq[LineageRow] = {
    val input = spark.read.parquet(inputPath)
    val pending = TableIO.pendingPartitions(input, lineagePath)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val all = scala.collection.mutable.ArrayBuffer.empty[LineageRow]
    pending.grouped(commitBatch).foreach { batch =>
      val t0 = System.nanoTime()
      val observedIn, observedOut = Observation()
      val in = observePerPartition(input.filter(col("partition_id").isin(batch: _*)),
        observedIn, batch, "docs_in" -> lit(1L))
      // size-aware rebalance: spread giant-doc skew across tasks before the
      // heavy tokenize/classify stage (hash of size-magnitude + doc id, no
      // global sort — one shuffle regardless of scale)
      val docs = graft.io.Skew.rebalanceBySize(in, size(col("spans")), col("doc_id"),
        shufflePartitions)
      // row-based path: the job reads parquet, so the Doc-encoder
      // round-trip would be pure overhead here (see runRows scaladoc)
      val out = observePerPartition(runRows(docs, cfg), observedOut, batch,
        "docs_out" -> lit(1L), "spans_out" -> size(col("spans")).cast("long"))
      TableIO.writePartitioned(out, outputPath)
      val (mIn, mOut) = (observedIn.get, observedOut.get)
      val wallMs = (System.nanoTime() - t0) / 1000000
      def n(m: Map[String, Any], key: String) = m(key).asInstanceOf[Long]
      val rows = batch.map(p => LineageRow(p, n(mIn, s"docs_in$p"),
        n(mOut, s"docs_out$p"), n(mOut, s"spans_out$p"), wallMs))
      TableIO.appendLineage(spark, rows, lineagePath)
      all ++= rows
    }
    all.toSeq
  }

  /** Observes one sum per measure and partition id of `batch` on `df`,
    * named measure + id. A sum over no rows is null, hence the coalesce. */
  private def observePerPartition(df: DataFrame, obs: Observation, batch: Seq[Int],
      measures: (String, Column)*): DataFrame = {
    val sums = for ((name, v) <- measures; p <- batch)
      yield coalesce(sum(when(col("partition_id") === p, v)), lit(0L)).as(s"$name$p")
    df.observe(obs, sums.head, sums.tail: _*)
  }
}
