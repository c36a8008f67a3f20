package graft.dedup

import graft.text.TextAnalysis._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact (fingerprint
  * group-by), n-gram Jaccard, MinHash+LSH, and SimHash. All hashing is
  * md5-derived (engine-reproducible), all plans are shuffle-minimal:
  *
  *  - exact: one shuffle on the 60-bit fingerprint.
  *  - Jaccard/MinHash: candidate generation joins on shingle/band keys, so
  *    the quadratic all-pairs blowup never materializes; a document-frequency
  *    cap drops degenerate hot shingles (stopword shingles shared by
  *    thousands of docs) which would otherwise create O(df²) skew — the
  *    standard scale lever for LSH joins.
  */
object Dedup {

  // ------------------------------------------------------------ exact ------
  /** Exact dedup: group on the 60-bit fingerprint of normalized text; the
    * smallest id per group is canonical. Output: (id, canonical_id,
    * group_size, is_duplicate). One hash-shuffle; no text comparison. */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String,
      passthrough: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("fingerprint")
    df.select(col(idCol) +: fingerprintCol(col(textCol)).as("fingerprint") +:
        passthrough.map(col): _*)
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
  }

  // --------------------------------------------------------- shingles ------
  /** Distinct word n-gram shingles of the token array. */
  def shinglesCol(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) < n, array())
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  def shingles(text: String, n: Int): Seq[String] = {
    val t = tokens(text)
    if (t.length < n) Seq.empty else t.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  // -------------------------------------------------------- winnowing ------
  /** Winnowing fingerprints (Schleimer et al. 2003, SIGMOD): the
    * guarantee-bearing local sampling of k-gram hashes — every shared
    * substring of at least w+k-1 tokens between two documents shares at
    * least one fingerprint, while only ~2/(w+1) of the hashes survive.
    * This is the standard plagiarism / overlap detector between exact
    * substring dedup (which needs equality) and MinHash (which estimates
    * whole-doc similarity).
    *
    * Variant note: classic winnowing keeps (hash, position) with a
    * rightmost-tie rule; this keeps the DISTINCT window-min hash VALUES
    * per document — the same detection guarantee for overlap joins (the
    * fingerprint sets still intersect), one fewer column to carry.
    *
    * Plan: the whole kernel is per-document local (positional hashes,
    * rolling minima, per-doc dedup all happen inside one row), so this is
    * a ZERO-SHUFFLE typed mapPartitions — the same `Encoders.row` idiom as
    * [[shingleRows]] (~10x the interpreted explode+window pipeline, and no
    * per-doc window shuffle at all). Output: (idCol, fp), distinct per
    * document. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int): DataFrame = {
    require(n >= 1 && w >= 1, s"n and w must be >= 1: $n, $w")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(df.schema(idCol),
      StructField("fp", LongType, nullable = false)))
    df.select(col(idCol), col(textCol))
      .mapPartitions(_.flatMap { r =>
        val fps = winnow(if (r.isNullAt(1)) "" else r.getString(1), n, w)
        fps.iterator.map(fp => Row(r.get(0), fp))
      })(Encoders.row(schema))
  }

  /** Document pairs sharing at least `minShared` winnowing fingerprints,
    * with the shared count — the overlap/plagiarism join the fingerprints
    * exist for. Pair enumeration happens only inside same-fingerprint
    * buckets (never all-pairs); `maxDf` drops degenerate hot fingerprints
    * (boilerplate spans shared by thousands of docs) exactly like the
    * shingle-join skew cap. One fp-key join + one pair groupBy. */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int, minShared: Int = 1, maxDf: Int = 0): DataFrame = {
    val fps = graft.io.Persisted.track(
      winnowFingerprints(df, idCol, textCol, n, w)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val capped =
      if (maxDf <= 0) fps
      else fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDf).select("fp"),
        Seq("fp"), "left_anti")
    val a = capped.select(col("fp"), col(idCol).as("id_a"))
    val b = capped.select(col("fp"), col(idCol).as("id_b"))
    a.join(b, "fp").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Pure twin of [[winnowFingerprints]]. */
  def winnow(text: String, n: Int, w: Int): Set[Long] = {
    val t = tokens(text)
    if (t.length < n) return Set.empty
    val hs = t.sliding(n).map(g => hash60(g.mkString(" "))).toIndexedSeq
    if (hs.length < w) return Set.empty
    (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
  }

  /** One row per (id, shingle-hash): the exploded shingle relation that
    * candidate generation joins on. `maxDf` drops shingles appearing in more
    * than that many docs (hot-key/skew cap; pass <=0 to keep all). */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int,
      maxDf: Int = 0): DataFrame = {
    // typed flatMap: the per-shingle hash in plain Scala (identical md5
    // values, ~10x the throughput of the interpreted explode+conv pipeline);
    // id column type preserved via explicit row encoder
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(df.schema(idCol), StructField("sh", LongType, nullable = false)))
    val rows = df.select(col(idCol), col(textCol))
      .mapPartitions(_.flatMap { r =>
        shingles(r.getString(1), n).iterator.map(s => Row(r.get(0), hash60(s)))
      })(Encoders.row(schema))
    if (maxDf <= 0) rows
    else {
      val hot = rows.groupBy("sh").agg(countDistinct(col(idCol)).as("df"))
        .filter(col("df") > maxDf).select("sh")
      // the join moves the key column first; restore (id, sh) order since
      // downstream callers rename positionally
      rows.join(hot, Seq("sh"), "left_anti").select(rows.columns.map(col): _*)
    }
  }

  // --------------------------------------------------- n-gram Jaccard ------
  /** All pairs (i < j) sharing at least one shingle, with exact Jaccard
    * similarity |A∩B| / |A∪B| over distinct shingle hashes; keep pairs with
    * jaccard >= minJ. Pair enumeration happens only inside shared-shingle
    * buckets (never all-pairs). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      minJ: Double, maxDf: Int = 0): DataFrame = {
    // the shingle relation feeds three join branches — persist it so the
    // tokenize+hash scan runs once, not per branch. NOTE: SQL cache is held
    // by the session CacheManager until explicitly released; long-lived
    // sessions release via Persisted.release / unpersistAfter (or a blanket
    // clearCache) after the result is materialized (Verify/Bench do).
    val rows = graft.io.Persisted.track(
      shingleRows(df, idCol, textCol, n, maxDf).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = rows.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val a = rows.toDF("id_a", "sh")
    val b = rows.toDF("id_b", "sh")
    val common = a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.toDF("id_a", "sz_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sz_b"), Seq("id_b"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shingle-containment pairs — the PARTIAL-mirror detector Jaccard
    * misses: a 100-page document quoting a 1-page source has near-zero
    * Jaccard (union dominated by the big doc) but containment
    * C(A,B) = |A∩B| / |A| ≈ 1 for the small side. That asymmetry is the
    * signal for quote farms, wrapper pages, and corpus-in-corpus nesting,
    * and the reason MinHash-LSH (which estimates Jaccard) cannot be the
    * only near-dup pass.
    *
    * Same plan as [[jaccardPairs]] (shared shingle relation persisted, pair
    * enumeration only inside same-shingle buckets, `maxDf` hot-shingle
    * cap); both directions come back in integer MILLI (floor-div of
    * non-negative counts, replayable anywhere). Keeps pairs with
    * max(cont_a, cont_b) ≥ minMilli. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      minMilli: Long, maxDf: Int = 0): DataFrame = {
    require(minMilli >= 0 && minMilli <= 1000, s"minMilli out of range: $minMilli")
    val rows = graft.io.Persisted.track(
      shingleRows(df, idCol, textCol, n, maxDf).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = rows.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val a = rows.toDF("id_a", "sh")
    val b = rows.toDF("id_b", "sh")
    a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(sizes.toDF("id_a", "sz_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sz_b"), Seq("id_b"))
      .withColumn("cont_a_milli", expr("(1000 * common) div sz_a"))
      .withColumn("cont_b_milli", expr("(1000 * common) div sz_b"))
      .filter(greatest(col("cont_a_milli"), col("cont_b_milli")) >= minMilli)
      .select("id_a", "id_b", "common", "sz_a", "sz_b",
        "cont_a_milli", "cont_b_milli")
  }

  /** Pure twin of one [[containmentPairs]] pair. */
  def containment(a: String, b: String, n: Int): (Long, Long) = {
    val sa = shingles(a, n).map(hash60).toSet
    val sb = shingles(b, n).map(hash60).toSet
    if (sa.isEmpty || sb.isEmpty) (0L, 0L)
    else {
      val c = (sa intersect sb).size.toLong
      (Math.floorDiv(1000L * c, sa.size.toLong),
        Math.floorDiv(1000L * c, sb.size.toLong))
    }
  }

  def jaccard(a: String, b: String, n: Int): Double = {
    val sa = shingles(a, n).toSet
    val sb = shingles(b, n).toSet
    if (sa.isEmpty && sb.isEmpty) 0.0
    else {
      val c = (sa intersect sb).size.toDouble
      BigDecimal(c / (sa.size + sb.size - c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  // ------------------------------------------------------ MinHash+LSH ------
  /** k-permutation MinHash signature from an already-materialized shingle
    * array column: row i of the signature is min over shingles of
    * hash60(i ":" shingle). Pure column expressions — no UDF, no explode.
    * IMPORTANT: pass a bound column (materialize [[shinglesCol]] with
    * `.withColumn` first) — inlining the shingle expression here would make
    * Catalyst evaluate the tokenize+shingle pipeline k times per row. */
  def minhashSignatureFromShingles(sh: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh, s => hash60(concat(i.cast("string"), lit(":"), s)))))

  def minhashSignatureCol(toks: Column, n: Int, k: Int): Column =
    minhashSignatureFromShingles(shinglesCol(toks, n), k)

  def minhashSignature(text: String, n: Int, k: Int): Seq[Long] = {
    val sh = shingles(text, n)
    (0 until k).map { i =>
      if (sh.isEmpty) Long.MaxValue else sh.map(s => hash60(s"$i:$s")).min
    }
  }

  /** LSH band keys: the signature split into `bands` bands of `rowsPerBand`,
    * each band hashed to a 60-bit bucket key (band index mixed in). Docs
    * sharing any band key are candidate near-duplicates. */
  def lshBandKeysCol(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => hash60(concat(b.cast("string"), lit("|"), concat_ws(",", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))))

  def lshBandKeys(sig: Seq[Long], bands: Int, rowsPerBand: Int): Seq[Long] =
    (0 until bands).map { b =>
      hash60(s"$b|" + sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString(","))
    }

  // ------------------------------------------------ typed (production) -----
  /** Typed per-partition signature/band computation — the production path.
    * The Column forms above are pure Catalyst, but lambda bodies of nested
    * higher-order functions evaluate through interpreted projections (no
    * whole-stage codegen inside `transform`), which measures ~40x slower
    * than plain Scala at corpus scale. The typed forms produce IDENTICAL
    * md5-derived values (asserted in tests), keep the stage narrow
    * (zero-shuffle scan-side work), and preserve the id column's type via an
    * explicit row encoder. */
  def minhashBandRows(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val schema = StructType(Seq(df.schema(idCol), StructField("band", LongType, nullable = false)))
    df.select(col(idCol), col(textCol))
      .mapPartitions { it =>
        it.flatMap { row =>
          val text = row.getString(1)
          val sh = shingles(text, n)
          if (sh.isEmpty) Iterator.empty
          else {
            val sig = (0 until k).map(i => sh.iterator.map(s => hash60(s"$i:$s")).min)
            lshBandKeys(sig, bands, r).iterator.map(b => Row(row.get(0), b))
          }
        }
      }(Encoders.row(schema))
  }

  /** Typed SimHash fingerprints (id, fp), id type preserved. */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(df.schema(idCol), StructField("fp", LongType, nullable = false)))
    df.select(col(idCol), col(textCol))
      .mapPartitions(_.map(r => Row(r.get(0), simhash32(r.getString(1)))))(Encoders.row(schema))
  }

  /** Typed MinHash signatures (id, sig array<bigint>), id type preserved;
    * docs with no shingles are dropped. */
  def minhashSignaturesTyped(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val schema = StructType(Seq(df.schema(idCol),
      StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))
    df.select(col(idCol), col(textCol))
      .mapPartitions { it =>
        it.flatMap { row =>
          val sh = shingles(row.getString(1), n)
          if (sh.isEmpty) Iterator.empty
          else Iterator.single(Row(row.get(0),
            (0 until k).map(i => sh.iterator.map(s => hash60(s"$i:$s")).min)))
        }
      }(Encoders.row(schema))
  }

  /** MinHash/LSH near-dup detection: signature → band explode → bucket join
    * → distinct candidate pairs → exact-Jaccard verification at `minJ`.
    * Shuffles: one on band key (candidate join) + the verify join; the
    * signature itself is computed scan-side with zero shuffles.
    *
    * Scale levers (both default-off for oracle parity; production callers at
    * corpus scale should set both):
    *  - `maxDf` is threaded into the verify-path shingle relation, dropping
    *    shingles shared by more than `maxDf` docs (viral stopword shingles
    *    would otherwise create O(df²) skew in the verify join);
    *  - `maxBucket` drops band buckets containing more than `maxBucket`
    *    docs before candidate enumeration (a hot band key would otherwise
    *    degrade to O(bucket²) pairs). Pairs inside a dropped bucket remain
    *    reachable through their other `bands-1` band keys.
    *
    * The candidate relation is materialized eagerly so the band relation's
    * cache is released before this returns; the candidate + shingle
    * relations stay cached for the caller's action (they feed multiple
    * branches of one plan). SQL cache is held by the session CacheManager
    * until explicitly released — long-lived sessions must
    * spark.catalog.clearCache() (or unpersist) after materializing the
    * result (Verify/Bench do). */
  def minhashDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8, minJ: Double = 0.5,
      maxDf: Int = 0, maxBucket: Int = 0): DataFrame = {
    val bandRowsAll = minhashBandRows(df, idCol, textCol, n, k, bands)
    val bandRows = (if (maxBucket <= 0) bandRowsAll
    else {
      val hot = bandRowsAll.groupBy("band").agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") > maxBucket).select("band")
      // restore (id, band) order: the join moves the key column first and
      // the candidate stage renames positionally
      bandRowsAll.join(hot, Seq("band"), "left_anti")
        .select(bandRowsAll.columns.map(col): _*)
    // tracked even though the success path self-unpersists right after the
    // candidate materialization below: if that action fails, the caller's
    // error-path Persisted.release can still reclaim the band relation
    // (release/prune are idempotent, so the early unpersist stays correct)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.io.Persisted.track(bandRows)
    val cand = graft.io.Persisted.track(bandRows.toDF("id_a", "band")
      .join(bandRows.toDF("id_b", "band"), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    cand.count() // materialize candidates, then release the band relation
    bandRows.unpersist(blocking = false)
    // verify candidates with exact n-gram Jaccard (persisted: 3 branches)
    val rows = graft.io.Persisted.track(
      shingleRows(df, idCol, textCol, n, maxDf).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = rows.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val common = cand
      .join(rows.toDF("id_a", "sh"), Seq("id_a"))
      .join(rows.toDF("id_b", "sh"), Seq("sh", "id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    cand.join(common, Seq("id_a", "id_b"), "left")
      .join(sizes.toDF("id_a", "sz_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sz_b"), Seq("id_b"))
      .withColumn("jaccard",
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("sz_a") + col("sz_b") - coalesce(col("common"), lit(0L))).cast("double"), 6))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental MinHash/LSH near-dup: dedup a NEW snapshot against an
    * already-banded OLD corpus without re-pairing the old corpus — the
    * production shape for a crawl pipeline where yesterday's (id, band)
    * table persists and today's increment is a fraction of the corpus.
    *
    * Work done: band rows for the NEW docs only; candidates are
    * old×new (one join against the persisted band table) plus new×new
    * (self-join within the increment) — the old corpus is NEVER
    * self-joined. Verification shingles are re-derived ONLY for candidate
    * docs (semi-join prune), so old-corpus text is touched proportionally
    * to the increment's collision rate, not the corpus size.
    *
    * Invariant (spec + `minhash_incremental` oracle): with `maxBucket`
    * counted over old∪new bands, the result set EQUALS the batch
    * [[minhashDuplicates]] over old∪new restricted to pairs touching a new
    * doc. `maxDf` is omitted deliberately: its df counts are a whole-corpus
    * statistic; an incremental caller should thread a persisted df table
    * instead of recomputing it from the pruned relation.
    *
    * A doc id present in BOTH snapshots (a re-crawl) never self-pairs, and
    * its verification text is the NEW snapshot's (latest wins); the
    * batch-equality invariant above assumes ids are disjoint across
    * snapshots, which the re-crawl case necessarily breaks for pairs
    * touching the re-crawled id.
    *
    * @param oldBands persisted (idCol, band) relation — [[minhashBandRows]]
    *                 output from the previous snapshot
    * @param oldDocs  the previous snapshot's (idCol, textCol) relation,
    *                 read only for candidate verification (pruned)
    * @param newBands the increment's band relation if the caller already
    *                 computed it (a job that persists bands as state should
    *                 band once and share) — must be [[minhashBandRows]]
    *                 output over `newDocs` with the same (n, k, bands)
    */
  def minhashIncrementalDuplicates(oldBands: DataFrame, oldDocs: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8, minJ: Double = 0.5,
      maxBucket: Int = 0, newBands: Option[DataFrame] = None): DataFrame = {
    val newBandsAll = newBands.getOrElse(
      minhashBandRows(newDocs, idCol, textCol, n, k, bands))
    val (ob, nb) = if (maxBucket <= 0) (oldBands, newBandsAll) else {
      // hot buckets counted over the UNION (same verdicts as a batch run)
      val hot = oldBands.select("band").unionAll(newBandsAll.select("band"))
        .groupBy("band").agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") > maxBucket).select("band")
      (oldBands.join(hot, Seq("band"), "left_anti")
          .select(oldBands.columns.map(col): _*),
        newBandsAll.join(hot, Seq("band"), "left_anti")
          .select(newBandsAll.columns.map(col): _*))
    }
    val nbP = graft.io.Persisted.track(
      nb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // old×new (band join against the persisted table) + new×new (increment
    // self-join); canonical (id_a < id_b) order regardless of snapshot
    val candON = ob.toDF("id_o", "band").join(nbP.toDF("id_n", "band"), Seq("band"))
      .filter(col("id_o") =!= col("id_n")) // a re-crawled id must not self-pair
      .select(least(col("id_o"), col("id_n")).as("id_a"),
        greatest(col("id_o"), col("id_n")).as("id_b"))
    val candNN = nbP.toDF("id_a", "band")
      .join(nbP.toDF("id_b", "band"), Seq("band"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b")
    val cand = graft.io.Persisted.track(candON.unionAll(candNN).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    cand.count() // materialize, then release the increment's band relation
    nbP.unpersist(blocking = false)
    // verify ONLY candidate docs: semi-join prune before shingling
    val neededIds = cand.select(col("id_a").as(idCol))
      .unionAll(cand.select(col("id_b").as(idCol))).distinct()
    // latest-wins on a re-crawled id: old text is dropped where the new
    // snapshot carries the same id (otherwise one id would verify with the
    // union of both texts' shingles)
    val docs = newDocs.select(col(idCol), col(textCol))
      .unionAll(oldDocs.select(col(idCol), col(textCol))
        .join(newDocs.select(col(idCol)), Seq(idCol), "left_anti"))
      .join(neededIds, Seq(idCol), "left_semi")
    val rows = graft.io.Persisted.track(
      shingleRows(docs, idCol, textCol, n, maxDf = 0).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = rows.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val common = cand
      .join(rows.toDF("id_a", "sh"), Seq("id_a"))
      .join(rows.toDF("id_b", "sh"), Seq("sh", "id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    cand.join(common, Seq("id_a", "id_b"), "left")
      .join(sizes.toDF("id_a", "sz_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sz_b"), Seq("id_b"))
      .withColumn("jaccard",
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("sz_a") + col("sz_b") - coalesce(col("common"), lit(0L))).cast("double"), 6))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------------------------------------------------------- SimHash ------
  /** 32-bit SimHash over word tokens: each token votes ±1 per bit of its
    * 32-bit hash; fingerprint bit b is 1 iff the vote sum is positive.
    * Pure column expressions (nested higher-order functions). */
  def simhash32Col(toks: Column): Column = {
    val votes = aggregate(toks,
      array_repeat(lit(0L), 32),
      (acc, t) => {
        val h = hash32(t)
        zip_with(acc, sequence(lit(0), lit(31)),
          (a, i) => a + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      })
    aggregate(zip_with(votes, sequence(lit(0), lit(31)),
      (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (s, x) => s + x)
  }

  def simhash32(text: String): Long = {
    val votes = Array.fill(32)(0L)
    tokens(text).foreach { t =>
      val h = hash32(t)
      var i = 0
      while (i < 32) {
        votes(i) += (if (((h >> i) & 1) == 1) 1L else -1L)
        i += 1
      }
    }
    (0 until 32).map(i => if (votes(i) > 0) 1L << i else 0L).sum
  }

  /** Hamming distance between two simhash fingerprints. */
  def hammingCol(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash near-dup pairs: fingerprints bucketed by their 4 bytes →
    * candidate join per band → Hamming verify. By pigeonhole, 4 bands over a
    * 32-bit fingerprint guarantee a shared band only for pairs with Hamming
    * distance <= 3 (4 differing bits can land one per band); hence
    * `maxHamming` is capped at 3. Larger radii need more/overlapping bands.
    *
    * `maxBucket` (default-off for oracle parity) drops band buckets holding
    * more than that many docs before the candidate self-join — the same
    * hot-band lever as [[minhashDuplicates]]. It matters more here: every
    * empty/near-empty doc fingerprints to 0, so at corpus scale one fp=0
    * band bucket degrades to O(bucket²) pairs without the cap. Pairs inside
    * a dropped bucket remain reachable through their other 3 bands (and a
    * whole dropped *fingerprint* group — e.g. the empty docs — is exact-dup
    * territory, caught upstream by [[exactDuplicates]], not LSH). */
  /** One row per (id, fp, band): the 4 byte-band keys of each SimHash
    * fingerprint — the banded relation [[simhashDuplicates]] self-joins. */
  def simhashBandRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashFingerprints(df, idCol, textCol).select(col(idCol), col("fp"),
      explode(transform(sequence(lit(0), lit(3)),
        b => concat(b.cast("string"), lit("|"),
          call_function("shiftright", col("fp"), b * 8).bitwiseAND(255).cast("string")))).as("band"))

  def simhashDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 0): DataFrame = {
    require(maxHamming <= 3,
      "4 byte-bands only guarantee recall for Hamming distance <= 3")
    val bandedAll = simhashBandRows(df, idCol, textCol)
    // persisted: the typed fingerprint scan feeds both sides of the
    // candidate self-join (plus the hot-band agg when capped). Caller
    // releases via Persisted.release / unpersistAfter (or clearCache) after
    // materializing (Verify/Bench do).
    val banded = graft.io.Persisted.track((if (maxBucket <= 0) bandedAll
    else {
      val hot = bandedAll.groupBy("band").agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") > maxBucket).select("band")
      bandedAll.join(hot, Seq("band"), "left_anti")
        .select(bandedAll.columns.map(col): _*)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    banded.select(col("band"), col(idCol).as("id_a"), col("fp").as("fp_a"))
      .join(banded.select(col("band"), col(idCol).as("id_b"), col("fp").as("fp_b")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b").distinct()
      .withColumn("hamming", hammingCol(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ----------------------------------------- clustering / canonical --------
  /** Connected components over an undirected near-dup pair graph — the
    * final stage of a dedup pipeline: pairs → clusters → keep one doc per
    * cluster. Iterative min-label propagation: every round each vertex
    * takes the min of its own label and its neighbors' labels; the
    * fixpoint labels every vertex with its component's minimum id,
    * regardless of execution order (deterministic). Converges in
    * O(component diameter) rounds — near-dup clusters are near-cliques, so
    * a handful suffice. Each round is one shuffle join plus one groupBy
    * min, both on the vertex key; nothing is collected or broadcast, so
    * the plan holds at corpus scale. The per-round convergence probe is a
    * `limit(1).count()` (first-changed-row early exit), and each round's
    * labels are persisted + the previous round's released, keeping the
    * lineage and cache bounded.
    *
    * Throws if not converged within `maxIters` — a partial labeling is not
    * a clustering; raise the cap instead (20 covers any real dup graph:
    * diameter > 20 means a 20-hop near-dup chain).
    *
    * Output: (id, cluster_id) for every vertex of `pairs`, with
    * cluster_id = min id of its component. */
  def connectedComponents(pairs: DataFrame, idACol: String, idBCol: String,
      maxIters: Int = 20): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val fwd = pairs.select(col(idACol).as("__src"), col(idBCol).as("__dst"))
    val sym = fwd.union(fwd.select(col("__dst").as("__src"), col("__src").as("__dst")))
    // symmetric edges plus a self-loop per id: one join then hands every id
    // its neighbors' labels AND its own, so a round references the previous
    // labels once. Two references per round (labels ∪ join(labels)) double
    // the plan tree every round — its explain string alone exhausted a 7 GB
    // heap on a 50-node graph.
    val edges = sym.union(sym.select(col("__src"), col("__src").as("__dst")))
      .distinct().persist(lvl)
    var labels = edges.select(col("__src").as("__id")).distinct()
      .withColumn("__lbl", col("__id")).persist(lvl)
    // the dataset actually holding this round's cache (labels may be a
    // projection of it after round 1 — unpersist must target the cached one)
    var cached = labels
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // the self-loop row carries the previous label, so min over it
      // recovers that label inside the same aggregation — the convergence
      // probe costs a filter on the already-shuffled result instead of a
      // separate join (halves the shuffles per round)
      // tracked at creation (not only on the success exit): if the loop
      // throws — non-convergence below, or a failed action — the caller's
      // Persisted.release can still reclaim this round's cache; rounds that
      // complete unpersist their predecessor, and the registry prunes those
      // dead entries on the next track
      val next = graft.io.Persisted.track(
        edges.join(labels.select(col("__id").as("__src"), col("__lbl")), Seq("__src"))
          .groupBy(col("__dst").as("__id"))
          .agg(min("__lbl").as("__lbl"),
            min(when(col("__src") === col("__dst"), col("__lbl"))).as("__old"))
          .persist(lvl))
      converged = next.filter(col("__lbl") =!= col("__old")).limit(1).count() == 0
      cached.unpersist()
      cached = next
      labels = next.select(col("__id"), col("__lbl"))
      it += 1
    }
    edges.unpersist()
    require(converged, s"connectedComponents: not converged after $maxIters rounds")
    // labels stays persisted for the caller's action (same contract as the
    // LSH operators: release via Persisted.release / unpersistAfter, or a
    // blanket clearCache, after materializing); already tracked at persist
    // time inside the loop
    labels.select(col("__id").as("id"), col("__lbl").as("cluster_id"))
  }

  /** Alternating-algorithm connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the LONG-DIAMETER
    * scale twin of [[connectedComponents]]. Min-label propagation needs
    * O(component diameter) rounds: right for near-dup clusters (near-
    * cliques), wrong for chain-shaped graphs — a 10⁶-hop dup chain (e.g.
    * overlapping-shingle chains from crawl snapshots) would need 10⁶
    * shuffles. Alternating large-star/small-star rounds contract every
    * component onto its minimum node in O(log² n) rounds REGARDLESS of
    * diameter:
    *
    *  - large-star: every node links its strictly-larger neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node links its smaller-or-equal neighbors (and
    *    itself) to that minimum.
    *
    * Both are one groupBy(min) + one self-join on the node key — partial
    * aggregation map-side, nothing collected or broadcast — and the edge
    * set only ever shrinks toward the star forest whose centers are the
    * component minima. The convergence probe is one full-outer join on the
    * (deduped) edge set with a `limit(1)` early exit. Each round persists
    * its edge set and releases the previous one ([[graft.io.Persisted]]
    * contract), keeping lineage and cache bounded.
    *
    * Output contract identical to [[connectedComponents]]: (id, cluster_id
    * = component min) for every distinct id appearing in `pairs` —
    * self-paired ids label themselves. Throws if not converged within
    * `maxIters` (a partial contraction is not a clustering). */
  def connectedComponentsAlternating(pairs: DataFrame, idACol: String,
      idBCol: String, maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // large-star: sym-neighborhood min; emit (v, min(N⁺(u))) for v > u
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(
        e.select(col("__dst").as("__src"), col("__src").as("__dst")))
      val mn = sym.groupBy("__src").agg(min("__dst").as("__mn"))
      sym.join(mn, "__src")
        .filter(col("__dst") > col("__src"))
        .select(col("__dst").as("__src"),
          least(col("__mn"), col("__src")).as("__dst"))
        .distinct()
    }

    // small-star: orient toward the larger endpoint; every node of the
    // closed ≤-neighborhood except the min links to the min
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("__src"), col("__dst")).as("__src"),
        least(col("__src"), col("__dst")).as("__dst"))
      val mn = or.groupBy("__src").agg(min("__dst").as("__mn"))
      or.join(mn, "__src")
        .select(col("__dst").as("__v"), col("__mn"))
        .union(mn.select(col("__src").as("__v"), col("__mn")))
        .filter(col("__v") =!= col("__mn"))
        .select(col("__v").as("__src"), col("__mn").as("__dst"))
        .distinct()
    }

    val raw = pairs.select(col(idACol).as("__src"), col(idBCol).as("__dst"))
    val nodes = graft.io.Persisted.track(
      raw.select(col("__src").as("__id"))
        .union(raw.select(col("__dst").as("__id"))).distinct().persist(lvl))
    // each star round references the previous edge set ~4 times (sym view +
    // its min join), so bare persist leaves an exponentially self-similar
    // logical plan — localCheckpoint TRUNCATES the lineage per round
    // (persist alone only caches data; the analyzer still re-walks the full
    // tree). Eager, so the round materializes here and the probe below is
    // a cheap scan of two cached sets. Blocks are dropped by unpersist()
    // each round; min-label [[connectedComponents]] doesn't need this
    // because it references `labels` only once per round (linear growth).
    var edges = raw.filter(col("__src") =!= col("__dst"))
      .select(greatest(col("__src"), col("__dst")).as("__src"),
        least(col("__src"), col("__dst")).as("__dst"))
      .distinct().localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // exact fixpoint probe: both sides are distinct edge sets, so one
      // unmatched row in either direction means the round changed something
      converged = edges.withColumn("__a", lit(1))
        .join(next.withColumn("__b", lit(1)), Seq("__src", "__dst"), "full_outer")
        .filter(col("__a").isNull || col("__b").isNull)
        .limit(1).count() == 0
      edges.unpersist()
      edges = next
      it += 1
    }
    require(converged,
      s"connectedComponentsAlternating: not converged after $maxIters rounds")
    // converged edge set is a star forest (src > dst, dst = component min):
    // leaves label via their edge, centers + edge-free ids label themselves
    val leaf = edges.select(col("__src").as("__id"), col("__dst").as("__lbl"))
    nodes.join(leaf, Seq("__id"), "left")
      .select(col("__id").as("id"),
        coalesce(col("__lbl"), col("__id")).as("cluster_id"))
  }

  // ---------------------------------------------------- line dedup ---------
  /** Line-level dedup (CCNet/RefinedWeb-style): strip lines whose
    * normalized form repeats more than `maxOccurrences` times across the
    * whole corpus — the standard pass that removes nav bars, cookie
    * banners, and footer chrome that doc-level dedup can't see, while
    * keeping each document's unique body.
    *
    * Plan: posexplode to (doc, line_idx, line) is narrow; the hot-line
    * inventory is one count shuffle on the line hash, and is small by
    * construction (only lines repeated corpus-wide), so AQE broadcasts the
    * membership probe at runtime; reassembly is one groupBy on the doc id
    * with a per-doc-bounded collect_list. Matching uses the fingerprint
    * normalization (trim, case-fold, whitespace collapse); the emitted
    * text keeps the original lines verbatim, in original order.
    *
    * Output: (id, n_lines, n_removed, clean_text). */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      maxOccurrences: Long): DataFrame = {
    require(maxOccurrences >= 1, s"maxOccurrences must be >= 1, got $maxOccurrences")
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
      .withColumn("lh", fingerprintCol(col("line")))
    val hot = lines.groupBy("lh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOccurrences)
      .select(col("lh"), lit(true).as("__hot"))
    lines.join(hot, Seq("lh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__hot"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__hot").isNull, struct(col("line_idx"), col("line"))))),
            _.getField("line")),
          "\n").as("clean_text"))
  }

  /** Pure twin of [[dedupLines]] for spec cross-checking:
    * (id, nLines, nRemoved, cleanText) per doc. */
  def dedupLinesPure(docs: Seq[(Long, String)], maxOccurrences: Long): Seq[(Long, Long, Long, String)] = {
    val norm: String => String = l => l.trim.toLowerCase.replaceAll("\\s+", " ")
    val occ = docs.flatMap(_._2.split("\n", -1)).groupBy(norm).map { case (k, v) => k -> v.size }
    docs.map { case (id, t) =>
      val ls = t.split("\n", -1).toSeq
      val kept = ls.filter(l => occ(norm(l)) <= maxOccurrences)
      (id, ls.size.toLong, (ls.size - kept.size).toLong, kept.mkString("\n"))
    }
  }

  // --------------------------------------- exact substring (span) dedup ----
  /** Exact substring dedup at k-token granularity — the span-level pass (à
    * la "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022) that doc-level AND line-level dedup both miss: a boilerplate
    * paragraph pasted mid-document into thousands of otherwise-unique pages.
    *
    * A token span is duplicated when its k-gram occurs more than
    * `maxOccurrences` times corpus-wide. Every occurrence of a duplicated
    * k-gram is stripped EXCEPT one canonical copy — the occurrence with the
    * smallest (md5(id), id, pos), the engine's standard RNG-free draw — so
    * the corpus keeps exactly one copy of each duplicated span (per-k-gram;
    * overlapping duplicated k-grams strip as the union of their windows).
    * Tokens are [[graft.text.TextAnalysis.tokensCol]] words; the emitted
    * text is the kept tokens space-joined in original order.
    *
    * Plan: posexplode + a per-doc lead window build the k-grams (narrow +
    * per-doc-bounded sort); ONE groupBy on the 60-bit k-gram hash with
    * map-side partial agg computes (occurrence count, canonical occurrence)
    * — a viral k-gram combines per-partition instead of sorting a hot
    * window partition; duplicated starts explode into ≤k covered positions
    * each; reassembly is one groupBy on the doc id. Nothing is ever
    * all-pairs and no relation is collected.
    *
    * Output: one row per input doc — (id, n_tokens, n_removed, clean_text). */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, maxOccurrences: Long = 1): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(maxOccurrences >= 1, s"maxOccurrences must be >= 1, got $maxOccurrences")
    val toks = df
      .select(col(idCol), posexplode(tokensCol(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val kg = toks
      .withColumn("kgram", concat_ws(" ",
        col("tok") +: (1 until k).map(i => lead("tok", i).over(w)): _*))
      // concat_ws skips nulls, so a tail window short of k tokens yields a
      // shorter string — valid k-grams are exactly those whose last lead
      // still lands inside the doc (materialized as a column: window
      // expressions are not allowed directly in a filter)
      .withColumn("__last", lead("tok", k - 1).over(w))
      .filter(col("__last").isNotNull)
      .select(col(idCol), col("pos"), hash60(col("kgram")).as("kh"))
    // the k-gram relation feeds both the occurrence agg and the start join
    // — persist it so the per-doc window runs once, not per branch (same
    // caller-release contract as the LSH operators: Persisted.release /
    // unpersistAfter after materializing)
    val kgShared = graft.io.Persisted.track(
      kg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dup = kgShared.groupBy("kh")
      .agg(count(lit(1)).as("occ"),
        min(struct(md5(col(idCol).cast("string")), col(idCol), col("pos")))
          .as("keeper"))
      .filter(col("occ") > maxOccurrences)
      .select("kh", "keeper")
    val starts = kgShared.join(dup, Seq("kh"))
      .filter(!(col("keeper").getField(idCol) === col(idCol) &&
        col("keeper").getField("pos") === col("pos")))
    val covered = starts
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
      .withColumn("__cov", lit(true))
    val assembled = toks.join(covered, Seq(idCol, "pos"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__cov"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__cov").isNull, struct(col("pos"), col("tok"))))),
            _.getField("tok")),
          " ").as("clean_text"))
    // token-less docs vanish at the posexplode — restore them so the
    // output keeps the one-row-per-doc contract
    df.select(col(idCol)).join(assembled, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("n_removed", coalesce(col("n_removed"), lit(0L)))
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }

  /** Per-document k-gram novelty — the memorization/contamination risk
    * signal: what fraction of a document's k-token spans appear in ANY other
    * document? Docs full of shared spans (mirrors, templated pages, quoted
    * benchmarks) score low and are the ones worth stripping or down-weighting
    * before training; [[dedupSubstrings]] is the surgical fix, this is the
    * cheap corpus-wide triage that decides where to aim it.
    *
    * A k-gram is shared when it occurs in MORE THAN ONE distinct document —
    * in-doc repetition alone stays novel (that is repetition, Gopher's job,
    * not cross-doc duplication). Same tokenizer, k-gram window, and 60-bit
    * hash as [[dedupSubstrings]] so the two signals agree on what a span is.
    *
    * Plan: per-doc-bounded k-gram window, one distinct + one partial-agg
    * groupBy on the k-gram hash, one join back, one per-doc groupBy — all
    * bounded keys, nothing all-pairs. Output: (id, n_kgrams, n_shared,
    * novelty_milli) with novelty in integer milli units (1000 = fully
    * novel; short docs with no k-grams score 1000). */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = df
      .select(col(idCol), posexplode(tokensCol(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val kg = toks
      .withColumn("kgram", concat_ws(" ",
        col("tok") +: (1 until k).map(i => lead("tok", i).over(w)): _*))
      .withColumn("__last", lead("tok", k - 1).over(w))
      .filter(col("__last").isNotNull)
      .select(col(idCol), hash60(col("kgram")).as("kh"))
    val kgShared = graft.io.Persisted.track(
      kg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val docsPerKh = kgShared.select(col(idCol), col("kh")).distinct()
      .groupBy("kh").agg(count(lit(1)).as("__n_docs"))
    val scored = kgShared.join(docsPerKh, Seq("kh"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_kgrams"),
        sum(when(col("__n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .withColumn("n_kgrams", coalesce(col("n_kgrams"), lit(0L)))
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("novelty_milli",
        when(col("n_kgrams") === 0, lit(1000L))
          .otherwise(expr("(1000 * (n_kgrams - n_shared)) div n_kgrams")))
  }

  /** Pure twin of [[noveltyScore]] for spec cross-checking. */
  def noveltyScorePure(docs: Seq[(Long, String)],
      k: Int): Seq[(Long, Long, Long, Long)] = {
    val kgrams = docs.map { case (id, text) =>
      val t = graft.text.TextAnalysis.tokens(text)
      id -> t.sliding(k).filter(_.size == k).map(g =>
        graft.text.TextAnalysis.hash60(g.mkString(" "))).toSeq
    }
    val docsPerKh = kgrams.flatMap { case (id, ks) => ks.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    kgrams.map { case (id, ks) =>
      val n = ks.size.toLong
      val s = ks.count(kh => docsPerKh(kh) > 1).toLong
      (id, n, s, if (n == 0) 1000L else Math.floorDiv(1000L * (n - s), n))
    }
  }

  /** Pure twin of [[dedupSubstrings]] for spec cross-checking:
    * (id, nTokens, nRemoved, cleanText) per doc. Same 60-bit k-gram hash
    * grouping as the DataFrame form so the two agree bit-for-bit even on a
    * (vanishingly unlikely) hash collision. */
  def dedupSubstringsPure(docs: Seq[(Long, String)], k: Int,
      maxOccurrences: Long): Seq[(Long, Long, Long, String)] = {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val toks = docs.map { case (id, t) => id -> graft.text.TextAnalysis.tokens(t) }
    val occs = for {
      (id, ts) <- toks
      p <- 0 to ts.size - k
    } yield (hash60(ts.slice(p, p + k).mkString(" ")), id, p)
    val removed: Set[(Long, Int)] = occs.groupBy(_._1).values
      .filter(_.size > maxOccurrences)
      .flatMap { os =>
        val keeper = os.minBy { case (_, id, p) => (md5hex(id.toString), id, p) }
        os.filterNot(_ == keeper)
          .flatMap { case (_, id, p) => (p until p + k).map(id -> _) }
      }.toSet
    toks.map { case (id, ts) =>
      val kept = ts.zipWithIndex.filterNot { case (_, p) => removed(id -> p) }
      (id, ts.size.toLong, (ts.size - kept.size).toLong, kept.map(_._1).mkString(" "))
    }
  }

  // ------------------------------------------------ decontamination --------
  /** Benchmark decontamination: per-corpus-doc overlap of its word n-gram
    * shingles against a benchmark/eval set's shingle inventory — the
    * training-data hygiene step that keeps evaluation prompts out of a
    * pretraining corpus (n-gram overlap flagging à la the published
    * GPT-3/Llama decontamination procedures).
    *
    * Plan shape: the corpus side is one narrow typed scan
    * ([[shingleRows]]); the benchmark inventory is distinct-reduced to
    * 60-bit hashes and — eval suites being small by construction —
    * broadcast by default, so the corpus never shuffles for the overlap
    * probe and the whole job is scan + broadcast-join + one groupBy on the
    * doc id. Pass `broadcastBench = false` for a benchmark too big for
    * executor memory: the probe becomes a plain shuffle join on the
    * shingle hash. Docs with fewer than n tokens have no shingles and are
    * trivially clean (n_shingles = 0, ratio 0).
    *
    * Output: one row per corpus doc —
    * (id, n_shingles, n_hits, overlap_ratio, is_contaminated). */
  def contamination(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int,
      minOverlap: Double, broadcastBench: Boolean = true): DataFrame = {
    val corpusSh = shingleRows(corpus, idCol, textCol, n)
    // benchmark doc identity is irrelevant — only the distinct inventory
    val benchSh = shingleRows(
      benchmark.select(col(benchTextCol)).withColumn("__bid", lit(0L)),
      "__bid", benchTextCol, n)
      .select(col("sh")).distinct()
    val probe = (if (broadcastBench) broadcast(benchSh) else benchSh)
      .withColumn("__hit", lit(1L))
    val perDoc = corpusSh
      .join(probe, Seq("sh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_shingles", coalesce(col("n_shingles"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("overlap_ratio",
        when(col("n_shingles") === 0, lit(0.0)).otherwise(
          round(col("n_hits").cast("double") / col("n_shingles").cast("double"), 6)))
      .withColumn("is_contaminated", col("overlap_ratio") >= minOverlap)
  }

  /** Deduplicated-corpus view: every doc tagged with its near-dup cluster
    * and whether it is the cluster's canonical (minimum-id) representative.
    * Docs in no pair are their own singleton cluster. Downstream keeps
    * `is_canonical` rows to drop near-duplicates while retaining exactly
    * one representative per cluster. One left join on the id — the
    * component computation's shuffles dominate. */
  def canonicalize(docs: DataFrame, idCol: String, pairs: DataFrame,
      idACol: String = "id_a", idBCol: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    val cc = connectedComponents(pairs, idACol, idBCol, maxIters)
      .select(col("id").as(idCol), col("cluster_id"))
    docs.join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("is_canonical", col("cluster_id") === col(idCol))
  }

  /** [[canonicalize]] with a QUALITY survivor policy: the canonical doc of
    * each duplicate cluster is the one with the highest `scoreCol` (ties →
    * smallest id), not the smallest id — the production rule when
    * duplicates differ in quality (keep the longest / cleanest / highest-
    * classifier copy, drop the rest). Costs one extra hash exchange on
    * cluster_id + an in-partition sort over cluster members (bounded by
    * cluster size); singletons are their own canonical. */
  def canonicalizeByScore(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, idACol: String = "id_a", idBCol: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    val cc = connectedComponents(pairs, idACol, idBCol, maxIters)
      .select(col("id").as(idCol), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol))
    docs.join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("is_canonical", row_number().over(w) === 1)
  }

  // --------------------------------------------------- b-bit minhash -------
  /** b-bit minwise hashing (Li & König 2010, "b-Bit Minwise Hashing"):
    * store only the LOWEST b bits of each of the k minhash components —
    * 64/b× less signature storage (the store-everything dial at 100 TB:
    * k=64, b=2 is 16 bytes/doc instead of 512) — and correct the
    * estimator for accidental b-bit collisions:
    *
    *   Ĵ = (P_b − 2⁻ᵇ) / (1 − 2⁻ᵇ),  P_b = matching components / k
    *
    * in exact integer milli: est = max(0, 1000·(m·2ᵇ − k) div (k·(2ᵇ−1))).
    *
    * [[bbitMinhashPairs]] demonstrates the full path: typed signatures →
    * b-bit compression (pmod — hash60 values are non-negative, so mod
    * equals the bit mask) → candidate pairs bucketed on the FIRST
    * compressed component (never all-pairs; `maxBucket` caps a hot
    * bucket) → both the b-bit and the full-width estimates side by side.
    * Output: (id_a, id_b, m_bbit, est_milli, m_full, est_full_milli). */
  def bbitMinhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 4, b: Int = 8, maxBucket: Int = 0): DataFrame = {
    require(b >= 1 && b <= 32, s"b must be in [1,32]: $b")
    require(k >= 1, s"k must be >= 1: $k")
    val mod = 1L << b
    val sig = minhashSignaturesTyped(df, idCol, textCol, n, k)
      .withColumn("__bb", transform(col("sig"), x => pmod(x, lit(mod))))
    val keyed = sig.withColumn("__key", element_at(col("__bb"), 1))
    val capped =
      if (maxBucket <= 0) keyed
      else {
        val hot = keyed.groupBy("__key").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucket).select("__key")
        keyed.join(hot, Seq("__key"), "left_anti")
      }
    val a = capped.select(col("__key"), col(idCol).as("id_a"),
      col("__bb").as("__ba"), col("sig").as("__sa"))
    val bside = capped.select(col("__key"), col(idCol).as("id_b"),
      col("__bb").as("__xb"), col("sig").as("__sb"))
    def matches(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (p, q) => when(p === q, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    a.join(bside, Seq("__key")).filter(col("id_a") < col("id_b"))
      .withColumn("m_bbit", matches(col("__ba"), col("__xb")))
      .withColumn("m_full", matches(col("__sa"), col("__sb")))
      .withColumn("est_milli", greatest(lit(0L),
        expr(s"(1000 * (m_bbit * $mod - $k)) div (${k}L * ${mod - 1}L)")))
      .withColumn("est_full_milli", expr(s"(1000 * m_full) div $k"))
      .select("id_a", "id_b", "m_bbit", "est_milli", "m_full",
        "est_full_milli")
  }

  /** Pure twin of the b-bit estimator. */
  def bbitEstimateMilli(m: Long, k: Int, b: Int): Long = {
    val mod = 1L << b
    math.max(0L, 1000L * (m * mod - k) / (k * (mod - 1)))
  }

  // ----------------------------------------------- IDF-weighted SimHash ----
  /** IDF-weighted SimHash — Charikar fingerprints with the term weights
    * the production deployments use (Manku et al. 2007 weight features;
    * uniform votes let boilerplate stopwords dominate the fingerprint):
    * every token occurrence votes ±idf on each of the 32 bits, with
    * idf = lnMicro(N_docs) − lnMicro(df_token) in exact integer
    * micro-nats — a token present in EVERY document weighs exactly 0 and
    * cannot move a bit, so fingerprints concentrate on distinctive
    * content.
    *
    * Shape at scale: one distinct (doc, token) projection → a
    * vocab-bounded df table; the weighted votes join on the token key and
    * aggregate per doc with 32 conditional sums (ONE partial-agg
    * groupBy). Output: (idCol, fp) with fp = 0 for tokenless docs —
    * the [[simhashFingerprints]] convention. */
  def simhashIdfFingerprints(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lnM = (c: Column) => round(log(c.cast("double")) * 1e6).cast("long")
    val tk = df.select(col(idCol),
      explode(graft.text.TextAnalysis.tokensCol(col(textCol))).as("w"))
    val dfT = tk.select(col(idCol), col("w")).distinct()
      .groupBy("w").agg(count(lit(1)).as("__df"))
    val nd = df.agg(countDistinct(col(idCol)).as("__n"))
    val h = graft.text.TextAnalysis.hash32(col("w"))
    val wt = tk.join(dfT, "w").join(broadcast(nd))
      .withColumn("__wt", lnM(col("__n")) - lnM(col("__df")))
    val sums = (0 until 32).map(i =>
      sum(when(shiftright(h, i).bitwiseAND(1) === 1, col("__wt"))
        .otherwise(-col("__wt"))).as(s"__b$i"))
    val fps = wt.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .withColumn("fp", (0 until 32).map(i =>
        when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _))
      .select(col(idCol), col("fp"))
    df.select(col(idCol)).join(fps, Seq(idCol), "left")
      .withColumn("fp", coalesce(col("fp"), lit(0L)))
  }

  /** Pure twin of [[simhashIdfFingerprints]]. */
  def simhashIdfPure(corpus: Seq[(Long, String)]): Map[Long, Long] = {
    def lnM(x: Long) = Math.round(Math.log(x.toDouble) * 1e6)
    val toks = corpus.map { case (id, t) =>
      id -> graft.text.TextAnalysis.tokens(t) }
    val dfc = toks.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size.toLong }
    val n = corpus.map(_._1).distinct.size.toLong
    toks.map { case (id, ts) =>
      val votes = Array.fill(32)(0L)
      for (w <- ts) {
        val wt = lnM(n) - lnM(dfc(w))
        val h = graft.text.TextAnalysis.hash32(w)
        var i = 0
        while (i < 32) {
          if (((h >> i) & 1L) == 1L) votes(i) += wt else votes(i) -= wt
          i += 1
        }
      }
      id -> (0 until 32).map(i => if (votes(i) > 0) 1L << i else 0L).sum
    }.toMap
  }
}
