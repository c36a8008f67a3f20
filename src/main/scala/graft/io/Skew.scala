package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling levers for the giant-document / hot-key cases the north
  * rule calls out. AQE (enabled by every entry point) re-plans skewed
  * shuffle joins at runtime; these helpers handle the cases AQE cannot see:
  *
  *  - hot keys in joins → deterministic salting (explode the small side over
  *    the salt domain, spread the big side's hot-key rows across salts);
  *  - giant documents skewing the narrow extraction stage → size-aware
  *    rebalance so tasks see comparable byte budgets regardless of input
  *    layout.
  */
object Skew {

  /** Deterministic salt in [0, n) from the given columns (no randomness —
    * reruns and resumes stay reproducible). */
  def saltCol(n: Int, cols: Column*): Column =
    pmod(hash(cols: _*), lit(n))

  /** Salt a skewed join: the big side's rows of one hot key spread over `n`
    * salts (derived from a discriminator column — e.g. a row id or offset —
    * so rows of the SAME key land on different salts); the small side is
    * exploded over the full salt domain. Join on (keys :+ salt). One hot
    * partition becomes `n` balanced ones at the cost of replicating the
    * small side n-fold. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      discriminator: Column, n: Int, joinType: String = "inner"): DataFrame = {
    val bigSalted = big.withColumn("__salt", saltCol(n, discriminator))
    val smallExploded = small.withColumn("__salt",
      explode(sequence(lit(0), lit(n - 1))))
    bigSalted.join(smallExploded, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Size-aware rebalance for per-row heavy stages: partition by
    * hash(size-magnitude, row discriminator) so giant rows scatter across
    * partitions instead of clustering by input order. No global sort — this
    * stays a single shuffle and survives any scale.
    *
    * The key is hashed once, by the exchange itself. Hashing a precomputed
    * `pmod(hash(…), n)` again would map the n small integers onto far fewer
    * than n partitions (for n = 4, Murmur3 sends 0..3 to {3, 3, 2, 3}). */
  def rebalanceBySize(df: DataFrame, sizeExpr: Column, discriminator: Column,
      partitions: Int): DataFrame =
    df.repartition(partitions, ceil(log2(greatest(sizeExpr, lit(1)))), discriminator)

  /** Key-skew DIAGNOSIS — the report run BEFORE deciding whether a join or
    * groupBy needs the levers above (salting, AQE hints, a hot-key cap).
    * One row:
    *
    *   - `n_rows`, `n_keys`      volume and key cardinality
    *   - `max_rows`, `top_key`   the heaviest key (ties → smallest key)
    *   - `p50_rows`, `p99_rows`  per-key row-count percentiles (exact,
    *                             ceil-rank over the ascending count order)
    *   - `skew_milli`            1000·max/avg = `(1000·max·n_keys) div
    *                             n_rows` — 1000 is perfectly uniform
    *
    * All integer arithmetic — replays bit-identically in any engine. Plan:
    * ONE partial-agg groupBy over the corpus, then a rank window over the
    * |keys|-row count relation (the window sorts key COUNTS, not corpus
    * rows — fine to many millions of keys; the corpus is scanned once). */
  def keySkew(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val cnts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
        .as("key"), col("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt"), col("key"))
    val ranked = cnts.withColumn("rn", row_number().over(w))
    val summary = ranked.agg(
      sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
      max("cnt").as("max_rows"))
    val withTotals = ranked.crossJoin(broadcast(summary))
    val p50 = withTotals
      .filter(col("rn") === expr("(n_keys * 50 + 99) div 100"))
      .select(col("cnt").as("p50_rows"))
    val p99 = withTotals
      .filter(col("rn") === expr("(n_keys * 99 + 99) div 100"))
      .select(col("cnt").as("p99_rows"))
    val top = withTotals.filter(col("cnt") === col("max_rows"))
      .agg(min("key").as("top_key"))
    summary.crossJoin(broadcast(p50)).crossJoin(broadcast(p99))
      .crossJoin(broadcast(top))
      .select(col("n_rows"), col("n_keys"), col("max_rows"),
        col("p50_rows"), col("p99_rows"),
        expr("(1000 * max_rows * n_keys) div n_rows").as("skew_milli"),
        col("top_key"))
  }

  /** Pure twin of [[keySkew]] over an in-memory key list. */
  def keySkewPure(keys: Seq[String]): (Long, Long, Long, Long, Long, Long, String) = {
    require(keys.nonEmpty, "need at least one row")
    val cnts = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val asc = cnts.toSeq.sortBy { case (k, c) => (c, k) }
    val (nRows, nKeys) = (keys.length.toLong, asc.length.toLong)
    val maxRows = asc.map(_._2).max
    def atCeil(pct: Long) = asc(((nKeys * pct + 99) / 100 - 1).toInt)._2
    val topKey = asc.filter(_._2 == maxRows).map(_._1).min
    (nRows, nKeys, maxRows, atCeil(50), atCeil(99),
      1000L * maxRows * nKeys / nRows, topKey)
  }
}
