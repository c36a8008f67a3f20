package graft.io

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SkewSpec extends SparkTestBase {
  import spark.implicits._

  test("salted join equals plain join and spreads the hot key") {
    // 1 hot key (90% of rows) + tail
    val big = (0 until 2000).map(i => (if (i < 1800) "hot" else s"k$i", i.toLong))
      .toDF("k", "v")
    val small = Seq(("hot", 1L), ("k1900", 2L)).toDF("k", "w")
    val plain = big.join(small, Seq("k")).select("k", "v", "w")
      .as[(String, Long, Long)].collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), col("v"), n = 8)
      .select("k", "v", "w").as[(String, Long, Long)].collect().toSet
    assert(salted == plain)
    // the hot key's big-side rows actually use multiple salts
    val salts = big.filter(col("k") === "hot")
      .select(Skew.saltCol(8, col("v"))).distinct().count()
    assert(salts > 4)
  }

  test("size rebalance spreads giant rows across partitions") {
    // 8 giant docs clustered at the head of one partition + 792 small
    val df = (0 until 800).map(i => (i.toLong, if (i < 8) 500000 else 100))
      .toDF("id", "sz").repartition(1)
    val rebalanced = Skew.rebalanceBySize(df, col("sz"), col("id"), 8)
    val dist = rebalanced.groupBy(spark_partition_id().as("p"))
      .agg(sum(when(col("sz") > 1000, 1).otherwise(0)).as("giants"))
      .select("giants").as[Long].collect()
    assert(dist.max <= 4, s"giants clustered: ${dist.toSeq}") // spread, not all in one task
    assert(rebalanced.count() == 800)
  }

  test("size rebalance fills every partition evenly") {
    for (n <- Seq(4, 8, 32)) {
      val rows = 100 * n
      // sizes over seven magnitudes: the key mixes the size bucket and the id
      val df = (0 until rows).map(i => (s"doc_$i", 1 << (i % 7))).toDF("id", "sz")
        .repartition(1)
      val perPart = Skew.rebalanceBySize(df, col("sz"), col("id"), n)
        .rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(perPart.length == n && perPart.sum == rows)
      assert(perPart.min > 0, s"n=$n: empty partitions in ${perPart.toSeq}")
      assert(perPart.max <= 2 * perPart.min, s"n=$n: uneven ${perPart.toSeq}")
    }
  }

  private def runSkew(keys: Seq[String]) =
    Skew.keySkew(keys.map(k => (k, 1)).toDF("k", "v"), Seq("k"))
      .as[(Long, Long, Long, Long, Long, Long, String)].collect().head

  test("keySkew: uniform keys report skew_milli = 1000") {
    assert(runSkew(Seq("a", "a", "b", "b", "c", "c", "d", "d")) ==
      ((8L, 4L, 2L, 2L, 2L, 1000L, "a")))
  }

  test("keySkew: one hot key dominates; max tie falls to smallest key") {
    val keys = Seq.fill(90)("hot") ++ (1 to 10).map(i => s"k$i")
    val got = runSkew(keys)
    assert(got._1 == 100L && got._2 == 11L && got._3 == 90L)
    assert(got._6 == 1000L * 90 * 11 / 100)
    assert(got._7 == "hot" && got._4 == 1L && got._5 == 90L)
    val tied = runSkew(Seq("z", "z", "z", "b", "b", "b", "a"))
    assert(tied._3 == 3L && tied._7 == "b")
  }

  test("keySkew: DF ≡ pure twin on random keys; partitioning invariant") {
    val rnd = new scala.util.Random(41)
    val keys = Seq.fill(500)(s"k${rnd.nextInt(37)}")
    val want = Skew.keySkewPure(keys)
    assert(runSkew(keys) == want)
    val got2 = Skew.keySkew(
      keys.map(k => (k, 1)).toDF("k", "v").repartition(11), Seq("k"))
      .as[(Long, Long, Long, Long, Long, Long, String)].collect().head
    assert(got2 == want)
  }
}
