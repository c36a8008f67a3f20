package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import java.nio.file.Files

class VerifySpec extends SparkTestBase {

  test("a failed query leaves no output, not an earlier run's, and is reported") {
    val out = Files.createTempDirectory("verify")
    // output of an earlier run, for a query that now fails and one that works
    spark.range(3).write.parquet(s"$out/broken")
    spark.range(1).write.parquet(s"$out/fine")
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "fine" -> ((s, _) => s.range(5).toDF("id")),
      "broken" -> ((_, _) => throw new IllegalStateException("boom")))

    Verify.dump(spark, queries, "unused", out.toString)

    assert(!Files.exists(out.resolve("broken")))
    assert(spark.read.parquet(s"$out/fine").count() == 5)
    implicit val formats: Formats = DefaultFormats
    val status = parse(Files.readString(out.resolve("verify_status.json")))
    assert((status \ "fine" \ "ok").extract[Boolean])
    assert((status \ "fine" \ "rows").extract[Long] == 5)
    assert((status \ "fine" \ "error") == JNull)
    assert(!(status \ "broken" \ "ok").extract[Boolean])
    assert((status \ "broken" \ "error").extract[String] == "boom")
    assert((status \ "broken" \ "rows") == JNull)
    assert((status \ "broken" \ "wall_ms").extract[Long] >= 0)
  }
}
