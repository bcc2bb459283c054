package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Independent truth for the CSV ingestion fixture (same rationale as
  * JsonlFixtureSpec: the gate's two engines read one shared file). */
class CsvFixtureSpec extends SparkSpec {

  import spark.implicits._

  private lazy val df = spark.read
    .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    .option("header", "true").option("multiLine", "true")
    .option("escape", "\"")
    .csv(graft.Fixtures.path("docs_sample.csv"))

  test("dialect landmines parse exactly") {
    assert(df.count() == 12L)
    val text = df.as[(Option[Long], String, Option[String], String, Long)]
      .collect().flatMap(r => r._1.map(_ -> r._2)).toMap
    // doubled quotes decode to one quote
    assert(text(3L) == "doubled \"quotes\" inside")
    // embedded newline inside a quoted field survives (multiLine)
    assert(text(4L) == "embedded\nnewline row")
    // both tricks in one field
    assert(text(12L) == "quoted, with \"both\" tricks\nand a newline")
    // quoted whitespace is preserved verbatim
    assert(text(10L) == "  leading and trailing  ")
    // empty unquoted field is null, not ""
    assert(df.filter(col("doc_id") === 8L && col("text").isNull).count() == 1L)
    // i64 beyond double precision
    assert(df.filter(col("doc_id") === 9007199254740993L).count() == 1L)
  }
}
