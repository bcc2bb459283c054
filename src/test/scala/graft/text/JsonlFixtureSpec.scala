package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Independent truth for the JSONL ingestion fixture: the gate
  * (q_jsonl_ingest) proves Spark and DuckDB parse the SAME bytes the
  * same way, but both sides read the one committed file — a fixture
  * edit would shift both in lockstep. This spec pins the landmine
  * rows by value.
  */
class JsonlFixtureSpec extends SparkSpec {

  import spark.implicits._

  private lazy val df = spark.read
    .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    .json(graft.Fixtures.path("docs_sample.jsonl"))

  test("row count and the landmine rows parse exactly") {
    assert(df.count() == 20L)
    // i64 beyond double precision survives (a float-pathed parser
    // would land on 9007199254740992)
    assert(df.filter(col("doc_id") === 9007199254740993L).count() == 1L)
    val byId = df.as[(Option[Long], String, Option[String], String, Long)]
      .collect().flatMap(r => r._1.map(_ -> r)).toMap
    // null vs MISSING lang both surface as null under the pinned schema
    assert(byId(10L)._3.isEmpty && byId(11L)._3.isEmpty)
    // escapes decode: quote, backslash, newline, tab
    assert(byId(7L)._2 == "escaped \"quotes\" and back\\slash")
    assert(byId(8L)._2 == "line one\nline two\ttabbed")
    // unicode: emoji counts as one code point in length()
    val emojiLen = df.filter(col("doc_id") === 6L)
      .select(length(col("text"))).head().getInt(0)
    assert(emojiLen == 18)
    // out-of-order keys bind by name
    assert(byId(12L)._2 == "keys out of order" && byId(12L)._4 == "orphan")
  }
}
