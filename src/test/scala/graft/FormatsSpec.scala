package graft

import graft.sources.Formats

/** Round-trips the same rows through CSV / JSON / ORC with explicit
  * schemas, and drives the raw-text S4-style parse. */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = java.nio.file.Files.createTempDirectory("formats")

  test("CSV/JSON/ORC round-trip with explicit schema") {
    val d = "/root/testdata/sf0.001"
    val src = graft.io.Tables.orders(spark, d)
      .filter($"o_orderkey" < 100)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val expect = src.collect().map(_.toSeq).toSet
    val schema = src.schema

    src.write.option("header", "true").csv(s"$tmp/csv")
    src.write.json(s"$tmp/json")
    src.write.orc(s"$tmp/orc")

    assert(Formats.readCsv(spark, s"$tmp/csv", schema)
      .collect().map(_.toSeq).toSet == expect)
    assert(Formats.readJson(spark, s"$tmp/json", schema)
      .collect().map(_.toSeq).toSet == expect)
    assert(Formats.readOrc(spark, s"$tmp/orc")
      .collect().map(_.toSeq).toSet == expect)
  }

  test("JSON salvage: good rows parse, malformed lines quarantine verbatim, none lost") {
    import org.apache.spark.sql.types._
    val p = tmp.resolve("salvage.jsonl")
    java.nio.file.Files.write(p, java.util.Arrays.asList(
      """{"id": 1, "name": "ok"}""",
      """{"id": 2, "name": "also ok"}""",
      """{"id": 3, "name": truncated""", // malformed -> quarantine
      """not json at all"""))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val (good, quarantine) = Formats.readJsonSalvage(spark, p.toString, schema)
    assert(good.orderBy($"id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "ok"), (2L, "also ok")))
    val bad = quarantine.as[String].collect().toSet
    assert(bad == Set("""{"id": 3, "name": truncated""", "not json at all"))
    // conservation: every input line is exactly one of good/quarantine
    assert(good.count() + quarantine.count() == 4)
  }

  test("raw text dump parses to (row_idx, cells) rows, empties dropped") {
    val p = tmp.resolve("dump.txt")
    java.nio.file.Files.write(p, java.util.Arrays.asList(
      "28/10/2023;15:00;Arsenal;2:1;Chelsea;2:1",
      "", // empty line -> dropped (P4)
      ";17:30;Liverpool;1:1;Everton;1:1"))
    val rows = Formats.parseResultsDump(spark, p.toString)
      .orderBy($"row_idx")
      .select($"cells").as[Seq[String]].collect()
    assert(rows.length == 2)
    assert(rows(0) == Seq("28/10/2023", "15:00", "Arsenal", "2:1", "Chelsea", "2:1"))
    assert(rows(1).head == "") // blank date cell survives for the ffill window
  }
}
