package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  test("jsonl reads declared schema and quarantines corrupt lines (S3)") {
    val dir = Files.createTempDirectory("graft_jsonl")
    Files.writeString(Paths.get(dir.toString, "in.jsonl"),
      """{"id": 1, "name": "ok"}
        |not json
        |{"id": 2, "name": "also ok"}
        |""".stripMargin)
    // cache: Spark disallows queries touching only _corrupt_record on the
    // raw file relation (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val df = Sources.jsonl(spark, dir.toString, schema).cache()
    val good = df.filter(col("_corrupt_record").isNull)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(good === Set((1L, "ok"), (2L, "also ok")))
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
  }

  test("toJsonLines round-trips through jsonl (S4 → S3)") {
    val dir = Files.createTempDirectory("graft_json_rt").toString
    val original = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Sources.toJsonLines(original).write.text(s"$dir/out")
    val back = Sources.jsonl(spark, s"$dir/out", schema)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(back === Set((1L, "a"), (2L, "b")))
  }

  test("csv reads declared schema with header and quarantines malformed rows") {
    val dir = Files.createTempDirectory("graft_csv")
    Files.writeString(Paths.get(dir.toString, "in.csv"),
      """id,name
        |1,ok
        |not-a-long,broken
        |2,also ok
        |""".stripMargin)
    val df = Sources.csv(spark, dir.toString, schema).cache()
    val good = df.filter(col("_corrupt_record").isNull)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(good === Set((1L, "ok"), (2L, "also ok")))
    val bad = df.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length === 1)
    assert(bad.head.getAs[String]("_corrupt_record").startsWith("not-a-long"))
  }

  test("withInsertDefaults stamps unique uuids and createdAt == updatedAt (F3/F4)") {
    val out = Sources.withInsertDefaults(Seq("x", "y", "z").toDF("payload")).collect()
    val ids = out.map(_.getAs[String]("id"))
    assert(ids.distinct.length === 3)
    assert(ids.forall(_.matches("[0-9a-f-]{36}")))
    out.foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("createdAt") ===
        r.getAs[java.sql.Timestamp]("updatedAt"))
    }
  }

  test("Tables: a warm read of a fixture table starts no Spark job") {
    Tables.orders(spark, sf); Tables.events(spark, sf) // warm the schemas
    assert(jobsOf(Tables.orders(spark, sf)) === 0)
    // events' ts-type check reads the carried schema, not a footer
    assert(jobsOf(Tables.events(spark, sf)) === 0)
  }

  test("Tables: a rewritten table is read with its new schema and rows") {
    val dir = Files.createTempDirectory("graft_tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val before = Tables.table(spark, dir, "t")
    assert(before.columns.toSeq === Seq("id", "v"))
    assert(before.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // same path, new files and one more column: the listing changed, so
    // the footer is read again
    Seq((3L, "c", 30.0)).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.table(spark, dir, "t")
    assert(after.columns.toSeq === Seq("id", "v", "w"))
    assert(after.as[(Long, String, Double)].collect().toSeq === Seq((3L, "c", 30.0)))
  }
}
