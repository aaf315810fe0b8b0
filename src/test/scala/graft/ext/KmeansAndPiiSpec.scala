package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KmeansSpec extends SparkSpec {
  import spark.implicits._

  private val dir = testDir("graft_test_kmeans")

  /** Two orthogonal blobs in 8-dim space: ids 0-9 hug e0, ids 10-19 hug e1.
    * Small deterministic per-id jitter keeps vectors distinct.
    */
  private def writeBlobs(): Unit = {
    val rows = (0 until 20).map { i =>
      val base = Array.fill(8)(0.01f * ((i % 7) + 1))
      if (i < 10) base(0) = 10f else base(1) = 10f
      (i.toLong, base.toSeq, i / 10)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("kmeans separates planted orthogonal blobs into two pure cells") {
    writeBlobs()
    val assign = Similarity.kmeansAssignments(spark, dir, k = 2, iters = 4)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell_id"))
    assert(assign.length === 20)
    val cellsOfBlob0 = assign.filter(_._1 < 10).map(_._2).distinct
    val cellsOfBlob1 = assign.filter(_._1 >= 10).map(_._2).distinct
    assert(cellsOfBlob0.length === 1, s"blob 0 split: ${cellsOfBlob0.toSeq}")
    assert(cellsOfBlob1.length === 1, s"blob 1 split: ${cellsOfBlob1.toSeq}")
    assert(cellsOfBlob0.head !== cellsOfBlob1.head)
  }

  test("kmeansCells reports one row per non-empty cell with cohesion in (0,1]") {
    writeBlobs()
    val cells = Similarity.kmeansCells(spark, dir, k = 2, iters = 4).collect()
    assert(cells.length === 2)
    assert(cells.map(_.getAs[Long]("n_vectors")).sum === 20L)
    cells.foreach { r =>
      val c = r.getAs[Double]("avg_cohesion")
      assert(c > 0.0 && c <= 1.0 + 1e-9)
    }
  }

  test("kmeans on the real corpus fills cells and keeps every vector") {
    val n = graft.io.Tables.embeddings(spark, sf).count()
    val cells = Similarity.kmeansCells(spark, sf, k = 8, iters = 2).collect()
    assert(cells.map(_.getAs[Long]("n_vectors")).sum === n)
    assert(cells.length > 1)
  }
}

class PiiSpec extends SparkSpec {
  import spark.implicits._

  private val dir = testDir("graft_test_pii")

  private def writeDocs(rows: Seq[(Long, String)]): Unit =
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("piiScan counts and redacts planted emails, phones, and IPs") {
    writeDocs(Seq(
      1L -> "contact alice@example.com or bob.smith+x@mail.co today",
      2L -> "call +1 (415) 555-0100 from host 10.0.0.1 now",
      3L -> "clean text with no identifiers at all",
      4L -> "version 1.2.3.4 is an ip-shaped string"))
    val out = TextStats.piiScan(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Int]("n_emails") === 2)
    assert(out(1L).getAs[Boolean]("has_pii"))
    assert(out(2L).getAs[Int]("n_phones") === 1)
    assert(out(2L).getAs[Int]("n_ips") === 1)
    assert(!out(3L).getAs[Boolean]("has_pii"))
    // the redaction rewrites matches into fixed tags, changing the length
    assert(out(1L).getAs[Int]("redacted_len") !==
      out(1L).getAs[Long]("doc_id").toInt) // sanity: column present
    assert(out(3L).getAs[Int]("redacted_len") ===
      "clean text with no identifiers at all".length)
    // dotted version numbers DO match the ipv4 shape — documented behavior
    assert(out(4L).getAs[Int]("n_ips") === 1)
  }

  test("piiScan on the synthetic corpus is all-clean (no false positives)") {
    val out = TextStats.piiScan(spark, sf)
    assert(out.filter(col("has_pii")).count() === 0)
  }
}
