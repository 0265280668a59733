package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Similarity}

/** `Tables.readCached` keeps one inferred schema per path. The engine's
  * index writers overwrite such paths in-session, so a read after an
  * overwrite must see the new files' schema, not the cached one (a
  * stale schema reads the new columns back as silent nulls or not at
  * all).
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** A path whose cached schema is (doc_id, note), unlike any index. */
  private def stalePath(name: String): String = {
    val path = java.nio.file.Files.createTempDirectory(name).toString
    Seq((1L, "old")).toDF("doc_id", "note")
      .write.mode("overwrite").parquet(path)
    assert(Tables.readCached(spark, path).columns.toSeq == Seq("doc_id", "note"))
    path
  }

  private def assertFresh(read: DataFrame, path: String): Unit = {
    val fresh = spark.read.parquet(path)
    assert(read.schema == fresh.schema)
    assert(read.collect().toSet == fresh.collect().toSet)
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "seven wizards brew strange potions under a pale moon"))
    .toDF("doc_id", "text")

  test("bucket index overwrite replaces the cached schema") {
    val path = stalePath("graft_tables_bk")
    Dedup.writeBucketIndex(docs, $"doc_id", $"text", numHashes = 8,
      bands = 4, path = path)
    val idx = Dedup.readBucketIndex(spark, path)
    assert(idx.columns.sorted.toSeq == Seq("band", "doc_id", "sig"))
    assert(idx.filter($"sig".isNull).isEmpty)
    assertFresh(idx, path)
  }

  test("containment index overwrite replaces every cached part schema") {
    val path = java.nio.file.Files.createTempDirectory("graft_tables_ci")
      .toString
    for (part <- Seq("dfreq", "postings", "docs")) {
      Seq((1L, "old")).toDF("doc_id", "note")
        .write.mode("overwrite").parquet(s"$path/$part")
      Tables.readCached(spark, s"$path/$part")
    }
    Dedup.writeContainmentIndex(docs, $"doc_id", $"text", path)
    val idx = Dedup.readContainmentIndex(spark, path)
    assert(idx.dfreq.columns.toSeq == Seq("tok", "tdf"))
    assert(idx.docs.columns.toSeq == Seq("doc_id", "n", "stoks"))
    assertFresh(idx.dfreq, s"$path/dfreq")
    assertFresh(idx.postings, s"$path/postings")
    assertFresh(idx.docs, s"$path/docs")
  }

  test("IVF index overwrite replaces the cached schema") {
    val path = stalePath("graft_tables_ivf")
    val e = (0 until 16).map(i => (i.toLong, Array(i % 4 + 1.0, i / 4 + 1.0)))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.trainCentroids(e, "vec_id", "embedding",
      k = 2, iters = 1)
    Similarity.writeIvfIndex(e, "vec_id", "embedding", centroids, path)
    val idx = Similarity.readIvfIndex(spark, path)
    assert(idx.columns.toSeq.sorted == Seq("cn", "cv", "item_id", "list_id"))
    assert(idx.count() == 16)
    assertFresh(idx, path)
  }
}
