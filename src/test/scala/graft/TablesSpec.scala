package graft

/** [[Tables.snapshot]], the memo key of the per-dataset probes. */
class TablesSpec extends SparkSpec {

  test("embeddingRows sees a table rewritten under a file: URI dir") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-snapshot").toFile
    val dir = root.toURI.toString.stripSuffix("/") // a file: URI, not a bare path
    val table = new java.io.File(root, "embeddings.parquet")
    // explicit, distinct modification times: the spec must not depend
    // on the filesystem's timestamp granularity
    def write(rows: Int, mtime: Long): Unit = {
      (0 until rows).map(i => (i.toLong, Array(1.0f, i.toFloat)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(Tables.path(dir, "embeddings"))
      (table +: table.listFiles.toSeq).foreach(_.setLastModified(mtime))
    }
    try {
      write(3, 1000000000000L)
      assert(operators.Similarity.embeddingRows(spark, dir) == 3)
      write(5, 2000000000000L)
      assert(operators.Similarity.embeddingRows(spark, dir) == 5,
        "the row-count memo served a stale count after the rewrite")
    } finally {
      table.listFiles.foreach(_.delete())
      table.delete()
      root.delete()
    }
  }
}
