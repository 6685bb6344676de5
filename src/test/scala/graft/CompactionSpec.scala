package graft

import java.io.File

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.functions._

import graft.operators.DedupIndex
import graft.pipeline.Compaction

/** A local filesystem whose `delete` of a chosen path reports failure
  * and deletes nothing — the shim behind the failed-delete compaction
  * and checkpoint-merge tests. Must be top-level with a no-arg
  * constructor — Hadoop instantiates it reflectively from
  * `fs.nodelete.impl`. */
class NoDeleteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "nodelete"
  override def getUri: java.net.URI = java.net.URI.create("nodelete:///")
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (NoDeleteFs.refuses(p.toUri.getPath)) false
    else super.delete(p, recursive)
  // plain statuses: the raw local ones load permissions through a
  // java.io.File of the path's URI, which rejects any scheme but file
  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(s => new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath))
}

object NoDeleteFs {
  @volatile var refuses: String => Boolean = _ => false
}

/** Compaction must reduce file count without changing data or inferring
  * a schema (it reads with the caller's), and be a
  * no-op when the directory is already compact. */
class CompactionSpec extends SparkSuite {

  private def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).toSeq

  test("compacts a fragmented table, preserving rows and schema") {
    val orders = Tables.orders(spark, Sf)
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
    // a flat fixture table, and an index table with an array column
    // compacted with its owner's declared schema
    for ((name, src, schema) <- Seq(
        ("orders", orders, orders.schema),
        ("features", docs, DedupIndex.schemas(DedupIndex.Features)))) {
      val dir = s"target/test-fixtures/compact/$name"
      src.repartition(16).write.mode("overwrite").parquet(dir)
      assert(parquetFiles(dir).size == 16)
      val before = spark.read.parquet(dir)
      val beforeRows = before.collect().map(_.toString).sorted.toSeq

      val (n, work) = SparkWork.measure(spark)(
        Compaction.compact(spark, dir, schema, targetBytes = 1L << 30))
      assert(n == 1, s"$name: expected 1 output file, got $n")
      assert(!work.jobStageNames.flatten.exists(_.startsWith("parquet at")),
        s"$name: compaction inferred a schema: ${work.jobStageNames}")
      assert(parquetFiles(dir).size == 1)
      val after = spark.read.parquet(dir)
      assert(after.collect().map(_.toString).sorted.toSeq == beforeRows, name)
      assert(after.schema == before.schema, name)

      // already compact → no-op
      assert(Compaction.compact(spark, dir, schema, targetBytes = 1L << 30) == 0)
      assert(parquetFiles(dir).size == 1)
    }
  }

  test("missing directory is a no-op") {
    assert(Compaction.compact(spark, "target/test-fixtures/compact/nope",
      Tables.orders(spark, Sf).schema, 1024) == 0)
  }

  test("target size bounds the output file count from below") {
    val dir = "target/test-fixtures/compact/lineitem"
    val lineitem = Tables.lineitem(spark, Sf)
    lineitem.repartition(12).write.mode("overwrite").parquet(dir)
    val totalBytes = parquetFiles(dir).map(_.length()).sum
    // target of ~1/3 the data → at least 3 files, far fewer than 12
    val n = Compaction.compact(spark, dir, lineitem.schema,
      targetBytes = totalBytes / 3)
    assert(n >= 3 && n < 12, s"got $n files")
    assert(parquetFiles(dir).size == n)
  }

  test("a failed delete of the old directory stops the swap and names " +
      "the compacted copy") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nodelete.impl", classOf[NoDeleteFs].getName)
    val dir = new File("target/test-fixtures/compact/nodelete").getAbsolutePath
    val orders = Tables.orders(spark, Sf)
    orders.repartition(8).write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir).count()
    NoDeleteFs.refuses = _ == dir
    val e =
      try intercept[java.io.IOException] {
        Compaction.compact(spark, s"nodelete://$dir", orders.schema,
          targetBytes = 1L << 30)
      } finally NoDeleteFs.refuses = _ => false
    assert(e.getMessage.contains(s"$dir.compact-tmp"), e.getMessage)
    // a rename onto the surviving directory would have moved the
    // compacted copy inside it; the old table must stay as it was
    assert(!new File(dir, "nodelete.compact-tmp").exists,
      "compacted copy was moved inside the old table")
    assert(parquetFiles(dir).size == 8)
    assert(spark.read.parquet(dir).count() == rows)
    assert(spark.read.parquet(s"$dir.compact-tmp").count() == rows)
  }
}
