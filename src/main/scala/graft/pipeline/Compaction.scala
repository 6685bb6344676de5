package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Small-file compaction for warehouse table directories.
  *
  * Every ingest job appends its own files (reference A9 semantics:
  * one load per export file), so a long-lived table accumulates files
  * far smaller than a sane scan unit — at scale the resulting task
  * explosion and NameNode/listing pressure dominate read cost.
  * `compact` rewrites a LEAF table directory into
  * ceil(totalBytes / targetBytes) files via one distributed
  * repartition, reading the table with the schema its caller declares
  * (no footer-inference job; a column the schema omits is dropped).
  * For a partitioned layout, run it per partition directory so the
  * directory-encoded column survives.
  *
  * The tmp-write → delete → rename swap is not atomic (same window the
  * sink's load/checkpoint sequence has); a crash between delete and
  * rename loses the directory but never mixes old and new files — the
  * compacted copy still exists at `<dir>.compact-tmp` for manual
  * recovery.
  *
  * Returns the new file count, or 0 if the directory was already at or
  * below the target (no rewrite performed).
  */
object Compaction {

  /** Count of parquet leaf files under `dir` (recursive) — the
    * fragmentation measure [[appendThenCompact]] gates on, so
    * steady-state epochs pay a listing, not a rewrite. */
  def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0
    val it = fs.listFiles(path, true)
    var n = 0
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  def compact(spark: SparkSession, dir: String, schema: StructType,
      targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0

    val it = fs.listFiles(path, true)
    var total = 0L
    var nFiles = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        total += f.getLen
        nFiles += 1
      }
    }
    if (nFiles == 0) return 0
    val targetParts = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    if (nFiles <= targetParts) return 0

    val tmp = new Path(dir + ".compact-tmp")
    spark.read.schema(schema).parquet(dir)
      .repartition(targetParts)
      .write.mode("overwrite").parquet(tmp.toString)
    // a rename onto a directory that still exists would move the
    // compacted copy INSIDE it, so a failed delete must stop here
    if (!fs.delete(path, true))
      throw new java.io.IOException(
        s"compaction could not delete $path; compacted data is at $tmp")
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(
        s"compaction rename failed; compacted data is at $tmp")
    targetParts
  }

  /** The refresh step of an append-only table family (the dedup
    * survivor index, an ANN index's payload tables): append each
    * (directory, schema, rows) table, then [[compact]] each one past
    * `compactAboveFiles` parquet files with its schema; below that a
    * table costs one listing. Compaction deletes the files it
    * replaces, so `beforeDelete` runs once before the first compaction,
    * only when one is due, to pin any frame whose lineage reads them.
    * Returns its result, or None when nothing was compacted. */
  def appendThenCompact[T](tables: Seq[(String, StructType, DataFrame)],
      compactAboveFiles: Int, targetBytes: Long)(beforeDelete: => T): Option[T] = {
    tables.foreach { case (dir, _, df) => df.write.mode("append").parquet(dir) }
    val due = tables.filter { case (dir, _, df) =>
      parquetFileCount(df.sparkSession, dir) > compactAboveFiles }
    if (due.isEmpty) None
    else {
      val pinned = beforeDelete
      due.foreach { case (dir, schema, df) =>
        compact(df.sparkSession, dir, schema, targetBytes): Unit }
      Some(pinned)
    }
  }
}
