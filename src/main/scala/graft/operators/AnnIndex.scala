package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one row of an index's `meta` table, as the build measured it:
  * corpus size, vector dimension, PQ segment count, coarse cell count
  * and coarse-assignment margin. */
final case class AnnMeta(n: Long, dim: Int, m: Int, cells: Int, margin: Double)

/** The five tables an IVF×PQ index serves from. A build holds them
  * in-session; [[AnnIndex.load]] reads them back from disk. Every
  * search runs over this value, so the in-session and persisted paths
  * share one plan. */
final case class AnnTables(centroids: DataFrame, invlists: DataFrame,
    codebooks: DataFrame, codes: DataFrame, vectors: DataFrame)

/** The on-disk layout of an IVF×PQ index: one parquet directory per
  * table under the index directory, each with a declared schema, so a
  * reload runs no footer-inference job.
  *
  * `meta` is the commit marker and is written once per build: a build
  * removes it before rewriting any table and writes it after every
  * other table; appends never touch it. So an index without a `meta`
  * row was never committed, and [[readMeta]] refuses it instead of
  * serving or extending it. */
object AnnIndex {

  val Centroids = "centroids"
  val Invlists = "invlists"
  val Codebooks = "codebooks"
  val Codes = "codes"
  val Vectors = "vectors"
  val Meta = "meta"

  /** Each table's schema, as the build writes it. */
  val schemas: Map[String, StructType] = Map(
    Centroids -> "cell_id bigint, centroid array<float>",
    Invlists -> "vec_id bigint, cell_id bigint",
    Codebooks -> "seg int, cell_id bigint, centroid array<float>",
    Codes -> "vec_id bigint, codes array<bigint>",
    Vectors -> "vec_id bigint, embedding array<float>"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) } +
    (Meta -> Encoders.product[AnnMeta].schema)

  def path(dir: String, table: String): String = s"$dir/$table"

  /** One table read with its declared schema: no Spark job. The frame
    * lists the table's files now, so read again after an append to see
    * the appended rows. */
  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.schema(schemas(table)).parquet(path(dir, table))

  /** The index's five serving tables, each [[read]] with its declared
    * schema. */
  def load(spark: SparkSession, dir: String): AnnTables =
    AnnTables(read(spark, dir, Centroids), read(spark, dir, Invlists),
      read(spark, dir, Codebooks), read(spark, dir, Codes),
      read(spark, dir, Vectors))

  private def metaPath(spark: SparkSession, dir: String) = {
    val p = new Path(path(dir, Meta))
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The committed index's meta row. Throws, naming `dir`, when the
    * index has no `meta` row: no `meta` directory, or one a crashed
    * write left holding only `_temporary`. Either way its build never
    * finished. */
  def readMeta(spark: SparkSession, dir: String): AnnMeta = {
    val (fs, p) = metaPath(spark, dir)
    val rows =
      if (!fs.exists(p)) Array.empty[AnnMeta]
      else read(spark, dir, Meta).as(Encoders.product[AnnMeta]).collect()
    rows.headOption.getOrElse(throw new IllegalStateException(
      s"ANN index $dir has no $Meta row: its build never committed " +
        "(meta is written last), so it can be neither served nor " +
        "appended to"))
  }

  /** Removes `meta`, so the index reads as uncommitted until the next
    * [[writeMeta]]. A build calls it before rewriting any table. */
  def uncommit(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = metaPath(spark, dir)
    fs.delete(p, true): Unit
  }

  /** Writes `meta` as one single-file row: a build's last write. */
  def writeMeta(spark: SparkSession, dir: String, meta: AnnMeta): Unit =
    spark.createDataset(Seq(meta))(Encoders.product[AnnMeta])
      .coalesce(1).write.mode("overwrite").parquet(path(dir, Meta))
}
