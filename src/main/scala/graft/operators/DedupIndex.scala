package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The two tables a dedup survivor index serves from: banded minhash
  * rows (the probe key) and shingle features (the verify payload). */
final case class DedupTables(bands: DataFrame, features: DataFrame)

/** The on-disk layout of a dedup survivor index: one parquet directory
  * per table under the index directory, each with a declared schema,
  * so a reload runs no footer-inference job. The minhash signature is
  * part of the layout: a probe bands its batch exactly as the index's
  * rows were banded, or cross candidates never collide. */
object DedupIndex {

  val Bands = "bands"
  val Features = "features"

  /** The minhash signature index rows and probes are banded with. */
  val NumHashes = 16
  val NumBands = 8

  /** Each table's schema, as the index writers produce it. */
  val schemas: Map[String, StructType] = Map(
    Bands -> "doc_id bigint, bhs array<bigint>, band int, bh bigint",
    Features -> "doc_id bigint, source string, toks array<string>"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  def path(dir: String, table: String): String = s"$dir/$table"

  /** Both tables, read with their declared schemas: no Spark job.
    * Load again after an append to see the appended rows. */
  def load(spark: SparkSession, dir: String): DedupTables = {
    def read(t: String) = spark.read.schema(schemas(t)).parquet(path(dir, t))
    DedupTables(read(Bands), read(Features))
  }
}
