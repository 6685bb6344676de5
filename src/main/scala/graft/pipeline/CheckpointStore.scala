package graft.pipeline

import java.sql.Timestamp
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

/** High-watermark store enabling incremental continuation — the Spark
  * form of the reference's `ua_completed_reports` Postgres table
  * (/root/reference/Unity_to_BigQuery.py:36-42 DDL, :88-100 lookup,
  * :178-180 append).
  *
  * Schema mirrors the reference's column-for-column (date_range is
  * declared there but never populated — kept for parity).
  */
final case class CheckpointEntry(
    job_id: Long,
    job_type: String,
    ts: Timestamp,
    app_id: String,
    previous_job_id: Option[Long],
    date_range: Option[String])

trait CheckpointStore {
  /** The reference's one real query (A3): filter job_type+app_id, order
    * by ts desc (job_id desc on a tie), take 1. */
  def findPreviousJobId(jobType: String, appId: String): Option[Long]

  /** Commit-after-save (A10) — only called once a job's files landed. */
  def append(entry: CheckpointEntry): Unit
}

/** Parquet-backed store (offline substitution for JDBC, SURVEY.md §7.3
  * — the trait boundary is the reference's class boundary; a prod
  * deployment uses [[JdbcCheckpointStore]]).
  *
  * Lookups are answered from a driver-side index holding the latest
  * `(ts, job_id)` per `(job_type, app_id)` — the incremental top-k
  * pattern with k = 1: the answer is kept current as entries arrive
  * instead of re-scanning every one-row checkpoint file per lookup.
  * Each lookup lists the checkpoint directory (one metadata call, no
  * Spark job); only when the listing differs from the data files the
  * index reflects — files another store instance or process wrote —
  * is the index reloaded, with one scan under the explicit entry
  * schema, reduced to latest-per-key on the driver (no shuffle,
  * nothing cached; checkpoint rows number the export jobs ever
  * committed, not data rows). [[append]] updates the index and its
  * file set directly.
  *
  * [[append]] commits its one row like [[JdbcCheckpointStore]] does,
  * without an engine job: the driver writes a one-row Parquet file
  * through parquet-hadoop under a hidden `.`-prefixed temp name in the
  * checkpoint directory, then renames it to `part-<uuid>.parquet`, so
  * readers never see a partial file and a leftover temp file is
  * ignored like every other hidden file. The directory may also hold
  * files Spark wrote (`Dataset.write.parquet`, which stores `ts` as
  * INT96); this store writes `ts` as INT64 `TIMESTAMP(MICROS, true)`.
  * Both encodings read back as the same `TimestampType` value under
  * the entry schema, so a directory mixing the two reloads exactly.
  * The UTC-adjusted flag matters: without it Spark reads the column as
  * `TIMESTAMP_NTZ` and the reload fails.
  *
  * Entries another writer commits between lookups are picked up by
  * the next lookup, but concurrent writers to one path are
  * unsupported, as the ingest loop, which runs its chains one at a
  * time, already requires.
  */
final class ParquetCheckpointStore(spark: SparkSession, path: String)
    extends CheckpointStore {
  import spark.implicits._

  private type Key  = (String, String)     // (job_type, app_id)
  private type Mark = (Timestamp, Long)    // (ts, job_id)

  private var latest = Map.empty[Key, Mark]
  // names of the data files `latest` reflects
  private var indexed = Set.empty[String]

  /** ts DESC, job_id DESC: the later commit wins, the greater job id on
    * a tie — the reference's ORDER BY ts DESC plus a deterministic
    * tie-break. */
  private def later(a: Mark, b: Mark): Boolean = {
    val c = a._1.compareTo(b._1)
    c > 0 || c == 0 && a._2 > b._2
  }

  private def merge(index: Map[Key, Mark], k: Key, m: Mark): Map[Key, Mark] =
    if (index.get(k).exists(later(_, m))) index else index.updated(k, m)

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def listing(): Set[String] =
    DataFiles.list(hadoopConf, path).map(_.getPath.getName).toSet

  private def reload(files: Set[String]): Unit = {
    latest =
      if (files.isEmpty) Map.empty
      else spark.read.schema(Encoders.product[CheckpointEntry].schema).parquet(path)
        .select(col("job_type"), col("app_id"), col("ts"), col("job_id"))
        .as[(String, String, Timestamp, Long)]
        .collect()
        .foldLeft(Map.empty[Key, Mark]) { case (index, (t, a, ts, id)) => merge(index, (t, a), (ts, id)) }
    indexed = files
  }

  override def findPreviousJobId(jobType: String, appId: String): Option[Long] = synchronized {
    val files = listing()
    if (files != indexed) reload(files)
    latest.get((jobType, appId)).map(_._2)
  }

  override def append(entry: CheckpointEntry): Unit = synchronized {
    val name = s"part-${UUID.randomUUID()}.parquet"
    ParquetCheckpointStore.write(hadoopConf, new Path(path, s".$name.tmp"), new Path(path, name), entry)
    latest = merge(latest, (entry.job_type, entry.app_id), (entry.ts, entry.job_id))
    // Adopt the file only if it is the one new name. If more appeared,
    // another writer's file is among them, unread: leave the file set
    // behind so the next lookup reloads.
    val added = listing() -- indexed
    if (added == Set(name)) indexed += name
  }
}

private object ParquetCheckpointStore {

  /** [[CheckpointEntry]] as Parquet, field for field with
    * `Encoders.product[CheckpointEntry].schema`. */
  private val schema = MessageTypeParser.parseMessageType(
    """message checkpoint_entry {
      |  required int64 job_id;
      |  optional binary job_type (STRING);
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional binary app_id (STRING);
      |  optional int64 previous_job_id;
      |  optional binary date_range (STRING);
      |}""".stripMargin)

  private val rows = new SimpleGroupFactory(schema)

  /** Writes `e` as a one-row file at `tmp`, then renames it to `dst`.
    * Throws if either step fails; a failed write removes what it left
    * at `tmp`. */
  def write(conf: Configuration, tmp: Path, dst: Path, e: CheckpointEntry): Unit = {
    val row = rows.newGroup().append("job_id", e.job_id)
    Option(e.job_type).foreach(v => row.append("job_type", v))
    // Micros as Spark's encoder computes them, so both writers store
    // the same instant.
    Option(e.ts).foreach(t => row.append("ts", DateTimeUtils.fromJavaTimestamp(t)))
    Option(e.app_id).foreach(v => row.append("app_id", v))
    e.previous_job_id.foreach(v => row.append("previous_job_id", v))
    e.date_range.foreach(v => row.append("date_range", v))

    val fs = tmp.getFileSystem(conf)
    try {
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf)
        .withType(schema)
        // one row: neither a codec nor a dictionary makes it smaller
        .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
        .withDictionaryEncoding(false)
        .build()
      try w.write(row) finally w.close()
    } catch {
      case t: Throwable =>
        scala.util.Try(fs.delete(tmp, false))
        throw t
    }
    if (!fs.rename(tmp, dst)) {
      scala.util.Try(fs.delete(tmp, false))
      throw new java.io.IOException(s"checkpoint commit failed: could not rename $tmp to $dst")
    }
  }
}

/** JDBC-backed store over embedded Derby (ships with Spark) — the
  * §7.3 boundary implemented against a REAL database through plain
  * JDBC prepared statements, matching the reference's Postgres table
  * one-for-one (DDL mirror of the reference's Unity_to_BigQuery.py:36-42;
  * [[findPreviousJobId]] is the reference's WHERE + ORDER BY, run by
  * the database). A prod deployment only changes the URL and driver
  * class.
  */
final class JdbcCheckpointStore(url: String,
    table: String = "ua_completed_reports",
    driver: String = "org.apache.derby.jdbc.EmbeddedDriver")
    extends CheckpointStore {

  // reference A2: CREATE TABLE IF NOT EXISTS (Derby has no IF NOT
  // EXISTS — swallow the table-exists SQLState instead)
  locally {
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE $table (
           |  job_id BIGINT NOT NULL,
           |  job_type VARCHAR(64) NOT NULL,
           |  ts TIMESTAMP NOT NULL,
           |  app_id VARCHAR(64) NOT NULL,
           |  previous_job_id BIGINT,
           |  date_range VARCHAR(64))""".stripMargin)
      catch {
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () // exists
      } finally st.close()
    } finally conn.close()
  }

  // The reference's A3 query, run by the database as a plain prepared
  // statement: a single-row read needs no Spark job.
  override def findPreviousJobId(jobType: String, appId: String): Option[Long] =
    withStatement(
      s"""SELECT job_id FROM $table WHERE job_type = ? AND app_id = ?
         |ORDER BY ts DESC, job_id DESC FETCH FIRST 1 ROWS ONLY""".stripMargin) { ps =>
      ps.setString(1, jobType)
      ps.setString(2, appId)
      val rs = ps.executeQuery()
      try if (rs.next()) Some(rs.getLong(1)) else None
      finally rs.close()
    }

  // Single-row commit marker → a plain JDBC INSERT (the reference's
  // A10 insert, Unity_to_BigQuery.py:178-180) — launching a Spark job
  // per checkpoint row would be overhead without distribution, and
  // Spark's Derby dialect writes strings as CLOB, clashing with the
  // reference's VARCHAR schema.
  override def append(entry: CheckpointEntry): Unit =
    withStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?, ?)") { ps =>
      ps.setLong(1, entry.job_id)
      ps.setString(2, entry.job_type)
      ps.setTimestamp(3, entry.ts)
      ps.setString(4, entry.app_id)
      entry.previous_job_id match {
        case Some(p) => ps.setLong(5, p)
        case None    => ps.setNull(5, java.sql.Types.BIGINT)
      }
      entry.date_range match {
        case Some(d) => ps.setString(6, d)
        case None    => ps.setNull(6, java.sql.Types.VARCHAR)
      }
      ps.executeUpdate(): Unit
    }

  private def withStatement[T](sql: String)(f: java.sql.PreparedStatement => T): T = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement(sql)
      try f(ps) finally ps.close()
    } finally conn.close()
  }
}
