package graft.pipeline

import java.sql.Timestamp
import java.util.UUID

import scala.util.control.NonFatal

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
  * instead of re-scanning every checkpoint file per lookup. Each
  * lookup lists the checkpoint directory (one metadata call, no Spark
  * job); only when the listing differs from the data files the index
  * reflects — files another store instance or process wrote — is the
  * index reloaded, with one scan under the explicit entry schema that
  * also reads each row's `_metadata.file_name`, reduced to
  * latest-per-key on the driver (no shuffle, nothing cached). Lookups
  * never write.
  *
  * [[append]] commits its one row like [[JdbcCheckpointStore]] does,
  * without an engine job: the driver writes a one-row Parquet file
  * through parquet-hadoop under a hidden `.`-prefixed temp name in the
  * checkpoint directory, then renames it to `part-<uuid>.parquet`, so
  * readers never see a partial file and a leftover temp file is
  * ignored like every other hidden file. The entry is durable once
  * that rename returns.
  *
  * The directory is kept at O(log N) data files for N entries, so a
  * lookup's listing stays a few names long however many export jobs
  * were committed (the Bentley–Saxe logarithmic method, a binary
  * counter over file sizes). After its rename, and only when the
  * listing is exactly the indexed files plus the new one, [[append]]
  * merges: while two indexed files sit at one level, ⌊log2 rows⌋, it
  * writes the rows of both into one new file (temp name, then rename)
  * and deletes them. N appends to an empty directory leave popcount(N)
  * files, and each row is rewritten O(log N) times, amortized. A merge
  * reads no file: the store holds the entries of every indexed file in
  * driver memory — the rows a reload collects anyway, one per export
  * job ever committed — and writes the merged file from there. A merge
  * deletes only files whose every row its output holds. A merge that
  * fails is skipped with a warning on stderr; the entry it followed is
  * already committed, so [[append]] still returns.
  *
  * Rows equal in every column are written once by a merge. Only a
  * merge cut short after its rename (the process died, or a delete
  * failed) leaves such copies: its output and an input both hold the
  * rows. Lookups are unaffected, and the next merge that holds both
  * copies writes them once and deletes every file its output covers.
  *
  * The directory may also hold files Spark wrote
  * (`Dataset.write.parquet`, which stores `ts` as INT96); this store
  * writes `ts` as INT64 `TIMESTAMP(MICROS, true)`. Both encodings read
  * back as the same `TimestampType` value under the entry schema, so a
  * directory mixing the two reloads exactly, and a merge folds the
  * reloaded rows of Spark-written files like its own. The UTC-adjusted
  * flag matters: without it Spark reads the column as `TIMESTAMP_NTZ`
  * and the reload fails. Every file stays a flat `part-*.parquet`:
  * `spark.read.parquet(path)` returns every entry ever appended.
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
  // the data files `latest` reflects, by name, with the entries each holds
  private var files = Map.empty[String, Vector[CheckpointEntry]]

  /** ts DESC, job_id DESC: the later commit wins, the greater job id on
    * a tie — the reference's ORDER BY ts DESC plus a deterministic
    * tie-break. */
  private def later(a: Mark, b: Mark): Boolean = {
    val c = a._1.compareTo(b._1)
    c > 0 || c == 0 && a._2 > b._2
  }

  private def marked(index: Map[Key, Mark], e: CheckpointEntry): Map[Key, Mark] = {
    val (k, m) = ((e.job_type, e.app_id), (e.ts, e.job_id))
    if (index.get(k).exists(later(_, m))) index else index.updated(k, m)
  }

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def listing(): Set[String] =
    DataFiles.list(hadoopConf, path).map(_.getPath.getName).toSet

  private def reload(listed: Set[String]): Unit = {
    val schema = Encoders.product[CheckpointEntry].schema
    val read =
      if (listed.isEmpty) Map.empty[String, Vector[CheckpointEntry]]
      else spark.read.schema(schema).parquet(path)
        .select(struct(schema.fieldNames.toSeq.map(col): _*).as("_1"), col("_metadata.file_name").as("_2"))
        .as[(CheckpointEntry, String)]
        .collect()
        .groupMap(_._2)(_._1).map { case (f, rows) => f -> rows.toVector }
    // a listed file the scan found no row in holds none
    files = listed.map(_ -> Vector.empty[CheckpointEntry]).toMap ++ read
    latest = files.valuesIterator.flatten.foldLeft(Map.empty[Key, Mark])(marked)
  }

  override def findPreviousJobId(jobType: String, appId: String): Option[Long] = synchronized {
    val listed = listing()
    if (listed != files.keySet) reload(listed)
    latest.get((jobType, appId)).map(_._2)
  }

  override def append(entry: CheckpointEntry): Unit = synchronized {
    val name = ParquetCheckpointStore.write(hadoopConf, path, Vector(entry))
    latest = marked(latest, entry)
    // Adopt the file, and merge, only if the listing is the indexed
    // files plus this one. Anything else is another writer's change,
    // unread: leave the file set behind so the next lookup reloads.
    if (listing() == files.keySet + name) {
      files += name -> Vector(entry)
      while (mergeOnce()) {}
    }
  }

  private def level(rows: Int): Int = 31 - Integer.numberOfLeadingZeros(rows max 1)

  /** Merges the two smallest files of the lowest level holding two;
    * returns whether it merged and deleted every file its output
    * covers, so the caller may go on. */
  private def mergeOnce(): Boolean =
    files.toSeq.groupBy { case (_, rows) => level(rows.size) }.filter(_._2.size > 1)
      .minByOption(_._1).exists { case (_, twins) =>
        val Seq(a, b) = twins.sortBy { case (n, rows) => (rows.size, n) }.take(2)
        val rows = (a._2 ++ b._2).distinct
        try {
          val name = ParquetCheckpointStore.write(hadoopConf, path, rows)
          // the two inputs, and any copy a merge cut short left behind
          val held = rows.toSet
          val covered = files.collect { case (n, r) if r.forall(held) => n }
          val fs = new Path(path).getFileSystem(hadoopConf)
          val deleted = covered.filter(n => scala.util.Try(fs.delete(new Path(path, n), false)).getOrElse(false))
          files = files -- deleted + (name -> rows)
          if (deleted.size < covered.size)
            System.err.println(s"[checkpoint] $path: kept ${covered.size - deleted.size} merged file(s) " +
              "a delete did not remove; the next merge holding their rows writes them once")
          deleted.size == covered.size
        } catch {
          case NonFatal(t) =>
            System.err.println(s"[checkpoint] $path: merge skipped: $t")
            false
        }
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

  private val groups = new SimpleGroupFactory(schema)

  /** Writes `entries` as one file under a hidden temp name in `dir`,
    * then renames it to a new `part-<uuid>.parquet`; returns that name.
    * Throws if either step fails; a failed write removes what it left
    * at the temp name. */
  def write(conf: Configuration, dir: String, entries: Seq[CheckpointEntry]): String = {
    val name = s"part-${UUID.randomUUID()}.parquet"
    val (tmp, dst) = (new Path(dir, s".$name.tmp"), new Path(dir, name))
    val fs = tmp.getFileSystem(conf)
    try {
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf)
        .withType(schema)
        // a few rows per export job ever committed: neither a codec
        // nor a dictionary makes files this small smaller
        .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
        .withDictionaryEncoding(false)
        .build()
      try entries.foreach(e => w.write(row(e))) finally w.close()
    } catch {
      case t: Throwable =>
        scala.util.Try(fs.delete(tmp, false))
        throw t
    }
    if (!fs.rename(tmp, dst)) {
      scala.util.Try(fs.delete(tmp, false))
      throw new java.io.IOException(s"checkpoint commit failed: could not rename $tmp to $dst")
    }
    name
  }

  private def row(e: CheckpointEntry) = {
    val row = groups.newGroup().append("job_id", e.job_id)
    Option(e.job_type).foreach(v => row.append("job_type", v))
    // Micros as Spark's encoder computes them, so both writers store
    // the same instant.
    Option(e.ts).foreach(t => row.append("ts", DateTimeUtils.fromJavaTimestamp(t)))
    Option(e.app_id).foreach(v => row.append("app_id", v))
    e.previous_job_id.foreach(v => row.append("previous_job_id", v))
    e.date_range.foreach(v => row.append("date_range", v))
    row
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
