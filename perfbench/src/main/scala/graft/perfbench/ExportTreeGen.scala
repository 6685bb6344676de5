package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** One export job as the generator wrote it: the base for rates and
  * the storage ratio. `bytesOnDisk` is what the program reads (gzip
  * when `gzip`), `bytesUncompressed` the NDJSON text it parses. */
final case class GenJob(
    appId: String, jobType: String, jobId: Long, dir: String,
    rows: Long, gzip: Boolean, bytesOnDisk: Long, bytesUncompressed: Long)

/** Deterministic writer of a Unity export tree in the reference layout
  * `<root>/<app>/<type>/<yyyy-MM-dd>_<job>/part-N.json[.gz]`, with the
  * record envelope of `graft.pipeline.UnityExport.schema`.
  *
  * Single-threaded and seed-driven: the same seed and the same calls
  * give a byte-identical tree (Java's gzip header carries no mtime or
  * file name). Events are synthesized here, so the program only ever
  * sees the generated files.
  */
object ExportTreeGen {

  val ReportTypes: Seq[String] =
    Seq("appStart", "appRunning", "deviceInfo", "custom", "transaction")

  private val Platforms = Array("ANDROID", "IOS", "WEBGL", "WINDOWS")
  private val SdkVers = Array("2021.3.1", "2022.2.5", "2023.1.0")
  private val BaseDate = LocalDate.of(2024, 1, 1)

  def tenantIds(n: Int): Seq[String] =
    (0 until n).map(i => f"$i%02x5e7a1c-0000-4000-8000-00000000000$i")

  /** Writes one job directory. `jobId` also fixes the directory date, so
    * the tree layout depends only on (seed, appId, jobType, jobId). */
  def writeJob(root: File, seed: Long, appId: String, jobType: String,
      jobId: Long, rows: Int, parts: Int, gzip: Boolean): GenJob = {
    val date = BaseDate.plusDays(jobId % 365)
    val dir = new File(root, s"$appId/$jobType/${date}_$jobId")
    dir.mkdirs()
    val rnd = new SplittableRandom(mix(seed, appId, jobType, jobId))
    var onDisk = 0L
    var plain = 0L
    val perPart = math.max(1, (rows + parts - 1) / parts)
    var written = 0
    var part = 0
    while (written < rows) {
      val n = math.min(perPart, rows - written)
      val f = new File(dir, s"part-$part.json" + (if (gzip) ".gz" else ""))
      val fos = new FileOutputStream(f)
      val out: OutputStream =
        if (gzip) new GZIPOutputStream(new BufferedOutputStream(fos, 1 << 16), 1 << 16)
        else new BufferedOutputStream(fos, 1 << 16)
      try {
        var i = 0
        while (i < n) {
          val b = record(rnd, appId, jobType, date, jobId, written + i).getBytes(UTF_8)
          out.write(b)
          plain += b.length
          i += 1
        }
      } finally out.close()
      onDisk += f.length()
      written += n
      part += 1
    }
    GenJob(appId, jobType, jobId, dir.getPath, rows.toLong, gzip, onDisk, plain)
  }

  private def record(rnd: SplittableRandom, appId: String, jobType: String,
      date: LocalDate, jobId: Long, i: Int): String = {
    val secs = rnd.nextInt(86400)
    val ts = f"${date}T${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d.${rnd.nextInt(1000)}%03dZ"
    val user = rnd.nextInt(5000)
    val session = s"$jobId-$i-${rnd.nextInt(1 << 20)}"
    val platform = Platforms(rnd.nextInt(Platforms.length))
    val sdk = SdkVers(rnd.nextInt(SdkVers.length))
    val debug = rnd.nextInt(20) == 0
    val params = s"""{\\"level\\": ${rnd.nextInt(60)}, \\"k\\": \\"v${rnd.nextInt(100)}\\"}"""
    val amount = if (jobType == "transaction") (rnd.nextInt(100000) / 100.0).toString else "null"
    s"""{"ts": "$ts", "appid": "$appId", "type": "$jobType", "userid": "u$user", """ +
      s""""sessionid": "$session", "platform": "$platform", "sdk_ver": "$sdk", """ +
      s""""debug": $debug, "custom_params": "$params", "amount": $amount}""" + "\n"
  }

  private def mix(seed: Long, parts: Any*): Long =
    parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ p.hashCode.toLong * 0xC2B2AE3D27D4EB4FL, 31) * 0x165667B19E3779F9L)

  /** Per-tenant row weights summing to 1: the seed picks one heavy
    * tenant that weighs three times as much as each of the others. */
  def tenantWeights(seed: Long, tenants: Int): Seq[Double] = {
    val heavy = new SplittableRandom(seed).nextInt(tenants)
    val raw = (0 until tenants).map(t => if (t == heavy) 3.0 else 1.0)
    raw.map(_ / raw.sum)
  }
}
