package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Regular files under `dir` (recursively): (count, total bytes). */
  def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (1L, dir.length())
    else Option(dir.listFiles()).getOrElse(Array.empty[File]).foldLeft((0L, 0L)) {
      case ((n, b), f) => val (n2, b2) = du(f); (n + n2, b + b2)
    }

  /** Parquet data files under `dir`. */
  def dataFiles(dir: File): Int =
    if (!dir.exists()) 0
    else if (dir.isFile) (if (dir.getName.endsWith(".parquet") && !dir.getName.startsWith(".")) 1 else 0)
    else Option(dir.listFiles()).getOrElse(Array.empty[File]).map(dataFiles).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(): Unit
  }

  /** Accumulated GC milliseconds of the whole JVM. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a full collection, in MiB. Collects twice, a
    * moment apart, so objects that Spark's context cleaner releases
    * after the first collection are gone too. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Order-independent hash of a result: rows rendered canonically,
    * sorted, then SHA-256. */
  def canonicalHash(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "∅"
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "→" + render(x) }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
