package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet: every parquet read in `src/main` passes a declared
  * `.schema(...)`, so no read runs a footer-inference job. A read with
  * no schema is allowed only in the files named below, each for its
  * stated reason, and a named file that no longer holds such a read
  * must leave the list, so the list only shrinks. */
class SchemaReadRatchetSpec extends AnyFunSuite {

  private val allowed: Map[String, String] = Map(
    "graft/Tables.scala" ->
      "infers a fixture's schema once per file set, to guard against drift",
    "graft/queries/ScansSinks.scala" ->
      "the scan keys exist to show Spark's read path, inference included",
    "graft/pipeline/VersionedTable.scala" ->
      "an scd2 merge publishes a schema that differs from the batch",
    "graft/ScaleBench.scala" ->
      "dev main: reads whatever fixture it is pointed at")

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** Comments removed, so prose that quotes a read is not one. A `//`
    * counts as a comment only after whitespace or at a line start,
    * which leaves `scheme://` string literals alone. */
  private def code(f: File): String = {
    val src = Source.fromFile(f, "UTF-8")
    try src.mkString
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)(^|\\s)//[^\n]*", "$1")
    finally src.close()
  }

  private val ReadStart = """\.read\b(?!Stream)""".r
  private val Write = """\.write\b""".r
  private val ParquetRead = """\.parquet\(|\.load\(""".r

  /** Each parquet read chain (`.read` … `.parquet(` or a `"parquet"`
    * format's `.load(`) that carries no `.schema(`. */
  private def schemaLessReads(text: String): Seq[String] =
    ParquetRead.findAllMatchIn(text).toSeq.flatMap { m =>
      val window = text.substring(math.max(0, m.start - 400), m.end)
      val lastRead = ReadStart.findAllMatchIn(window).map(_.start).toSeq.lastOption
      val lastWrite = Write.findAllMatchIn(window).map(_.start).toSeq.lastOption
      lastRead.filter(r => lastWrite.forall(_ < r)).map(window.substring).filter {
        chain => (m.matched == ".parquet(" || chain.contains("\"parquet\"")) &&
          !chain.contains(".schema(")
      }
    }

  private lazy val offenders: Map[String, Seq[String]] = {
    val root = new File("src/main/scala")
    sources(root).map { f =>
      root.toPath.relativize(f.toPath).toString -> schemaLessReads(code(f))
    }.filter(_._2.nonEmpty).toMap
  }

  test("the scan finds a schema-less read and passes a declared one") {
    assert(schemaLessReads("val df = spark.read.parquet(dir)").size === 1)
    assert(schemaLessReads(
      "spark.read.option(\"x\", \"y\")\n  .parquet(dir)").size === 1)
    assert(schemaLessReads(
      "spark.read.format(\"parquet\").load(dir)").size === 1)
    assert(schemaLessReads("spark.read.schema(s).parquet(dir)").isEmpty)
    assert(schemaLessReads(
      "spark.read.parquet(a)\ndf.write.mode(\"append\").parquet(b)").size === 1)
    assert(schemaLessReads("spark.read.schema(s).json(dir)").isEmpty)
  }

  test("no src/main file outside the allow-list reads parquet without " +
      "a declared schema") {
    assert(offenders.nonEmpty, "the scan found no source files")
    val unlisted = offenders -- allowed.keySet
    assert(unlisted.isEmpty,
      "declare the schema at the writer and read with .schema(...): " +
        unlisted.map { case (f, rs) => s"$f: ${rs.mkString(" | ")}" }
          .mkString("; "))
  }

  test("every allow-listed file still holds a schema-less read") {
    val stale = allowed.keySet -- offenders.keySet
    assert(stale.isEmpty, s"remove from the allow-list: $stale")
  }
}
