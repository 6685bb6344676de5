package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.DataFiles

/** Table loader for the driver fixtures (TESTDATA.md / FIXTURES.md).
  *
  * All oracle-checked queries load their inputs through here so the
  * determinism rules of SURVEY.md §7.4 are applied in exactly one place:
  *
  *  - Timestamp columns are normalized across fixture generations to
  *    tz-naive micros (`timestamp_ntz`), matching how DuckDB reads the
  *    same files: Parquet TIMESTAMP(NANOS) surfaces as raw-nanos Long
  *    under `spark.sql.legacy.parquet.nanosAsLong=true` and is truncated
  *    toward zero to micros; TIMESTAMP(MICROS, NTZ) passes through; a
  *    tz-adjusted TIMESTAMP is cast to ntz under an asserted-UTC session
  *    (a non-UTC session would shift every value, so we fail loudly
  *    rather than silently drift — see [[requireUtcSession]]).
  *  - Every loaded table is checked against the FIXTURES.md schema
  *    contract ([[contract]]): an unexpected column set or column type
  *    fails AT LOAD with an error naming the table, column, expected and
  *    found type — not three layers up as an oracle hash mismatch. A
  *    regenerated events.parquet has switched its Parquet timestamp
  *    physical type before, so fixture-generation drift is a real,
  *    observed hazard.
  *  - A fixture's schema is inferred from its Parquet footers at most
  *    once per file set ([[readRaw]]); later loads of the same files
  *    read with the remembered schema and run no Spark job. A
  *    regenerated file is a new file set, so it is inferred and checked
  *    again.
  */
object Tables {

  /** Decimal type used for money/metric measures in oracle queries
    * (SURVEY.md §7.4.2: never hash-compare raw double sums). */
  val Money: DecimalType = DecimalType(18, 2)

  def dec(c: Column): Column = c.cast(Money)

  /** FIXTURES.md §1 schema contract, as Spark-read types AFTER timestamp
    * normalization. Order-sensitive: the fixtures are written column-by-
    * column by one generator, so a reorder is as suspicious as a retype. */
  val contract: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType)
  )

  /** Structural equality ignoring nullability at every level — the
    * generator does not promise nullability flags, only shapes. */
  private def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: ArrayType, y: ArrayType)   => sameType(x.elementType, y.elementType)
    case (x: MapType, y: MapType)       => sameType(x.keyType, y.keyType) && sameType(x.valueType, y.valueType)
    case (x: StructType, y: StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall {
        case (f, g) => f.name == g.name && sameType(f.dataType, g.dataType)
      }
    case _ => a == b
  }

  /** Fail-loud fixture drift guard: checks `df` against [[contract]]
    * (no-op for tables outside it, e.g. reference-derived fixtures that
    * have their own golden tests). */
  private def checkContract(name: String, df: DataFrame): DataFrame = {
    contract.get(name).foreach { expected =>
      val found = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      if (found.map(_._1) != expected.map(_._1))
        throw new IllegalStateException(
          s"fixture schema drift in table '$name': expected columns " +
            s"${expected.map(_._1).mkString("[", ", ", "]")} but parquet has " +
            s"${found.map(_._1).mkString("[", ", ", "]")} — regenerated fixture? " +
            "Update FIXTURES.md + Tables.contract together.")
      expected.zip(found).foreach { case ((col, want), (_, got)) =>
        if (!sameType(want, got))
          throw new IllegalStateException(
            s"fixture schema drift in table '$name', column '$col': expected " +
              s"${want.simpleString} but parquet read as ${got.simpleString} — " +
              "regenerated fixture changed a physical type? Normalize it in " +
              "Tables.load (like events.ts) or update the FIXTURES.md contract.")
      }
    }
    df
  }

  /** The TimestampType→TimestampNTZType cast reinterprets the instant in
    * the SESSION timezone; anything but UTC silently shifts every value.
    * Checked on every load, not trusted to the session builders, since a
    * driver-owned session may load tables without them. */
  private def requireUtcSession(spark: SparkSession, table: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    if (tz != "UTC")
      throw new IllegalStateException(
        s"refusing tz-dependent timestamp normalization for table '$table': " +
          s"session timeZone is '$tz', need UTC (GraftSession sets it; " +
          "driver-owned sessions must set spark.sql.session.timeZone=UTC).")
  }

  /** Normalize one column to timestamp_ntz across the three observed
    * fixture generations; leave it untouched if already ntz. */
  private def toNtz(spark: SparkSession, df: DataFrame, c: String, table: String): DataFrame =
    df.schema(c).dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw nanos under nanosAsLong
        df.withColumn(c, expr(s"cast(timestamp_micros($c div 1000) as timestamp_ntz)"))
      case TimestampNTZType => df
      case TimestampType =>
        requireUtcSession(spark, table)
        df.withColumn(c, col(c).cast(TimestampNTZType))
      case other =>
        throw new IllegalStateException(
          s"fixture schema drift in table '$table', column '$c': expected a " +
            s"timestamp flavor (nanos-as-long / micros ntz / tz-adjusted) but " +
            s"parquet read as ${other.simpleString}.")
    }

  /** Columns that must land as timestamp_ntz regardless of the fixture
    * generation's Parquet physical type. */
  private val tsColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (tsColumns.contains(name)) {
      // Session builders set this too; kept for driver-owned sessions
      // that load tables without our builder. Every tsColumns table
      // gets it: any of them can regenerate into the TIMESTAMP(NANOS)
      // flavor, and without nanosAsLong the scan fails with Spark's raw
      // 'Illegal Parquet type' instead of this loader's named contract
      // error. The session TIMEZONE is deliberately NOT force-set here:
      // a read flag only changes how these files parse, but overriding
      // the session tz would silently re-interpret every timestamp in
      // the caller's OWN queries. The tz-adjusted flavor instead fails
      // loudly via requireUtcSession and the caller chooses UTC, as
      // every entry point in this repo does.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val raw = readRaw(spark, s"$sfDir/$name.parquet")
    val normalized = tsColumns.getOrElse(name, Nil).foldLeft(raw) {
      (df, c) => toNtz(spark, df, c, name)
    }
    checkContract(name, normalized)
  }

  /** Session confs that change the types Parquet schema inference gives
    * a file's columns, or which files it reads. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (path, data files as (name, length, modification time), values of
    * [[inferenceConfs]]) → the schema Spark inferred for that path. */
  private type MemoKey = (String, Seq[(String, Long, Long)], Seq[String])

  private val inferred =
    new java.util.concurrent.ConcurrentHashMap[MemoKey, StructType]()

  /** `spark.read.parquet(path)`, with the footer-inference job paid once
    * per file set: the key comes from one driver-side listing, and a
    * hit reads with exactly the schema Spark inferred on the miss, so
    * the DataFrame is the same. A path holding a subdirectory or no
    * data file is never remembered. */
  private def readRaw(spark: SparkSession, path: String): DataFrame = {
    val key: Option[MemoKey] =
      DataFiles.flat(spark.sparkContext.hadoopConfiguration, path)
        .filter(_.nonEmpty).map { files =>
          (path,
            files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted,
            inferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")))
        }
    key.flatMap(k => Option(inferred.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val raw = spark.read.parquet(path)
        key.foreach(inferred.put(_, raw.schema))
        raw
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def events(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
