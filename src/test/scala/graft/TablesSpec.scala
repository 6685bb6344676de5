package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The fixture loader is the single seam between the driver-generated
  * parquet and every oracle-checked query, and regenerated fixtures
  * have changed a Parquet physical type before (events.ts). These
  * tests pin the three guarantees Tables makes: (1) schema drift fails
  * AT LOAD with an error naming the table, column, and types, also
  * when the files change between two loads in one session; (2)
  * timestamp columns land as timestamp_ntz whichever of the observed
  * generations the file is in; (3) a file set's schema is inferred
  * once, so a repeated load runs no Spark job.
  */
class TablesSpec extends SparkSuite {

  test("all ten fixture tables load and satisfy the FIXTURES.md contract") {
    Tables.contract.keys.foreach { t =>
      val df = Tables.load(spark, Sf, t) // throws on drift
      assert(df.columns.toSeq == Tables.contract(t).map(_._1),
        s"column order for $t")
    }
  }

  test("timestamp columns are normalized to timestamp_ntz") {
    assert(Tables.events(spark, Sf).schema("ts").dataType == TimestampNTZType)
    assert(Tables.orders(spark, Sf).schema("o_orderdate").dataType == TimestampNTZType)
    assert(Tables.lineitem(spark, Sf).schema("l_shipdate").dataType == TimestampNTZType)
  }

  test("a retyped column fails loudly, naming table, column, and both types") {
    val dir = "target/test-fixtures/tables/retyped"
    // region with r_regionkey widened int32 -> int64: a silent generator
    // change that would otherwise surface three layers up as an oracle
    // hash mismatch must fail in Tables with a clear message
    Tables.region(spark, Sf)
      .withColumn("r_regionkey", col("r_regionkey").cast(LongType))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalStateException] {
      Tables.load(spark, dir, "region")
    }
    assert(e.getMessage.contains("region"))
    assert(e.getMessage.contains("r_regionkey"))
    assert(e.getMessage.contains("int"))
    assert(e.getMessage.contains("bigint"))
  }

  test("a fixture retyped in place between two loads fails the second load") {
    val dir = "target/test-fixtures/tables/retyped-in-place"
    val path = s"$dir/region.parquet"
    Tables.region(spark, Sf).write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, dir, "region").schema("r_regionkey").dataType == IntegerType)
    Tables.region(spark, Sf)
      .withColumn("r_regionkey", col("r_regionkey").cast(LongType))
      .write.mode("overwrite").parquet(path)
    val e = intercept[IllegalStateException] {
      Tables.load(spark, dir, "region")
    }
    assert(e.getMessage.contains("region"))
    assert(e.getMessage.contains("r_regionkey"))
    assert(e.getMessage.contains("int"))
    assert(e.getMessage.contains("bigint"))
  }

  test("an unchanged file set is inferred once: a repeated load runs no job") {
    val dir = "target/test-fixtures/tables/memo"
    Tables.orders(spark, Sf).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val (first, cold) = SparkWork.measure(spark)(Tables.load(spark, dir, "orders"))
    assert(cold.jobs <= 1, cold.jobStageNames)
    val (second, warm) = SparkWork.measure(spark)(Tables.load(spark, dir, "orders"))
    assert(warm.jobs === 0, warm.jobStageNames)
    assert(second.schema === first.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows(second) === rows(first))
  }

  test("a missing / extra column fails loudly with both column lists") {
    val dir = "target/test-fixtures/tables/dropped"
    Tables.region(spark, Sf).drop("r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalStateException] {
      Tables.load(spark, dir, "region")
    }
    assert(e.getMessage.contains("region"))
    assert(e.getMessage.contains("r_name"))
  }

  test("tz-adjusted timestamp generation is normalized under an asserted-UTC session") {
    val dir = "target/test-fixtures/tables/tzorders"
    // Write o_orderdate as a tz-adjusted TIMESTAMP (the third observed
    // generation flavor): cast ntz -> tz under UTC, write, read back.
    withSQLConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      Tables.orders(spark, Sf)
        .withColumn("o_orderdate", col("o_orderdate").cast(TimestampType))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    }
    val raw = spark.read.parquet(s"$dir/orders.parquet")
    assume(raw.schema("o_orderdate").dataType == TimestampType,
      "writer produced a tz-adjusted column for this flavor test")

    val viaLoader = Tables.load(spark, dir, "orders")
    assert(viaLoader.schema("o_orderdate").dataType == TimestampNTZType)
    // UTC-in, UTC-out: values identical to the ntz original
    val want = Tables.orders(spark, Sf)
      .agg(max(col("o_orderdate"))).collect().head.get(0)
    val got = viaLoader.agg(max(col("o_orderdate"))).collect().head.get(0)
    assert(got == want)

    // Non-UTC session: the cast would shift every value, so the loader
    // must refuse rather than silently drift, also when this directory's
    // schema is already remembered from the load above.
    withSQLConf("spark.sql.session.timeZone" -> "America/New_York") {
      val e = intercept[IllegalStateException] {
        Tables.load(spark, dir, "orders")
      }
      assert(e.getMessage.contains("America/New_York"))
      assert(e.getMessage.contains("UTC"))
    }
  }

  test("a non-timestamp flavor where a timestamp is expected fails loudly") {
    val dir = "target/test-fixtures/tables/strts"
    Tables.orders(spark, Sf)
      .withColumn("o_orderdate", col("o_orderdate").cast(StringType))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val e = intercept[IllegalStateException] {
      Tables.load(spark, dir, "orders")
    }
    assert(e.getMessage.contains("o_orderdate"))
    assert(e.getMessage.contains("string"))
  }
}
