package graft.perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Tables

/** Seeded synthetic fixture tables in the `graft.Tables.contract`
  * schemas (TPC-H-like star plus events, documents and embeddings),
  * one parquet file per table, for the query-mix workload.
  *
  * Rows are built single-threaded in the driver from the seed, so the
  * same seed and scale give the same tables. `scale` 1.0 gives the row
  * counts of a 0.01 scale factor: 60,000 lineitems, 10,000 events,
  * 500 documents and 500 embeddings.
  */
object FixtureGen {

  private val Vocab = ("a the key agg row scan slow fast table value part hash merge batch " +
    "spark sort line window order data column join small customer query stream filter " +
    "group big vector").split(" ")
  private val Langs = Array("en", "en", "en", "es", "zh", "de", "fr")
  private val EventTypes = Array("signup", "view", "click", "purchase", "error")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM")
  private val PartWords = Array("small", "red", "blue", "green", "large")
  private val PartNouns = Array("ring", "widget", "bolt", "gear", "nut")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** Writes every contract table under `dir`; returns rows per table. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Map[String, Long] = {
    val rnd = new SplittableRandom(seed)
    def n(base: Int): Int = math.max(1, (base * scale).round.toInt)
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    val day0 = LocalDate.of(1995, 1, 1)
    def day(maxDays: Int): LocalDateTime = day0.plusDays(rnd.nextInt(maxDays).toLong).atStartOfDay()

    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrders = n(15000); val nEvents = n(10000); val nUsers = math.max(10, n(150))
    val nDocs = n(500); val nVecs = n(500)

    val tables: Seq[(String, Seq[Row])] = Seq(
      "region" -> Regions.indices.map(i => Row(i, Regions(i))),
      "nation" -> (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      "customer" -> (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), money(-999.99, 9999.99), Segments(rnd.nextInt(Segments.length)))),
      "supplier" -> (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), money(-999.99, 9999.99))),
      "part" -> (0 until nPart).map(i => Row(i.toLong,
        s"${PartWords(rnd.nextInt(5))} ${PartNouns(rnd.nextInt(5))}",
        s"Brand#${1 + rnd.nextInt(25)}", PartTypes(rnd.nextInt(5)), 1 + rnd.nextInt(50),
        900.0 + (i % 1000) / 10.0)),
      "orders" -> (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        Seq("F", "O", "P")(rnd.nextInt(3)), money(1000, 500000), day(2400),
        Priorities(rnd.nextInt(5)))),
      "lineitem" -> (0 until nOrders).flatMap { o =>
        (1 to 1 + rnd.nextInt(7)).map { ln =>
          Row(o.toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong, ln,
            (1 + rnd.nextInt(50)).toDouble, money(900, 100000), rnd.nextInt(11) / 100.0,
            rnd.nextInt(9) / 100.0, Seq("R", "A", "N")(rnd.nextInt(3)),
            Seq("F", "O")(rnd.nextInt(2)), day(2500))
        }
      },
      "events" -> {
        var t = LocalDateTime.of(2024, 1, 1, 0, 0)
        (0 until nEvents).map { i =>
          t = t.plusNanos((1 + rnd.nextInt(300)) * 1000000000L + rnd.nextInt(1000000) * 1000L)
          Row(i.toLong, t, rnd.nextInt(nUsers).toLong, EventTypes(rnd.nextInt(5)),
            money(0.01, 490), s"""{"k": ${rnd.nextInt(100)}}""")
        }
      },
      "documents" -> {
        var prev = Array("a")
        (0 until nDocs).map { i =>
          // every tenth document is a one-word edit of the one before it
          val words =
            if (i % 10 == 9) prev.updated(rnd.nextInt(prev.length), Vocab(rnd.nextInt(Vocab.length)))
            else Array.fill(20 + rnd.nextInt(80))(Vocab(rnd.nextInt(Vocab.length)))
          prev = words
          val text = words.mkString(" ")
          Row(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(20)}",
            text.length.toLong)
        }
      },
      "embeddings" -> {
        val centres = Array.fill(10, 64)(rnd.nextDouble() * 0.4 - 0.2)
        (0 until nVecs).map { i =>
          val label = rnd.nextInt(10)
          Row(i.toLong, centres(label).map(c => (c + rnd.nextDouble() * 0.1 - 0.05).toFloat).toSeq, label)
        }
      })

    tables.map { case (name, rows) =>
      val schema = StructType(Tables.contract(name).map { case (c, t) => StructField(c, t) })
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> rows.size.toLong
    }.toMap
  }
}
