package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Quality
import graft.sources.WeatherLakeV2Sink
import graft.weather.Weather

/** etl_hourly: the reference's hourly DAG against a fresh typed lake table
  * created through `LakeCatalog` and partitioned by day. Each cycle takes
  * one seeded batch, runs `Quality.gate` with `Weather.weatherSuite`,
  * `MERGE INTO` keyed on (city, timestamp) with last-writer-wins on
  * `_ingested_at`, and then the `Weather.dailyMart` read of the table
  * through noop.
  *
  * The batch has the reference's shape (SURVEY.md §6): the DAG runs every
  * hour (etl_openmeteo.py:14) and re-fetches the trailing 6 hours
  * (etl_openmeteo.py:37-38) of its 4 cities (etl_openmeteo.py:30-35), so
  * cycle `i` holds hours [i, i + 6) of every city and overlaps the previous
  * batch by 5 hours. The reference repairs late and missing hours with a
  * backfill that re-fetches up to 24 hours per request
  * (backfill_openmeteo.py:119-124); each batch here also carries
  * `LateRows` such replayed hours from the 24 hours before its window.
  *
  * The warehouse lives under the run directory and goes with it.
  */
final class EtlHourly(h: Harness) extends Workload {
  import EtlHourly._

  private val spark = h.spark
  private val p = if (h.o.tiny) Params(1, 3) else Params(10, Int.MaxValue)
  private val warehouse = h.o.runDir.resolve("warehouse")
  private val tableDir: Path = warehouse.resolve("staging")
  private val table = s"$Catalog.staging"
  private var cycles = 0
  private var merged = Vector.empty[Int]
  private val rowsPerBatch = Cities.size * Window + LateRows
  private var known = Map.empty[String, Long]

  /** Batch `i`: hours [i, i + Window) of every city, ingested at the end of
    * the window, plus `LateRows` distinct older hours replayed with an
    * ingest time up to a day earlier, so that some are newer and some
    * older than the stored row. Values are multiples of 0.25, so every
    * sum the mart takes is exact in any order.
    */
  def batchRows(i: Int): Seq[Row] = {
    val r = new SplittableRandom(h.o.seed * 1000003L + i)
    val ingest = Base + (i + Window) * HourUs
    def row(c: Int, hour: Int, ingestUs: Long): Row = {
      val (name, lat, lon, tz) = Cities(c)
      Row(name, ts(Base + hour * HourUs),
        quarter(r.nextDouble(-30, 40)), quarter(math.max(0.0, r.nextDouble(-10, 20))),
        quarter(r.nextDouble(0, 60)), lat, lon, tz, ts(ingestUs))
    }
    val window = for (c <- Cities.indices; hr <- i until i + Window)
      yield row(c, hr, ingest)
    val from = math.max(0, i - BackfillHours)
    val late = if (i == 0) Nil else {
      val picked = collection.mutable.LinkedHashSet[(Int, Int)]()
      val want = math.min(LateRows, Cities.size * (i - from))
      while (picked.size < want) picked += ((r.nextInt(Cities.size), from + r.nextInt(i - from)))
      // offsets end in (i % 1000) + 1 microseconds: no two rows of one key
      // ever share an ingest time, so last-writer-wins is never a tie
      picked.toSeq.map { case (c, hr) =>
        val off = r.nextLong(1L, BackfillHours.toLong) * HourUs -
          r.nextLong(0L, HourUs / 1000) * 1000 - ((i % 1000) + 1)
        row(c, hr, ingest - off)
      }
    }
    window ++ late
  }

  def batch(i: Int): DataFrame =
    spark.createDataFrame(batchRows(i).asJava, BatchSchema)
      .withColumn("day", to_date(col("timestamp")))

  def setup(): Unit = {
    CountingLocalFs.root = tableDir.toString
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.warehouse", warehouse.toString)
    spark.sql(s"""CREATE TABLE $table (city STRING, `timestamp` TIMESTAMP,
      temperature_2m DOUBLE, precipitation DOUBLE, wind_speed_10m DOUBLE,
      latitude DOUBLE, longitude DOUBLE, timezone STRING,
      _ingested_at TIMESTAMP, day DATE)
      USING lake PARTITIONED BY (day)""")
    h.log("table created")
    (0 until p.warmCycles).foreach { _ => cycle(); h.log(s"warm cycle $cycles") }
  }

  def measure(): Unit = {
    val start = h.nowNs()
    var n = 0
    do { cycle(); n += 1 } while (!h.deadlineReached(start) && n < p.maxTimedCycles)
  }

  private def cycle(): Unit = {
    val i = cycles
    cycles += 1
    val df = batch(i)
    df.count() // build the local batch outside the timed calls
    val fs0 = if (h.o.trace) CountingLocalFs.snapshot() else Map.empty[String, Double]
    h.pass {
      val gated = h.call("quality.gate") {
        h.phase("build")(Quality.gate(df, Weather.weatherSuite))
      }
      h.add("quality.gate_s", h.lastCallSeconds)
      gated.foreach { g =>
        val ok = h.call("lake.merge") {
          h.phase("build") {
            g.createOrReplaceTempView("batch")
            spark.sql(MergeSql).collect()
          }
        }
        if (ok.isDefined) merged :+= i
        h.add("lake.merge_s", h.lastCallSeconds)
        h.lastExec.foreach { x =>
          h.add("lake.merge_jobs", x.jobsByPhase.values.sum.toDouble)
          h.add("lake.merge_gap_s", math.max(h.lastCallSeconds - x.jobUnionS, 0.0))
        }
      }
      h.call("lake.mart") {
        val mart = h.phase("build")(Weather.dailyMart(spark.table(table)))
        h.phase("plan")(mart.queryExecution.executedPlan)
        h.phase("exec")(mart.write.mode("overwrite").format("noop").save())
      }
      h.add("lake.mart_s", h.lastCallSeconds)
    }
    // outside the pass time: the cycle's filesystem counts and new files
    if (h.o.trace) {
      val fs1 = CountingLocalFs.snapshot()
      fs1.foreach { case (k, v) => h.add(k, v - fs0(k)) }
      val (files, bytes) = newFiles()
      h.add("lake.files_written", files)
      h.add("lake.bytes_written", bytes)
      h.add("lake.write_amp", bytes / (rowsPerBatch * RowBytes))
    }
  }

  /** Files that appeared under the table directory since the last walk. */
  private def newFiles(): (Double, Double) = {
    val now = walk()
    val added = now.filter { case (f, _) => !known.contains(f) }
    known = now
    (added.size.toDouble, added.values.sum.toDouble)
  }

  private def walk(): Map[String, Long] = {
    val s = Files.walk(tableDir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally s.close()
  }

  override def extra(): Map[String, Double] = {
    val rows = spark.table(table).count()
    val base = Map(
      "cycles" -> cycles.toDouble,
      "rows_per_batch" -> rowsPerBatch.toDouble,
      "live_rows" -> rows.toDouble,
      "stored_bytes_per_row" -> walk().values.sum.toDouble / math.max(rows, 1L))
    if (!h.o.trace) base else base ++ Map(
      "lake.manifests_live" ->
        WeatherLakeV2Sink.liveManifests(tableDir.toString).size.toDouble,
      "lake.files_live" -> WeatherLakeV2Sink.committedFiles(tableDir.toString).size.toDouble)
  }

  /** The table and its mart must equal `Weather.dedupUpsert` and
    * `Weather.dailyMart` over every merged batch, computed without the lake.
    */
  def check(): Seq[String] = {
    if (h.o.corrupt)
      spark.sql(s"DELETE FROM $table WHERE city = '${Cities.head._1}' AND `timestamp` = " +
        s"TIMESTAMP '2025-10-01 00:00:00'")
    if (merged.isEmpty) Seq("no batch was merged") else {
      val all = merged.map(batch).reduce(_ union _)
      val expected = Weather.dedupUpsert(all).select(Columns.map(col): _*)
      val actual = spark.table(table).select(Columns.map(col): _*)
      Seq(
        compare("table", actual, expected),
        compare("mart", Weather.dailyMart(actual), Weather.dailyMart(expected))).flatten
    }
  }
}

object EtlHourly {
  final case class Params(warmCycles: Int, maxTimedCycles: Int)

  val Catalog = "bench"
  /** The reference's cities (etl_openmeteo.py:30-35): name, latitude,
    * longitude, time zone.
    */
  val Cities: IndexedSeq[(String, Double, Double, String)] = IndexedSeq(
    ("Berlin", 52.52, 13.41, "Europe/Berlin"), ("Warsaw", 52.23, 21.01, "Europe/Warsaw"),
    ("London", 51.51, -0.13, "Europe/London"), ("Paris", 48.85, 2.35, "Europe/Paris"))
  /** Hours re-fetched by each hourly run (etl_openmeteo.py:37-38). */
  val Window = 6
  /** Hours one backfill request covers (backfill_openmeteo.py:119-124). */
  val BackfillHours = 24
  /** Replayed late hours per batch: the benchmark's choice (the reference
    * gives no rate), one row in 25, so every MERGE also updates or skips
    * rows of older hours and, after the first day, of an older partition.
    */
  val LateRows = 1
  val HourUs = 3600L * 1000000L
  /** 2025-10-01T00:00:00Z in microseconds. */
  val Base = 1759276800L * 1000000L
  /** Fixed-width size of one batch row: seven 8-byte values, a 4-byte
    * date and two short strings of about 12 bytes.
    */
  val RowBytes = 7 * 8 + 4 + 2 * 12

  val BatchSchema: StructType = StructType(Seq(
    StructField("city", StringType), StructField("timestamp", TimestampType),
    StructField("temperature_2m", DoubleType), StructField("precipitation", DoubleType),
    StructField("wind_speed_10m", DoubleType), StructField("latitude", DoubleType),
    StructField("longitude", DoubleType), StructField("timezone", StringType),
    StructField("_ingested_at", TimestampType)))
  val Columns: Seq[String] = BatchSchema.fieldNames.toSeq :+ "day"

  val MergeSql: String =
    s"""MERGE INTO $Catalog.staging t USING batch s
       |ON t.day = s.day AND t.city = s.city AND t.`timestamp` = s.`timestamp`
       |WHEN MATCHED AND s._ingested_at > t._ingested_at THEN UPDATE SET *
       |WHEN NOT MATCHED THEN INSERT *""".stripMargin

  def quarter(x: Double): Double = math.round(x * 4) / 4.0
  def ts(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Row count plus an order-independent hash of every row. */
  def compare(what: String, actual: DataFrame, expected: DataFrame): Option[String] = {
    def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val (a, e) = (digest(actual), digest(expected))
    if (a == e) None else Some(s"$what differs: actual (rows, hash) $a, expected $e")
  }
}
