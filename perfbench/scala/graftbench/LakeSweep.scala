package graftbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import graft.operators.{Ingest, Pipeline, Transforms, Validation}
import graft.sources.{IO, Schemas}
import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference lifecycle at a fixed volume: land IoT readings through
  * the landing sink, flatten weather into the raw zone, run both curated
  * transforms, register the tables (MSCK repair), read the new layout back,
  * then land a late slice and backfill the dates it touches. */
object LakeSweep {

  val baseCities = Seq("New York", "Tokyo", "Sao Paulo", "Berlin", "Nairobi",
    "Sydney", "Mumbai", "Cairo")

  /** Generator parameters. The seed picks the start date, the city-name
    * salt, the backfill dates and the dates the reads ask for; volumes are
    * fixed by the workload. */
  final case class P(cities: Seq[String], sensors: Int, ticksPerDate: Int, dates: Int,
      batches: Int, lateTicks: Int, backfill: Seq[Int], startDay: Long, reads: Int) {
    val perTick: Long = cities.size.toLong * sensors
    val ticks: Long = ticksPerDate.toLong * dates
    val rows: Long = perTick * ticks
    val tickSec: Long = 86400L / ticksPerDate
    val lateRows: Long = perTick * lateTicks * backfill.size
    val weatherRows: Long = cities.size.toLong * dates * 24
    def date(i: Int): String = LocalDate.ofEpochDay(startDay + i).toString
  }

  def params(o: Opts): P = {
    val rnd = new scala.util.Random(o.seed)
    val c = o.config
    val dates = c("dates").toInt
    val salt = f"${rnd.nextInt(4096)}%03x"
    P(baseCities.take(c("cities").toInt).map(n => s"$n $salt"), c("sensors").toInt,
      c("ticks_per_date").toInt, dates, c("batches").toInt, c("late_ticks").toInt,
      rnd.shuffle((0 until dates).toList).take(c("backfill_dates").toInt).sorted,
      LocalDate.parse("2025-01-01").toEpochDay + rnd.nextInt(365), c("reads").toInt)
  }

  /** Bounded landing source: `rate-micro-batch` emits one fixed-size batch
    * per AvailableNow run, with values continuing from the checkpoint. */
  private def readings(spark: SparkSession, p: P, rowsPerBatch: Long, idOffset: Long,
      eventSec: Column => Column): DataFrame = {
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch).option("startTimestamp", 0L)
      .option("advanceMillisPerBatch", 1000L).load()
    Ingest.readingProjection(
      src.select((col("value") + lit(idOffset)).as("id"),
        timestamp_seconds(eventSec(col("value"))).as("event_ts")),
      p.cities, p.sensors)
  }

  /** Main backlog: ticks spread evenly over the event dates. */
  private def backlog(spark: SparkSession, p: P): DataFrame =
    readings(spark, p, p.rows / p.batches, 0L, v =>
      lit(p.startDay * 86400L) + (v / p.perTick).cast("long") * p.tickSec)

  /** Late slice: `lateTicks` more ticks on each backfill date, offset half
    * a tick from the backlog's timestamps. */
  private def lateSlice(spark: SparkSession, p: P): DataFrame = {
    val perDate = p.perTick * p.lateTicks
    val day = element_at(array(p.backfill.map(d => lit(d.toLong)): _*),
      (col("value") / perDate).cast("int") + 1)
    readings(spark, p, p.lateRows, p.rows, v =>
      lit(p.startDay * 86400L) + day * 86400L +
        ((v % perDate) / p.perTick).cast("long") * p.tickSec + p.tickSec / 2)
  }

  /** Lands `batches` batches; returns (rows, batches) from the progress. */
  private def land(df: DataFrame, raw: String, ckpt: String, err: String,
      batches: Int): (Long, Int) = {
    var rows = 0L
    var n = 0
    for (_ <- 0 until batches) {
      val q = Streams.startRawLandingSink(df, raw, ckpt, err, Trigger.AvailableNow())
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val prog = q.recentProgress.filter(_.numInputRows > 0)
      rows += prog.map(_.numInputRows).sum
      n += prog.length
    }
    (rows, n)
  }

  /** Open-Meteo-shaped responses, one per city and date (the batch
    * ingest's fetch unit), built in one plan: each value hashes (city,
    * date, hour) into the reference's range. `Ingest.flattenOpenMeteo`
    * turns them into raw weather rows. */
  private def weatherRaw(spark: SparkSession, p: P, cores: Int): DataFrame = {
    def u(salt: String, lo: Double, hi: Double): Column => Column = h =>
      round(lit(lo) + pmod(xxhash64(col("city"), col("date"), h, lit(salt)), lit(1000000L)) /
        lit(1e6) * lit(hi - lo), 1)
    val hours = sequence(lit(0), lit(23))
    val cityArr = array(p.cities.map(lit): _*)
    val responses = spark.range(0, p.cities.size.toLong * p.dates, 1, cores)
      .select(
        element_at(cityArr, (col("id") % p.cities.size).cast("int") + 1).as("city"),
        date_format(date_add(lit(p.date(0)).cast("date"), (col("id") / p.cities.size).cast("int")),
          "yyyy-MM-dd").as("date"))
      .select(lit("run0").as("ingestion_id"), col("city"),
        round(pmod(xxhash64(col("city"), lit("lat")), lit(120000L)) / lit(1000.0) - lit(60.0), 4)
          .as("latitude"),
        round(pmod(xxhash64(col("city"), lit("lon")), lit(360000L)) / lit(1000.0) - lit(180.0), 4)
          .as("longitude"),
        struct(
          transform(hours, h => format_string("%sT%02d:00", col("date"), h)).as("time"),
          transform(hours, u("t2m", 10, 35)).as("temperature_2m"),
          transform(hours, u("rh", 20, 95)).as("relative_humidity_2m"),
          transform(hours, u("ws", 0, 40)).as("wind_speed_10m"),
          transform(hours, u("pr", 0, 5)).as("precipitation")).as("hourly"),
        concat(col("date"), lit("T06:00:00+00:00")).as("ingested_at"))
    Ingest.flattenOpenMeteo(responses)
      .withColumn("date", Transforms.eventDate(col("timestamp")))
  }

  private val scanHelper = new AdaptiveSparkPlanHelper {}

  /** Files the executed plan's scans read (the `numFiles` scan metric). */
  private def filesRead(df: DataFrame): Long =
    scanHelper.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum

  private def partitionFiles(dir: File): Map[String, Seq[File]] =
    Option(dir.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("date="))
      .map(d => d.getName.stripPrefix("date=") -> Files2.dataFiles(d)).toMap

  def run(h: Harness): Map[String, Any] = {
    val o = h.o
    val p = params(o)
    val rnd = new scala.util.Random(o.seed ^ 0x5eed)
    // Warm-up (part of set-up): one whole sweep at a small volume in one
    // batch, so the timed sweep does not pay the JVM's cold start of every
    // lifecycle step.
    h.setup { sweep(h, p.copy(ticksPerDate = o.config("warm_ticks_per_date").toInt,
      batches = 1), "warm", rnd, timed = false) }
    val t0 = System.nanoTime()
    val timed = sweep(h, p, "timed", rnd, timed = true)
    Map("sweep" -> timed, "window_s" -> (System.nanoTime() - t0) / 1e9,
      "params" -> Map("rows" -> p.rows, "late_rows" -> p.lateRows, "dates" -> p.dates,
        "batches" -> p.batches, "cities" -> p.cities, "backfill" -> p.backfill.map(p.date)))
  }

  private def sweep(h: Harness, p: P, i: String, rnd: scala.util.Random,
      timed: Boolean): Map[String, Any] = {
    val spark = h.spark
    val t = h.tracer
    val root = s"${h.o.work}/lake/$i"
    Files2.rm(new File(root))
    val rawIot = s"$root/raw/iot-sensors"
    val rawWeather = s"$root/raw/weather"
    val curIot = s"$root/curated/sensor_readings"
    val curWeather = s"$root/curated/weather"
    val ckpt = s"$root/ckpt"
    val err = s"$root/firehose-errors"
    val out = mutable.Map[String, Any]()

    /** One lifecycle step: timed, recorded, failed on exception or on a
      * false check. */
    def step[T](name: String)(body: => T)(check: T => Seq[(String, Boolean)]): Option[T] = {
      t.operation(s"sweep$i:$name")
      val (r, ms) = h.op("step", name)(body)
      val checks = r.map(check).getOrElse(Nil)
      val bad = checks.filterNot(_._2).map(_._1)
      bad.foreach(b => h.findings += s"sweep $i step $name: check failed: $b")
      h.record(Op("step", name, r.isDefined && bad.isEmpty, ms,
        Map("checks" -> checks.map(_._1))))
      out(s"${name}_ms") = ms
      r
    }

    def validated(rawPath: String, schema: org.apache.spark.sql.types.StructType,
        dataset: String, suite: Seq[Validation.Expectation])(transform: => Pipeline.TransformOutcome) = {
      // Negative control: a wrapper that calls Validation.validate twice
      // before the transform validates again.
      if (h.o.negativeControl) for (_ <- 0 until 2)
        t("validation.extra")(Validation.validate(IO.readNdjson(spark, schema, rawPath), dataset, suite))
      transform
    }

    val s0 = System.nanoTime()
    val landed = step("land") {
      t("streaming.land")(land(backlog(spark, p), rawIot, ckpt, err, p.batches))
    } { case (rows, n) =>
      Seq(s"landed rows $rows = ${p.rows}" -> (rows == p.rows),
        s"batches $n = ${p.batches}" -> (n == p.batches),
        "no dead-lettered batch" -> !new File(err).exists())
    }
    out("bytes_landed") = Files2.bytes(new File(rawIot))
    step("weather") {
      t("ingest.weather")(IO.writeNdjson(weatherRaw(spark, p, h.o.cores), rawWeather, Seq("date")))
    }(_ => Nil)
    step("transform_iot") {
      t("pipeline.transform_iot")(validated(rawIot, Schemas.rawIot, "raw_iot_sensors",
        Validation.iotSuite)(Pipeline.transformIot(spark, rawIot, curIot)))
    } { r =>
      val v = r.validation
      Seq(s"iot validation ${v.map(x => s"${x.expectationsPassed}/${x.expectationsEvaluated}")} = 9/9" ->
          v.exists(x => x.success && x.expectationsEvaluated == 9),
        s"iot rows written ${r.rowsWritten} = landed ${landed.map(_._1)}" ->
          landed.exists(_._1 == r.rowsWritten))
    }
    step("transform_weather") {
      t("pipeline.transform_weather")(validated(rawWeather, Schemas.rawWeather, "raw_weather",
        Validation.weatherSuite)(Pipeline.transformWeather(spark, rawWeather, curWeather)))
    } { r =>
      val v = r.validation
      Seq(s"weather validation ${v.map(x => s"${x.expectationsPassed}/${x.expectationsEvaluated}")} = 6/6" ->
          v.exists(x => x.success && x.expectationsEvaluated == 6),
        s"weather rows ${r.rowsWritten} = ${p.weatherRows}" -> (r.rowsWritten == p.weatherRows))
    }
    val registered = step("register") {
      t("io.catalog") {
        IO.createExternalTable(spark, "curated_sensor_readings", "PARQUET",
          Schemas.curatedSensorReadings, Seq("date"), curIot)
        IO.createExternalTable(spark, "curated_weather", "PARQUET",
          Schemas.curatedWeather, Seq("date"), curWeather)
        (spark.sql("SHOW PARTITIONS curated_sensor_readings").count(),
          spark.sql("SHOW PARTITIONS curated_weather").count())
      }
    } { case (a, b) =>
      Seq(s"iot partitions $a = ${p.dates} event dates" -> (a == p.dates),
        s"weather partitions $b = ${p.dates} event dates" -> (b == p.dates))
    }
    out("partitions_registered") = registered.map(r => r._1 + r._2).getOrElse(0L)

    val flagship = "SELECT city, COUNT(*) AS cnt FROM curated_sensor_readings GROUP BY city ORDER BY city"
    val perCity = p.perTick / p.cities.size * p.ticks
    def flagshipCheck(rows: Array[org.apache.spark.sql.Row]): Seq[(String, Boolean)] =
      Seq(s"flagship: ${p.cities.size} cities x $perCity readings" ->
        (rows.length == p.cities.size && rows.forall(_.getLong(1) == perCity) &&
          rows.map(_.getString(0)).toSet == p.cities.toSet))
    step("answer")(t("serving.flagship")(spark.sql(flagship).collect()))(flagshipCheck)
    out("sweep_s") = (System.nanoTime() - s0) / 1e9

    val curIotDir = new File(curIot)
    val curatedFiles = Files2.dataFiles(curIotDir) ++ Files2.dataFiles(new File(curWeather))
    out("curated_files") = curatedFiles.size
    out("curated_bytes") = curatedFiles.map(_.length).sum
    out("raw_bytes") = Files2.bytes(new File(rawIot)) + Files2.bytes(new File(rawWeather))
    out("partitions") = partitionFiles(curIotDir).size + partitionFiles(new File(curWeather)).size

    // Lake reads over the layout just written.
    val perDate = p.perTick * p.ticksPerDate
    val readMs = mutable.ArrayBuffer[Double]()
    var scanRead = 0L
    var scanTotal = 0L
    val iotFiles = Files2.dataFiles(curIotDir).size.toLong
    for (r <- 0 until (if (timed) p.reads else 0)) {
      val d = rnd.nextInt(p.dates)
      val lo = rnd.nextInt(p.dates - 6)
      val reads: Seq[(String, String, Array[org.apache.spark.sql.Row] => Seq[(String, Boolean)])] = Seq(
        ("flagship", flagship, flagshipCheck),
        ("pruned_count",
          s"SELECT COUNT(*) FROM curated_sensor_readings WHERE date = '${p.date(d)}'",
          rows => Seq(s"pruned count = $perDate" -> (rows.head.getLong(0) == perDate))),
        ("date_range",
          s"SELECT date, COUNT(*) AS n, AVG(temperature_c) AS t, MAX(aqi) AS a " +
            s"FROM curated_sensor_readings WHERE date BETWEEN '${p.date(lo)}' AND '${p.date(lo + 6)}' " +
            "GROUP BY date ORDER BY date",
          rows => Seq(s"date range: 7 dates x $perDate" ->
            (rows.length == 7 && rows.forall(_.getLong(1) == perDate)))))
      reads.foreach { case (name, sql, check) =>
        t.operation(s"sweep$i:read$r:$name")
        var df: DataFrame = null
        val (res, ms) = h.op("read", name)(t("serving.lake_read") {
          df = spark.sql(sql)
          df.collect()
        })
        val bad = res.map(check).getOrElse(Nil).filterNot(_._2).map(_._1)
        bad.foreach(b => h.findings += s"sweep $i read $name: check failed: $b")
        h.record(Op("read", name, res.isDefined && bad.isEmpty, ms))
        if (res.isDefined) readMs += ms
        if (name == "pruned_count" && res.isDefined) {
          scanRead += filesRead(df)
          scanTotal += iotFiles
        }
      }
    }
    if (timed) {
      out("read_ms") = readMs.toSeq
      out("scan_files_read") = scanRead
      out("scan_files_total") = scanTotal
    }

    out("rows_landed") = landed.map(_._1).getOrElse(0L)
    out("batches_landed") = landed.map(_._2).getOrElse(0)
    if (timed) {
      // Late slice, then a backfill of just the dates it touches; every
      // other partition must keep byte-identical files.
      val lateDates = p.backfill.map(p.date).toSet
      step("land_late") {
        t("streaming.land_late")(land(lateSlice(spark, p), rawIot, s"$ckpt-late", err, 1))
      } { case (rows, _) => Seq(s"late rows $rows = ${p.lateRows}" -> (rows == p.lateRows)) }
      def snapshot(): Map[String, Map[String, String]] = partitionFiles(curIotDir)
        .map { case (d, fs) => d -> fs.map(f => f.getName -> Files2.digest(f)).toMap }
      val before = snapshot()
      val bf = step("backfill") {
        t("pipeline.backfill")(Pipeline.backfillIot(spark, rawIot, curIot, p.backfill.map(p.date)))
      } { r =>
        val expect = (perDate + p.perTick * p.lateTicks) * p.backfill.size
        Seq(s"backfill rows ${r.rowsWritten} = $expect" -> (r.rowsWritten == expect))
      }
      val after = snapshot()
      val untouchedChanged = before.filter { case (d, _) => !lateDates.contains(d) }
        .map { case (d, files) => if (after.get(d).contains(files)) 0 else files.size.max(1) }.sum
      h.record(Op("check", "backfill_untouched_identical", bf.isDefined && untouchedChanged == 0, 0.0))
      if (untouchedChanged != 0)
        h.findings += s"sweep $i: backfill changed $untouchedChanged files outside its dates"
      out("untouched_files_changed") = untouchedChanged
      out("backfill_files_written") = after.filter(x => lateDates.contains(x._1)).values.map(_.size).sum
    }
    Files2.rm(new File(root))
    out.toMap
  }
}
