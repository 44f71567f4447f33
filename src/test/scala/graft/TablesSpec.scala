package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `events.ts` has shipped as two physical types: a BIGINT of epoch
  * nanos and a TIMESTAMP(MICROS) without timezone (TIMESTAMP_NTZ). A
  * testdata tier carries only one of them, so this spec writes a tiny
  * `events` table in each type, at the same instants, and pins that
  * `Tables` decodes both to the same UTC `ts` and exact `ts_us`. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Epoch micros per event id, pre-epoch and null included. */
  val micros: Seq[(Long, Option[Long])] = Seq(
    1L -> Some(0L), 2L -> Some(1700000000123456L), 3L -> None,
    4L -> Some(-86400000001L), 5L -> Some(4102444799999999L))

  /** The nanos a writer stores for `us`; a positive instant carries a
    * sub-micro remainder, which decoding truncates. */
  private def nanos(us: Long): Long = us * 1000 + (if (us > 0) 789 else 0)

  private def ntz(us: Long): LocalDateTime = LocalDateTime.ofEpochSecond(
    Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
    ZoneOffset.UTC)

  private def write(ts: DataType, value: Long => Any): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val rows = micros.map { case (id, us) => Row(id, us.map(value).orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("event_id", LongType),
          StructField("ts", ts, nullable = true))))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  lazy val nanosDir: String = write(LongType, nanos)
  lazy val ntzDir: String = write(TimestampNTZType, ntz)

  private def decoded(dir: String): Seq[Row] =
    Tables.eventsTsMicros(Tables(spark, dir, "events"))
      .orderBy("event_id").select("event_id", "ts", "ts_us").collect().toSeq

  test("both physical ts types are what the fixture writes") {
    assert(Tables.raw(spark, nanosDir, "events").schema("ts").dataType == LongType)
    assert(Tables.raw(spark, ntzDir, "events").schema("ts").dataType == TimestampNTZType)
  }

  test("Tables decodes BIGINT nanos and TIMESTAMP_NTZ micros to the same ts and ts_us") {
    val want = micros.map { case (id, us) =>
      Row(id, us.map(u => java.sql.Timestamp.from(Instant.EPOCH.plus(u, ChronoUnit.MICROS)))
        .orNull, us.map(Long.box).orNull)
    }
    assert(Tables(spark, nanosDir, "events").schema("ts").dataType == TimestampType)
    assert(Tables(spark, ntzDir, "events").schema("ts").dataType == TimestampType)
    assert(decoded(nanosDir) == want)
    assert(decoded(ntzDir) == want)
  }

  test("eventsTsMicros gives the same ts_us on a raw read as on a decoded one") {
    Seq(nanosDir, ntzDir).foreach { dir =>
      val raw = Tables.eventsTsMicros(Tables.raw(spark, dir, "events"))
        .orderBy("event_id").select("event_id", "ts", "ts_us").collect().toSeq
      assert(raw == decoded(dir), dir)
    }
  }

  test("a non-UTC session is rejected before an NTZ ts is decoded") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalArgumentException](Tables(s2, ntzDir, "events"))
    assert(e.getMessage.contains("spark.sql.session.timeZone=UTC"))
  }
}
