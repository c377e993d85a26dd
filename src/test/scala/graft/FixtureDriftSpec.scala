package graft

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables

/** Fixture-drift regression: the driver's testdata generation has
  * shipped `events.ts` as both TIMESTAMP(NANOS) (read as a nanos
  * BIGINT under `nanosAsLong`) and plain `timestamp[us]`
  * (TIMESTAMP_NTZ) across rounds. `Tables.load`/`loadStream` must
  * produce identical microsecond values over BOTH physical eras, so a
  * silent regeneration can never again take the events family down.
  * Each era's fixture is authored here, from the suite itself — the
  * nanos one via parquet-java directly (Spark cannot write
  * TIMESTAMP(NANOS)), the micros one via a TimestampNTZ Spark write.
  */
class FixtureDriftSpec extends SparkSpec {
  import spark.implicits._

  // (event_id, epoch-micros) — the value both eras must normalize to.
  private val expected = Seq(
    (1L, 1700000000123456L),
    (2L, 1700000001000000L),
    (3L, 123456L))

  private def nanosFixtureDir(): String = {
    val dir = Files.createTempDirectory("events_nanos_era").toString
    val schema = Types.buildMessage()
      .addField(Types.required(PrimitiveTypeName.INT64).named("event_id"))
      .addField(Types.required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
        .named("ts"))
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    // sub-microsecond remainders exercise the nanos→micros truncation
    expected.zip(Seq(999L, 0L, 1L)).foreach { case ((id, us), rem) =>
      val g = gf.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L + rem)
      writer.write(g)
    }
    writer.close()
    dir
  }

  private def microsFixtureDir(): String = {
    val dir = Files.createTempDirectory("events_micros_era").toString
    val stage = s"$dir/_stage"
    expected.map { case (id, us) =>
      (id, LocalDateTime.ofEpochSecond(
        us / 1000000L, (us % 1000000L).toInt * 1000, ZoneOffset.UTC))
    }.toDF("event_id", "ts").coalesce(1).write.parquet(stage)
    // the driver fixture is a single FILE named events.parquet; the
    // stream loader's pathGlobFilter relies on that leaf name
    val part = Files.list(Paths.get(stage)).iterator()
    var moved = false
    while (part.hasNext) {
      val p = part.next()
      if (p.toString.endsWith(".parquet")) {
        Files.move(p, Paths.get(s"$dir/events.parquet")); moved = true
      }
    }
    assert(moved, "no part file produced by the staging write")
    dir
  }

  private def batchMicros(dir: String): Seq[(Long, Long)] =
    Tables.load(spark, dir, "events")
      .select($"event_id", unix_micros($"ts"))
      .as[(Long, Long)].collect().toSeq.sorted

  private def streamMicros(dir: String, name: String): Seq[(Long, Long)] = {
    val q = Tables.loadStream(spark, dir, "events")
      .select($"event_id", unix_micros($"ts").as("us"))
      .writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).as[(Long, Long)].collect().toSeq.sorted
  }

  test("events fixtures: nanos-era and micros-era reads normalize to " +
      "identical micros through Tables.load") {
    val (a, b) = (nanosFixtureDir(), microsFixtureDir())
    assert(batchMicros(a) == expected.sorted,
      "nanos-era batch read must truncate to the expected micros")
    assert(batchMicros(b) == expected.sorted,
      "micros-era batch read must pass values through unchanged")
    val tsType = Tables.load(spark, b, "events").schema("ts").dataType
    assert(tsType == org.apache.spark.sql.types.TimestampType,
      s"normalized ts must be session-TZ TimestampType, got $tsType")
  }

  test("events fixtures: loadStream agrees with batch over both eras") {
    assert(streamMicros(nanosFixtureDir(), "fx_nanos") == expected.sorted)
    assert(streamMicros(microsFixtureDir(), "fx_micros") == expected.sorted)
  }

  test("non-events table with a TIMESTAMP(NANOS) regeneration: the " +
      "footer-flagged column truncates to micros, plain BIGINTs stay") {
    val dir = Files.createTempDirectory("orders_nanos_era").toString
    val schema = Types.buildMessage()
      .addField(Types.required(PrimitiveTypeName.INT64).named("o_orderkey"))
      .addField(Types.required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
        .named("o_orderdate"))
      .named("orders")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/orders.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    expected.zip(Seq(999L, 0L, 1L)).foreach { case ((id, us), rem) =>
      val g = gf.newGroup()
      g.add("o_orderkey", id)
      g.add("o_orderdate", us * 1000L + rem)
      writer.write(g)
    }
    writer.close()
    val got = Tables.load(spark, dir, "orders")
    assert(got.schema("o_orderkey").dataType ==
      org.apache.spark.sql.types.LongType,
      "a legitimate BIGINT must not be retyped")
    assert(got.schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val vals = got.select($"o_orderkey", unix_micros($"o_orderdate"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(vals == expected.sorted)
  }

  test("a TIMESTAMP(NANOS) table read in a session without nanosAsLong " +
      "fails with a pointer to Tables.sessionConfs") {
    val dir = nanosFixtureDir()
    val bare = spark.newSession()
    bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    Seq[() => Any](() => Tables.load(bare, dir, "events"),
        () => Tables.loadStream(bare, dir, "events")).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("TIMESTAMP(NANOS)") &&
        e.getMessage.contains("graft.sources.Tables.sessionConfs"))
    }
  }
}
