package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Scratch

/** Schema-drift resilience of the events loader (VERDICT r8 item 4).
  *
  * The testdata regenerated between rounds with `ts` switching from parquet
  * INT64 TIMESTAMP(NANOS) to native timestamp[us] — and a loader hard-coded
  * to one encoding silently broke every events query for two rounds. This
  * spec writes the SAME logical rows in four encodings — unannotated INT64,
  * true TIMESTAMP(NANOS) (via parquet-java, since Spark can't write nanos),
  * timestamp_ntz, and session-TZ timestamp — and asserts [[Tables.events]]
  * yields identical values from each, so the next on-disk drift fails a
  * unit test instead of the whole gate. Also covers the same-path rewrite
  * (the probe cache must not serve a stale type across a regeneration).
  */
class TablesSchemaDriftSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // known µs instants (whole-µs grid, so every encoding represents them
  // exactly); nanos variant carries sub-µs residue that must truncate away
  private val micros = Seq(
    (1L, 1356998400000000L, 7L, "view", 10L),        // 2013-01-01T00:00Z
    (2L, 1357002000123456L, 7L, "purchase", 20L),    // +1h and change
    (3L, 1359676799999999L, 9L, "view", 30L))        // 2013-01-31T23:59:59.999999

  // each test's event dirs live under one scoped scratch root
  private def drift(body: Path => Unit): Unit = Scratch.withDir("graft_drift")(body)

  private def writeEvents(root: Path, df: DataFrame, tag: String): String = {
    val dir = root.resolve(tag)
    Scratch.writeSingleParquet(df, dir.resolve("events.parquet"))
    dir.toString
  }

  private def base = micros.toDF("event_id", "us", "user_id", "event_type", "value")

  // INT64 with no logical annotation — what the legacy NANOS files look like
  // to a nanosAsLong scan, and what a raw-long writer produces
  private def longNanosDir(root: Path) = writeEvents(root,
    base.select(col("event_id"), (col("us") * 1000L).as("ts"),
      col("user_id"), col("event_type"), col("value")), "long")

  // native TIMESTAMP(MICROS, isAdjustedToUTC=false) — the current testdata
  private def ntzDir(root: Path) = writeEvents(root,
    base.select(col("event_id"),
      timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
      col("user_id"), col("event_type"), col("value")), "ntz")

  // session-TZ TimestampType as written by a plain Spark job
  private def tzDir(root: Path) = writeEvents(root,
    base.select(col("event_id"), timestamp_micros(col("us")).as("ts"),
      col("user_id"), col("event_type"), col("value")), "tz")

  private def load(dir: String): Seq[(Long, Long, String)] = {
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType == TimestampType,
      s"loader must always surface ts as TimestampType, got ${got.schema("ts").dataType}")
    got.select(col("event_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
  }

  test("all three on-disk ts encodings load to identical rows") {
    val expected = micros.map(m => (m._1, m._2, m._4)).sortBy(_._1)
    drift { root =>
      assert(load(longNanosDir(root)) == expected, "INT64-nanos encoding")
      assert(load(ntzDir(root)) == expected, "timestamp_ntz encoding")
      assert(load(tzDir(root)) == expected, "timestamp encoding")
    }
  }

  test("nanos residue truncates toward zero like the oracle's µs cast") {
    // 999 ns above a whole µs must floor to that µs, matching DuckDB's scan
    drift { root =>
      val dir = writeEvents(root,
        Seq((1L, 1356998400000000L * 1000L + 999L, 7L, "view", 10L))
          .toDF("event_id", "ts", "user_id", "event_type", "value"), "resid")
      assert(load(dir) == Seq((1L, 1356998400000000L, "view")))
    }
  }

  // true parquet TIMESTAMP(NANOS, isAdjustedToUTC=false) — what the legacy
  // testdata actually shipped. Spark cannot WRITE nanos, so the fixture is
  // produced with parquet-java's Group API directly; this is the encoding
  // the probe exists for (vectorized reader refuses NANOS unless
  // `nanosAsLong` is set, under which it scans as LongType).
  private def nanosAnnotatedDir(root: Path): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .addField(Types.required(INT64).named("event_id"))
      .addField(Types.required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts"))
      .addField(Types.required(INT64).named("user_id"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type"))
      .addField(Types.required(INT64).named("value"))
      .named("events")
    val dir = root.resolve("nanos").toString
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema)
      .build()
    val fac = new SimpleGroupFactory(schema)
    try micros.foreach { case (id, us, uid, typ, v) =>
      // 789 ns of sub-µs residue on the first row: must truncate away
      val residue = if (id == 1L) 789L else 0L
      writer.write(fac.newGroup()
        .append("event_id", id).append("ts", us * 1000L + residue)
        .append("user_id", uid).append("event_type", typ).append("value", v))
    } finally writer.close()
    dir
  }

  test("true TIMESTAMP(NANOS)-annotated parquet loads via the nanosAsLong probe") {
    val expected = micros.map(m => (m._1, m._2, m._4)).sortBy(_._1)
    drift { root =>
      assert(load(nanosAnnotatedDir(root)) == expected, "TIMESTAMP(NANOS) encoding")
    }
  }

  test("rewriting the events file with a different encoding mid-session is picked up") {
    // r9 VERDICT nit: a path-keyed probe cache served a stale type when the
    // file regenerated in one long-lived JVM. The cache keys on
    // (path, mtime/size fingerprint), so the rewrite must re-probe.
    val expected = micros.map(m => (m._1, m._2, m._4)).sortBy(_._1)
    drift { root =>
      val dir = longNanosDir(root)
      assert(load(dir) == expected, "initial INT64-nanos load")
      val ntz = ntzDir(root)
      Files.move(Paths.get(s"$ntz/events.parquet"),
        Paths.get(s"$dir/events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(load(dir) == expected,
        "same path, rewritten as timestamp_ntz — stale cached type would fail here")
    }
  }

  test("loading the real testdata surfaces TimestampType and nonzero rows") {
    val ev = Tables.events(spark, TestSpark.sf0001)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.where(col("ts").isNotNull).count() > 0)
  }
}
