package graft

import java.nio.file.Files

import graft.sources.FeatherIo
import org.apache.spark.sql.functions._

/** read_feather / to_feather round-trips (reference
  * pandas/io/feather_format.py:87,37). No feather fixtures exist in the
  * oracle corpus, so coverage is self-round-trip: write with our IPC
  * writer, read back distributed, compare frames. */
class FeatherSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("feather").toFile
    d.deleteOnExit()
    new java.io.File(d, name).getAbsolutePath
  }

  test("round-trip: long/int/double/string/boolean with nulls") {
    val df = Seq(
      (1L, Some(10), Some(1.5), Some("alpha"), Some(true)),
      (2L, None, Some(-2.25), None, Some(false)),
      (3L, Some(-7), None, Some("gamma"), None),
      (4L, Some(0), Some(0.0), Some(""), Some(true)))
      .toDF("id", "i", "d", "s", "b")
      .select(col("id"), col("i").cast("int"), col("d"), col("s"), col("b"))
    val path = tmp("basic.feather")
    FeatherIo.write(df, path)
    val back = FeatherIo.read(spark, path)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assertFrameEqual(back, df)
  }

  test("round-trip: timestamp and date survive at microsecond/day precision") {
    val df = Seq(
      (1L, "2024-01-15 10:30:00.123456", "2024-01-15"),
      (2L, "1999-12-31 23:59:59.999999", "1999-12-31"),
      (3L, "2024-06-01 00:00:00", "2024-06-01"))
      .toDF("id", "ts_s", "dt_s")
      .select(col("id"), col("ts_s").cast("timestamp").as("ts"),
        col("dt_s").cast("date").as("dt"))
    val path = tmp("temporal.feather")
    FeatherIo.write(df, path)
    assertFrameEqual(FeatherIo.read(spark, path), df)
  }

  test("multi-batch files read one task per record batch") {
    val df = spark.range(100).select(col("id"),
      (col("id") * 2).as("dbl"), concat(lit("row"), col("id")).as("tag"))
    val path = tmp("batched.feather")
    FeatherIo.write(df, path, batchSize = 16)
    val back = FeatherIo.read(spark, path)
    // 100 rows at 16/batch = 7 record batches; slice count scales with
    // the cluster (defaultParallelism), capped by the batch count
    val want = math.min(7, spark.sparkContext.defaultParallelism)
    assert(back.rdd.getNumPartitions == want, s"${back.rdd.getNumPartitions}")
    assertFrameEqual(back, df)
  }

  test("directory of files reads as one frame; a sibling whose column " +
      "type differs is rejected") {
    val d = Files.createTempDirectory("feather-dir").toFile
    def at(n: String) = new java.io.File(d, n).getPath
    FeatherIo.write(spark.range(0, 40).toDF("id"), at("a.feather"), batchSize = 16)
    FeatherIo.write(spark.range(40, 50).toDF("id"), at("b.feather"))
    assertFrameEqual(FeatherIo.read(spark, d.getPath),
      spark.range(0, 50).toDF("id"))

    FeatherIo.write(Seq(1).toDF("id"), at("c.feather"))
    val e = intercept[IllegalArgumentException](FeatherIo.read(spark, d.getPath))
    assert(e.getMessage.contains("c.feather") && e.getMessage.contains("id: int"),
      e.getMessage)
  }

  test("empty frame round-trips schema") {
    val df = Seq.empty[(Long, String)].toDF("id", "s")
    val path = tmp("empty.feather")
    FeatherIo.write(df, path)
    val back = FeatherIo.read(spark, path)
    assert(back.count() == 0)
    assert(back.schema.map(_.name) == Seq("id", "s"))
  }

  test("round-trip: timestamp NTZ (the parquet wall-clock type) survives") {
    val df = Seq((1L, "2024-01-15 10:30:00.123456"), (2L, "1999-12-31 23:59:59.999999"))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp_ntz").as("ts"))
    val path = tmp("ntz.feather")
    FeatherIo.write(df, path)
    val back = FeatherIo.read(spark, path)
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assertFrameEqual(back, df)
  }

  test("unsigned Arrow ints widen instead of wrapping negative") {
    // Write an IPC file with unsigned vectors through the Arrow API
    // directly (a pandas uint producer); our writer is signed-only.
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    import scala.jdk.CollectionConverters._
    val path = tmp("unsigned.feather")
    val alloc = new RootAllocator()
    val fields = Seq(
      new Field("u8", new FieldType(true, new ArrowType.Int(8, false), null), null),
      new Field("u16", new FieldType(true, new ArrowType.Int(16, false), null), null),
      new Field("u32", new FieldType(true, new ArrowType.Int(32, false), null), null),
      new Field("u64", new FieldType(true, new ArrowType.Int(64, false), null), null))
    val root = VectorSchemaRoot.create(new ASchema(fields.asJava), alloc)
    val ch = new java.io.FileOutputStream(path).getChannel
    try {
      val w = new ArrowFileWriter(root, null, ch)
      try {
        w.start()
        root.allocateNew()
        // values past each signed type's ceiling: the wrap-negative traps
        root.getVector("u8").asInstanceOf[UInt1Vector].setSafe(0, 200)
        root.getVector("u16").asInstanceOf[UInt2Vector].setSafe(0, 60000)
        root.getVector("u32").asInstanceOf[UInt4Vector]
          .setSafe(0, 0xF0000000) // 4026531840 as unsigned
        root.getVector("u64").asInstanceOf[UInt8Vector]
          .setSafe(0, java.lang.Long.parseUnsignedLong("18446744073709551615"))
        root.setRowCount(1)
        w.writeBatch()
        w.end()
      } finally w.close()
    } finally { ch.close(); root.close(); alloc.close() }

    val back = FeatherIo.read(spark, path)
    import org.apache.spark.sql.types._
    assert(back.schema.map(_.dataType) ==
      Seq(ShortType, IntegerType, LongType, DecimalType(20, 0)))
    val r = back.collect().head
    assert(r.getShort(0) == 200.toShort)
    assert(r.getInt(1) == 60000)
    assert(r.getLong(2) == 4026531840L)
    assert(r.getDecimal(3) == new java.math.BigDecimal("18446744073709551615"))
  }
}
