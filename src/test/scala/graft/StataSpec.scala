package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import graft.sources.StataIo
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** read_stata/to_stata (reference: pandas/io/stata.py:172 read_stata,
  * :465 version note, :506 _cast_to_stata_types, :738 missing
  * sentinels). External-producer ground truth: the two fixture_11?.dta
  * resources were written by pandas' own StataWriter (generation
  * recipe: src/test/resources/README.md) and every cell below was
  * cross-read with pandas.read_stata. */
class StataSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource(s"/$name").getPath

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("stata-spec").toFile
    d.deleteOnExit()
    new java.io.File(d, name).getPath
  }

  test("dta 118 written by pandas: storage widths, UTF-8 strings, %tc/%td " +
      "temporals on double storage, value labels, missing sentinels") {
    val back = StataIo.read(spark, res("fixture_118.dta"))
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("small", ByteType), ("mid", ShortType), ("big", IntegerType),
      ("f", FloatType), ("d", DoubleType), ("s", StringType),
      ("ts", TimestampType), ("day", DateType), ("cat", StringType)),
      back.schema.treeString)
    val rows = back.collect().sortBy(r =>
      Option(r.getAs[Any]("s")).fold("")(_.toString))
    assert(rows.length == 4)
    // row with s="" (pandas row 2): byte missing, int32 max non-missing
    val r2 = rows.head
    assert(r2.getString(5) == "" && r2.isNullAt(0) && r2.getShort(1) == 32740 &&
      r2.getInt(2) == 2147483620 && r2.isNullAt(3) && r2.getDouble(4) == -1e100)
    assert(r2.getTimestamp(6) == Timestamp.valueOf("1959-06-01 00:00:00"))
    assert(r2.isNullAt(7) && r2.getString(8) == "low")
    val byS = rows.map(r => r.getString(5) -> r).toMap
    val ra = byS("alpha")
    assert(ra.getByte(0) == 1 && ra.getShort(1) == 300 && ra.getInt(2) == 100000 &&
      ra.getFloat(3) == 1.5f && ra.getDouble(4) == 3.14159)
    assert(ra.getTimestamp(6) == Timestamp.valueOf("2020-01-01 12:34:56.789"))
    assert(ra.getDate(7) == Date.valueOf("2020-02-29") && ra.getString(8) == "low")
    val rb = byS("béta…") // 8 UTF-8 bytes in a strf-8 cell
    assert(rb.getByte(0) == -5 && rb.getShort(1) == -300 &&
      rb.getInt(2) == -100000 && rb.getFloat(3) == -2.25f && rb.isNullAt(4) &&
      rb.isNullAt(6) && rb.getDate(7) == Date.valueOf("1959-06-01") &&
      rb.getString(8) == "high")
    val rd = byS("δelta")
    assert(rd.getByte(0) == 100 && rd.isNullAt(1) && rd.isNullAt(2) &&
      rd.getFloat(3) == 3.75f && rd.getDouble(4) == 2.5 &&
      rd.getTimestamp(6) == Timestamp.valueOf("2026-08-13 23:59:59.999") &&
      rd.getDate(7) == Date.valueOf("2026-08-13") && rd.getString(8) == "mid")
  }

  test("dta 117 written by pandas: latin-1 strings, narrower metadata fields") {
    val back = StataIo.read(spark, res("fixture_117.dta"))
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("x", ShortType), ("s", StringType), ("v", DoubleType)))
    val got = back.collect().map(r =>
      (if (r.isNullAt(0)) null else r.getShort(0),
        r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got == Set((7.toShort, "café", 1.25), (null, "plain", null),
      ((-40).toShort, "", -0.5)), got.toString)
  }

  test("round trip: every supported type, with the reference's integral " +
      "upsizing (int64 in int32 range stores as int32)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("n32", IntegerType),
      StructField("n16", ShortType), StructField("x", DoubleType),
      StructField("fl", FloatType), StructField("s", StringType),
      StructField("b", BooleanType), StructField("d", DateType),
      StructField("ts", TimestampType)))
    val rows = Seq(
      Row(1000000L, 7, 12.toShort, 2.5, 1.5f, "plain", true,
        Date.valueOf("2024-02-29"), Timestamp.valueOf("2024-02-29 12:34:56.789")),
      Row(-1000000L, null, null, null, null, "", false,
        Date.valueOf("1959-06-01"), Timestamp.valueOf("1969-12-31 23:59:59.5")),
      Row(null, -40, 200.toShort, -1e100, -2.25f, "δ…", null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val p = tmp("t.dta")
    StataIo.write(df, p)
    val back = StataIo.read(spark, p)
    // dta has no int64/boolean: id in int32 range → IntegerType; declared
    // int32/int16 widths are KEPT (no downcast — reference rule);
    // b → ByteType 0/1; null string → ""
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("id", IntegerType), ("n32", IntegerType), ("n16", ShortType),
      ("x", DoubleType), ("fl", FloatType), ("s", StringType),
      ("b", ByteType), ("d", DateType), ("ts", TimestampType)),
      back.schema.treeString)
    val got = back.collect().map(r => (
      if (r.isNullAt(0)) null else r.getInt(0),
      if (r.isNullAt(6)) null else r.getByte(6),
      r.getString(5),
      if (r.isNullAt(8)) null else r.getTimestamp(8))).toSet
    assert(got == Set(
      (1000000, 1.toByte, "plain", Timestamp.valueOf("2024-02-29 12:34:56.789")),
      (-1000000, 0.toByte, "", Timestamp.valueOf("1969-12-31 23:59:59.5")),
      (null, null, "δ…", null)), got.toString)
  }

  test("single file reads split-parallel: row ranges at the configured " +
      "byte target, values identical to a one-task read") {
    import spark.implicits._
    val df = (0 until 997).map(i => (i.toLong, s"v$i", i * 0.5))
      .toDF("k", "s", "x")
    val p = tmp("wide.dta")
    StataIo.write(df, p)
    val one = StataIo.read(spark, p)
    assert(one.rdd.getNumPartitions == 1) // 997 rows << 64 MB
    val many = StataIo.read(spark, p, splitBytes = 1024)
    assert(many.rdd.getNumPartitions > 8, many.rdd.getNumPartitions.toString)
    assert(many.count() == 997)
    assert(many.collect().map(_.toSeq).toSet == one.collect().map(_.toSeq).toSet)
  }

  test("scope fences are loud: sentinel-colliding int32 promotes to " +
      "double, 2^53 overflow / strL-sized strings / bad names throw") {
    import spark.implicits._
    val promoted = Seq(2147483621L, 5L).toDF("v") // > int32 missing base
    val p = tmp("promo.dta")
    StataIo.write(promoted, p)
    val back = StataIo.read(spark, p)
    assert(back.schema.head.dataType == DoubleType)
    assert(back.collect().map(_.getDouble(0)).toSet == Set(2147483621d, 5d))

    val over = Seq((1L << 53) + 2).toDF("v")
    val e1 = intercept[Exception](StataIo.write(over, tmp("o.dta")))
    assert(e1.getMessage.contains("2^53"), e1.getMessage)

    val long = Seq("x" * 3000).toDF("s")
    val e2 = intercept[Exception](StataIo.write(long, tmp("l.dta")))
    assert(e2.getMessage.contains("strL"), e2.getMessage)

    val bad = Seq(1).toDF("not a name")
    val e3 = intercept[Exception](StataIo.write(bad, tmp("b.dta")))
    assert(e3.getMessage.contains("variable name"), e3.getMessage)

    val e4 = intercept[Exception](StataIo.read(spark, res("fixture_118.dta")
      .replace("fixture_118", "missing")))
    assert(e4 != null)
  }

  private lazy val fixture118 = Files.readAllBytes(Paths.get(res("fixture_118.dta")))

  private def offsetOf(b: Array[Byte], tag: String): Int =
    new String(b, ISO_8859_1).indexOf(tag) + tag.length

  /** fixture_118 with a dataset label: every section after the header
    * moves by the label's length, and the <map> says so. */
  private def withLabel(label: String): Array[Byte] = {
    val lbl = label.getBytes(ISO_8859_1)
    val at = offsetOf(fixture118, "<label>")
    val out = ByteBuffer.allocate(fixture118.length + lbl.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put(fixture118, 0, at).putShort(lbl.length.toShort).put(lbl)
      .put(fixture118, at + 2, fixture118.length - at - 2)
    val map = offsetOf(fixture118, "<map>") + lbl.length
    for (k <- 1 until 14) // entry 0 is the file start
      out.putLong(map + 8 * k, out.getLong(map + 8 * k) + lbl.length)
    out.array
  }

  /** fixture_118 with column `col`'s fixed-width field in the section
    * after `tag` replaced by `value`. */
  private def withField(tag: String, width: Int, col: Int,
      value: String): Array[Byte] = {
    val b = fixture118.clone
    val at = offsetOf(b, tag) + col * width
    java.util.Arrays.fill(b, at, at + width, 0.toByte)
    System.arraycopy(value.getBytes(ISO_8859_1), 0, b, at, value.length)
    b
  }

  private def dirOf(files: (String, Array[Byte])*): String = {
    val d = Files.createTempDirectory("stata-dir")
    files.foreach { case (n, b) => Files.write(d.resolve(n), b) }
    d.toString
  }

  test("directory read decodes each file at its own data offset: equal " +
      "columns, headers of different length") {
    val label = "a 21-byte dataset lbl"
    assert(label.length == 21)
    val d = dirOf("a.dta" -> fixture118, "b.dta" -> withLabel(label))
    val a = StataIo.read(spark, s"$d/a.dta")
    val b = StataIo.read(spark, s"$d/b.dta")
    assertFrameEqual(b, a)
    val both = StataIo.read(spark, d)
    assert(both.count() == 8)
    assertFrameEqual(both, a.unionAll(b))
  }

  test("directory read rejects a sibling whose format or value-label " +
      "name changes a column's Spark type, naming the file") {
    // `day` (column 7) stored as double: %td reads a date, %10.0g a double
    val byFormat = dirOf("a.dta" -> fixture118,
      "b.dta" -> withField("<formats>", 57, 7, "%10.0g"))
    // `cat` (column 8): labelled codes read as strings, unlabelled as int8
    val byLabel = dirOf("a.dta" -> fixture118,
      "b.dta" -> withField("<value_label_names>", 129, 8, ""))
    for ((d, col) <- Seq(byFormat -> "day: double", byLabel -> "cat: tinyint")) {
      val e = intercept[IllegalArgumentException](StataIo.read(spark, d))
      assert(e.getMessage.contains("b.dta") && e.getMessage.contains(col),
        e.getMessage)
    }
  }
}
