package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import graft.sources.SasXportIo
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** read_sas(format='xport') + our writer (reference: pandas/io/sas/
  * sas_xport.py:24-30 header records, :170 IBM float parse, :365
  * record-count heuristic, :419 missing doubles). Spark-written .xpt
  * files were cross-read with pandas.read_sas during development. */
class SasXportSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("xport-spec").toFile
    d.deleteOnExit()
    new java.io.File(d, name).getPath
  }

  test("IBM hex-float conversion: canonical vectors and exact " +
      "IEEE→IBM→IEEE round trips") {
    // canonical: 1.0 = 16^1 · 1/16 → exponent 0x41, fraction 0x10...0
    assert(SasXportIo.ieeeToIbm(1.0) == 0x4110000000000000L)
    assert(SasXportIo.ibmToIeee(0x4110000000000000L) == 1.0)
    // -118.625 = -76.A0 hex (classic TS-140 example)
    assert(SasXportIo.ieeeToIbm(-118.625) == 0xC276A00000000000L)
    assert(SasXportIo.ibmToIeee(0xC276A00000000000L) == -118.625)
    assert(SasXportIo.ieeeToIbm(0.0) == 0L && SasXportIo.ibmToIeee(0L) == 0.0)
    for (g <- Seq(Gen.chooseNum(-1e75, 1e75), Gen.chooseNum(-1e-70, 1e-70));
         i <- 0 until 500) {
      val x = g.pureApply(Gen.Parameters.default, Seed(7000L + i))
      assert(x == 0d || SasXportIo.ibmToIeee(SasXportIo.ieeeToIbm(x)) == x,
        s"round trip failed for $x")
    }
    val e = intercept[IllegalArgumentException](SasXportIo.ieeeToIbm(1e76))
    assert(e.getMessage.contains("range"), e.getMessage)
  }

  test("round trip: numerics, latin-1 text, DATE/DATETIME formats, " +
      "missing values; integers ride as exact doubles") {
    val schema = StructType(Seq(
      StructField("ID", LongType), StructField("X", DoubleType),
      StructField("S", StringType), StructField("B", BooleanType),
      StructField("D", DateType), StructField("TS", TimestampType)))
    val rows = Seq(
      Row(123456789L, 1.5, "café", true, Date.valueOf("2024-02-29"),
        Timestamp.valueOf("2024-02-29 12:34:56.789")),
      Row(-7L, -1e70, "", false, Date.valueOf("1959-06-01"),
        Timestamp.valueOf("1969-12-31 23:59:59.5")),
      Row(null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val p = tmp("t.xpt")
    SasXportIo.write(df, p)
    val back = SasXportIo.read(spark, p)
    // XPORT has ONE numeric type: ints and booleans come back as double
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("ID", DoubleType), ("X", DoubleType), ("S", StringType),
      ("B", DoubleType), ("D", DateType), ("TS", TimestampType)),
      back.schema.treeString)
    val got = back.collect().map(r => (
      Option(r.get(0)), Option(r.get(1)), r.getString(2), Option(r.get(3)),
      Option(r.get(4)), Option(r.get(5)))).toSet
    assert(got == Set(
      (Some(123456789d), Some(1.5), "café", Some(1d),
        Some(Date.valueOf("2024-02-29")),
        Some(Timestamp.valueOf("2024-02-29 12:34:56.789"))),
      (Some(-7d), Some(-1e70), "", Some(0d),
        Some(Date.valueOf("1959-06-01")),
        Some(Timestamp.valueOf("1969-12-31 23:59:59.5"))),
      (None, None, "", None, None, None)), got.toString)
  }

  test("single file reads split-parallel with values identical to a " +
      "one-task read; tail-blank record counting survives narrow rows") {
    import spark.implicits._
    // record length 8+5 = 13 < 80: exercises the trailing-blank heuristic
    val df = (0 until 997).map(i => (i.toLong, f"v$i%04d")).toDF("K", "S")
    val p = tmp("wide.xpt")
    SasXportIo.write(df, p)
    val one = SasXportIo.read(spark, p)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 997)
    val many = SasXportIo.read(spark, p, splitBytes = 256)
    assert(many.rdd.getNumPartitions > 8)
    assert(many.collect().map(_.toSeq).toSet == one.collect().map(_.toSeq).toSet)
  }

  test("directory read equals the union of its single-file reads, each " +
      "file at its own record length; a sibling with other fields is " +
      "rejected") {
    import spark.implicits._
    val d = Files.createTempDirectory("xport-dir").toFile
    def at(n: String) = new java.io.File(d, n).getPath
    // char widths 2 and 11: the files' record lengths differ
    SasXportIo.write(Seq((1L, "ab"), (2L, "cd")).toDF("K", "S"), at("a.xpt"))
    SasXportIo.write(Seq((3L, "longer text")).toDF("K", "S"), at("b.xpt"))
    val both = SasXportIo.read(spark, d.getPath)
    assert(both.rdd.getNumPartitions == 2)
    assertFrameEqual(both,
      SasXportIo.read(spark, at("a.xpt")).unionAll(
        SasXportIo.read(spark, at("b.xpt"))))

    SasXportIo.write(Seq((4L, "x")).toDF("K", "T"), at("c.xpt"))
    val e = intercept[IllegalArgumentException](
      SasXportIo.read(spark, d.getPath))
    assert(e.getMessage.contains("c.xpt") && e.getMessage.contains("T: string"),
      e.getMessage)
  }

  test("fences are loud: >8-byte names, non-latin-1 text, out-of-range " +
      "numerics, >2^53 integers") {
    import spark.implicits._
    val e1 = intercept[IllegalArgumentException](
      SasXportIo.write(Seq(1).toDF("toolongname"), tmp("a.xpt")))
    assert(e1.getMessage.contains("8 bytes"), e1.getMessage)
    val e2 = intercept[Exception](
      SasXportIo.write(Seq("δ").toDF("S"), tmp("b.xpt")))
    assert(e2.getMessage.contains("latin-1"), e2.getMessage)
    val e3 = intercept[Exception](
      SasXportIo.write(Seq(1e76).toDF("X"), tmp("c.xpt")))
    assert(e3.getMessage.contains("range"), e3.getMessage)
    val e4 = intercept[Exception](
      SasXportIo.write(Seq((1L << 53) + 2).toDF("K"), tmp("d.xpt")))
    assert(e4.getMessage.contains("2^53"), e4.getMessage)
    val p = tmp("bad.xpt")
    Files.write(java.nio.file.Paths.get(p), ("x" * 160).getBytes)
    val e5 = intercept[Exception](SasXportIo.read(spark, p))
    assert(e5.getMessage.contains("XPORT"), e5.getMessage)
    // V5 char width fence: >200-byte text must fail loudly, not wrap
    // into a corrupt namestr
    val e6 = intercept[Exception](
      SasXportIo.write(Seq("y" * 201).toDF("S"), tmp("wide_s.xpt")))
    assert(e6.getMessage.contains("200"), e6.getMessage)
  }
}
