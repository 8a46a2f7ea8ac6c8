package graft

import org.apache.spark.sql.functions._
import graft.sources.SasBdatIo

/** sas7bdat reader vs REAL SAS-written files: the goldens under
  * src/test/resources/sas7bdat/ are cell dumps of the reference's own
  * sas7bdat fixtures produced by the reader of record (the reference's
  * parser), so every cell of every fixture is an interop assertion
  * against genuine SAS output — not a self-roundtrip.
  *   cars:         pure numerics incl. 3- and 4-byte truncated doubles
  *   datetime:     DATE/DATETIME/MINGUO serials, ms precision, and the
  *                 1677/2262 rows that probe epoch extremes
  *   productsales: strings + numerics + a DATE column at 1440 rows
  *   test1:        100 mixed columns with missing doubles AND strings
  */
class SasBdatSpec extends SparkSpec {

  private val fixtureDir = "/root/reference/pandas/tests/io/sas/data"

  test("sas7bdat: cell-exact vs goldens from real SAS files, " +
      "page-range split-parallel") {
    assumeFixture(fixtureDir)
    for (name <- Seq("cars", "datetime", "productsales", "test1")) {
      // splitBytes below one page forces multiple page-range tasks
      val df = SasBdatIo.read(spark, s"$fixtureDir/$name.sas7bdat",
        splitBytes = 8192)
      val golden = spark.read.schema(df.schema)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(getClass.getResource(s"/sas7bdat/$name.csv").toString)
      assert(df.count() == golden.count(), s"$name row count")
      val diff = df.exceptAll(golden).count() + golden.exceptAll(df).count()
      assert(diff == 0, s"$name: $diff differing rows")
    }
  }

  test("sas7bdat: directory read decodes each file with ITS OWN " +
      "metadata and unions rows") {
    assumeFixture(fixtureDir)
    val dir = java.nio.file.Files.createTempDirectory("sasdir")
    for (n <- Seq("a", "b")) java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$fixtureDir/cars.sas7bdat"),
      dir.resolve(s"$n.sas7bdat"))
    val df = SasBdatIo.read(spark, dir.toString, splitBytes = 8192)
    assert(df.count() == 2 * 392)
    // the union is two exact copies of the single-file read
    val one = SasBdatIo.read(spark, s"$fixtureDir/cars.sas7bdat")
    assert(df.exceptAll(one.unionAll(one)).count() == 0)
  }

  test("sas7bdat: metadata — names, widths, types, formats, labels") {
    assumeFixture(fixtureDir)
    val m = SasBdatIo.parseMeta(() => {
      val p = new org.apache.hadoop.fs.Path(s"$fixtureDir/cars.sas7bdat")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    })
    assert(m.datasetName == "CARS")
    assert(m.rowCount == 392 && m.rowLength == 23)
    assert(m.columns.map(_.name) == Seq("MPG", "CYL", "ENG", "WGT"))
    assert(m.columns.map(_.width) == Seq(8, 3, 8, 4))
    assert(m.columns.forall(!_.isString))
    assert(m.columns.head.label == "miles per gallon")
  }

  test("sas7bdat: FULL layout matrix — {u32,u64} × {LE,BE} × " +
      "{raw,RLE,RDC} (test1-15) decodes cell-exact to one golden") {
    assumeFixture(fixtureDir)
    val golden0 = {
      val df0 = SasBdatIo.read(spark, s"$fixtureDir/test1.sas7bdat")
      spark.read.schema(df0.schema)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(getClass.getResource("/sas7bdat/test1.csv").toString)
        .cache()
    }
    for (k <- 1 to 15) {
      // splitBytes below one page forces multiple page-range tasks
      val df = SasBdatIo.read(spark, s"$fixtureDir/test$k.sas7bdat",
        splitBytes = 8192)
      assert(df.count() == golden0.count(), s"test$k row count")
      val diff = df.exceptAll(golden0).count() +
        golden0.exceptAll(df).count()
      assert(diff == 0, s"test$k: $diff differing rows")
    }
  }

  test("sas7bdat: UTF-8 encoded file (test16) decodes cell-exact") {
    assumeFixture(fixtureDir)
    // the file header declares latin1 but the payload is UTF-8; the
    // reference test passes the same explicit override
    val df = SasBdatIo.read(spark, s"$fixtureDir/test16.sas7bdat",
      splitBytes = 8192, encoding = "utf-8")
    val golden = spark.read.schema(df.schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(getClass.getResource("/sas7bdat/test16.csv").toString)
    assert(df.count() == golden.count())
    val diff = df.exceptAll(golden).count() + golden.exceptAll(df).count()
    assert(diff == 0, s"test16: $diff differing rows")
  }

  test("sas7bdat: compression + endianness metadata detected per file") {
    assumeFixture(fixtureDir)
    def metaOf(name: String) = SasBdatIo.parseMeta(() => {
      val p = new org.apache.hadoop.fs.Path(s"$fixtureDir/$name.sas7bdat")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    })
    assert(metaOf("test1").compression == SasBdatIo.CompNone)
    assert(metaOf("test2").compression == SasBdatIo.CompRle)
    assert(metaOf("test3").compression == SasBdatIo.CompRdc)
    assert(metaOf("test10").le == false && !metaOf("test10").u64)
    assert(metaOf("test15").le == false && metaOf("test15").u64 &&
      metaOf("test15").compression == SasBdatIo.CompRle)
  }

  test("sas7bdat: non-sas input fails on magic, not downstream") {
    val p = java.nio.file.Files.createTempFile("notsas", ".sas7bdat")
    java.nio.file.Files.write(p, Array.fill[Byte](4096)(7))
    val e = intercept[Exception] {
      SasBdatIo.read(spark, p.toString).count()
    }
    assert(e.getMessage.contains("magic"))
  }
}
