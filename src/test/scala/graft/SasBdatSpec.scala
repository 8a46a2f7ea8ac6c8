package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.DataFrame
import graft.queries.IoQueries.sasFixture
import graft.sources.SasBdatIo

/** sas7bdat reader, two tiers over one set of golden frames. The goldens
  * under src/test/resources/sas7bdat/ are cell dumps of the reference's
  * own SAS-written fixtures, produced by the reader of record (the
  * reference's parser).
  *
  * Real-file tier (cancelled, UNAVAILABLE, where the reference tree is
  * absent): reads the SAS-written files themselves, so every cell is an
  * interop assertion against genuine SAS output.
  *   cars:         pure numerics incl. 3- and 4-byte truncated doubles
  *   datetime:     DATE/DATETIME/MINGUO serials, ms precision, and the
  *                 1677/2262 rows that probe epoch extremes
  *   productsales: strings + numerics + a DATE column at 1440 rows
  *   test1:        100 mixed columns with missing doubles AND strings
  *
  * Committed-fixture tier (every host): reads the bytes SasBdatWriter
  * encodes from the same goldens, committed under
  * src/main/resources/sas7bdat/ (the registry gates read them too) —
  * the full {u32,u64} × {LE,BE} × {raw,RLE,RDC} matrix of test1 plus
  * cars, datetime, productsales and test16. A fault the writer shares
  * with the reader passes this tier; the real-file tier,
  * tools/sas7bdat_pandas_check.py and SasBdatCodecSpec's hand-assembled
  * streams are what catch one.
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

  private def golden(name: String, df: DataFrame): DataFrame =
    spark.read.schema(df.schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(getClass.getResource(s"/sas7bdat/$name.csv").toString)

  private def metaOf(path: String): SasBdatIo.BdatMeta =
    SasBdatIo.parseMeta(() => {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    })

  private def committed(file: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sasFixture(file)))

  test("sas7bdat (committed fixtures): cell-exact vs goldens, " +
      "page-range split-parallel") {
    for (f <- SasBdatWriter.fixtures) {
      val path = sasFixture(f.file)
      // splitBytes of two pages: several page-range tasks per file
      val df = SasBdatIo.read(spark, path, splitBytes = 8192,
        encoding = if (f.charset == java.nio.charset.StandardCharsets.UTF_8)
          "utf-8" else "")
      val pages = metaOf(path).pageCount
      assert(df.rdd.getNumPartitions == (pages + 1) / 2, s"${f.file} splits")
      val g = golden(f.csv, df)
      assert(df.count() == g.count(), s"${f.file} row count")
      val diff = df.exceptAll(g).count() + g.exceptAll(df).count()
      assert(diff == 0, s"${f.file}: $diff differing rows")
    }
  }

  test("sas7bdat (committed fixtures): a directory of all 12 test1 " +
      "layouts decodes each file with ITS OWN metadata") {
    val dir = java.nio.file.Files.createTempDirectory("sasdir")
    val layouts = SasBdatWriter.fixtures.filter(_.csv == "test1")
    assert(layouts.size == 12)
    for (f <- layouts) java.nio.file.Files.write(
      dir.resolve(s"${f.file}.sas7bdat"), committed(f.file))
    val df = SasBdatIo.read(spark, dir.toString, splitBytes = 8192)
    val g = golden("test1", df)
    val g12 = Seq.fill(12)(g).reduce(_ unionAll _)
    assert(df.count() == 12 * 10)
    assert(df.exceptAll(g12).count() + g12.exceptAll(df).count() == 0)
  }

  test("sas7bdat (committed fixtures): metadata — names, widths, types, " +
      "formats, labels, compression, endianness, bitness") {
    val cars = metaOf(sasFixture("cars"))
    assert(cars.datasetName == "CARS")
    assert(cars.rowCount == 392 && cars.rowLength == 23)
    assert(cars.columns.map(_.name) == Seq("MPG", "CYL", "ENG", "WGT"))
    assert(cars.columns.map(_.width) == Seq(8, 3, 8, 4))
    assert(cars.columns.forall(!_.isString))
    assert(cars.columns.head.label == "miles per gallon")
    val sales = metaOf(sasFixture("productsales"))
    assert(sales.columns.map(c => (c.name, c.format, c.label)).last ==
      (("MONTH", "MONNAME", "Month")))
    assert(sales.columns.count(_.isString) == 5)
    for (f <- SasBdatWriter.fixtures) {
      val m = metaOf(sasFixture(f.file))
      assert(m.datasetName == f.dataset, f.file)
      assert(m.columns.map(c => (c.name, c.width, c.isString, c.format,
        c.label)) == f.cols.map(c => (c.name, c.width,
        c.kind == SasBdatWriter.Str, c.format, c.label)), f.file)
      assert((m.u64, m.le, m.compression) ==
        ((f.layout.u64, f.layout.le, f.layout.codec)), f.file)
    }
    // the layout tags name what the headers declare
    val rdcBe64 = metaOf(sasFixture("test1_rdc_be64"))
    assert(rdcBe64.compression == SasBdatIo.CompRdc && !rdcBe64.le &&
      rdcBe64.u64)
    val rleLe32 = metaOf(sasFixture("test1_rle_le32"))
    assert(rleLe32.compression == SasBdatIo.CompRle && rleLe32.le &&
      !rleLe32.u64)
    assert(metaOf(sasFixture("test1_raw_be32")).compression ==
      SasBdatIo.CompNone)
  }

  /** Compressed row payloads (pointer comp 4, type 1) of a fixture. */
  private def compressedRows(bytes: Array[Byte],
      m: SasBdatIo.BdatMeta): Seq[Array[Byte]] = {
    val bb = ByteBuffer.wrap(bytes)
      .order(if (m.le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    def int(off: Int): Int =
      if (m.u64) bb.getLong(off).toInt else bb.getInt(off)
    (0 until m.pageCount.toInt).flatMap { k =>
      val page = (m.headerLength + k * m.pageSize).toInt
      val subs = bb.getShort(page + m.bitOffset + 4) & 0xffff
      (0 until subs).flatMap { i =>
        val p = page + m.bitOffset + 8 + i * m.ptrLen
        if (bytes(p + 2 * m.intLen) == 4 && bytes(p + 2 * m.intLen + 1) == 1)
          Some(bytes.slice(page + int(p), page + int(p) + int(p + m.intLen)))
        else None
      }
    }
  }

  /** RLE control nibbles of one payload, in stream order. */
  private def rleCommands(z: Array[Byte]): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var i = 0
    while (i < z.length) {
      val c = z(i) & 0xf0
      out += c
      i += (c match {
        case 0x00 => 2 + (z(i + 1) & 0xff) + 64
        case 0x40 => 3
        case 0x60 | 0x70 | 0xc0 => 2
        case 0x80 | 0x90 | 0xa0 | 0xb0 => 1 + (z(i) & 0xff) - 0x80 + 1
        case _ => 1
      })
    }
    out.result()
  }

  /** RDC token kinds of one payload: -1 literal, else the command
    * nibble (0/1 runs, 2..15 back-references). */
  private def rdcTokens(z: Array[Byte]): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var i = 0
    var ctrl = 0
    var mask = 0
    while (i < z.length) {
      if (mask == 0) {
        ctrl = ((z(i) & 0xff) << 8) | (z(i + 1) & 0xff); i += 2; mask = 0x8000
      }
      if ((ctrl & mask) == 0) { out += -1; i += 1 }
      else {
        val cmd = (z(i) & 0xff) >> 4
        out += cmd
        i += (cmd match { case 1 | 2 => 3; case _ => 2 })
      }
      mask >>>= 1
    }
    out.result()
  }

  test("sas7bdat (committed fixtures): re-encoding each golden gives the " +
      "committed bytes, and the codecs' non-literal paths are in them") {
    for (f <- SasBdatWriter.fixtures) {
      assert(SasBdatWriter.encode(f).sameElements(committed(f.file)),
        s"${f.file}.sas7bdat drifted from SasBdatWriter's encoding; " +
          "regenerate with Test/runMain graft.SasBdatWriter " +
          "src/main/resources/sas7bdat")
      if (f.layout.codec != SasBdatIo.CompNone) {
        val rows = compressedRows(committed(f.file), metaOf(sasFixture(f.file)))
        assert(rows.nonEmpty, s"${f.file}: no compressed row")
        if (f.layout.codec == SasBdatIo.CompRle) {
          val cmds = rows.flatMap(rleCommands)
          assert(cmds.exists(c => c == 0x40 || c >= 0xc0 || c == 0x60 ||
            c == 0x70), s"${f.file}: RLE rows are literal copies only")
        } else {
          val toks = rows.flatMap(rdcTokens)
          assert(toks.exists(_ >= 2), s"${f.file}: no RDC back-reference")
          assert(toks.exists(t => t == 0 || t == 1), s"${f.file}: no RDC run")
        }
      }
    }
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
