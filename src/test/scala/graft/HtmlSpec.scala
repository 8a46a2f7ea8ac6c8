package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import graft.sources.HtmlIo
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** read_html/to_html as file round trips (reference: pandas/io/
  * html.py:147 _HtmlFrameParser, :196-309 the td/thead/tbody parse
  * contract). Round trips our own writer and parses a hand-built
  * "external" document with the mess real HTML has: attributes,
  * entities, comments, scripts, case-mixed tags, unclosed cells,
  * multiple tables. */
class HtmlSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("html-spec").toFile
    d.deleteOnExit()
    new java.io.File(d, name).getPath
  }

  test("round trip: long/double/string/boolean/date/timestamp + nulls") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("d", DateType), StructField("ts", TimestampType)))
    val rows = Seq(
      Row(1L, 1.5, "a & <b> \"q\"", true, Date.valueOf("2024-02-29"),
        Timestamp.valueOf("2024-02-29 12:34:56.789")),
      Row(2L, 1.0E7, "plain", false, Date.valueOf("1959-06-01"),
        Timestamp.valueOf("1969-12-31 23:59:59.5")),
      Row(null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val p = tmp("t.html")
    HtmlIo.write(df, p)
    val back = HtmlIo.read(spark, p)
    assert(back.schema == schema, back.schema.treeString)
    assertFrameEqual(back, df)
  }

  test("external producer: entities, comments, scripts, attributes, " +
      "case-mixed and unclosed tags, th-index body rows, second table") {
    val p = tmp("ext.html")
    Files.write(java.nio.file.Paths.get(p),
      """<html><head><script>var t = "<table><tr><td>fake</td></tr></table>";</script>
        |<style>td::after { content: "</td>"; }</style></head>
        |<body><h1>Report &amp; summary</h1>
        |<TABLE id="first" class='summary'>
        |  <!-- a comment <td>not a cell</td> -->
        |  <tr><TH>name</TH><th >count</th></tr>
        |  <tr><td>&lt;ag&gt; &#x41;&#66;<td>42</tr>
        |  <tr><td>caf&eacute;&nbsp;x</td><td></td></tr>
        |</TABLE>
        |<table><thead><tr><th></th><th>v</th></tr></thead>
        |<tbody><tr><th>0</th><td>1.5</td></tr>
        |<tr><th>1</th><td>NaN</td></tr></tbody></table>
        |</body></html>""".stripMargin.getBytes("UTF-8"))
    val t0 = HtmlIo.read(spark, p)
    assert(t0.schema.fieldNames.toSeq == Seq("name", "count"))
    assert(t0.schema.fields(1).dataType == LongType)
    val got = t0.collect().map(r => (r.getString(0), r.get(1))).toSet
    // unknown entity &eacute; stays literal (tolerant, not lossy)
    assert(got == Set(("<ag> AB", 42L), ("caf&eacute; x", null)), got.toString)

    val t1 = HtmlIo.read(spark, p, tableIndex = 1)
    assert(t1.schema.fieldNames.toSeq == Seq("_c0", "v"))
    assert(t1.schema.fields(1).dataType == DoubleType)
    val vs = t1.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(vs(0L) == 1.5 && vs(1L).isNaN, vs.toString)
  }

  test("directory of documents reads one task per file") {
    val d = Files.createTempDirectory("html-many").toFile
    HtmlIo.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      new java.io.File(d, "p1.html").getPath)
    HtmlIo.write(Seq((3L, "c")).toDF("k", "v"),
      new java.io.File(d, "p2.html").getPath)
    val back = HtmlIo.read(spark, d.getPath)
    assert(back.rdd.getNumPartitions == 2)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("directory rejects a sibling document whose header is reordered") {
    val d = Files.createTempDirectory("html-mismatch").toFile
    HtmlIo.write(Seq((1L, 10L)).toDF("a", "b"),
      new java.io.File(d, "p1.html").getPath)
    HtmlIo.write(Seq((20L, 2L)).toDF("b", "a"),
      new java.io.File(d, "p2.html").getPath)
    val e = intercept[Exception](HtmlIo.read(spark, d.getPath).collect())
    assert(e.getMessage.contains("p2.html") &&
      e.getMessage.contains("b: bigint, a: bigint"), e.getMessage)
  }

  test("colspan/rowspan expand like the reference (io/html.py:427)") {
    val p = tmp("span.html")
    Files.write(java.nio.file.Paths.get(p),
      """<table>
        |<thead><tr><th>a</th><th>b</th><th>c</th></tr></thead>
        |<tbody>
        |<tr><td rowspan="2">1</td><td>2</td><td>3</td></tr>
        |<tr><td colspan="2">4</td></tr>
        |<tr><td>5</td><td>6</td><td>7</td></tr>
        |</tbody></table>""".stripMargin.getBytes("UTF-8"))
    val df = HtmlIo.read(spark, p)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    // row 2: carried-down "1" fills col 0, then "4" copies across cols 1-2
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 4L, 4L), (5L, 6L, 7L)), got.toString)
  }

  test("rowspan outliving the last row generates trailing rows") {
    val p = tmp("tail.html")
    Files.write(java.nio.file.Paths.get(p),
      "<table><tr><th>x</th></tr><tr><td rowspan=\"3\">9</td></tr></table>".getBytes)
    val df = HtmlIo.read(spark, p)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(9L, 9L, 9L))
  }

  test("malformed numeric entities stay literal; nested tables fail loudly") {
    val p1 = tmp("badent.html")
    Files.write(java.nio.file.Paths.get(p1),
      "<table><tr><th>s</th></tr><tr><td>&#xZZ; and &#9999999999;</td></tr></table>".getBytes)
    val s = HtmlIo.read(spark, p1).collect().map(_.getString(0)).head
    assert(s == "&#xZZ; and &#9999999999;", s)

    val p2 = tmp("nest.html")
    Files.write(java.nio.file.Paths.get(p2),
      "<table><tr><td><table></table></td></tr></table>".getBytes)
    val e2 = intercept[Exception](HtmlIo.read(spark, p2))
    assert(e2.getMessage.contains("nested"), e2.getMessage)
  }
}
