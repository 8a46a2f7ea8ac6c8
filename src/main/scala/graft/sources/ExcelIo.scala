package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** read_excel / to_excel for .xlsx workbooks with ZERO added
  * dependencies: an .xlsx file is a zip of XML parts, and the JDK ships
  * both the zip codec (`java.util.zip`) and a streaming XML parser
  * (StAX). Reference surface: `pandas/io/excel.py:300` (read_excel),
  * `:523` (cell date handling), `pandas/core/generic.py:9977`
  * (to_excel). Legacy BIFF .xls stays out of scope (SURVEY §7) — xlsx
  * has been the default interchange format since 2007.
  *
  * Data model (the interchange subset): first worksheet, one header row
  * of column names, cells of string (shared/inline/rich-text), number
  * (long/double by whole-column integral inference — the read_excel
  * dtype rule), boolean, and date/datetime via Excel serials with
  * date-styled number formats. Nulls are sparse (absent cells), Excel's
  * own representation. Sub-microsecond timestamp precision does not
  * survive an Excel serial (a double holds ~0.4 µs at 2026 epochs) —
  * Excel's own limitation; µs-aligned values round-trip exactly.
  *
  * Scale shape: a workbook is a DRIVER-BOUNDED interchange artifact,
  * not a data-lake layout (the zip central directory defeats
  * split-parallel reads). `read` therefore parallelizes across FILES —
  * a directory of workbooks becomes one task per workbook, the same
  * shape as [[FeatherIo]]'s one-task-per-batch — with a 256 MB loud
  * guard per file; `write` streams `toLocalIterator` partition-at-a-
  * time into a single workbook (bounded driver memory, like the
  * to_string/to_dict formatters). Analytics-scale data belongs in
  * parquet; this is the mandated edge format.
  */
object ExcelIo {

  private val MaxBytes = 256L << 20

  /** numFmtIds that render as dates/datetimes (ECMA-376 builtin table;
    * 14 is the date-only format pandas emits for dates). */
  private val DateFmtIds = (14 to 22).toSet ++ (45 to 47).toSet
  private val Epoch = LocalDate.of(1899, 12, 30) // Excel serial day 0

  // ---------------------------------------------------------------- read

  private case class RawCell(col: Int, kind: Char, value: String)
  // kind: 's' string, 'n' number, 'b' bool, 'd' datetime serial,
  //       'D' date serial

  /** One workbook → (header row, data rows) of raw typed cells for the
    * selected sheet (`sheetName` wins over `sheetIndex` when non-null —
    * the reference's read_excel sheet_name accepting str or int). Sheet
    * order and names come from xl/workbook.xml with r:id→part resolution
    * through the rels part, the way real producers lay workbooks out
    * (part file names are NOT guaranteed to follow sheet order); a
    * workbook without those parts falls back to part-name order. */
  private def parseWorkbook(bytes: Array[Byte], sheetIndex: Int,
      sheetName: String): Seq[Seq[RawCell]] = {
    var shared: Array[String] = Array.empty
    var styleFmt: Array[Int] = Array.empty
    var workbookXml: Array[Byte] = null
    var relsXml: Array[Byte] = null
    val sheetParts = scala.collection.mutable.Map[String, Array[Byte]]()
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e: ZipEntry = zin.getNextEntry
      while (e != null) {
        val name = e.getName
        def slurp(): Array[Byte] = {
          val bos = new ByteArrayOutputStream()
          val buf = new Array[Byte](65536)
          var n = zin.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = zin.read(buf) }
          bos.toByteArray
        }
        if (name == "xl/sharedStrings.xml") shared = parseSharedStrings(slurp())
        else if (name == "xl/styles.xml") styleFmt = parseStyles(slurp())
        else if (name == "xl/workbook.xml") workbookXml = slurp()
        else if (name == "xl/_rels/workbook.xml.rels") relsXml = slurp()
        else if (name.startsWith("xl/worksheets/") && name.endsWith(".xml"))
          sheetParts(name) = slurp()
        zin.closeEntry(); e = zin.getNextEntry
      }
    } finally zin.close()
    require(sheetParts.nonEmpty,
      "not an .xlsx workbook: no xl/worksheets/*.xml part")

    // workbook-declared order: Seq of (sheet name, part path)
    val declared: Seq[(String, String)] =
      if (workbookXml == null || relsXml == null) Nil
      else {
        val targets = parseRels(relsXml) // rId -> part path under xl/
        parseSheetList(workbookXml).flatMap { case (nm, rId) =>
          targets.get(rId).map(nm -> _)
        }
      }
    val ordered: Seq[(String, String)] =
      if (declared.nonEmpty) declared
      else sheetParts.keys.toSeq.sorted.map(p => p -> p)

    val chosen: String =
      if (sheetName != null) {
        ordered.find(_._1 == sheetName).map(_._2).getOrElse(
          throw new IllegalArgumentException(
            s"no sheet named '$sheetName' (has: ${ordered.map(_._1).mkString(", ")})"))
      } else {
        require(sheetIndex >= 0 && sheetIndex < ordered.size,
          s"sheet index $sheetIndex out of range (${ordered.size} sheets)")
        ordered(sheetIndex)._2
      }
    val sheetBytes = sheetParts.getOrElse(chosen,
      throw new IllegalArgumentException(
        s"workbook.xml points at missing part $chosen"))
    parseSheet(sheetBytes, shared, styleFmt)
  }

  /** xl/workbook.xml → (sheet name, r:id) in declared order. */
  private def parseSheetList(bytes: Array[Byte]): Seq[(String, String)] = {
    val r = newReader(bytes)
    val out = Seq.newBuilder[(String, String)]
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "sheet") {
        val nm = Option(r.getAttributeValue(null, "name")).getOrElse("")
        var rid: String = null
        var i = 0
        while (i < r.getAttributeCount) {
          if (r.getAttributeLocalName(i) == "id") rid = r.getAttributeValue(i)
          i += 1
        }
        if (rid != null) out += nm -> rid
      }
    }
    r.close(); out.result()
  }

  /** xl/_rels/workbook.xml.rels → rId → absolute part path. */
  private def parseRels(bytes: Array[Byte]): Map[String, String] = {
    val r = newReader(bytes)
    val out = Map.newBuilder[String, String]
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship") {
        val id = Option(r.getAttributeValue(null, "Id"))
        val target = Option(r.getAttributeValue(null, "Target"))
        for (i <- id; t <- target) {
          val abs = if (t.startsWith("/")) t.drop(1) else s"xl/$t"
          out += i -> abs
        }
      }
    }
    r.close(); out.result()
  }

  private def newReader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** `<si>` items; rich-text runs (`<r><t>`) concatenate. */
  private def parseSharedStrings(bytes: Array[Byte]): Array[String] = {
    val r = newReader(bytes)
    val out = Seq.newBuilder[String]
    var cur: StringBuilder = null
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => cur = new StringBuilder
            case "t" if cur != null => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inT => cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" if cur != null => out += cur.toString; cur = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close(); out.result().toArray
  }

  /** cellXfs xf index → numFmtId (with custom numFmts that contain
    * date tokens mapped into the date set via the pandas heuristic). */
  private def parseStyles(bytes: Array[Byte]): Array[Int] = {
    val r = newReader(bytes)
    val custom = scala.collection.mutable.Map[Int, String]()
    val xfs = Seq.newBuilder[Int]
    var inCellXfs = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "numFmt" =>
            val id = Option(r.getAttributeValue(null, "numFmtId"))
            val code = Option(r.getAttributeValue(null, "formatCode"))
            for (i <- id; c <- code) custom(i.toInt) = c
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            xfs += Option(r.getAttributeValue(null, "numFmtId"))
              .map(_.toInt).getOrElse(0)
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
    }
    r.close()
    xfs.result().map { id =>
      val code = custom.get(id)
      val dateish = DateFmtIds(id) ||
        code.exists(c => c.exists("ymdh".contains(_)) && !c.contains("#"))
      if (!dateish) 0
      else if (id == 14 || code.exists(c => !c.exists("hHsS".contains(_)))) 14
      else 22 // any time component → datetime
    }.toArray
  }

  /** "BC7" → 0-based column 54. */
  private def colOf(ref: String): Int = {
    var c = 0
    ref.takeWhile(_.isLetter).foreach(ch => c = c * 26 + (ch - 'A' + 1))
    c - 1
  }

  private def parseSheet(bytes: Array[Byte], shared: Array[String],
      styleFmt: Array[Int]): Seq[Seq[RawCell]] = {
    val r = newReader(bytes)
    val rows = Seq.newBuilder[Seq[RawCell]]
    val cur = Seq.newBuilder[RawCell]
    var inRow = false
    var nextCol = 0
    var cellCol = 0
    var cellT = ""
    var cellS = -1
    var text: StringBuilder = null
    var inV = false
    var isCell = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "row" => inRow = true; cur.clear(); nextCol = 0
          case "c" if inRow =>
            isCell = true
            cellCol = Option(r.getAttributeValue(null, "r"))
              .map(colOf).getOrElse(nextCol)
            nextCol = cellCol + 1
            cellT = Option(r.getAttributeValue(null, "t")).getOrElse("n")
            cellS = Option(r.getAttributeValue(null, "s"))
              .map(_.toInt).getOrElse(-1)
            text = new StringBuilder
          case "v" | "t" if isCell => inV = true
          case _ =>
        }
        case XMLStreamConstants.CHARACTERS if inV => text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "v" | "t" => inV = false
          case "c" if isCell =>
            isCell = false
            val raw = text.toString
            if (raw.nonEmpty || cellT == "inlineStr" || cellT == "str") {
              val kind = cellT match {
                case "s" => RawCell(cellCol, 's',
                  shared(raw.trim.toInt)) // shared-table index
                case "inlineStr" | "str" => RawCell(cellCol, 's', raw)
                case "b" => RawCell(cellCol, 'b', raw.trim)
                case _ => // numeric; date-styled numerics become temporals
                  val fmt = if (cellS >= 0 && cellS < styleFmt.length)
                    styleFmt(cellS) else 0
                  if (fmt == 14) RawCell(cellCol, 'D', raw.trim)
                  else if (fmt == 22) RawCell(cellCol, 'd', raw.trim)
                  else RawCell(cellCol, 'n', raw.trim)
              }
              cur += kind
            }
          case "row" if inRow =>
            inRow = false
            // skip cell-less rows: a leading blank row must not become
            // an empty header that shifts real headers into the data
            // (HtmlIo.flushRow applies the same guard)
            val cells = cur.result()
            if (cells.nonEmpty) rows += cells
          case _ =>
        }
        case _ =>
      }
    }
    r.close(); rows.result()
  }

  private val LongRe = "-?\\d{1,18}".r

  /** Infer a column type from its raw cells (the read_excel dtype rule:
    * all-integral numerics → int64, any fraction → float64, mixed
    * kinds → object/string). */
  private def inferType(cells: Seq[RawCell]): DataType = {
    val kinds = cells.map(_.kind).toSet
    if (kinds.isEmpty) StringType
    else if (kinds == Set('s')) StringType
    else if (kinds == Set('b')) BooleanType
    else if (kinds == Set('D')) DateType
    else if (kinds.subsetOf(Set('d', 'D'))) TimestampType
    else if (kinds == Set('n')) {
      if (cells.forall(c => LongRe.matches(c.value))) LongType else DoubleType
    } else StringType
  }

  private def serialToMicros(serial: Double): Long = {
    val r = math.round((serial - 25569d) * 86400e6) // 25569 = unix epoch
    // a DAY-serial double carries ~1 µs of representation error at
    // 2030+ epochs, so an ms-aligned value can land 1-2 µs off the
    // boundary; snap within ±2 µs (values genuinely off an ms boundary
    // by more than that are preserved — and beyond Excel's de facto
    // precision anyway). Keeps ms-aligned data exact through ~2130.
    val mod = Math.floorMod(r, 1000L)
    if (mod <= 2) r - mod else if (mod >= 998) r + (1000L - mod) else r
  }

  private def convert(c: RawCell, dt: DataType): Any = (dt, c.kind) match {
    case (StringType, 's') => c.value
    case (StringType, k) => c.value // mixed column: raw text
    case (BooleanType, _) => c.value == "1" || c.value == "true"
    case (LongType, _) => c.value.toLong
    case (DoubleType, _) => c.value.toDouble
    case (DateType, _) => Date.valueOf(Epoch.plusDays(c.value.toDouble.toLong))
    case (TimestampType, _) =>
      val t = new Timestamp(0)
      val micros = serialToMicros(c.value.toDouble)
      t.setTime(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
  }

  /** read_excel: one workbook, or a directory of them (one Spark task
    * per workbook — the distributed shape for many-file drops). Schema
    * comes from the FIRST workbook: header row for names, whole-column
    * inference for types; sibling workbooks must match it.
    * `sheetName` (str) wins over `sheetIndex` (int) — the reference's
    * read_excel sheet_name parameter (`pandas/io/excel.py:300`). */
  def read(spark: SparkSession, path: String, sheetIndex: Int = 0,
      sheetName: String = null): DataFrame = {
    val files = SplitRead.inputFiles(spark, path, ".xlsx")
    // schema from the first workbook, on the driver
    val first = sheet(files.head,
      SplitRead.readWhole(spark, files.head, MaxBytes, "xlsx"),
      sheetIndex, sheetName)
    val nCols = first.map(_.map(_.col).maxOption.getOrElse(-1)).max + 1
    val types = (0 until nCols).map(i =>
      inferType(first.tail.flatMap(_.find(_.col == i))))
    val schema = SplitRead.headerSchema(headerNames(first.head), types)

    SplitRead.scan(spark, schema, files.map(_ -> ())) { case (f, _, in) =>
      val wb = sheet(f, SplitRead.readWhole(in, f, MaxBytes, "xlsx"),
        sheetIndex, sheetName)
      // sibling workbooks must carry the first workbook's header — names
      // and arity — or columns would silently misassign
      SplitRead.requireSchema(f,
        SplitRead.headerSchema(headerNames(wb.head), types), files.head, schema)
      wb.iterator.drop(1).map { cells =>
        val arr = new Array[Any](types.length)
        cells.foreach(c =>
          if (c.col < types.length) arr(c.col) = convert(c, types(c.col)))
        Row.fromSeq(arr.toSeq)
      }
    }
  }

  /** The selected sheet's rows, header first. */
  private def sheet(f: String, bytes: Array[Byte], sheetIndex: Int,
      sheetName: String): Seq[Seq[RawCell]] = {
    val wb = parseWorkbook(bytes, sheetIndex, sheetName)
    require(wb.nonEmpty, s"$f: empty worksheet (no header row)")
    wb
  }

  private def headerNames(header: Seq[RawCell]): Map[Int, String] =
    header.map(c => c.col -> c.value).toMap

  // --------------------------------------------------------------- write

  private def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => b.append("&amp;")
      case '<' => b.append("&lt;")
      case '>' => b.append("&gt;")
      case '"' => b.append("&quot;")
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' =>
        b.append(' ') // control chars are not representable in XML 1.0
      case c => b.append(c)
    }
    b.toString
  }

  private def colName(i: Int): String = {
    var n = i + 1; val b = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; b.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    b.toString
  }

  private def microsOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** to_excel: stream the frame into one single-sheet workbook. */
  def write(df: DataFrame, path: String): Unit =
    writeSheets(Seq("Sheet1" -> df), path)

  /** The reference's multi-sheet ExcelWriter shape
    * (`pandas/io/excel.py` ExcelWriter): each (name, frame) becomes one
    * worksheet, streamed in order. Strings go inline (no shared-strings
    * table to buffer), dates/datetimes as serials with the
    * pandas-matching numFmtIds (14 / 22), nulls sparse. Row order
    * follows each frame's partition order, as to_csv does. */
  def writeSheets(sheets: Seq[(String, DataFrame)], path: String): Unit = {
    require(sheets.nonEmpty, "to_excel: at least one sheet")
    require(sheets.map(_._1).distinct.size == sheets.size,
      s"to_excel: duplicate sheet names in ${sheets.map(_._1).mkString(", ")}")
    sheets.foreach { case (n, _) =>
      require(n.nonEmpty && n.length <= 31 && !n.exists("[]:*?/\\".contains(_)),
        s"to_excel: invalid sheet name '$n' (Excel: 1-31 chars, no []:*?/\\)")
    }
    val p = new Path(path)
    val fs = p.getFileSystem(
      sheets.head._2.sparkSession.sparkContext.hadoopConfiguration)
    val out = new ZipOutputStream(fs.create(p, true))
    def part(name: String, content: String): Unit = {
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    }
    val n = sheets.size
    try {
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |""".stripMargin +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
        ).mkString("\n") +
        """
          |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
          |</Types>""".stripMargin)
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin)
      part("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets>""".stripMargin +
        sheets.zipWithIndex.map { case ((nm, _), i) =>
          s"""<sheet name="${esc(nm)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString +
        "</sheets></workbook>")
      part("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |""".stripMargin +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>"""
        ).mkString("\n") +
        s"""
          |<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
          |</Relationships>""".stripMargin)
      // style indices: s="1" date (numFmtId 14), s="2" datetime (22)
      part("xl/styles.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>
          |<borders count="1"><border/></borders>
          |<cellStyleXfs count="1"><xf/></cellStyleXfs>
          |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/><xf numFmtId="22" applyNumberFormat="1"/></cellXfs>
          |</styleSheet>""".stripMargin)

      sheets.zipWithIndex.foreach { case ((_, df), si) =>
        out.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${si + 1}.xml"))
        writeSheetData(out, df)
        out.closeEntry()
      }
    } finally out.close()
  }

  private def writeSheetData(out: ZipOutputStream, df: DataFrame): Unit = {
    val schema = df.schema
    def w(s: String): Unit = out.write(s.getBytes("UTF-8"))
    w("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def inlineStr(ref: String, v: String) =
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(v)}</t></is></c>"""
    w("<row r=\"1\">" + schema.fieldNames.zipWithIndex.map { case (n, i) =>
      inlineStr(s"${colName(i)}1", n) }.mkString + "</row>")
    var rn = 1
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row = it.next(); rn += 1
      val sb = new StringBuilder(s"""<row r="$rn">""")
      var i = 0
      while (i < schema.length) {
        if (!row.isNullAt(i)) {
          val ref = s"${colName(i)}$rn"
          schema(i).dataType match {
            case StringType => sb.append(inlineStr(ref, row.getString(i)))
            case BooleanType => sb.append(
              s"""<c r="$ref" t="b"><v>${if (row.getBoolean(i)) 1 else 0}</v></c>""")
            case ByteType | ShortType | IntegerType | LongType =>
              sb.append(s"""<c r="$ref"><v>${row.get(i)}</v></c>""")
            case FloatType | DoubleType =>
              sb.append(s"""<c r="$ref"><v>${row.get(i)}</v></c>""")
            case _: DecimalType =>
              sb.append(s"""<c r="$ref"><v>${row.get(i)}</v></c>""")
            case DateType =>
              val days = row.getDate(i).toLocalDate.toEpochDay - Epoch.toEpochDay
              sb.append(s"""<c r="$ref" s="1"><v>$days</v></c>""")
            case TimestampType =>
              val serial = microsOf(row.getTimestamp(i)) / 86400e6 + 25569d
              sb.append(s"""<c r="$ref" s="2"><v>$serial</v></c>""")
            case TimestampNTZType => // session-less wall clock: same
              // serial arithmetic with the UTC epoch (Excel serials
              // are themselves timezone-naive)
              val ldt = row.getAs[java.time.LocalDateTime](i)
              val micros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) *
                1000000L + ldt.getNano / 1000L
              val serial = micros / 86400e6 + 25569d
              sb.append(s"""<c r="$ref" s="2"><v>$serial</v></c>""")
            case other => throw new IllegalArgumentException(
              s"to_excel: unsupported column type $other (${schema(i).name})")
          }
        }
        i += 1
      }
      sb.append("</row>")
      w(sb.toString)
    }
    w("</sheetData></worksheet>")
  }
}
