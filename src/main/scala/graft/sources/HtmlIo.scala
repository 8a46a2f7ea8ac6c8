package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Date, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** read_html / to_html as FILE round trips (reference:
  * `pandas/io/html.py:147` _HtmlFrameParser and its _parse_td/_parse_
  * thead_tr contract at `:196-309`; `DataFrame.to_html`). The existing
  * [[graft.operators.Formatter]].toHtmlTable covers the bounded
  * "render a head for display" use; this source covers the data use:
  * stream a WHOLE frame into one HTML table file and parse such files
  * — ours or anyone's — back into a typed frame.
  *
  * The reader is a tolerant hand-rolled tag tokenizer, not an XML
  * parser (real-world HTML is not XML): case-insensitive tags,
  * attributes with single/double/no quotes, comments, script/style
  * skipping, optional thead/tbody, th-or-td cells, self-closed cells,
  * character entities. A header row is the thead's first row, or a
  * first row made entirely of <th>. Types come from whole-column
  * textual inference (long → double → boolean → date → timestamp →
  * string), the read_excel/read_html dtype rule; empty cells are null.
  *
  * Scale shape: identical to [[ExcelIo]] — an HTML table is a
  * driver-bounded interchange artifact (one parse per document), so
  * `read` parallelizes one task per FILE with a loud size guard and
  * `write` streams partition-at-a-time. colspan/rowspan expand the way
  * the reference expands them (`pandas/io/html.py:427`
  * _expand_colspan_rowspan): spanned cell text is copied into every
  * covered grid position. Loud fence: nested tables are unsupported
  * (data tables that need them belong in parquet long before 100 TB).
  */
object HtmlIo {

  private val MaxBytes = 256L << 20

  // ---------------------------------------------------------------- read

  private sealed trait Tok
  private case class Open(name: String, attrs: Map[String, String],
      selfClosed: Boolean) extends Tok
  private case class Close(name: String) extends Tok
  private case class Text(s: String) extends Tok

  private def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val ent = if (semi > i && semi - i <= 10) s.substring(i + 1, semi) else null
        ent match {
          case null => b.append(c); i += 1
          case "amp" => b.append('&'); i = semi + 1
          case "lt" => b.append('<'); i = semi + 1
          case "gt" => b.append('>'); i = semi + 1
          case "quot" => b.append('"'); i = semi + 1
          case "apos" => b.append('\''); i = semi + 1
          case "nbsp" => b.append(' '); i = semi + 1
          case e if e.startsWith("#") =>
            // malformed or out-of-range numeric reference ('&#xZZ;',
            // '&#x110000;'): keep the literal '&', like unknown entities
            // — a tolerant tokenizer must not die on bad scraped HTML
            try {
              val cp = if (e.length > 1 && (e.charAt(1) == 'x' || e.charAt(1) == 'X'))
                Integer.parseInt(e.drop(2), 16)
              else e.drop(1).toInt
              b.appendAll(Character.toChars(cp)); i = semi + 1
            } catch {
              case _: IllegalArgumentException => b.append(c); i += 1
            }
          case _ => b.append(c); i += 1 // unknown entity: keep literal
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Tolerant HTML tokenizer: yields tag opens/closes and text runs.
    * Skips comments, doctype, and script/style bodies. */
  private def tokenize(html: String): Iterator[Tok] = new Iterator[Tok] {
    private var i = 0
    private var pending: Tok = null
    private lazy val lower = html.toLowerCase // for script/style end scans
    private def tagNameAt(j0: Int): (String, Int) = {
      var j = j0
      while (j < html.length && (html.charAt(j).isLetterOrDigit)) j += 1
      (html.substring(j0, j).toLowerCase, j)
    }
    private def advance(): Tok = {
      while (i < html.length) {
        if (html.charAt(i) == '<') {
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) html.length else e + 3
          } else if (i + 1 < html.length &&
              (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
            val e = html.indexOf('>', i); i = if (e < 0) html.length else e + 1
          } else if (html.charAt(i + 1) == '/') {
            val (name, j) = tagNameAt(i + 2)
            val e = html.indexOf('>', j); i = if (e < 0) html.length else e + 1
            return Close(name)
          } else {
            val (name, j) = tagNameAt(i + 1)
            // attributes until '>', honoring quoted values
            var k = j; var quote = 0.toChar
            val attrs = Map.newBuilder[String, String]
            while (k < html.length &&
                (quote != 0 || html.charAt(k) != '>')) {
              val c = html.charAt(k)
              if (quote != 0) { if (c == quote) quote = 0.toChar }
              else if (c == '"' || c == '\'') quote = c
              k += 1
            }
            val rawAttrs = html.substring(j, math.min(k, html.length))
            // parse name=value pairs (value optionally quoted)
            val AttrRe = """([A-Za-z_:][-A-Za-z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?""".r
            AttrRe.findAllMatchIn(rawAttrs.stripSuffix("/")).foreach { m =>
              val v = Option(m.group(2)).map(_.stripPrefix("\"").stripSuffix("\"")
                .stripPrefix("'").stripSuffix("'")).getOrElse("")
              attrs += m.group(1).toLowerCase -> v
            }
            val selfClosed = rawAttrs.trim.endsWith("/")
            i = if (k < html.length) k + 1 else html.length
            if (name == "script" || name == "style") {
              val endTag = s"</$name"
              val e = lower.indexOf(endTag, i)
              if (e >= 0) {
                val e2 = html.indexOf('>', e)
                i = if (e2 < 0) html.length else e2 + 1
              } else i = html.length
              // script/style content is never table data: loop on
            } else return Open(name, attrs.result(), selfClosed)
          }
        } else {
          val e = html.indexOf('<', i)
          val end = if (e < 0) html.length else e
          val t = html.substring(i, end)
          i = end
          if (t.exists(!_.isWhitespace)) return Text(t)
        }
      }
      null
    }
    def hasNext: Boolean = {
      if (pending == null) pending = advance()
      pending != null
    }
    def next(): Tok = {
      if (!hasNext) throw new NoSuchElementException
      val t = pending; pending = null; t
    }
  }

  private case class HtmlTable(header: Option[Seq[String]],
      rows: Seq[Seq[String]]) // null cell = absent/empty

  private case class RawCell(text: String, isTh: Boolean,
      colspan: Int, rowspan: Int)

  // tolerant span parse: absent/blank/malformed/non-positive → 1
  private def spanOf(attrs: Map[String, String], name: String): Int =
    attrs.get(name).map(_.trim).filter(_.forall(_.isDigit))
      .filter(_.nonEmpty).flatMap(v => scala.util.Try(v.toInt).toOption)
      .map(math.max(1, _)).getOrElse(1)

  /** Span expansion, the reference's grid semantics
    * (`pandas/io/html.py:427` _expand_colspan_rowspan): walking each row
    * left to right with a grid cursor, text carried down from an earlier
    * rowspan is emitted whenever its column position is reached, each
    * cell's text is emitted colspan times, carry-downs that fall past the
    * row's last cell append at the end, and carries that outlive the last
    * parsed row generate trailing synthetic rows until exhausted.
    */
  private def expandSpans(rawRows: Seq[Seq[RawCell]]): Seq[Seq[String]] = {
    val out = Vector.newBuilder[Seq[String]]
    var carry: List[(Int, String, Int)] = Nil // (colIndex, text, rowsLeft)
    rawRows.foreach { cells =>
      val texts = Vector.newBuilder[String]
      val nextCarry = List.newBuilder[(Int, String, Int)]
      var rem = carry
      var index = 0
      cells.foreach { cell =>
        while (rem.nonEmpty && rem.head._1 <= index) {
          val (pi, pt, n) = rem.head; rem = rem.tail
          texts += pt
          if (n > 1) nextCarry += ((pi, pt, n - 1))
          index += 1
        }
        var c = 0
        while (c < cell.colspan) {
          texts += cell.text
          if (cell.rowspan > 1) nextCarry += ((index, cell.text, cell.rowspan - 1))
          index += 1
          c += 1
        }
      }
      rem.foreach { case (pi, pt, n) =>
        texts += pt
        if (n > 1) nextCarry += ((pi, pt, n - 1))
      }
      out += texts.result()
      carry = nextCarry.result()
    }
    while (carry.nonEmpty) {
      val texts = Vector.newBuilder[String]
      val nextCarry = List.newBuilder[(Int, String, Int)]
      carry.foreach { case (pi, pt, n) =>
        texts += pt
        if (n > 1) nextCarry += ((pi, pt, n - 1))
      }
      out += texts.result()
      carry = nextCarry.result()
    }
    out.result()
  }

  /** All tables in one document, rows as decoded cell text with
    * colspan/rowspan expanded. */
  private def parseTables(html: String): Seq[HtmlTable] = {
    val tables = Seq.newBuilder[HtmlTable]
    var inTable = false
    var inHead = false
    var rawRows: Vector[(Seq[RawCell], Boolean)] = Vector.empty // (cells, inThead)
    var row: Vector[RawCell] = null
    var cell: StringBuilder = null
    var cellTh = false
    var cellCol = 1
    var cellRow = 1
    def flushCell(): Unit = if (cell != null) {
      row = row :+ RawCell(decodeEntities(cell.toString).trim, cellTh,
        cellCol, cellRow)
      cell = null
    }
    def flushRow(): Unit = if (row != null) {
      flushCell()
      if (row.nonEmpty) rawRows = rawRows :+ ((row, inHead))
      row = null
    }
    val it = tokenize(html)
    while (it.hasNext) {
      it.next() match {
        case Open("table", _, _) =>
          require(!inTable, "nested <table> elements are unsupported")
          inTable = true; inHead = false; rawRows = Vector.empty
        case Close("table") if inTable =>
          flushRow()
          inTable = false
          // header = the first row when it sat in thead or is all-<th>;
          // span expansion runs over the whole grid so a header rowspan
          // carries into the body exactly like the reference
          val headerFirst = rawRows.headOption.exists { case (cells, head) =>
            head || cells.forall(_.isTh) }
          val expanded = expandSpans(rawRows.map(_._1))
          if (headerFirst && expanded.nonEmpty)
            tables += HtmlTable(Some(expanded.head), expanded.tail)
          else
            tables += HtmlTable(None, expanded)
        case Open("thead", _, _) if inTable => inHead = true
        case Close("thead") if inTable => flushRow(); inHead = false
        case Open("tr", _, _) if inTable => flushRow(); row = Vector.empty
        case Close("tr") if inTable => flushRow()
        case Open(n @ ("td" | "th"), attrs, selfClosed) if row != null =>
          flushCell() // HTML allows unclosed <td>: a new cell closes it
          val cs = spanOf(attrs, "colspan")
          val rs = spanOf(attrs, "rowspan")
          if (selfClosed) row = row :+ RawCell("", n == "th", cs, rs)
          else { cell = new StringBuilder; cellTh = n == "th"; cellCol = cs; cellRow = rs }
        case Close("td") | Close("th") => flushCell()
        case Text(t) if cell != null => cell.append(t)
        case _ =>
      }
    }
    tables.result()
  }

  // whole-column textual inference (read_html dtype rule)
  private val LongRe = "-?\\d{1,18}".r
  private val DoubleRe =
    "[-+]?(\\d+\\.?\\d*|\\.\\d+)([eE][-+]?\\d+)?|NaN|-?Infinity".r
  private val DateRe = "\\d{4}-\\d{2}-\\d{2}".r
  private val TsRe = "\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}:\\d{2}(\\.\\d{1,9})?".r
  private val BoolSet = Set("true", "false")

  private def inferType(vals: Seq[String]): DataType = {
    val present = vals.filter(v => v != null && v.nonEmpty)
    if (present.isEmpty) StringType
    else if (present.forall(LongRe.matches)) LongType
    else if (present.forall(DoubleRe.matches)) DoubleType
    else if (present.forall(v => BoolSet(v.toLowerCase))) BooleanType
    else if (present.forall(DateRe.matches)) DateType
    else if (present.forall(TsRe.matches)) TimestampType
    else StringType
  }

  private def convert(v: String, dt: DataType): Any = {
    if (v == null || v.isEmpty) return null
    dt match {
      case StringType => v
      case LongType => v.toLong
      case DoubleType => v.toDouble
      case BooleanType => v.equalsIgnoreCase("true")
      case DateType => Date.valueOf(v)
      case TimestampType => Timestamp.valueOf(v.replace('T', ' '))
    }
  }

  /** read_html: the `tableIndex`-th table of each document (reference
    * returns a list of frames; the index selects one). One file or a
    * directory (one task per file); schema from the first document,
    * whose header every sibling must carry. */
  def read(spark: SparkSession, path: String, tableIndex: Int = 0): DataFrame = {
    val files = SplitRead.inputFiles(spark, path, ".html", ".htm")
    val first = table(files.head,
      SplitRead.readWhole(spark, files.head, MaxBytes, "an HTML table"),
      tableIndex)
    val nCols = (first.header.map(_.size).getOrElse(0) +:
      first.rows.map(_.size)).max
    require(nCols > 0, s"${files.head}: table #$tableIndex is empty")
    val types = (0 until nCols).map(i =>
      inferType(first.rows.map(r => if (i < r.size) r(i) else null)))
    val schema = SplitRead.headerSchema(headerNames(first), types)

    SplitRead.scan(spark, schema, files.map(_ -> ())) { case (f, _, in) =>
      val tbl = table(f,
        SplitRead.readWhole(in, f, MaxBytes, "an HTML table"), tableIndex)
      SplitRead.requireSchema(f,
        SplitRead.headerSchema(headerNames(tbl), types), files.head, schema)
      tbl.rows.iterator.map { cells =>
        Row.fromSeq(types.indices.map(i =>
          convert(if (i < cells.size) cells(i) else null, types(i))))
      }
    }
  }

  /** A document's `tableIndex`-th table. */
  private def table(f: String, bytes: Array[Byte],
      tableIndex: Int): HtmlTable = {
    val all = parseTables(new String(bytes, UTF_8))
    require(tableIndex < all.size,
      s"$f: has ${all.size} table(s), asked for #$tableIndex")
    all(tableIndex)
  }

  private def headerNames(t: HtmlTable): Map[Int, String] =
    t.header.getOrElse(Nil).zipWithIndex
      .collect { case (n, i) if n.nonEmpty => i -> n }.toMap

  // --------------------------------------------------------------- write

  private def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => b.append("&amp;")
      case '<' => b.append("&lt;")
      case '>' => b.append("&gt;")
      case c => b.append(c)
    }
    b.toString
  }

  private def render(row: Row, i: Int, dt: DataType): String = {
    if (row.isNullAt(i)) return ""
    dt match {
      case StringType => esc(row.getString(i))
      case TimestampType => row.getTimestamp(i).toString
      case TimestampNTZType =>
        // render like java.sql.Timestamp (space separator, full seconds)
        Timestamp.valueOf(row.getAs[java.time.LocalDateTime](i)).toString
      case BooleanType => if (row.getBoolean(i)) "True" else "False"
      case _ => String.valueOf(row.get(i))
    }
  }

  /** to_html as a data sink: stream the WHOLE frame into one file with
    * the reference's table structure (thead of th names, tbody of td
    * cells); nulls are empty cells. */
  def write(df: DataFrame, path: String): Unit = {
    val schema = df.schema
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedOutputStream(fs.create(p, true), 1 << 20)
    def w(s: String): Unit = out.write(s.getBytes(UTF_8))
    try {
      w("<!DOCTYPE html>\n<html><body>\n<table border=\"1\" class=\"dataframe\">\n")
      w("<thead><tr>")
      schema.fieldNames.foreach(n => w(s"<th>${esc(n)}</th>"))
      w("</tr></thead>\n<tbody>\n")
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val sb = new StringBuilder("<tr>")
        var i = 0
        while (i < schema.length) {
          sb.append("<td>").append(render(row, i, schema(i).dataType))
            .append("</td>")
          i += 1
        }
        sb.append("</tr>\n")
        w(sb.toString)
      }
      w("</tbody>\n</table>\n</body></html>\n")
    } finally out.close()
  }
}
