package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, octet_length}
import org.apache.spark.sql.types._

/** read_stata / to_stata for the Stata .dta format, versions 117
  * (Stata 13) and 118 (Stata 14+, UTF-8) — the formats every
  * still-supported Stata release writes and the reference's writer
  * targets (`pandas/io/stata.py:172` read_stata, `:465` the
  * version=117 note, `:506` _cast_to_stata_types, `:738` missing-value
  * sentinels, `:196` the %tc/%td elapsed-date table). The layout is
  * public (ECMA-ish tagged binary, documented in the Stata manuals):
  * an XML-tag-framed header, a 14-entry offset map, fixed-width
  * row-major data, and sidecar strL / value-label blocks.
  *
  * Read scale shape: unlike xlsx (zip central directory) or Arrow IPC
  * (variable batch framing), dta data is FIXED-WIDTH row-major — the
  * one interchange format here that is split-parallel WITHIN a single
  * file. `read` computes row ranges and each task seeks straight to
  * `dataOffset + start * rowSize`, so a single 50 GB .dta scans with
  * full cluster parallelism. Value labels (`convert_categoricals`) are
  * driver-parsed (they are UI-sized by nature) and ride in each split
  * with the rest of their file's header.
  * `write` streams `toLocalIterator` into one file after a single
  * pre-pass aggregate that decides integer widths and strf widths —
  * the same upsizing rules as the reference (sentinel-colliding int32
  * promotes to double, etc.).
  *
  * Scope fences, all loud: byte order LSF only (MSF files come from
  * dead big-endian hosts; the reference reads them, nothing writes
  * them), strL cells unsupported (strings > 2045 UTF-8 bytes need the
  * strls sidecar — at that size the data belongs in parquet), formats
  * ≤ 115 unsupported. Like the reference, a missing string reads back
  * as "" (Stata's own encoding of string-missing) and booleans write
  * as int8 0/1.
  */
object StataIo {

  private val ByteMissing = 101.toByte // 101..127 = ., .a ... (int8)
  private val ShortMissing = 32741.toShort
  private val IntMissing = 2147483621
  private val FloatMissing = java.lang.Float.intBitsToFloat(0x7f000000)
  private val DoubleMissing = java.lang.Double.longBitsToDouble(0x7fe0000000000000L)

  private val StataEpochDay = LocalDate.of(1960, 1, 1).toEpochDay // -3653
  private val StataEpochMs = -315619200000L // 1960-01-01T00:00Z unix ms

  // dta 117/118 type codes
  private val TDouble = 65526
  private val TFloat = 65527
  private val TInt32 = 65528
  private val TInt16 = 65529
  private val TInt8 = 65530
  private val TStrL = 32768

  private def widthOf(code: Int): Int = code match {
    case w if w <= 2045 => w
    case TDouble => 8
    case TFloat => 4
    case TInt32 => 4
    case TInt16 => 2
    case TInt8 => 1
    case TStrL => throw new UnsupportedOperationException(
      "strL cells are not supported (strings > 2045 bytes belong in parquet)")
    case other => throw new IllegalArgumentException(s"unknown dta type code $other")
  }

  // ---------------------------------------------------------------- read

  /** Driver-side view of one .dta file's metadata. */
  private case class DtaMeta(
      release: Int, nvar: Int, nobs: Long, typeCodes: Array[Int],
      names: Array[String], formats: Array[String], lblNames: Array[String],
      dataOffset: Long, rowSize: Int,
      valueLabels: Map[String, Map[Int, String]])

  private class In(val s: java.io.DataInputStream) {
    def expect(lit: String): Unit = {
      val b = new Array[Byte](lit.length); s.readFully(b)
      val got = new String(b, ISO_8859_1)
      require(got == lit,
        s"not a dta 117/118 file: expected '$lit', found '$got'")
    }
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); s.readFully(b); b }
    def u8(): Int = s.readUnsignedByte()
    def u16(): Int = { val b = bytes(2); (b(0) & 0xff) | ((b(1) & 0xff) << 8) }
    def i32(): Int = ByteBuffer.wrap(bytes(4)).order(ByteOrder.LITTLE_ENDIAN).getInt
    def u32(): Long = i32() & 0xffffffffL
    def i64(): Long = ByteBuffer.wrap(bytes(8)).order(ByteOrder.LITTLE_ENDIAN).getLong
  }

  private def nullTerm(b: Array[Byte], utf8: Boolean): String = {
    var end = 0
    while (end < b.length && b(end) != 0) end += 1
    new String(b, 0, end, if (utf8) UTF_8 else ISO_8859_1)
  }

  private def parseMeta(fs: org.apache.hadoop.fs.FileSystem, p: Path): DtaMeta = {
    val raw = fs.open(p)
    val in = new In(new java.io.DataInputStream(
      new java.io.BufferedInputStream(raw, 1 << 16)))
    try {
      in.expect("<stata_dta><header><release>")
      val release = new String(in.bytes(3), ISO_8859_1).toInt
      require(release == 117 || release == 118,
        s"dta format $release unsupported (117/118 only; re-save from Stata 13+)")
      val utf8 = release == 118
      in.expect("</release><byteorder>")
      val bo = new String(in.bytes(3), ISO_8859_1)
      require(bo == "LSF", s"big-endian (MSF) dta files are unsupported")
      in.expect("</byteorder><K>")
      val nvar = in.u16()
      in.expect("</K><N>")
      val nobs = if (release == 117) in.u32() else in.i64()
      in.expect("</N><label>")
      val lblLen = if (release == 117) in.u8() else in.u16()
      in.bytes(lblLen)
      in.expect("</label><timestamp>")
      in.bytes(in.u8())
      in.expect("</timestamp></header><map>")
      val map = Array.fill(14)(in.i64())

      // sections by map offset; the stream is forward-only per section
      // order in the file, which matches the map's order for writers we
      // accept (variable_types < varnames < formats < value_label_names)
      def section[A](off: Long)(f: In => A): A = {
        val s2 = fs.open(p); s2.seek(off)
        val i2 = new In(new java.io.DataInputStream(
          new java.io.BufferedInputStream(s2, 1 << 16)))
        try f(i2) finally s2.close()
      }

      val typeCodes = section(map(2)) { i =>
        i.expect("<variable_types>"); Array.fill(nvar)(i.u16())
      }
      val nameW = if (release == 117) 33 else 129
      val names = section(map(3)) { i =>
        i.expect("<varnames>"); Array.fill(nvar)(nullTerm(i.bytes(nameW), utf8))
      }
      val fmtW = if (release == 117) 49 else 57
      val formats = section(map(5)) { i =>
        i.expect("<formats>"); Array.fill(nvar)(nullTerm(i.bytes(fmtW), utf8))
      }
      val lblNames = section(map(6)) { i =>
        i.expect("<value_label_names>")
        Array.fill(nvar)(nullTerm(i.bytes(nameW), utf8))
      }
      require(!typeCodes.contains(TStrL),
        s"$p contains strL columns — unsupported (re-export long strings to parquet)")
      val rowSize = typeCodes.map(widthOf).sum

      val valueLabels: Map[String, Map[Int, String]] = section(map(11)) { i =>
        i.expect("<value_labels>")
        val out = Map.newBuilder[String, Map[Int, String]]
        var done = false
        while (!done) {
          val tag = new String(i.bytes(5), ISO_8859_1)
          if (tag == "</val") done = true
          else {
            require(tag == "<lbl>", s"malformed value-label block: '$tag'")
            i.i32() // table length
            val labname = nullTerm(i.bytes(nameW), utf8)
            i.bytes(3) // padding
            val n = i.i32(); val txtlen = i.i32()
            val off = Array.fill(n)(i.i32())
            val vals = Array.fill(n)(i.i32())
            val txt = i.bytes(txtlen)
            val m = (0 until n).map { j =>
              vals(j) -> nullTerm(txt.drop(off(j)), utf8)
            }.toMap
            out += labname -> m
            i.expect("</lbl>")
          }
        }
        out.result()
      }

      DtaMeta(release, nvar, nobs, typeCodes, names, formats, lblNames,
        map(9) + "<data>".length, rowSize, valueLabels)
    } finally raw.close()
  }

  /** Spark output type for one dta column. */
  private def sparkTypeOf(meta: DtaMeta, i: Int): DataType = {
    val code = meta.typeCodes(i); val fmt = meta.formats(i)
    val labeled = meta.lblNames(i).nonEmpty &&
      meta.valueLabels.contains(meta.lblNames(i))
    if (code <= 2045) StringType
    else if (labeled) StringType // convert_categoricals: labels replace codes
    else if (fmt.startsWith("%tc") || fmt.startsWith("%-tc")) TimestampType
    else if (fmt.startsWith("%td") || fmt.startsWith("%-td")) DateType
    else code match {
      case TDouble => DoubleType
      case TFloat => FloatType
      case TInt32 => IntegerType
      case TInt16 => ShortType
      case TInt8 => ByteType
    }
  }

  /** read_stata: one .dta file or a directory of them; row-range
    * split-parallel within each file (`splitBytes` per task), each file
    * decoded at its own data offset with its own value labels. Value
    * labels are applied (reference default convert_categoricals=True). */
  def read(spark: SparkSession, path: String,
      splitBytes: Long = 64L << 20): DataFrame = {
    val files = SplitRead.inputFiles(spark, path, ".dta")
    val (schema, metas) = SplitRead.headers(spark, files)(parseMeta) { m =>
      StructType((0 until m.nvar).map(i =>
        StructField(m.names(i), sparkTypeOf(m, i), nullable = true)))
    }
    // row ranges: ~splitBytes per task, >= 1 row each; clamped to 1 GB so
    // the per-task chunk allocation stays within a JVM byte array
    val targetBytes = math.min(math.max(1L, splitBytes), 1L << 30)
    val splits = metas.flatMap { case (f, m) =>
      val rowsPerSplit = math.max(1L, targetBytes / math.max(1, m.rowSize))
      (0L until m.nobs by rowsPerSplit).map(s =>
        f -> (m, s, math.min(rowsPerSplit, m.nobs - s)))
    }
    SplitRead.scan(spark, schema, splits) { case (_, (m, start, n), in) =>
      in.seek(m.dataOffset + start * m.rowSize)
      val chunk = new Array[Byte]((n * m.rowSize).toInt)
      in.readFully(chunk)
      val bb = ByteBuffer.wrap(chunk).order(ByteOrder.LITTLE_ENDIAN)
      val utf8 = m.release == 118
      Iterator.fill(n.toInt) {
        val arr = new Array[Any](m.nvar)
        var i = 0
        while (i < m.nvar) {
          arr(i) = readCell(bb, m, i, utf8)
          i += 1
        }
        Row.fromSeq(arr.toIndexedSeq)
      }
    }
  }

  /** One cell: decode storage, null out sentinels, then apply the
    * fmt/label transform. */
  private def readCell(bb: ByteBuffer, m: DtaMeta, i: Int, utf8: Boolean): Any = {
    val code = m.typeCodes(i)
    if (code <= 2045) {
      val b = new Array[Byte](code); bb.get(b)
      nullTerm(b, utf8) // "" stays "" — Stata's own string missing
    } else {
      // numeric storage → Option[Double] with exactness preserved for ints
      val num: java.lang.Double = code match {
        case TInt8 => val v = bb.get(); if (v >= ByteMissing) null else v.toDouble
        case TInt16 => val v = bb.getShort; if (v >= ShortMissing) null else v.toDouble
        case TInt32 => val v = bb.getInt; if (v >= IntMissing) null else v.toDouble
        case TFloat => val v = bb.getFloat; if (v >= FloatMissing) null else v.toDouble
        case TDouble => val v = bb.getDouble; if (v >= DoubleMissing) null else v
      }
      if (num == null) return null
      val fmt = m.formats(i)
      val lbl = m.lblNames(i)
      if (lbl.nonEmpty && m.valueLabels.contains(lbl)) {
        val v = num.toInt
        m.valueLabels(lbl).getOrElse(v, String.valueOf(v))
      } else if (fmt.startsWith("%tc") || fmt.startsWith("%-tc")) {
        val micros = math.round(num * 1000d) + StataEpochMs * 1000L
        val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        t
      } else if (fmt.startsWith("%td") || fmt.startsWith("%-td")) {
        Date.valueOf(LocalDate.ofEpochDay(num.toLong + StataEpochDay))
      } else code match {
        case TDouble => num.doubleValue()
        case TFloat => num.floatValue()
        case TInt32 => num.intValue()
        case TInt16 => num.shortValue()
        case TInt8 => num.byteValue()
      }
    }
  }

  // --------------------------------------------------------------- write

  private val NameRe = "[A-Za-z_][A-Za-z0-9_]{0,31}".r

  /** Little-endian section builder that records tag offsets. */
  private class Buf {
    val bos = new ByteArrayOutputStream()
    def ascii(s: String): Unit = bos.write(s.getBytes(ISO_8859_1))
    def u16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def i64(v: Long): Unit = {
      var i = 0; while (i < 8) { bos.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def fixed(s: String, width: Int): Unit = {
      val b = s.getBytes(UTF_8)
      require(b.length < width, s"string '$s' too long for $width-byte field")
      bos.write(b); bos.write(new Array[Byte](width - b.length))
    }
    def size: Long = bos.size.toLong
  }

  /** Per-column write plan: dta type code, display format, cell writer. */
  private case class ColPlan(code: Int, fmt: String,
      put: (Row, Int, ByteBuffer) => Unit)

  /** to_stata: stream the frame into one dta-118 file after a single
    * pre-pass aggregate (row count, integral ranges, strf widths). */
  def write(df: DataFrame, path: String): Unit = {
    val schema = df.schema
    schema.fieldNames.foreach(n => require(NameRe.matches(n),
      s"to_stata: '$n' is not a valid Stata variable name " +
        "([A-Za-z_][A-Za-z0-9_]{0,31}); rename before writing"))
    require(schema.length <= 65535, "dta allows at most 65535 variables")

    // pre-pass: one aggregate job for everything the header needs
    val aggs = count(lit(1)).as("__n") +: schema.fields.flatMap { f =>
      f.dataType match {
        case StringType => Seq(max(octet_length(col(f.name)))
          .cast(LongType).as(s"__w_${f.name}"))
        case ByteType | ShortType | IntegerType | LongType => Seq(
          min(col(f.name)).cast(LongType).as(s"__lo_${f.name}"),
          max(col(f.name)).cast(LongType).as(s"__hi_${f.name}"))
        case _ => Nil
      }
    }.toSeq
    val stats = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val nobs = stats.getLong(stats.fieldIndex("__n"))
    def statL(n: String, default: Long): Long = {
      val i = stats.fieldIndex(n)
      if (stats.isNullAt(i)) default else stats.getLong(i)
    }

    val plans: Array[ColPlan] = schema.fields.map { f =>
      f.dataType match {
        case StringType =>
          val w = math.max(1, statL(s"__w_${f.name}", 1)).toInt
          require(w <= 2045, s"to_stata: ${f.name} has strings up to $w " +
            "UTF-8 bytes — strL is unsupported, strings > 2045 bytes " +
            "belong in parquet")
          ColPlan(w, s"%${math.min(w, 45)}s", (r, i, b) => {
            val bytes = if (r.isNullAt(i)) Array.emptyByteArray
              else r.getString(i).getBytes(UTF_8)
            b.put(bytes); b.put(new Array[Byte](w - bytes.length))
          })
        case BooleanType => ColPlan(TInt8, "%8.0g", (r, i, b) =>
          b.put(if (r.isNullAt(i)) ByteMissing
            else if (r.getBoolean(i)) 1.toByte else 0.toByte))
        case ByteType | ShortType | IntegerType | LongType =>
          val lo = statL(s"__lo_${f.name}", 0)
          val hi = statL(s"__hi_${f.name}", 0)
          val idx = schema.fieldIndex(f.name)
          val get: Row => Long = f.dataType match {
            case ByteType => r => r.getByte(idx).toLong
            case ShortType => r => r.getShort(idx).toLong
            case IntegerType => r => r.getInt(idx).toLong
            case _ => r => r.getLong(idx)
          }
          // the reference's _cast_to_stata_types rule (stata.py:506):
          // declared widths are KEPT (int32 stays int32) and only a
          // sentinel-colliding range upsizes; int64 — which dta lacks —
          // narrows to int32 when it fits, else exact double, else throws
          val declaredFits = f.dataType match {
            case ByteType => lo >= -127 && hi <= 100
            case ShortType => lo >= -32767 && hi <= 32740
            case _ => false // int32/int64 handled by the range ladder below
          }
          if (declaredFits && f.dataType == ByteType)
            ColPlan(TInt8, "%8.0g", (r, i, b) =>
              b.put(if (r.isNullAt(i)) ByteMissing else get(r).toByte))
          else if (declaredFits ||
              ((f.dataType == ByteType || f.dataType == ShortType) &&
                lo >= -32767 && hi <= 32740))
            ColPlan(TInt16, "%8.0g", (r, i, b) =>
              b.putShort(if (r.isNullAt(i)) ShortMissing else get(r).toShort))
          else if (lo >= -2147483647L && hi <= 2147483620L)
            ColPlan(TInt32, "%12.0g", (r, i, b) =>
              b.putInt(if (r.isNullAt(i)) IntMissing else get(r).toInt))
          else if (lo >= -(1L << 53) && hi <= (1L << 53))
            ColPlan(TDouble, "%10.0g", (r, i, b) =>
              b.putDouble(if (r.isNullAt(i)) DoubleMissing else get(r).toDouble))
          else throw new IllegalArgumentException(
            s"to_stata: ${f.name} has values beyond 2^53 — not exactly " +
              "representable in any Stata type (dta has no int64)")
        case FloatType => ColPlan(TFloat, "%9.0g", (r, i, b) =>
          b.putFloat(if (r.isNullAt(i)) FloatMissing else r.getFloat(i)))
        case DoubleType => ColPlan(TDouble, "%10.0g", (r, i, b) =>
          b.putDouble(if (r.isNullAt(i)) DoubleMissing else r.getDouble(i)))
        case d: DecimalType =>
          require(d.precision <= 15,
            s"to_stata: ${f.name} DECIMAL(${d.precision}) exceeds double precision")
          ColPlan(TDouble, "%10.0g", (r, i, b) =>
            b.putDouble(if (r.isNullAt(i)) DoubleMissing
              else r.getDecimal(i).doubleValue()))
        case DateType => ColPlan(TInt32, "%td", (r, i, b) =>
          b.putInt(if (r.isNullAt(i)) IntMissing
            else (r.getDate(i).toLocalDate.toEpochDay - StataEpochDay).toInt))
        case TimestampType => ColPlan(TDouble, "%tc", (r, i, b) =>
          b.putDouble(if (r.isNullAt(i)) DoubleMissing else {
            val t = r.getTimestamp(i)
            val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L +
              t.getNanos / 1000L
            micros / 1000d - StataEpochMs
          }))
        case TimestampNTZType => ColPlan(TDouble, "%tc", (r, i, b) =>
          b.putDouble(if (r.isNullAt(i)) DoubleMissing else {
            val ldt = r.getAs[java.time.LocalDateTime](i)
            val micros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) *
              1000000L + ldt.getNano / 1000L
            micros / 1000d - StataEpochMs // Stata datetimes are tz-naive
          }))
        case other => throw new IllegalArgumentException(
          s"to_stata: unsupported column type $other (${f.name})")
      }
    }
    val rowSize = plans.map(p => widthOf(p.code)).sum

    // header prefix: built twice — first with a zero map to learn the
    // section offsets, then with the real one (immune to arithmetic slips)
    def prefix(map: Array[Long]): (Array[Byte], Array[Long]) = {
      val b = new Buf
      val offs = new Array[Long](14)
      offs(0) = 0
      b.ascii("<stata_dta><header><release>118</release>")
      b.ascii("<byteorder>LSF</byteorder><K>"); b.u16(schema.length)
      b.ascii("</K><N>"); b.i64(nobs)
      b.ascii("</N><label>"); b.u16(0)
      b.ascii("</label><timestamp>"); b.bos.write(0)
      b.ascii("</timestamp></header>")
      offs(1) = b.size
      b.ascii("<map>"); map.foreach(b.i64); b.ascii("</map>")
      offs(2) = b.size
      b.ascii("<variable_types>"); plans.foreach(p => b.u16(p.code))
      b.ascii("</variable_types>")
      offs(3) = b.size
      b.ascii("<varnames>"); schema.fieldNames.foreach(b.fixed(_, 129))
      b.ascii("</varnames>")
      offs(4) = b.size
      b.ascii("<sortlist>"); (0 to schema.length).foreach(_ => b.u16(0))
      b.ascii("</sortlist>")
      offs(5) = b.size
      b.ascii("<formats>"); plans.foreach(p => b.fixed(p.fmt, 57))
      b.ascii("</formats>")
      offs(6) = b.size
      b.ascii("<value_label_names>")
      schema.fields.foreach(_ => b.fixed("", 129))
      b.ascii("</value_label_names>")
      offs(7) = b.size
      b.ascii("<variable_labels>")
      schema.fields.foreach(_ => b.fixed("", 321))
      b.ascii("</variable_labels>")
      offs(8) = b.size
      b.ascii("<characteristics></characteristics>")
      offs(9) = b.size
      b.ascii("<data>")
      (b.bos.toByteArray, offs)
    }
    val (_, offs) = prefix(new Array[Long](14))
    val map = new Array[Long](14)
    Array.copy(offs, 0, map, 0, 10)
    map(10) = offs(9) + "<data>".length + nobs * rowSize + "</data>".length
    map(11) = map(10) + "<strls></strls>".length
    map(12) = map(11) + "<value_labels></value_labels>".length
    map(13) = map(12) + "</stata_dta>".length
    val (head, _) = prefix(map)

    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedOutputStream(fs.create(p, true), 1 << 20)
    try {
      out.write(head)
      val bb = ByteBuffer.allocate(rowSize).order(ByteOrder.LITTLE_ENDIAN)
      val it = df.toLocalIterator()
      var written = 0L
      while (it.hasNext) {
        val row = it.next()
        bb.clear()
        var i = 0
        while (i < plans.length) { plans(i).put(row, i, bb); i += 1 }
        out.write(bb.array(), 0, rowSize)
        written += 1
      }
      require(written == nobs,
        s"to_stata: frame changed between the count pre-pass ($nobs rows) " +
          s"and the write ($written rows) — write from a stable input")
      out.write("</data><strls></strls><value_labels></value_labels></stata_dta>"
        .getBytes(ISO_8859_1))
    } finally out.close()
  }
}
