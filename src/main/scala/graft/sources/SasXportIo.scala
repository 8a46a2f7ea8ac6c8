package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, octet_length}
import org.apache.spark.sql.types._

/** read_sas / write for the SAS V5 transport (XPORT) format —
  * the reference's read_sas(format='xport')
  * (`pandas/io/sas/sas_xport.py:24-30` the exact header records,
  * `:170` _parse_float_vec IBM→IEEE, `:321-324` the 140-byte
  * big-endian namestr layout, `:365` the trailing-blank record-count
  * heuristic, `:419` _missing_double). XPORT is the FDA-mandated
  * submission format, fully public (SAS TS-140): 80-byte card
  * records, IBM System/360 hex-float numerics, space-padded latin-1
  * text. The reference is read-only; we add the writer too, so the
  * gate can round-trip and pandas.read_sas cross-validates our
  * writer byte-for-byte.
  *
  * Scale shape: like dta, observation records are fixed-width
  * row-major, so `read` is split-parallel WITHIN one file (row-range
  * seeks from the namestr-derived record length). `write` streams
  * `toLocalIterator` after one pre-pass aggregate (row count +
  * char widths).
  *
  * Fences, all loud: variable names ≤ 8 bytes (the V5 transport
  * limit — rename before writing), latin-1-encodable strings only,
  * numerics within IBM range (~5.4e-79 … 7.2e75 — doubles outside it
  * have no XPORT encoding), integers ≤ 2^53. IEEE→IBM→IEEE is exact
  * (56-bit hex fraction minus ≤3 normalization bits ≥ 53); foreign
  * IBM values with >53 significant bits round once, correctly.
  * DATE/DATETIME-formatted numerics become DateType/TimestampType
  * (days / seconds since 1960-01-01 — SAS's own calendar), which the
  * reference leaves as raw floats for the caller to convert.
  *
  * Cross-validation note: pandas.read_sas reproduces every value we
  * write except true zero, which its vectorized `_parse_float_vec`
  * renders as 2^-260 ≈ 5.4e-79 — it skips the fraction==0 special
  * case on the CANONICAL all-zero-bytes IBM zero (R's `foreign` reads
  * the same bytes as 0.0, and so do we).
  */
object SasXportIo {

  // ----------------------------------------------------- IBM hex floats

  /** IEEE double → IBM 64-bit hex float bits. Exact integer
    * arithmetic: x = M·2^(E−52) rewritten as F56·2^−56·16^(Q−64). */
  private[graft] def ieeeToIbm(x: Double): Long = {
    require(!x.isNaN && !x.isInfinite,
      "XPORT numerics cannot encode NaN/Infinity (SAS uses missing instead)")
    if (x == 0d) return 0L
    val bits = java.lang.Double.doubleToLongBits(x)
    val sign = bits >>> 63
    val rawExp = ((bits >>> 52) & 0x7ff).toInt
    require(rawExp != 0, s"$x is IEEE-subnormal — below the IBM range (~5.4e-79)")
    val e = rawExp - 1023 // unbiased
    val m = (bits & 0xfffffffffffffL) | (1L << 52) // 53-bit mantissa
    val k = Math.floorMod(e + 260, 4)
    val q = (e + 260 - k) / 4
    require(q >= 0 && q <= 127,
      s"$x is outside the IBM hex-float range (~5.4e-79 … 7.2e75)")
    (sign << 63) | (q.toLong << 56) | (m << k)
  }

  /** IBM 64-bit hex float bits → IEEE double (reference
    * _parse_float_vec, scalar form). */
  private[graft] def ibmToIeee(bits: Long): Double = {
    if (bits == 0L) return 0d
    val sign = if (bits < 0) -1d else 1d
    val q = ((bits >>> 56) & 0x7f).toInt
    val f56 = bits & 0xffffffffffffffL // 56-bit fraction
    sign * Math.scalb(f56.toDouble, 4 * q - 312)
  }

  private val SasEpochDay = LocalDate.of(1960, 1, 1).toEpochDay
  private val SasEpochMs = -315619200000L

  // ------------------------------------------------------------- header

  private val Line1 = pad80(
    "HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!" + "0" * 30)
  private val Member1 =
    "HEADER RECORD*******MEMBER  HEADER RECORD!!!!!!!" + "000000000000000001600000000140  "
  private val Dscrptr = pad80(
    "HEADER RECORD*******DSCRPTR HEADER RECORD!!!!!!!" + "0" * 30)
  private val ObsHeader = pad80(
    "HEADER RECORD*******OBS     HEADER RECORD!!!!!!!" + "0" * 30)
  private val Created = "01JAN20:00:00:00" // fixed: byte-reproducible output

  private def pad80(s: String): String = s.padTo(80, ' ')

  private case class XField(name: String, numeric: Boolean, length: Int,
      format: String)

  private case class XMeta(fields: Seq[XField], recordLength: Int,
      recordStart: Long, nobs: Long)

  // ---------------------------------------------------------------- read

  private def parseMeta(fs: org.apache.hadoop.fs.FileSystem, p: Path): XMeta = {
    val in = fs.open(p)
    try {
      def card(): String = {
        val b = new Array[Byte](80); in.readFully(b); new String(b, ISO_8859_1)
      }
      require(card().startsWith("HEADER RECORD*******LIBRARY"),
        s"$p is not an XPORT file (no library header record)")
      card(); card() // file info + modified
      val member = card()
      require(member.startsWith("HEADER RECORD*******MEMBER"),
        s"$p: member header not found")
      val nameLen = member.substring(75, 78).trim.toInt // usually 140
      require(card().startsWith("HEADER RECORD*******DSCRPTR"),
        s"$p: dscrptr header not found")
      card(); card() // member info
      val nameHdr = card()
      require(nameHdr.startsWith("HEADER RECORD*******NAMESTR"),
        s"$p: namestr header not found")
      val nvar = nameHdr.substring(54, 58).trim.toInt
      val blockLen = {
        val d = nameLen * nvar
        if (d % 80 == 0) d else d + (80 - d % 80)
      }
      val block = new Array[Byte](blockLen); in.readFully(block)
      val fields = (0 until nvar).map { i =>
        val bb = ByteBuffer.wrap(block, i * nameLen, nameLen)
          .order(ByteOrder.BIG_ENDIAN)
        val ntype = bb.getShort; bb.getShort // nhfun
        val flen = bb.getShort; bb.getShort // nvar0
        val nm = new Array[Byte](8); bb.get(nm)
        bb.position(bb.position() + 40) // label
        val fm = new Array[Byte](8); bb.get(fm)
        require(ntype == 1 || ntype == 2, s"$p: unknown namestr type $ntype")
        if (ntype == 1) require(flen >= 2 && flen <= 8,
          s"$p: numeric width $flen not in 2..8")
        XField(new String(nm, ISO_8859_1).trim, ntype == 1, flen,
          new String(fm, ISO_8859_1).trim.toUpperCase)
      }
      require(card().startsWith("HEADER RECORD*******OBS"),
        s"$p: observation header not found")
      val recordStart = in.getPos
      val recordLength = fields.map(_.length).sum
      require(recordLength > 0, s"$p: zero-length records")

      // Record count: the data region is rows + <80 bytes of blank card
      // padding, and a row whose own text fields END in blanks is
      // byte-indistinguishable from that padding. The reference's
      // heuristic (count 8-aligned blank words in the last card,
      // sas_xport.py:365) DROPS a real final row in that case; instead
      // we take floor(total/rowLen) and walk BACK over rows that are
      // entirely blank — a phantom padding row is all blanks, while any
      // real row with a numeric column contains '.' or IBM bytes, so
      // only an all-string all-empty trailing row (ambiguous in the
      // format itself) can ever be mistaken.
      val total = fs.getFileStatus(p).getLen - recordStart
      var nobs = total / recordLength
      if (nobs > 0) {
        val tailLen = math.min(total, 65536L).toInt
        in.seek(recordStart + total - tailLen)
        val tail = new Array[Byte](tailLen); in.readFully(tail)
        def rowBlank(n: Long): Boolean = {
          val off = (n * recordLength) - (total - tailLen)
          off >= 0 && (0 until recordLength).forall(j =>
            tail((off + j).toInt) == ' '.toByte)
        }
        while (nobs > 0 && rowBlank(nobs - 1)) nobs -= 1
      }
      XMeta(fields, recordLength, recordStart, nobs)
    } finally in.close()
  }

  private def sparkTypeOf(f: XField): DataType =
    if (!f.numeric) StringType
    else if (f.format.startsWith("DATETIME")) TimestampType
    else if (Set("DATE", "YYMMDD", "MMDDYY", "DDMMYY")
      .exists(f.format.startsWith) && f.format != "") DateType
    else DoubleType

  private def missingNumeric(b: Array[Byte], off: Int): Boolean = {
    val c = b(off)
    (c == '.'.toByte || c == '_'.toByte || (c >= 'A'.toByte && c <= 'Z'.toByte)) &&
      (1 until 8).forall(j => b(off + j) == 0)
  }

  /** read_sas(format='xport'): one .xpt file or a directory; row-range
    * split-parallel within each file. */
  def read(spark: SparkSession, path: String,
      splitBytes: Long = 64L << 20): DataFrame = {
    val files = SplitRead.inputFiles(spark, path, ".xpt")
    val (schema, metas) = SplitRead.headers(spark, files)(parseMeta) { m =>
      StructType(m.fields.map(f =>
        StructField(f.name, sparkTypeOf(f), nullable = true)))
    }
    val targetBytes = math.min(math.max(1L, splitBytes), 1L << 30)
    val splits = metas.flatMap { case (f, m) =>
      val rowsPer = math.max(1L, targetBytes / math.max(1, m.recordLength))
      (0L until m.nobs by rowsPer).map(s =>
        f -> (m, s, math.min(rowsPer, m.nobs - s)))
    }
    val kinds = schema.fields.map(_.dataType)
    SplitRead.scan(spark, schema, splits) { case (_, (m, rowStart, n), in) =>
      in.seek(m.recordStart + rowStart * m.recordLength)
      val chunk = new Array[Byte]((n * m.recordLength).toInt)
      in.readFully(chunk)
      (0L until n).iterator.map { r =>
        val base = (r * m.recordLength).toInt
        var off = base
        val arr = new Array[Any](m.fields.size)
        var i = 0
        while (i < m.fields.size) {
          val fld = m.fields(i)
          arr(i) =
            if (!fld.numeric) {
              // latin-1, trailing blanks stripped (reference read())
              var end = off + fld.length
              while (end > off && (chunk(end - 1) == ' '.toByte ||
                chunk(end - 1) == 0)) end -= 1
              new String(chunk, off, end - off, ISO_8859_1)
            } else {
              // truncated floats pad right with zeros (reference
              // _handle_truncated_float_vec)
              val b8 = new Array[Byte](8)
              System.arraycopy(chunk, off, b8, 0, fld.length)
              if (missingNumeric(b8, 0)) null
              else {
                val v = ibmToIeee(ByteBuffer.wrap(b8)
                  .order(ByteOrder.BIG_ENDIAN).getLong)
                if (kinds(i) == TimestampType) {
                  // a SECONDS-serial double carries ~0.5-1 µs of
                  // representation error at 2030+ epochs; snap to
                  // the ms boundary within ±2 µs (same rationale as
                  // ExcelIo.serialToMicros — genuine off-boundary
                  // values are preserved)
                  val raw = math.round(v * 1e6) + SasEpochMs * 1000L
                  val mod = Math.floorMod(raw, 1000L)
                  val micros = if (mod <= 2) raw - mod
                    else if (mod >= 998) raw + (1000L - mod) else raw
                  val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
                  t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
                  t
                } else if (kinds(i) == DateType)
                  Date.valueOf(LocalDate.ofEpochDay(v.toLong + SasEpochDay))
                else v
              }
            }
          off += fld.length
          i += 1
        }
        Row.fromSeq(arr.toIndexedSeq)
      }
    }
  }

  // --------------------------------------------------------------- write

  private val NameRe = "[A-Za-z_][A-Za-z0-9_]{0,7}".r

  /** write: one XPORT member streamed after a single pre-pass aggregate
    * (row count + char byte widths). */
  def write(df: DataFrame, path: String): Unit = {
    val schema = df.schema
    schema.fieldNames.foreach(n => require(NameRe.matches(n),
      s"XPORT variable name '$n' invalid — V5 transport allows " +
        "[A-Za-z_][A-Za-z0-9_]{0,7} (8 bytes); rename before writing"))

    val aggs = count(lit(1)).as("__n") +: schema.fields.collect {
      case f if f.dataType == StringType =>
        max(octet_length(col(f.name))).cast(LongType).as(s"__w_${f.name}")
    }.toSeq
    val stats = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val nobs = stats.getLong(stats.fieldIndex("__n"))

    val enc = ISO_8859_1.newEncoder()
    case class Plan(numeric: Boolean, length: Int, format: String,
        put: (Row, Int) => Array[Byte])
    def num(format: String)(get: (Row, Int) => Double): Plan =
      Plan(numeric = true, 8, format, (r, i) => {
        val b = new Array[Byte](8)
        if (r.isNullAt(i)) b(0) = '.'.toByte
        else ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
          .putLong(ieeeToIbm(get(r, i)))
        b
      })
    val plans: Array[Plan] = schema.fields.map { f =>
      f.dataType match {
        case StringType =>
          val idx = stats.fieldIndex(s"__w_${f.name}")
          val w = math.max(1L, if (stats.isNullAt(idx)) 1L
            else stats.getLong(idx)).toInt
          // V5 transport caps char variables at 200 bytes; past that the
          // namestr width would be nonportable (and past 32767 it would
          // silently wrap negative). Loud fence, like StataIo's 2045.
          require(w <= 200,
            s"XPORT V5 char variables cap at 200 bytes; '${f.name}' needs " +
              s"$w — wide text belongs in parquet (or truncate first)")
          Plan(numeric = false, w, "", (r, i) => {
            val out = new Array[Byte](w)
            java.util.Arrays.fill(out, ' '.toByte)
            if (!r.isNullAt(i)) {
              val s = r.getString(i)
              require(enc.canEncode(s),
                s"XPORT text is latin-1; '${f.name}' has an unencodable value")
              val b = s.getBytes(ISO_8859_1)
              System.arraycopy(b, 0, out, 0, b.length)
            }
            out
          })
        case DoubleType => num("")((r, i) => r.getDouble(i))
        case FloatType => num("")((r, i) => r.getFloat(i).toDouble)
        case d: DecimalType =>
          require(d.precision <= 15,
            s"${f.name} DECIMAL(${d.precision}) exceeds double precision")
          num("")((r, i) => r.getDecimal(i).doubleValue())
        case ByteType => num("")((r, i) => r.getByte(i).toDouble)
        case ShortType => num("")((r, i) => r.getShort(i).toDouble)
        case IntegerType => num("")((r, i) => r.getInt(i).toDouble)
        case LongType => num("")((r, i) => {
          val v = r.getLong(i)
          require(math.abs(v) <= (1L << 53),
            s"${f.name}: $v exceeds 2^53 — not exact in an XPORT numeric")
          v.toDouble
        })
        case BooleanType => num("")((r, i) => if (r.getBoolean(i)) 1d else 0d)
        case DateType => num("DATE")((r, i) =>
          (r.getDate(i).toLocalDate.toEpochDay - SasEpochDay).toDouble)
        case TimestampType => num("DATETIME")((r, i) => {
          val t = r.getTimestamp(i)
          val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L +
            t.getNanos / 1000L
          micros / 1e6 - SasEpochMs / 1000d
        })
        case TimestampNTZType => num("DATETIME")((r, i) => {
          val ldt = r.getAs[java.time.LocalDateTime](i)
          val micros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) *
            1000000L + ldt.getNano / 1000L
          micros / 1e6 - SasEpochMs / 1000d
        })
        case other => throw new IllegalArgumentException(
          s"XPORT: unsupported column type $other (${f.name})")
      }
    }

    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedOutputStream(fs.create(p, true), 1 << 20)
    def card(s: String): Unit = {
      val b = pad80(s).getBytes(ISO_8859_1)
      require(b.length == 80, s"internal: card is ${b.length} bytes")
      out.write(b)
    }
    try {
      card(Line1)
      card("SAS     SAS     SASLIB  " + "9.4     " + "GRAFT   " +
        " " * 24 + Created)
      card(Created)
      card(Member1)
      card(Dscrptr)
      card("SAS     " + "GRAFT   " + "SASDATA " + "9.4     " + "GRAFT   " +
        " " * 24 + Created)
      card(Created + " " * 16 + " " * 40 + "DATA    ")
      card("HEADER RECORD*******NAMESTR HEADER RECORD!!!!!!!" +
        "000000" + f"${schema.length}%04d" + "0" * 20)

      var pos = 0
      val block = new java.io.ByteArrayOutputStream()
      schema.fields.zip(plans).zipWithIndex.foreach { case ((f, pl), i) =>
        val bb = ByteBuffer.allocate(140).order(ByteOrder.BIG_ENDIAN)
        bb.putShort(if (pl.numeric) 1 else 2) // ntype
        bb.putShort(0) // nhfun
        bb.putShort(pl.length.toShort)
        bb.putShort((i + 1).toShort) // nvar0
        bb.put(f.name.padTo(8, ' ').getBytes(ISO_8859_1))
        bb.put(new Array[Byte](40)) // label
        bb.put(pl.format.padTo(8, ' ').getBytes(ISO_8859_1))
        bb.putShort(0); bb.putShort(0); bb.putShort(0) // nfl, nfd, nfj
        bb.put(new Array[Byte](2)) // nfill
        bb.put((" " * 8).getBytes(ISO_8859_1)) // niform
        bb.putShort(0); bb.putShort(0) // nifl, nifd
        bb.putInt(pos) // npos
        bb.put(new Array[Byte](52))
        block.write(bb.array())
        pos += pl.length
      }
      val pad = (80 - block.size % 80) % 80
      (0 until pad).foreach(_ => block.write(' '))
      out.write(block.toByteArray)
      card(ObsHeader)

      var written = 0L
      var dataBytes = 0L
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        var i = 0
        while (i < plans.length) {
          val b = plans(i).put(row, i)
          out.write(b); dataBytes += b.length; i += 1
        }
        written += 1
      }
      require(written == nobs,
        s"frame changed between count pre-pass ($nobs) and write ($written)")
      val tail = ((80 - dataBytes % 80) % 80).toInt
      (0 until tail).foreach(_ => out.write(' '))
    } finally out.close()
  }
}
