package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import graft.sources.SasBdatIo.{CompNone, CompRdc, CompRle}

/** Test-scope sas7bdat WRITER: encodes the golden frames under
  * src/test/resources/sas7bdat/ (cell dumps of real SAS files) into the
  * hermetic fixtures committed under src/main/resources/sas7bdat/, so
  * the registry gates and SasBdatSpec read the same bytes on every host.
  *
  * Layout matrix: {32-bit, 64-bit} × {little-, big-endian} × {raw,
  * SASYZCRL (RLE), SASYZCR2 (RDC)}, on 4096-byte pages so a page-range
  * split of 8192 bytes still yields several tasks. The byte layout
  * follows the published format notes (the same offsets SasBdatIo and
  * the reference reader, pandas/io/sas/sas7bdat.py, decode):
  *   - header: magic, u64/align bytes 32/35 (0x33), endian byte 37,
  *     encoding byte 70 (29 = latin1), dataset name @92, created and
  *     modified stamps @164/172 left at the 1960 epoch,
  *     header length / page size / page count @196/200/204 (+4 when
  *     64-bit);
  *   - meta pages: row-size, column-size, column-text, column-name,
  *     column-attribute, then one format-and-label subheader per column,
  *     payloads packed from the page end, pointers from the page head;
  *   - raw files: the last meta page is a MIX page carrying the first
  *     rows (8-aligned after the pointer table), the rest go on data
  *     pages; compressed files carry one row per subheader on meta
  *     pages (comp 4 when the codec shortens it, else stored raw).
  * Numerics are IEEE doubles truncated to their high-order `width`
  * bytes (3..8); the writer refuses any value the truncation would
  * change. A missing numeric is SAS's '.' (0xFFFFFE00… — a NaN at any
  * width ≥ 3); a missing string is all blanks. Dates are day serials
  * and datetimes second serials from 1960-01-01.
  *
  * The encoders emit the non-literal commands on purpose: RLE writes
  * byte repeats (0xC_, 0x4_) and blank/NUL/'@' fills (0x6_/0x7_/
  * 0xD_-0xF_); RDC writes short/long runs and short/long
  * back-references.
  *
  * Regenerate the committed fixtures (byte-identical; SasBdatSpec's
  * drift test pins them):
  * {{{
  *   sbt "Test/runMain graft.SasBdatWriter src/main/resources/sas7bdat"
  * }}}
  */
object SasBdatWriter {

  sealed trait Kind
  case object Num extends Kind
  case object Str extends Kind
  case object Day extends Kind   // day serial (DATE-family format)
  case object Secs extends Kind  // second serial (DATETIME-family)

  case class Col(name: String, kind: Kind, width: Int,
      format: String = "", label: String = "")

  case class Layout(u64: Boolean, le: Boolean, codec: Int) {
    def tag: String = Seq(
      codec match {
        case CompNone => "raw"
        case CompRle => "rle"
        case _ => "rdc"
      },
      (if (le) "le" else "be") + (if (u64) "64" else "32")).mkString("_")
  }

  /** One committed fixture: `file`.sas7bdat encodes golden `csv`.csv.
    * Every header declares latin1; `charset` encodes the payload (test16
    * carries UTF-8 under that declaration, like its SAS original). */
  case class Fixture(file: String, csv: String, dataset: String,
      cols: Seq[Col], layout: Layout, charset: Charset = ISO_8859_1)

  val PageSize = 4096
  private val HeaderLength = 1024

  private val cars = Seq(
    Col("MPG", Num, 8, label = "miles per gallon"),
    Col("CYL", Num, 3), Col("ENG", Num, 8), Col("WGT", Num, 4))

  private val datetime = Seq(
    Col("Date1", Day, 8, "DATE"), Col("Date2", Day, 8, "YYMMDD"),
    Col("DateTime", Secs, 8, "DATETIME"),
    Col("DateTimeHi", Secs, 8, "E8601DT"),
    Col("Taiw", Day, 8, "MINGUO"))

  // labels as documented for SASHELP.PRDSALE, the dataset the fixture
  // samples; QUARTER/YEAR are stored truncated to 3/4 bytes
  private val productsales = Seq(
    Col("ACTUAL", Num, 8, "DOLLAR", "Actual Sales"),
    Col("PREDICT", Num, 8, "DOLLAR", "Predicted Sales"),
    Col("COUNTRY", Str, 10, label = "Country"),
    Col("REGION", Str, 10, label = "Region"),
    Col("DIVISION", Str, 10, label = "Division"),
    Col("PRODTYPE", Str, 10, label = "Product type"),
    Col("PRODUCT", Str, 10, label = "Product"),
    Col("QUARTER", Num, 3, label = "Quarter"),
    Col("YEAR", Num, 4, label = "Year"),
    Col("MONTH", Day, 8, "MONNAME", "Month"))

  /** test1/test16: 25 groups of (fraction, string, small int, date or
    * 4-digit int). The small ints ride 3-byte and the 4-digit ints
    * 4-byte truncated doubles, so every layout decodes truncation. */
  private def test1Cols(strWidth: Int): Seq[Col] =
    (1 to 100).map { i =>
      val n = s"Column$i"
      (i - 1) % 4 match {
        case 0 => Col(n, Num, 8)
        case 1 => Col(n, Str, strWidth)
        case 2 => Col(n, Num, 3)
        case _ =>
          if (i == 4 || i == 12) Col(n, Day, 8, "MMDDYY") else Col(n, Num, 4)
      }
    }

  val fixtures: Seq[Fixture] = Seq(
    Fixture("cars", "cars", "CARS", cars, Layout(false, true, CompNone)),
    Fixture("datetime", "datetime", "DATETIME", datetime,
      Layout(true, true, CompNone)),
    Fixture("productsales", "productsales", "PRODUCTSALES", productsales,
      Layout(false, true, CompNone)),
    Fixture("test16", "test16", "TEST16", test1Cols(14),
      Layout(true, false, CompRle), charset = UTF_8)) ++
    (for {
      codec <- Seq(CompNone, CompRle, CompRdc)
      u64 <- Seq(false, true)
      le <- Seq(true, false)
    } yield {
      val l = Layout(u64, le, codec)
      Fixture(s"test1_${l.tag}", "test1", "TEST1", test1Cols(9), l)
    })

  /** The golden CSV text (header + rows, no quoting) from the test
    * classpath. */
  def goldenCsv(name: String): String = {
    val in = getClass.getResourceAsStream(s"/sas7bdat/$name.csv")
    require(in != null, s"golden /sas7bdat/$name.csv not on the classpath")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SasBdatWriter <output dir>")
    val dir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(dir)
    for (f <- fixtures) {
      val bytes = encode(f)
      java.nio.file.Files.write(dir.resolve(s"${f.file}.sas7bdat"), bytes)
      println(s"${f.file}.sas7bdat: ${bytes.length} bytes")
    }
  }

  // ---- values -----------------------------------------------------------

  private val SasEpochDay = LocalDate.of(1960, 1, 1).toEpochDay
  private val SasEpochMicros = SasEpochDay * 86400L * 1000000L
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val Missing = 0xfffffe0000000000L // SAS '.'

  /** The second serial closest to `micros` whose µs rounding is exact
    * (near the 1677/2262 bounds a double's ulp exceeds 1 µs, so the
    * plain quotient can round to a neighbouring microsecond). */
  private def secondsSerial(micros: Long): Double = {
    val target = micros - SasEpochMicros
    val v = target / 1e6
    Seq(v, Math.nextUp(v), Math.nextDown(v), Math.nextUp(Math.nextUp(v)),
      Math.nextDown(Math.nextDown(v)))
      .find(c => math.round(c * 1e6) == target)
      .getOrElse(throw new IllegalArgumentException(
        s"no double second serial encodes $micros µs exactly"))
  }

  /** Double bits of one CSV cell of a numeric-stored column. */
  private def numericBits(c: Col, cell: String): Long =
    if (cell.isEmpty) Missing
    else java.lang.Double.doubleToRawLongBits(c.kind match {
      case Num => cell.toDouble
      case Day => (LocalDate.parse(cell).toEpochDay - SasEpochDay).toDouble
      case _ =>
        val t = LocalDateTime.parse(cell, TsFormat).toInstant(ZoneOffset.UTC)
        secondsSerial(t.getEpochSecond * 1000000L + t.getNano / 1000)
    })

  // ---- byte helpers -----------------------------------------------------

  private final class Buf(n: Int, l: Layout) {
    val a = new Array[Byte](n)
    private val bb = ByteBuffer.wrap(a)
      .order(if (l.le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val intLen: Int = if (l.u64) 8 else 4
    def u16(off: Int, v: Int): Unit = bb.putShort(off, v.toShort)
    def i32(off: Int, v: Int): Unit = bb.putInt(off, v)
    def int(off: Int, v: Long): Unit =
      if (l.u64) bb.putLong(off, v) else bb.putInt(off, v.toInt)
    def bytes(off: Int, b: Array[Byte]): Unit =
      System.arraycopy(b, 0, a, off, b.length)
  }

  // subheader signatures, as 32-bit words; the 64-bit word of the two
  // size subheaders is zero-extended, of the rest sign-extended
  private val SigRowSize = 0xf7f7f7f7
  private val SigColSize = 0xf6f6f6f6
  private val SigText = 0xfffffffd
  private val SigNames = 0xffffffff
  private val SigAttrs = 0xfffffffc
  private val SigFormat = 0xfffffbfe

  private def signature(b: Buf, sig: Int): Unit =
    b.int(0, if (sig == SigRowSize || sig == SigColSize) sig & 0xffffffffL
      else sig.toLong)

  /** The leading `len` bytes of `b`, in file order, as one number. */
  private def leadWord(b: Array[Byte], len: Int): Long =
    b.take(len).foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xff))

  /** Every signature word a row payload must not start with (a reader
    * would parse it as metadata). */
  private def signatureWords(l: Layout): Set[Long] =
    Seq(SigRowSize, SigColSize, SigText, SigNames, SigAttrs, SigFormat,
      0xfffffc00, 0xfffffffe).map { s =>
      val b = new Buf(8, l)
      signature(b, s)
      leadWord(b.a, b.intLen)
    }.toSet

  // ---- pages ------------------------------------------------------------

  private final class Page(l: Layout) {
    val buf = new Buf(PageSize, l)
    val bitOffset: Int = if (l.u64) 32 else 16
    val ptrLen: Int = if (l.u64) 24 else 12
    val ptrs = ArrayBuffer[(Int, Int, Int, Int)]() // offset, length, comp, type
    var end: Int = PageSize // payloads grow down from the page end
    var pageType = 0
    var rows = 0
    def ptrEnd(n: Int): Int = bitOffset + 8 + n * ptrLen
    def add(payload: Array[Byte], comp: Int, ptype: Int): Boolean =
      if (ptrEnd(ptrs.size + 1) > end - payload.length) false
      else {
        end -= payload.length
        buf.bytes(end, payload)
        ptrs += ((end, payload.length, comp, ptype))
        true
      }
    def finish(): Array[Byte] = {
      buf.u16(bitOffset, pageType)
      buf.u16(bitOffset + 2, ptrs.size + rows)
      buf.u16(bitOffset + 4, ptrs.size)
      ptrs.zipWithIndex.foreach { case ((off, len, comp, ptype), i) =>
        val p = ptrEnd(i)
        buf.int(p, off)
        buf.int(p + buf.intLen, len)
        buf.a(p + 2 * buf.intLen) = comp.toByte
        buf.a(p + 2 * buf.intLen + 1) = ptype.toByte
      }
      buf.a
    }
  }

  // ---- the file ---------------------------------------------------------

  def encode(f: Fixture): Array[Byte] = {
    val csvText = goldenCsv(f.csv)
    val l = f.layout
    val L = if (l.u64) 8 else 4
    val lines = csvText.split("\n").filter(_.nonEmpty)
    require(!csvText.contains('"'), s"${f.csv}.csv: quoted cells unsupported")
    require(lines.head.split(",", -1).toSeq == f.cols.map(_.name),
      s"${f.csv}.csv header differs from the fixture's columns")
    val cells = lines.tail.map(_.split(",", -1))
    val offsets = f.cols.scanLeft(0)(_ + _.width)
    val rowLength = offsets.last

    val rows: Seq[Array[Byte]] = cells.toSeq.map { r =>
      require(r.length == f.cols.size, s"${f.csv}.csv: ragged row")
      val row = new Array[Byte](rowLength)
      f.cols.zip(r).zipWithIndex.foreach { case ((c, cell), i) =>
        val off = offsets(i)
        if (c.kind == Str) {
          val s = cell.getBytes(f.charset)
          require(s.length <= c.width, s"${c.name}: '$cell' wider than ${c.width}")
          java.util.Arrays.fill(row, off, off + c.width, ' '.toByte)
          System.arraycopy(s, 0, row, off, s.length)
        } else {
          val bits = numericBits(c, cell)
          val be = ByteBuffer.allocate(8).putLong(bits).array()
          val keep = be.take(c.width) // the high-order end
          require(c.width == 8 || (bits << (8 * c.width)) == 0,
            s"${c.name}: '$cell' is not exact in ${c.width} bytes")
          val stored = if (l.le) keep.reverse else keep
          System.arraycopy(stored, 0, row, off, c.width)
        }
      }
      row
    }

    // column text: a 28-byte head (size word, compression literal @12),
    // then the interned names, formats and labels
    val text = new java.io.ByteArrayOutputStream()
    text.write(new Array[Byte](28), 0, 28)
    val interned = scala.collection.mutable.Map[String, (Int, Int)]()
    def intern(s: String): (Int, Int) =
      if (s.isEmpty) (0, 0)
      else interned.getOrElseUpdate(s, {
        val b = s.getBytes(f.charset)
        val at = text.size
        text.write(b, 0, b.length)
        while (text.size % 4 != 0) text.write(' ')
        (at, b.length)
      })
    val namePtrs = f.cols.map(c => intern(c.name))
    val fmtPtrs = f.cols.map(c => (intern(c.format), intern(c.label)))
    val blob = text.toByteArray

    val n = f.cols.size
    val rowSize = new Buf(if (l.u64) 808 else 480, l)
    signature(rowSize, SigRowSize)
    rowSize.int(5 * L, rowLength)
    rowSize.int(6 * L, rows.size)
    rowSize.int(9 * L, n) // column count, part 1
    val colSize = new Buf(3 * L, l)
    signature(colSize, SigColSize)
    colSize.int(L, n)
    val textSh = new Buf(L + blob.length, l)
    signature(textSh, SigText)
    textSh.bytes(L, blob)
    textSh.u16(L, blob.length)
    if (l.codec != CompNone) textSh.bytes(L + 12,
      (if (l.codec == CompRle) "SASYZCRL" else "SASYZCR2").getBytes(ISO_8859_1))
    val names = new Buf(2 * L + 12 + 8 * n, l)
    signature(names, SigNames)
    namePtrs.zipWithIndex.foreach { case ((off, len), i) =>
      val b = L + 8 * (i + 1)
      names.u16(b + 2, off)
      names.u16(b + 4, len)
    }
    val attrs = new Buf(2 * L + 12 + n * (L + 8), l)
    signature(attrs, SigAttrs)
    f.cols.zipWithIndex.foreach { case (c, i) =>
      val b = L + 8 + i * (L + 8)
      attrs.int(b, offsets(i))
      attrs.i32(b + L, c.width)
      attrs.a(b + L + 6) = (if (c.kind == Str) 2 else 1).toByte
    }
    val formats = fmtPtrs.map { case ((fo, fl), (lo, ll)) =>
      val b = new Buf(if (l.u64) 104 else 64, l)
      signature(b, SigFormat)
      b.u16(22 + 3 * L + 2, fo); b.u16(22 + 3 * L + 4, fl)
      b.u16(28 + 3 * L + 2, lo); b.u16(28 + 3 * L + 4, ll)
      b.a
    }

    val pages = ArrayBuffer(new Page(l))
    def place(payload: Array[Byte], comp: Int, ptype: Int): Unit =
      if (!pages.last.add(payload, comp, ptype)) {
        pages += new Page(l)
        require(pages.last.add(payload, comp, ptype),
          s"subheader of ${payload.length} bytes exceeds a page")
      }
    (Seq(rowSize.a, colSize.a, textSh.a, names.a, attrs.a) ++ formats)
      .foreach(place(_, 0, 0))

    var mixRows = 0
    if (l.codec == CompNone) {
      // the last meta page becomes the mix page, then data pages
      val mix = pages.last
      val rowStart = (mix.ptrEnd(mix.ptrs.size) + 7) / 8 * 8
      mixRows = math.min(rows.size, (mix.end - rowStart) / rowLength)
      if (mixRows > 0) {
        mix.pageType = 512
        mix.rows = mixRows
        rows.take(mixRows).zipWithIndex.foreach { case (r, i) =>
          mix.buf.bytes(rowStart + i * rowLength, r)
        }
      }
      val perPage = (PageSize - mix.ptrEnd(0)) / rowLength
      rows.drop(mixRows).grouped(perPage).foreach { chunk =>
        val p = new Page(l)
        p.pageType = 256
        p.rows = chunk.size
        chunk.zipWithIndex.foreach { case (r, i) =>
          p.buf.bytes(p.ptrEnd(0) + i * rowLength, r)
        }
        pages += p
      }
    } else {
      val sigs = signatureWords(l)
      rows.foreach { r =>
        val z = if (l.codec == CompRle) rleCompress(r) else rdcCompress(r)
        val (payload, comp) = if (z.length < rowLength) (z, 4) else (r, 0)
        require(payload.length < L || !sigs.contains(leadWord(payload, L)),
          "row payload starts with a subheader signature")
        place(payload, comp, 1)
      }
    }
    rowSize.int(15 * L, mixRows)
    // the row-size subheader is the first payload of page 0
    pages.head.buf.bytes(pages.head.ptrs.head._1, rowSize.a)

    val head = new Buf(HeaderLength, l)
    val magic = Array(0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
      0x00, 0x00, 0x00, 0x00, 0xc2, 0xea, 0x81, 0x60,
      0xb3, 0x14, 0x11, 0xcf, 0xbd, 0x92, 0x08, 0x00,
      0x09, 0xc7, 0x31, 0x8c, 0x18, 0x1f, 0x10, 0x11).map(_.toByte)
    head.bytes(0, magic)
    val a1 = if (l.u64) 4 else 0
    head.a(32) = (if (l.u64) 0x33 else 0x22).toByte
    head.a(35) = (if (l.u64) 0x33 else 0x22).toByte
    head.a(37) = (if (l.le) 0x01 else 0x00).toByte
    head.a(39) = '1'.toByte // platform: unix
    head.a(70) = 29.toByte // encoding: latin1
    head.bytes(84, "SAS FILE".getBytes(ISO_8859_1))
    head.bytes(92, f.dataset.padTo(64, ' ').getBytes(ISO_8859_1))
    head.bytes(156, "DATA    ".getBytes(ISO_8859_1))
    head.i32(196 + a1, HeaderLength)
    head.i32(200 + a1, PageSize)
    head.int(204 + a1, pages.size)

    val out = new java.io.ByteArrayOutputStream()
    out.write(head.a)
    pages.foreach(p => out.write(p.finish()))
    out.toByteArray
  }

  // ---- codecs -----------------------------------------------------------

  /** SASYZCRL: literal copies (0x8_-0xB_: 1..64 bytes, 0x00: 64..319),
    * byte repeats (0xC_: 3..18; 0x4_: 19..4113), blank/NUL fills
    * (0x6_/0x7_: 17..4112; 0xE_/0xF_: 2..17) and '@' fills (0xD_:
    * 2..17). */
  def rleCompress(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def literal(from: Int, until: Int): Unit = {
      var p = from
      while (p < until) {
        val k = math.min(until - p, 319)
        if (k >= 64) { out.write(0x00); out.write(k - 64) }
        else out.write(0x80 + k - 1)
        out.write(in, p, k)
        p += k
      }
    }
    def run(b: Int, len: Int): Unit = {
      var left = len
      while (left > 0) {
        if ((b == 0x20 || b == 0x00) && left >= 17) {
          val k = math.min(left, 17 + 4095)
          out.write((if (b == 0x20) 0x60 else 0x70) | ((k - 17) >> 8))
          out.write((k - 17) & 0xff)
          left -= k
        } else if ((b == 0x20 || b == 0x00 || b == 0x40) && left >= 2) {
          val k = math.min(left, 17)
          out.write((b match {
            case 0x20 => 0xe0
            case 0x00 => 0xf0
            case _ => 0xd0
          }) | (k - 2))
          left -= k
        } else if (left >= 19) {
          val k = math.min(left, 18 + 4095)
          out.write(0x40 | ((k - 18) >> 8))
          out.write((k - 18) & 0xff)
          out.write(b)
          left -= k
        } else if (left >= 3) {
          val k = math.min(left, 18)
          out.write(0xc0 | (k - 3))
          out.write(b)
          left -= k
        } else {
          out.write(0x80 + left - 1)
          (0 until left).foreach(_ => out.write(b))
          left = 0
        }
      }
    }
    var i = 0
    var litStart = 0
    while (i < in.length) {
      val b = in(i) & 0xff
      var r = 1
      while (i + r < in.length && (in(i + r) & 0xff) == b) r += 1
      val fill = b == 0x20 || b == 0x00 || b == 0x40
      if (r >= 3 || (fill && r >= 2)) {
        literal(litStart, i)
        run(b, r)
        litStart = i + r
      }
      i += r
    }
    literal(litStart, in.length)
    out.toByteArray
  }

  /** SASYZCR2 (Ross Data Compression): a 16-bit control word before
    * each group of 16 tokens, bit set = compressed token. Runs: short
    * (0x0_: 3..18) and long (0x1_: 19..4114); back-references within
    * 4098 bytes: short (0x3_-0xF_: 3..15 bytes) and long (0x2_:
    * 16..271 bytes). Greedy: a run beats a back-reference beats a
    * literal. */
  def rdcCompress(in: Array[Byte]): Array[Byte] = {
    val out = ArrayBuffer[Byte]()
    var ctrlAt = -1
    var ctrl = 0
    var tokens = 16
    def token(compressed: Boolean, bytes: Int*): Unit = {
      if (tokens == 16) {
        if (ctrlAt >= 0) { out(ctrlAt) = (ctrl >> 8).toByte; out(ctrlAt + 1) = ctrl.toByte }
        ctrlAt = out.size
        out += 0; out += 0
        ctrl = 0
        tokens = 0
      }
      if (compressed) ctrl |= 0x8000 >>> tokens
      tokens += 1
      bytes.foreach(b => out += b.toByte)
    }
    var i = 0
    while (i < in.length) {
      val b = in(i) & 0xff
      var r = 1
      while (i + r < in.length && r < 4114 && (in(i + r) & 0xff) == b) r += 1
      if (r >= 3) {
        if (r <= 18) token(true, r - 3, b)
        else token(true, 0x10 | ((r - 19) & 0x0f), (r - 19) >> 4, b)
        i += r
      } else {
        var bestLen = 0
        var bestOfs = 0
        var ofs = 3
        while (ofs <= math.min(i, 4098)) {
          var k = 0
          while (i + k < in.length && k < 271 && in(i + k) == in(i - ofs + k)) k += 1
          if (k > bestLen) { bestLen = k; bestOfs = ofs }
          ofs += 1
        }
        if (bestLen >= 3) {
          val o = bestOfs - 3
          if (bestLen <= 15) token(true, (bestLen << 4) | (o & 0x0f), o >> 4)
          else token(true, 0x20 | (o & 0x0f), o >> 4, bestLen - 16)
          i += bestLen
        } else {
          token(false, b)
          i += 1
        }
      }
    }
    if (ctrlAt >= 0) { out(ctrlAt) = (ctrl >> 8).toByte; out(ctrlAt + 1) = ctrl.toByte }
    out.toArray
  }
}
