package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** read_sas(format='sas7bdat') — READ-ONLY, full layout matrix:
  * {32-bit, 64-bit} × {little-, big-endian} × {uncompressed,
  * SASYZCRL (RLE), SASYZCR2 (RDC)}.
  *
  * The native SAS dataset format (reference: pandas/io/sas/sas7bdat.py:1
  * and its header comment crediting the independently-published format
  * notes; the RLE scheme is partially documented in the CRAN sas7bdat
  * vignette and RDC is Ross Data Compression from the 1992 C Users
  * Journal article — both publicly documented). This implementation was
  * written against those specs and then byte-validated on REAL
  * SAS-written files: the reference's full 16-fixture matrix (test1-16
  * covers every bitness × endianness × codec combination, all decoding
  * to one golden frame) plus cars/datetime/productsales — interop-
  * verified, not merely self-consistent.
  *
  * Remaining fences (loud, none silent): no deleted-row bitmaps.
  *
  * Layout summary (32-bit offsets; u64 widens ints to 8 and shifts the
  * tabled fields; multi-byte integers are FILE-endian):
  *   header: magic[32], u64 flag @32 (0x33), align1 flag @35, endian
  *   @37 (1=LE, else BE), encoding @70, dataset name @92[64],
  *   header_length i32 @196+a1, page_size i32 @200+a1, page_count
  *   int @204+a1.
  *   page: type u16 @bitOffset (16/32), block_count u16, subheader_count
  *   u16; pointer table @bitOffset+8, entries (offset, length, comp u8,
  *   type u8) of 12/24 bytes. comp: 0=plain, 1=truncated (skip),
  *   4=compressed payload. Subheaders identified by their leading
  *   signature word read FILE-endian — the published marker tables for
  *   both byte orders collapse onto one value set that way (plus two
  *   BE-only 64-bit row/col-size variants): row_size F7F7F7F7
  *   (row_length @5·L, row_count @6·L, mix-page row count @15·L),
  *   column_size F6F6F6F6 (@1·L), column_text ...FFFD (strings blob
  *   @+L; the first blob leads with the compression literal when the
  *   file is compressed), column_name ...FFFF (8-byte pointers
  *   (text idx, offset, length) u16×3, entry i based @ +L+8·(i+1)),
  *   column_attrs ...FFFC (entries of (row offset: L, width u32, pad,
  *   type u8) sized L+8 based @ +L+8), format ...FBFE in column order
  *   (format text pointer u16×3 @ +22+3·L, label @ +28+3·L).
  *   Rows: mix pages (512/640) after the pointer table 8-aligned,
  *   min(mixRowCount, rowCount) rows; data pages (type & 256)
  *   @bitOffset+8, block_count rows — both always raw. In compressed
  *   files rows ride ONE PER SUBHEADER on meta pages: a pointer with
  *   an unknown signature, comp ∈ {0, 4} and type 1 is a row payload,
  *   RLE/RDC-decompressed to row_length when shorter (equal-length
  *   payloads are stored raw).
  *   Numerics are IEEE doubles TRUNCATED to width 3-8 — the stored
  *   bytes are the high-order end (tail of the LE buffer, head of the
  *   BE buffer); missing numeric = NaN. Strings are fixed-width,
  *   blank/NUL padded. SAS serials count from 1960-01-01: DATETIME
  *   formats in seconds → TimestampType (snapped to the ms boundary
  *   within ±2 µs, same rationale as SasXportIo/ExcelIo), DATE-family
  *   formats in days → DateType, everything else stays DoubleType.
  *
  * Scale shape: metadata (meta/mix page subheaders) parses driver-side
  * from the file head; tasks then take PAGE RANGES — pages are
  * self-describing for row extraction (type + block/subheader counts in
  * the page header, per-row decompression state never crosses a page),
  * so a 100 TB directory of .sas7bdat files splits by page range within
  * each file with no cross-task state, like StataIo.
  */
object SasBdatIo {

  private val Magic: Array[Byte] = Array(
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xc2, 0xea, 0x81, 0x60,
    0xb3, 0x14, 0x11, 0xcf, 0xbd, 0x92, 0x08, 0x00,
    0x09, 0xc7, 0x31, 0x8c, 0x18, 0x1f, 0x10, 0x11).map(_.toByte)

  /** SAS formats rendered as calendar DATES (days-since-1960 serials);
    * the common family from the public format documentation. */
  private val DateFormats = Set("DATE", "DAY", "DDMMYY", "DOWNAME",
    "JULDAY", "JULIAN", "MMDDYY", "MMYY", "MMYYC", "MMYYD", "MMYYN",
    "MMYYP", "MMYYS", "MONNAME", "MONTH", "MONYY", "QTR", "QTRR",
    "NENGO", "WEEKDATE", "WEEKDATX", "WEEKDAY", "WEEKV", "WORDDATE",
    "WORDDATX", "YEAR", "YYMM", "YYMMC", "YYMMD", "YYMMN", "YYMMP",
    "YYMMS", "YYMMDD", "YYMON", "YYQ", "YYQC", "YYQD", "YYQN", "YYQP",
    "YYQS", "YYQR", "MINGUO", "E8601DA", "B8601DA")

  private val DatetimeFormats = Set("DATETIME", "DTWKDATX", "B8601DN",
    "B8601DT", "B8601DX", "B8601DZ", "B8601LX", "E8601DN", "E8601DT",
    "E8601DX", "E8601DZ", "E8601LX", "DATEAMPM", "DTDATE", "DTMONYY",
    "DTMONYYP", "DTWKDATX", "DTYEAR", "TOD", "MDYAMPM")

  private val SasEpoch = LocalDate.of(1960, 1, 1)
  private val SasEpochDay: Long = SasEpoch.toEpochDay
  private val SasEpochMs: Long = SasEpochDay * 86400000L

  // compression codecs (BdatMeta.compression)
  final val CompNone = 0
  final val CompRle = 1 // SASYZCRL
  final val CompRdc = 2 // SASYZCR2

  case class BdatColumn(name: String, rowOffset: Long, width: Int,
      isString: Boolean, format: String, label: String)

  case class BdatMeta(u64: Boolean, le: Boolean, intLen: Int,
      bitOffset: Int, ptrLen: Int, headerLength: Long, pageSize: Int,
      pageCount: Long, rowLength: Long, rowCount: Long, mixRowCount: Long,
      utf8: Boolean, compression: Int, datasetName: String,
      columns: Seq[BdatColumn]) extends Serializable

  private def ord(le: Boolean): ByteOrder =
    if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN

  private def u16(b: Array[Byte], off: Int, le: Boolean): Int =
    ByteBuffer.wrap(b, off, 2).order(ord(le)).getShort & 0xffff

  private def i32(b: Array[Byte], off: Int, le: Boolean): Int =
    ByteBuffer.wrap(b, off, 4).order(ord(le)).getInt

  private def i64(b: Array[Byte], off: Int, le: Boolean): Long =
    ByteBuffer.wrap(b, off, 8).order(ord(le)).getLong

  private def intAt(b: Array[Byte], off: Int, len: Int, le: Boolean): Long =
    if (len == 8) i64(b, off, le) else i32(b, off, le).toLong

  // subheader kinds
  private final val KUnknown = 0
  private final val KRowSize = 1
  private final val KColSize = 2
  private final val KText = 3
  private final val KNames = 4
  private final val KAttrs = 5
  private final val KFormat = 6
  private final val KOther = 7 // counts / column list: recognized, unused

  /** Classify a subheader by its leading signature word read in FILE
    * byte order: the published LE and BE marker byte strings collapse
    * to one value set under a native-endian read, except two BE-only
    * 64-bit row/col-size spellings listed explicitly. */
  private def sigKind(page: Array[Byte], off: Int, m: BdatMeta): Int =
    if (!m.u64) (i32(page, off, m.le).toLong & 0xffffffffL) match {
      case 0xf7f7f7f7L => KRowSize
      case 0xf6f6f6f6L => KColSize
      case 0xfffffc00L => KOther // subheader counts
      case 0xfffffffdL => KText
      case 0xffffffffL => KNames
      case 0xfffffffcL => KAttrs
      case 0xfffffbfeL => KFormat
      case 0xfffffffeL => KOther // column list
      case _ => KUnknown
    } else i64(page, off, m.le) match {
      case 0x00000000f7f7f7f7L | 0xf7f7f7f7fffffbfeL => KRowSize
      case 0x00000000f6f6f6f6L | 0xf6f6f6f6fffffbfeL => KColSize
      case 0xfffffffffffffc00L => KOther
      case 0xfffffffffffffffdL => KText
      case 0xffffffffffffffffL => KNames
      case 0xfffffffffffffffcL => KAttrs
      case 0xfffffffffffffbfeL => KFormat
      case 0xfffffffffffffffeL => KOther
      case _ => KUnknown
    }

  /** A pointer whose signature is unrecognized, whose compression flag
    * is plain (0) or compressed (4), and whose type is 1 carries one
    * data row — only meaningful in compressed files. */
  private def isDataPointer(page: Array[Byte], sOff: Int, sLen: Long,
      comp: Int, ptype: Int, m: BdatMeta): Boolean =
    sLen > 0 && (comp == 0 || comp == 4) && ptype == 1 &&
      sigKind(page, sOff, m) == KUnknown

  /** Parse header + every metadata subheader. Reads pages until the
    * first page that carries rows (mix/data page, or a meta page with
    * row-payload subheaders — compressed files interleave those after
    * the metadata), so the driver touches O(meta) bytes, not O(file). */
  /** @param encoding "" honors the header's encoding byte; "utf-8" /
    *   "latin1" force the charset (SAS files routinely carry UTF-8
    *   payloads under a wlatin1/latin1 header declaration — the
    *   reference's read_sas takes the same caller override). */
  def parseMeta(open: () => FSDataInputStream,
      encoding: String = ""): BdatMeta = {
    val in = open()
    try {
      val head = new Array[Byte](288)
      in.readFully(0L, head)
      require(head.take(32).sameElements(Magic),
        "not a sas7bdat file (bad magic)")
      val u64 = head(32) == 0x33.toByte
      val align1 = if (head(35) == 0x33.toByte) 4 else 0
      val le = head(37) == 0x01.toByte
      val intLen = if (u64) 8 else 4
      val utf8 = encoding.replace("-", "").toLowerCase match {
        case "" => head(70) == 20.toByte
        case "utf8" => true
        case "latin1" | "iso88591" => false
        case e => throw new IllegalArgumentException(
          s"unsupported encoding override '$e' (utf-8 or latin1)")
      }
      val datasetName =
        new String(head, 92, 64, if (utf8) UTF_8 else ISO_8859_1).trim
      val headerLength = i32(head, 196 + align1, le).toLong
      val pageSize = i32(head, 200 + align1, le)
      val pageCount = intAt(head, 204 + align1, intLen, le)
      val bitOffset = if (u64) 32 else 16
      val ptrLen = if (u64) 24 else 12

      var rowLength = 0L; var rowCount = 0L; var mixRowCount = 0L
      var colCount = 0L
      var compression = CompNone
      val textBlobs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      val namePtrs = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
      val attrs = scala.collection.mutable.ArrayBuffer[(Long, Int, Int)]()
      val formats = scala.collection.mutable.ArrayBuffer[(String, String)]()

      def str(blobIdx: Int, off: Int, len: Int): String = {
        if (len == 0 || blobIdx >= textBlobs.size) ""
        else {
          val blob = textBlobs(blobIdx)
          val end = math.min(off + len, blob.length)
          if (off >= end) ""
          else new String(blob, off, end - off,
            if (utf8) UTF_8 else ISO_8859_1).trim
        }
      }

      // provisional meta for signature reads during the scan (row
      // geometry fields are filled as their subheaders arrive)
      def m0 = BdatMeta(u64, le, intLen, bitOffset, ptrLen, headerLength,
        pageSize, pageCount, rowLength, rowCount, mixRowCount, utf8,
        compression, datasetName, Nil)

      val page = new Array[Byte](pageSize)
      var pi = 0L
      var sawData = false
      while (pi < pageCount && !sawData) {
        in.readFully(headerLength + pi * pageSize, page)
        val pType = u16(page, bitOffset, le)
        val isMix = pType == 512 || pType == 640
        if ((pType & 256) != 0) sawData = true // pure data page
        else {
          require(isMix || pType == 0 || pType == 1024 || pType == 16384 ||
            pType == 36864, // 0x9000: compressed-page index, rowless
            s"page $pi has unknown type $pType")
          if (isMix) sawData = true // rows follow the pointer table
          val subCount = u16(page, bitOffset + 4, le)
          var si = 0
          while (si < subCount) {
            val po = bitOffset + 8 + si * ptrLen
            val sOff = intAt(page, po, intLen, le)
            val sLen = intAt(page, po + intLen, intLen, le)
            val comp = page(po + 2 * intLen) & 0xff
            val ptype = page(po + 2 * intLen + 1) & 0xff
            // comp==1 marks a TRUNCATED pointer (the reference parser
            // skips them): its stale offset bytes can alias a real
            // signature, so parsing it would corrupt the metadata
            if (comp != 1 && sLen > 0) {
              val o = sOff.toInt
              sigKind(page, o, m0) match {
                case KRowSize =>
                  rowLength = intAt(page, o + 5 * intLen, intLen, le)
                  rowCount = intAt(page, o + 6 * intLen, intLen, le)
                  mixRowCount = intAt(page, o + 15 * intLen, intLen, le)
                case KColSize =>
                  colCount = intAt(page, o + intLen, intLen, le)
                case KText =>
                  val blob = java.util.Arrays.copyOfRange(
                    page, o + intLen, o + sLen.toInt)
                  if (textBlobs.isEmpty) {
                    val probe = new String(blob, 0,
                      math.min(blob.length, 24), ISO_8859_1)
                    if (probe.contains("SASYZCRL")) compression = CompRle
                    else if (probe.contains("SASYZCR2")) compression = CompRdc
                  }
                  textBlobs += blob
                case KNames =>
                  val n = ((sLen - 2 * intLen - 12) / 8).toInt
                  var i = 0
                  while (i < n) {
                    val base = o + intLen + 8 * (i + 1)
                    namePtrs += ((u16(page, base, le),
                      u16(page, base + 2, le), u16(page, base + 4, le)))
                    i += 1
                  }
                case KAttrs =>
                  val entry = intLen + 8
                  val n = ((sLen - 2 * intLen - 12) / entry).toInt
                  var i = 0
                  while (i < n) {
                    val base = o + intLen + 8 + i * entry
                    attrs += ((intAt(page, base, intLen, le),
                      i32(page, base + intLen, le),
                      page(base + intLen + 6) & 0xff))
                    i += 1
                  }
                case KFormat =>
                  val fb = o + 22 + 3 * intLen
                  val lb = o + 28 + 3 * intLen
                  formats += ((str(u16(page, fb, le), u16(page, fb + 2, le),
                    u16(page, fb + 4, le)),
                    str(u16(page, lb, le), u16(page, lb + 2, le),
                      u16(page, lb + 4, le))))
                case KUnknown =>
                  // row payloads start on this page (compressed files);
                  // any other unknown subheader is skipped, as before
                  if ((comp == 0 || comp == 4) && ptype == 1 &&
                      compression != CompNone)
                    sawData = true
                case _ => // counts / column list: not needed
              }
            }
            si += 1
          }
          pi += 1
        }
      }

      require(rowLength > 0 && colCount > 0,
        "sas7bdat metadata incomplete (no row-size/column-size subheader)")
      require(namePtrs.size == colCount && attrs.size == colCount,
        s"sas7bdat metadata mismatch: $colCount columns, " +
          s"${namePtrs.size} names, ${attrs.size} attribute entries")
      val cols = (0 until colCount.toInt).map { i =>
        val (ti, toff, tlen) = namePtrs(i)
        val (rowOff, width, typ) = attrs(i)
        val (fmt, label) =
          if (i < formats.size) formats(i) else ("", "")
        BdatColumn(str(ti, toff, tlen), rowOff, width,
          isString = typ == 2, fmt, label)
      }
      BdatMeta(u64, le, intLen, bitOffset, ptrLen, headerLength, pageSize,
        pageCount, rowLength, rowCount, mixRowCount, utf8, compression,
        datasetName, cols)
    } finally in.close()
  }

  /** RLE codec SASYZCRL (control nibble + count nibble; documented in
    * the CRAN sas7bdat vignette). Literal runs: 0x0_ (count byte + 64),
    * 0x8/9/A/B_ (low + 1/17/33/49). Single-byte repeats: 0x4_
    * (low·256 + count byte + 18, as the reference reader decodes it)
    * and 0xC_ (low + 3). Constant fills: 0x6_/7_ = blank/NUL ·
    * (low·256 + count byte + 17), 0xD/E/F_ = '@'/blank/NUL · (low + 2). */
  private[sources] def rleDecompress(in: Array[Byte], off: Int, len: Int,
      outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var ip = off
    val end = off + len
    var op = 0
    while (ip < end) {
      val ctrl = in(ip) & 0xf0
      val low = in(ip) & 0x0f
      ip += 1
      ctrl match {
        case 0x00 =>
          require(low == 0, s"RLE: non-zero low nibble on 0x00 control")
          val n = (in(ip) & 0xff) + 64; ip += 1
          System.arraycopy(in, ip, out, op, n); ip += n; op += n
        case 0x40 =>
          val n = low * 256 + (in(ip) & 0xff) + 18; ip += 1
          java.util.Arrays.fill(out, op, op + n, in(ip)); ip += 1; op += n
        case 0x60 =>
          val n = low * 256 + (in(ip) & 0xff) + 17; ip += 1
          java.util.Arrays.fill(out, op, op + n, 0x20.toByte); op += n
        case 0x70 =>
          val n = low * 256 + (in(ip) & 0xff) + 17; ip += 1
          java.util.Arrays.fill(out, op, op + n, 0x00.toByte); op += n
        case 0x80 | 0x90 | 0xa0 | 0xb0 =>
          val n = low + 1 + (ctrl - 0x80)
          System.arraycopy(in, ip, out, op, n); ip += n; op += n
        case 0xc0 =>
          val n = low + 3
          java.util.Arrays.fill(out, op, op + n, in(ip)); ip += 1; op += n
        case 0xd0 =>
          java.util.Arrays.fill(out, op, op + low + 2, 0x40.toByte)
          op += low + 2
        case 0xe0 =>
          java.util.Arrays.fill(out, op, op + low + 2, 0x20.toByte)
          op += low + 2
        case 0xf0 =>
          java.util.Arrays.fill(out, op, op + low + 2, 0x00.toByte)
          op += low + 2
        case c => throw new IllegalStateException(s"RLE control $c")
      }
    }
    require(op == outLen, s"RLE decompressed $op bytes, expected $outLen")
    out
  }

  /** RDC codec SASYZCR2 (Ross Data Compression, C Users Journal 1992):
    * a 16-bit control word, MSB-first, one bit per token — clear bit =
    * literal byte; set bit = compressed token whose high nibble selects
    * short RLE (0: low + 3), long RLE (1: low + byte·16 + 19), long
    * back-reference (2: offset low + byte·16 + 3, count byte + 16), or
    * short back-reference (3-15: count = nibble, offset low + byte·16
    * + 3). Back-references may self-overlap → byte-wise forward copy. */
  private[sources] def rdcDecompress(in: Array[Byte], off: Int, len: Int,
      outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var ip = off
    val end = off + len
    var op = 0
    var ctrlBits = 0
    var ctrlMask = 0
    while (ip < end) {
      ctrlMask >>>= 1
      if (ctrlMask == 0) {
        ctrlBits = ((in(ip) & 0xff) << 8) | (in(ip + 1) & 0xff)
        ip += 2
        ctrlMask = 0x8000
      }
      if (ip >= end) {
        // trailing control word with no tokens left
      } else if ((ctrlBits & ctrlMask) == 0) {
        out(op) = in(ip); ip += 1; op += 1
      } else {
        val cmd = (in(ip) >> 4) & 0x0f
        val low = in(ip) & 0x0f
        ip += 1
        if (cmd == 0) {
          val n = low + 3
          java.util.Arrays.fill(out, op, op + n, in(ip)); ip += 1; op += n
        } else if (cmd == 1) {
          val n = low + ((in(ip) & 0xff) << 4) + 19; ip += 1
          java.util.Arrays.fill(out, op, op + n, in(ip)); ip += 1; op += n
        } else {
          val ofs = low + 3 + ((in(ip) & 0xff) << 4); ip += 1
          val n = if (cmd == 2) { val c = (in(ip) & 0xff) + 16; ip += 1; c }
            else cmd
          var k = 0
          while (k < n) { out(op + k) = out(op - ofs + k); k += 1 }
          op += n
        }
      }
    }
    require(op == outLen, s"RDC decompressed $op bytes, expected $outLen")
    out
  }

  /** Strip a SAS format's TRAILING w.d width suffix: "DATETIME22.3" →
    * "DATETIME", "YYMMDD10" → "YYMMDD" — but keep interior digits
    * ("E8601DA10." → "E8601DA"). */
  private def formatName(f: String): String =
    f.replaceAll("[0-9.]+$", "")

  def sparkTypeOf(c: BdatColumn): DataType =
    if (c.isString) StringType
    else {
      val f = formatName(c.format)
      if (DatetimeFormats.contains(f)) TimestampType
      else if (DateFormats.contains(f)) DateType
      else DoubleType
    }

  /** Decode one page's rows as (buffer, base) pairs. Self-describing:
    * everything needed is in the page header + the file's meta. Packed
    * rows (mix/data pages) are always raw; meta pages in compressed
    * files carry one row per data subheader, decompressed here when the
    * payload is shorter than the row. */
  private def pageRows(m: BdatMeta,
      page: Array[Byte]): Iterator[(Array[Byte], Int)] = {
    val le = m.le
    val pType = u16(page, m.bitOffset, le)
    val blockCount = u16(page, m.bitOffset + 2, le)
    val subCount = u16(page, m.bitOffset + 4, le)
    val rl = m.rowLength.toInt
    if (pType == 512 || pType == 640) {
      val raw = m.bitOffset + 8 + subCount * m.ptrLen
      val base = (raw + 7) / 8 * 8
      val n = math.min(m.mixRowCount, m.rowCount).toInt
      (0 until n).iterator.map(r => (page, base + r * rl))
    } else if ((pType & 256) != 0) {
      val base = m.bitOffset + 8 + subCount * m.ptrLen
      (0 until blockCount).iterator.map(r => (page, base + r * rl))
    } else if (pType == 36864) {
      Iterator.empty // 0x9000: compressed-page index, rowless
    } else if (pType == 0 || pType == 1024 || pType == 16384) {
      if (m.compression == CompNone) Iterator.empty
      else (0 until subCount).iterator.flatMap { si =>
        val po = m.bitOffset + 8 + si * m.ptrLen
        val sOff = intAt(page, po, m.intLen, le).toInt
        val sLen = intAt(page, po + m.intLen, m.intLen, le)
        val comp = page(po + 2 * m.intLen) & 0xff
        val ptype = page(po + 2 * m.intLen + 1) & 0xff
        if (comp == 1 || !isDataPointer(page, sOff, sLen, comp, ptype, m))
          Iterator.empty
        else if (sLen.toInt < rl) {
          val buf = m.compression match {
            case CompRle => rleDecompress(page, sOff, sLen.toInt, rl)
            case _ => rdcDecompress(page, sOff, sLen.toInt, rl)
          }
          Iterator.single((buf, 0))
        } else Iterator.single((page, sOff))
      }
    } else throw new IllegalStateException(s"unknown page type $pType")
  }

  /** One row; `kinds(i)` is column i's [[sparkTypeOf]], computed once
    * per read, which picks the numeric decode (timestamp, date or plain
    * double). */
  private def decodeRow(m: BdatMeta, kinds: Array[DataType],
      buf: Array[Byte], base: Int): Row = {
    val arr = new Array[Any](m.columns.size)
    var i = 0
    while (i < m.columns.size) {
      val c = m.columns(i)
      val off = base + c.rowOffset.toInt
      arr(i) =
        if (c.isString) {
          var end = off + c.width
          while (end > off && (buf(end - 1) == ' '.toByte ||
            buf(end - 1) == 0)) end -= 1
          if (end == off) null
          else new String(buf, off, end - off,
            if (m.utf8) UTF_8 else ISO_8859_1)
        } else {
          // truncated double: the stored bytes are the HIGH-order end —
          // tail of the buffer in LE files, head in BE files
          val b8 = new Array[Byte](8)
          if (m.le) System.arraycopy(buf, off, b8, 8 - c.width, c.width)
          else System.arraycopy(buf, off, b8, 0, c.width)
          val v = ByteBuffer.wrap(b8).order(ord(m.le)).getDouble
          if (java.lang.Double.isNaN(v)) null
          else kinds(i) match {
            case TimestampType =>
              // seconds serial since 1960; snap to the ms boundary
              // within ±2 µs (SasXportIo rationale)
              val raw = math.round(v * 1e6) + SasEpochMs * 1000L
              val mod = Math.floorMod(raw, 1000L)
              val micros = if (mod <= 2) raw - mod
                else if (mod >= 998) raw + (1000L - mod) else raw
              val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
              t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
              t
            case DateType =>
              Date.valueOf(LocalDate.ofEpochDay(
                math.round(v) + SasEpochDay))
            case _ => v
          }
        }
      i += 1
    }
    Row.fromSeq(arr.toIndexedSeq)
  }

  /** read_sas(format='sas7bdat'): one file or a directory of files;
    * PAGE-RANGE split-parallel within each file. */
  def read(spark: SparkSession, path: String,
      splitBytes: Long = 64L << 20, encoding: String = ""): DataFrame = {
    val files = SplitRead.inputFiles(spark, path, ".sas7bdat")
    // Only the columns must agree across a directory — page size, header
    // length, row counts, codec, and the 32/64-bit layout legitimately
    // differ file to file (BUFSIZE and COMPRESS are per-dataset SAS
    // options), so every file decodes with ITS OWN meta.
    val (schema, metas) = SplitRead.headers(spark, files)(
      (fs, p) => parseMeta(() => fs.open(p), encoding)) { m =>
      StructType(m.columns.map(c =>
        StructField(c.name, sparkTypeOf(c), nullable = true)))
    }
    val kinds = schema.fields.map(_.dataType)
    val targetBytes = math.min(math.max(1L, splitBytes), 1L << 30)
    val splits = metas.flatMap { case (f, m) =>
      val pagesPer = math.max(1L, targetBytes / math.max(1, m.pageSize))
      (0L until m.pageCount by pagesPer).map(s =>
        f -> (m, s, math.min(pagesPer, m.pageCount - s)))
    }
    SplitRead.scan(spark, schema, splits) {
      case (_, (m, pageStart, nPages), in) =>
        val page = new Array[Byte](m.pageSize)
        (0L until nPages).iterator.flatMap { k =>
          in.readFully(m.headerLength + (pageStart + k) * m.pageSize, page)
          pageRows(m, page).map { case (buf, base) =>
            decodeRow(m, kinds, buf, base)
          }
        }
    }
  }
}
