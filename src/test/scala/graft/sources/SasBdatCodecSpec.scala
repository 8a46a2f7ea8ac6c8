package graft.sources

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

/** The sas7bdat decompressors against hand-assembled streams, one per
  * command family of the published tables — independent of the test
  * writer, so a codec fault the writer shares with the reader cannot
  * pass here. RLE's 0x4_ length (count byte + 18 + low·256) is the
  * reference reader's (pandas.read_sas decodes a crafted 0x40 0x02 row
  * as 20 repeats). */
class SasBdatCodecSpec extends AnyFunSuite {

  private def bytes(xs: Any*): Array[Byte] = xs.flatMap {
    case i: Int => Seq(i.toByte)
    case s: String => s.getBytes(ISO_8859_1).toSeq
  }.toArray

  private def str(b: Array[Byte]) = new String(b, ISO_8859_1)

  test("RLE: literal, long and short byte repeats, blank/NUL/@ fills") {
    val z = bytes(0x82, "abc", // literal of 3
      0x40, 0x02, "x",          // repeat 'x' 2 + 18 = 20 times
      0x41, 0x00, "w",          // repeat 'w' 0 + 18 + 256 = 274 times
      0xc2, "y",                // repeat 'y' 2 + 3 = 5 times
      0xe1,                     // 1 + 2 = 3 blanks
      0x60, 0x00,               // 0 + 17 = 17 blanks
      0x70, 0x01,               // 1 + 17 = 18 NULs
      0xd0,                     // 2 '@'
      0x00, 0x00, "q" * 64)     // literal of 0 + 64
    val want = "abc" + "x" * 20 + "w" * 274 + "y" * 5 + " " * 3 + " " * 17 +
      "\u0000" * 18 + "@@" + "q" * 64
    assert(str(SasBdatIo.rleDecompress(z, 0, z.length, want.length)) == want)
  }

  test("RLE: a stream that decodes short of the row length fails") {
    val z = bytes(0x40, 0x02, "x")
    val e = intercept[IllegalArgumentException](
      SasBdatIo.rleDecompress(z, 0, z.length, 30))
    assert(e.getMessage.contains("RLE"))
  }

  test("RDC: literals, short/long runs, short/long back-references") {
    // control word 0x1E00: tokens 4-7 compressed, 1-3 literal
    val z = bytes(0x1e, 0x00, "a", "b", "c",
      0x60, 0x00,               // back-ref 6 bytes at distance 0 + 3
      0x02, "z",                // run of 2 + 3 = 5 'z'
      0x11, 0x01, "r",          // run of 1 + (1 << 4) + 19 = 36 'r'
      0x2a, 0x02, 0x00)         // back-ref 0 + 16 = 16 bytes at distance
                                // 10 + (2 << 4) + 3 = 45
    val head = "abcabcabc" + "z" * 5 + "r" * 36
    val want = head + head.substring(head.length - 45, head.length - 29)
    assert(str(SasBdatIo.rdcDecompress(z, 0, z.length, want.length)) == want)
  }
}
