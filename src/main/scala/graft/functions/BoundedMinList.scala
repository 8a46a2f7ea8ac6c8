package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** The n smallest values per group with a buffer that NEVER exceeds n
  * elements — the skew-safe primitive behind per-key top-N
  * (`GroupOps.headPerKey` / pandas groupby.head(n)/nth(n)).
  *
  * Why not a window: a `row_number()` (or, for `headPerKey`'s
  * boundary ties, `rank()`) `<= n` window gets a map-side `Partial`
  * WindowGroupLimit only while n ≤ 1000
  * (`spark.sql.optimizer.windowGroupLimitThreshold`); above it the
  * window ships every row of a hot key to ONE task (the r11
  * paragraph-dedup lesson). This Aggregator's reduce and merge cap the
  * state at n for every n, so map-side partial aggregation collapses a
  * 10⁸-row domain to n values per map partition before the shuffle —
  * the same plan shape that makes min() skew-immune.
  *
  * The buffer is a sorted ascending Array[Long]. Cost shape: once the
  * buffer holds n values, any input ≥ its maximum is rejected in O(1)
  * — on random input order only O(n·(1 + ln(rows/n))) rows are ever
  * accepted, so the steady-state per-row cost is the rejection check.
  * An ACCEPTED insert pays a binary search plus an O(n) copy into a
  * fresh array (Aggregator buffers round-trip through the encoder, so
  * in-place mutation buys nothing); worst case (descending input)
  * that is O(n) per row — fine at head-cap sizes, but don't use this
  * as a full per-key sort.
  */
class BoundedMinList(n: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {
  require(n >= 1, s"need n >= 1: $n")

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(b: Array[Long], x: Long): Array[Long] = {
    if (b.length == n && x >= b(n - 1)) b
    else {
      val pos = {
        val p = java.util.Arrays.binarySearch(b, x)
        if (p >= 0) p else -(p + 1)
      }
      val outLen = math.min(b.length + 1, n)
      val out = new Array[Long](outLen)
      System.arraycopy(b, 0, out, 0, pos)
      out(pos) = x
      System.arraycopy(b, pos, out, pos + 1,
        math.min(b.length - pos, outLen - pos - 1))
      out
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](math.min(a.length + b.length, n))
    var i = 0; var j = 0; var k = 0
    while (k < out.length) {
      out(k) =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) {
          i += 1; a(i - 1)
        } else { j += 1; b(j - 1) }
      k += 1
    }
    out
  }

  override def finish(b: Array[Long]): Array[Long] = b

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
