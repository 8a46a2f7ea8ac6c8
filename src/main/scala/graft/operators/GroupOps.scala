package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Group-by operators beyond a plain groupBy().agg() (SURVEY §2.4;
  * reference: pandas/core/groupby/groupby.py:709 transform, :1516 nth,
  * :1294 ohlc, generic.py:625 filter, :1740 cumcount; rank kernel
  * groupby_helper.pxi.in:414).
  *
  * transform/cumulative/rank/shift are all window compositions: one hash
  * shuffle on the keys (same cost as the groupBy the reference does), no
  * join-back — the agg is broadcast to rows by the window operator.
  */
object GroupOps {

  private def byKeys(keys: Seq[String]): WindowSpec =
    Window.partitionBy(keys.map(col): _*)

  private def ordered(keys: Seq[String], order: Seq[Column]): WindowSpec =
    byKeys(keys).orderBy(order.map(_.asc): _*)

  /** groupby().transform(agg): the aggregate value repeated on every row
    * of its group — a window agg, NOT an agg + join. */
  def transform(aggExpr: Column, keys: Seq[String]): Column =
    aggExpr.over(byKeys(keys))

  /** Cumulative sum (exact when fed a decimal-cast column). */
  def cumAgg(aggExpr: Column, keys: Seq[String], order: Seq[Column]): Column =
    aggExpr.over(ordered(keys, order).rowsBetween(Window.unboundedPreceding, 0))

  /** groupby().cumcount(): 0-based position within group. */
  def cumcount(keys: Seq[String], order: Seq[Column]): Column =
    row_number().over(ordered(keys, order)) - 1

  /** groupby().shift(n): lag within group. */
  def shift(c: Column, n: Int, keys: Seq[String], order: Seq[Column]): Column =
    lag(c, n).over(ordered(keys, order))

  def lead_(c: Column, n: Int, keys: Seq[String], order: Seq[Column]): Column =
    lead(c, n).over(ordered(keys, order))

  /** groupby().nth(n) (0-based, reference groupby.py:1516). */
  def nth(df: DataFrame, keys: Seq[String], order: Seq[Column], n: Int): DataFrame =
    df.withColumn("__rn", row_number().over(ordered(keys, order)))
      .filter(col("__rn") === n + 1).drop("__rn")

  /** groupby().filter(size >= minSize): keep member rows of qualifying
    * groups — window count + filter, no semi-join needed. */
  def filterBySize(df: DataFrame, keys: Seq[String], minSize: Long): DataFrame =
    df.withColumn("__sz", count(lit(1)).over(byKeys(keys)))
      .filter(col("__sz") >= minSize).drop("__sz")

  /** rank(method='average'): mean of the row_numbers of the tied block —
    * the trick that reproduces pandas' default rank without a UDF. */
  def rankAverage(valueCol: Column, keys: Seq[String], tiebreak: Seq[Column]): Column = {
    val rn = row_number().over(
      byKeys(keys).orderBy((valueCol.asc +: tiebreak.map(_.asc)): _*))
    avg(rn).over(Window.partitionBy((keys.map(col) :+ valueCol): _*))
  }

  /** ohlc via ordered windows (portable to the SQL oracle, unlike
    * min_by-on-struct). Input must not already contain the out columns. */
  def ohlc(df: DataFrame, keys: Seq[String], valueCol: String,
      order: Seq[Column]): DataFrame = {
    val full = ordered(keys, order)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn("__o", first(col(valueCol)).over(ordered(keys, order)))
      .withColumn("__c", last(col(valueCol)).over(full))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__o")).as("open"), max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"), max(col("__c")).as("close"))
  }

  /** groupby(...).head(n) by explicit order (reference:
    * pandas/core/groupby/groupby.py GroupBy.head — positional there;
    * a distributed frame has no ambient row order, so the caller names
    * the LONG order column, which must be unique within each key for
    * exact semantics — ids are). Keeps each key's n smallest
    * `orderCol` rows, all columns intact.
    *
    * Scale shape — the skew-safe top-N: one hash aggregation with the
    * bounded [[graft.functions.BoundedMinList]] buffer (state capped at
    * n, so map-side partial aggregation collapses hot keys exactly like
    * min() at any n — a rank window is cut map-side only up to
    * Spark's 1000-row group-limit threshold and above it ships every
    * row of a hot key to one unsplittable task; this is the per-domain
    * document cap of a 100 TB curation pipeline), then one left-semi
    * join of the corpus against the exploded winners on (keys,
    * orderCol). */
  /** Fail-fast preconditions shared by headPerKey/nthPerKey, plus the
    * EXACT long order key for the bounded-buffer aggregate (r12
    * verdict task #9 — the integral-only restriction forced callers to
    * derive keys for time-ordered data): integral types cast
    * losslessly, timestamps rank by `unix_micros` (Spark's exact
    * internal micros — a bare long cast would TRUNCATE to seconds and
    * collapse sub-second order), dates by `unix_date`. Doubles/strings
    * stay rejected (a double's long cast collapses distinct values and
    * silently over-returns through the semi-join — derive a unique
    * integral key instead). NULL order values cannot rank — they are
    * excluded from the winner computation, so null-ordered rows never
    * return. Order values should be DISTINCT within a key for an
    * exact-n result: the winner semi-join matches by value, so
    * duplicates of a boundary value all return (a deterministic
    * tie-keep-all, like nlargest keep='all'). */
  private def orderKey(df: DataFrame, orderCol: String)
      : (DataFrame, Column) = {
    import org.apache.spark.sql.types._
    val key = df.schema(orderCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(orderCol).cast("long")
      case TimestampType => unix_micros(col(orderCol))
      case DateType => unix_date(col(orderCol)).cast("long")
      case dt => throw new IllegalArgumentException(
        s"headPerKey/nthPerKey need an integral, timestamp, or date " +
          s"order column; '$orderCol' is $dt (rank doubles/strings via " +
          "a derived integral key)")
    }
    (df.filter(col(orderCol).isNotNull), key)
  }

  def headPerKey(df: DataFrame, keys: Seq[String], orderCol: String,
      n: Int): DataFrame = {
    val topAgg = udaf(new graft.functions.BoundedMinList(n))
    val fresh = keys.map(k => s"__graft_hpk_$k")
    val (ranked, key) = orderKey(df, orderCol)
    val winners = ranked
      .groupBy(keys.map(col): _*)
      .agg(topAgg(key).as("__top"))
      .select(keys.map(col) :+ explode(col("__top")).as("__graft_hpk_ord"): _*)
      .toDF(fresh :+ "__graft_hpk_ord": _*)
    df.join(winners,
      keys.zip(fresh).map { case (k, f) => col(k) <=> col(f) }
        .reduce(_ && _) &&
        key === col("__graft_hpk_ord"),
      "left_semi")
  }

  /** groupby(...).nth(k) by explicit order (reference: GroupBy.nth):
    * each key's k-th row, 0-indexed — keys with fewer than k+1 rows
    * drop, matching the reference. Same bounded-buffer aggregation as
    * [[headPerKey]], with the k-th element read straight out of the
    * aggregate before the semi-join back for the full rows. */
  def nthPerKey(df: DataFrame, keys: Seq[String], orderCol: String,
      k: Int): DataFrame = {
    val topAgg = udaf(new graft.functions.BoundedMinList(k + 1))
    val fresh = keys.map(kc => s"__graft_hpk_$kc")
    val (ranked, key) = orderKey(df, orderCol)
    val winners = ranked
      .groupBy(keys.map(col): _*)
      .agg(topAgg(key).as("__top"))
      .filter(size(col("__top")) === k + 1)
      .select(keys.map(col) :+
        element_at(col("__top"), k + 1).as("__graft_hpk_ord"): _*)
      .toDF(fresh :+ "__graft_hpk_ord": _*)
    df.join(winners,
      keys.zip(fresh).map { case (kc, f) => col(kc) <=> col(f) }
        .reduce(_ && _) &&
        key === col("__graft_hpk_ord"),
      "left_semi")
  }

  /** Per-key ordinary least squares — the groupby().apply(polyfit)
    * idiom (reference: pandas/core/groupby/generic.py:224 apply with a
    * user fit) as ONE map-side-combinable aggregation, never a
    * per-group collect: the five power sums (n, Σx, Σy, Σxy, Σx²)
    * accumulate exactly in DECIMAL(38,0) over INTEGER-scaled inputs
    * (cents/seconds — the caller fixes the scale), so partial-merge
    * order cannot move them, and the closed-form
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²),
    * intercept = (Σy − slope·Σx) / n
    * is evaluated as IEEE double arithmetic on exactly-cast operands —
    * bit-identical on any engine that casts the same way. Degenerate
    * groups (fewer than `minRows` points, or zero x-variance) yield
    * NULL fits rather than an ANSI division error. */
  def linearFit(df: DataFrame, keys: Seq[String], xInt: Column,
      yInt: Column, minRows: Long = 2L): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val n = count(lit(1)).cast(d38)
    val sx = sum(xInt.cast(d38)); val sy = sum(yInt.cast(d38))
    val sxy = sum((xInt.cast(d38) * yInt.cast(d38)).cast(d38))
    val sxx = sum((xInt.cast(d38) * xInt.cast(d38)).cast(d38))
    val g = df.groupBy(keys.map(col): _*).agg(
      n.as("__n"), sx.as("__sx"), sy.as("__sy"),
      sxy.as("__sxy"), sxx.as("__sxx"))
    val num = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val den = (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double") // ≥ 0 by Cauchy–Schwarz
    val slope = when(col("__n") >= minRows && den > 0, num / den)
    val intercept = when(slope.isNotNull,
      (col("__sy").cast("double") - slope * col("__sx").cast("double")) /
        col("__n").cast("double"))
    g.select(keys.map(col) :+ col("__n").cast("long").as("n_points") :+
      slope.as("slope") :+ intercept.as("intercept"): _*)
  }
}
