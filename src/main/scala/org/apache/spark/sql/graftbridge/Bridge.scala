package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  ResolvedHint, Statistics}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Minimal access bridge: `Dataset.ofRows` is private[sql], and a custom
  * LogicalPlan needs exactly one entry point to become a public
  * DataFrame. This package object lives under org.apache.spark.sql so
  * the access qualifier resolves; nothing else from the internals is
  * touched.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** An eager `localCheckpoint` of `df` whose plan reports the bytes
    * the checkpoint actually stored. A plain checkpoint's `LogicalRDD`
    * carries its origin plan's size ESTIMATE (a join's is the product
    * of its sides), so the planner cannot broadcast a batch-sized
    * checkpoint and AQE only rescues the join after both shuffle stages
    * ran. Here the relation is re-wrapped with `originStats` set to the
    * block manager's memory + disk bytes for the checkpointed RDD:
    * joins against it broadcast below
    * `spark.sql.autoBroadcastJoinThreshold` and shuffle above it, by
    * size alone. Falls back to the plain checkpoint when the storage
    * info is missing (nothing stored). */
  def sizedLocalCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    cp.queryExecution.logical match {
      case r: LogicalRDD =>
        val spark = df.sparkSession
        spark.sparkContext.getRDDStorageInfo.find(_.id == r.rdd.id)
          .fold(cp) { info =>
            ofRows(spark, r.copy()(
              spark.asInstanceOf[classic.SparkSession],
              Some(Statistics(sizeInBytes = BigInt(
                info.memSize + info.diskSize))),
              Some(r.constraints)))
          }
      case _ => cp
    }
  }

  /** The narrow coalesce of a frame derived from `sized` (a
    * [[sizedLocalCheckpoint]]) to as many partitions as AQE coalesces
    * a shuffle of `sized`'s stored bytes into: one per
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. It is for the
    * writes only. A checkpoint of a cached frame keeps the cache's
    * `spark.sql.shuffle.partitions`, and a small batch written that
    * wide leaves one small file per partition (and per band, in a
    * band-partitioned layout); the kernels between the checkpoint and
    * the write keep its parallelism. */
  def writeWidth(sized: DataFrame): DataFrame => DataFrame = _.coalesce(
    (sized.queryExecution.optimizedPlan.stats.sizeInBytes / SQLConf.get
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1)
      .min(Int.MaxValue).toInt)

  /** `c IN values` as one `InSet` over the driver-held `values`, which
    * must be of `c`'s type. `Column.isInCollection` builds an `In` with
    * one literal child per value, and the analyzer and the optimizer
    * rules before `OptimizeIn` walk every child on each pass: on a
    * 4-core local session, planning a filter on 4,096 ids took 4.6 s,
    * and on 65,536 ids it did not finish in 7 minutes. */
  def isInSet(c: Column, values: Set[Any]): Column =
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c), values))

  /** `c` as a NOT NULL column: a NULL value fails the query, as a
    * typed encoder's primitive field does. */
  def assertNotNull(c: Column): Column =
    ExpressionUtils.column(AssertNotNull(ExpressionUtils.expression(c)))

  /** The rows of persisted `df`'s cache, read by a plain
    * `InMemoryTableScanExec`. Under AQE, a query over a cache whose plan
    * is itself adaptive (one that reads another cache or shuffles)
    * first fills the cache in a table-cache stage job of its own; read
    * this way, the cache fills inside the first job that reads it. */
  def cachedRows(df: DataFrame): RDD[InternalRow] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rel = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .getOrElse(throw new IllegalArgumentException("cachedRows: not persisted"))
      .cachedRepresentation
    InMemoryTableScanExec(rel.output, Nil, rel).execute()
  }

  /** `df` with its resolved hints removed — for a query that reads a
    * hinted frame without joining it (a `broadcast` side's own
    * validation aggregate, say), where Spark would log the hint as
    * attached to no join and drop it anyway. */
  def withoutHints(df: DataFrame): DataFrame =
    ofRows(df.sparkSession, df.queryExecution.analyzed.transformUp {
      case h: ResolvedHint => h.child
    })

  /** Test-only visibility shim: SparkSessionExtensions' builders are
    * private[sql]; specs use this to assert what an extensions installer
    * actually injected. */
  def plannerStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession) =
    ext.buildPlannerStrategies(spark.asInstanceOf[classic.SparkSession])
}
