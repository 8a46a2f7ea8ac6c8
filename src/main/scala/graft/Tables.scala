package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * All tables are single parquet files per scale factor; at cluster scale
  * these would be partitioned directories — the loader is agnostic because
  * `spark.read.parquet` handles both, and Catalyst applies partition
  * pruning / predicate pushdown at the scan regardless.
  *
  * Schema memo: a bare `spark.read.parquet` runs a schema-inference Spark
  * job (a footer read) on every call, and every query build loads its
  * tables afresh. So [[load]] remembers each plain file's inferred schema
  * and reads it back with `spark.read.schema(s).parquet(path)`, which
  * submits no job and plans the same scan. The memo is keyed by the path
  * and the session's parquet read confs (every `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` entry, so a session with other inference
  * settings, such as `nanosAsLong`, never gets another session's schema),
  * and validated on every hit against the file's modification time and
  * length (one driver-side `getFileStatus`): a rewritten file is
  * re-inferred. The stamp is taken before the inferring read, so a rewrite
  * landing mid-read leaves an already-stale entry (re-inferred next time).
  * Only plain files are memoized: a directory (a partitioned table) goes
  * through a plain read, and so does a path whose stat fails, so a missing
  * table fails with the reader's own error.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (path, parquet read confs) → ((mtime, length), inferred schema) */
  private val schemaMemo = new ConcurrentHashMap[
    (String, Map[String, String]), ((Long, Long), StructType)]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fileStamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(stamp) =>
        val key = (path, spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.") })
        val hit = schemaMemo.get(key)
        if (hit != null && hit._1 == stamp)
          spark.read.schema(hit._2).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemaMemo.put(key, (stamp, df.schema))
          df
        }
    }
  }

  /** (modification time, length) of `path` if it is a plain file. */
  private def fileStamp(spark: SparkSession, path: String)
      : Option[(Long, Long)] = {
    val p = new Path(path)
    try {
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      if (st.isFile) Some((st.getModificationTime, st.getLen)) else None
    } catch { case _: java.io.IOException => None }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** A parquet TIMESTAMP(NANOS) events.ts is refused by Spark's
    * vectorized reader (today's generators write µs, which reads as a
    * timestamp as is). With spark.sql.legacy.parquet.nanosAsLong=true
    * (set by every session in this repo) it arrives as a nanosecond LONG; we
    * floor-divide to µs — the same truncation DuckDB applies reading ns
    * into its µs TIMESTAMP — so both engines see identical values.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
