package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bench's stream-witness harness on a tiny events frame: staging,
  * the stream-vs-batch diff, the decomposition recorder and the
  * crash-recovery loop. */
class WitnessHarnessSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val harness = new WitnessHarness(spark, tmp("witness-ckpt"))

  /** 160 events, one per minute, over 4 users, shuffled so the staged
    * order comes from the range partitioning alone. */
  private def events: DataFrame =
    spark.range(160).select(
      (col("id") % 4).as("user_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("ts"),
      col("id").as("value"))
      .orderBy(xxhash64(col("id")))

  private lazy val staged: (String, org.apache.spark.sql.types.StructType) = {
    val dir = tmp("witness-staged")
    (dir, harness.stage16(events, "ts", dir))
  }

  private def perUser(df: DataFrame): DataFrame =
    df.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  private def keysOf(entry: String): Seq[String] =
    "\"([a-z_]+)\":".r.findAllMatchIn(entry).map(_.group(1)).toSeq

  test("stage16 writes 16 range-ordered files with mtimes strictly increasing in part order") {
    val (dir, schema) = staged
    assert(schema.fieldNames.toSeq == Seq("user_id", "ts", "value"))
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 16)
    val mtimes = parts.map(_.lastModified)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      mtimes.mkString(","))
    val ranges = parts.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(min(col("ts")), max(col("ts"))).head()
      (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
    }
    assert(ranges.zip(ranges.tail).forall { case ((_, hi), (lo, _)) =>
      hi < lo }, ranges.mkString(","))
  }

  test("a witness reports its seconds when stream and batch agree, -1 when the batch twin is off by one row") {
    val (dir, schema) = staged
    val t0 = System.nanoTime()
    val (secs, streamed) = harness.toMemory("spec_agg", "t1", t0,
      perUser(harness.replay(dir, schema, 4)), "complete", "spec_agg")
    val batch = perUser(spark.read.parquet(dir))
    assert(secs > 0)
    assert(harness.sameRows("spec_agg", "streaming and batch", streamed,
      batch, secs) == secs)
    assert(harness.sameRows("spec_agg", "streaming and batch", streamed,
      batch.filter(col("user_id") =!= 0), secs) == -1.0)
    assert(harness.sameRows("spec_agg", "streaming and batch", streamed,
      batch.unionAll(batch.filter(col("user_id") === 0)), secs) == -1.0)
  }

  test("decomp: a memory-sink run records the state fields, a foreachBatch run does not") {
    val (dir, schema) = staged
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val t0 = System.nanoTime()
    harness.toMemory("spec_mem", "t1", t0,
      perUser(harness.replay(dir, schema, 8)), "complete", "spec_mem")
    val rows = new java.util.concurrent.atomic.AtomicLong()
    harness.toForeach("spec_fb", "t1", System.nanoTime(),
        harness.replay(dir, schema, 8), "spec_fb", "spec_fb") { (df, _) =>
      rows.addAndGet(df.count()); ()
    }
    assert(rows.get == 160)
    assert(keysOf(harness.decomp("spec_mem_t1")) == Seq("wall",
      "batch_sum", "overhead", "state_commit", "shuffle_parts",
      "state_rows", "batches"))
    assert(harness.decomp("spec_mem_t1")
      .contains("\"shuffle_parts\":" + parts + ","))
    assert(keysOf(harness.decomp("spec_fb_t1")) == Seq("wall",
      "batch_sum", "overhead", "batches"))
  }

  test("killThenRestart: the restart completes the output once; a kill past the last batch never fires") {
    val (dir, schema) = staged
    val out = tmp("witness-out")
    val secs = harness.killThenRestart("spec_kill", "t1", "spec_kill", out,
      killAt = 1) { () => harness.replay(dir, schema, 4) }
    assert(secs.exists(_ > 0))
    val written = spark.read.option("basePath", out).parquet(out)
    assert(written.select("batch_id").distinct().count() == 4)
    assert(harness.sameRows("spec_kill", "recovered and staged",
      written.drop("batch_id"), spark.read.parquet(dir), 1.0) == 1.0)
    assert(harness.killThenRestart("spec_kill", "t2", "spec_kill",
      tmp("witness-out"), killAt = 4) { () =>
      harness.replay(dir, schema, 4) }.isEmpty)
  }
}
