package graft

import org.apache.spark.sql.SparkSession

/** The local session the repo's mains start from (`Bench`, `Verify`,
  * `ScaleWitness`, `tools.PlanDump`): master `local[cpus]` with `cpus`
  * shuffle partitions, plus the confs that fix the engine's semantics,
  * so every main reads the testdata the same way:
  *
  *  - `spark.sql.session.timeZone=UTC`: the temporal algebra
  *    (unix_micros offsets, resample grids, asof) is defined over
  *    instants, and the DuckDB oracle reads the same micros as naive
  *    UTC, so both sides see identical wall-clock values;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: events.ts is parquet
  *    TIMESTAMP(NANOS), which the vectorized reader refuses; read as a
  *    LONG, `Tables.events` floors it to micros;
  *  - `spark.sql.parquet.inferTimestampNTZ.enabled=false`: timezone-less
  *    parquet timestamps (isAdjustedToUTC=false) read as instants under
  *    the UTC session, not as TIMESTAMP_NTZ;
  *  - `spark.ui.enabled=false`: a batch main serves no web UI.
  *
  * Each main picks its own default core count and passes its extra
  * confs as `key -> value` pairs. */
object LocalSession {
  def start(cpus: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
