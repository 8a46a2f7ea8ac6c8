package graft.tools

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * registry queries or bench stress entries to
  * `plans/<tag>/<name>_<suffix>.txt`, using the same session shape as
  * Bench for planning (shuffle partitions = cpus, AQE on, UTC, nanos
  * as long, NTZ inference off) so the captured plans are the plans the
  * bench actually runs.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q...]
  * (no names = the Bench headline set). A name that is not a registry
  * query is looked up in [[graft.BenchTable]]'s stress entries; entries
  * whose frame build runs jobs (training loops, fixtures) run them. Not
  * part of the driver contract.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r19")
    val suffix = args.lift(2).getOrElse("before")
    val names =
      if (args.length > 3) args.drop(3).toSeq else graft.BenchTable.headline
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.LocalSession.start(cpus,
      "spark.sql.adaptive.enabled" -> "true")
    val queries = graft.SparkEntry.queries
    val stress = new graft.BenchTable(spark, sfDir).stress().toMap
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      queries.get(n).map(f => f(spark, sfDir))
          .orElse(stress.get(n).map(_())) match {
        case None => System.err.println(s"[plandump] no such query: $n")
        case Some(df) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val w = new java.io.FileWriter(s"$outDir/${n}_$suffix.txt", false)
          try w.write(txt) finally w.close()
          System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
