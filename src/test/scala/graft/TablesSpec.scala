package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.SpecListenerBus
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `Tables.load`'s schema memo: a repeated load of a plain parquet file
  * submits no schema-inference job and plans exactly what a plain
  * `spark.read.parquet` plans; a rewritten file, a session with other
  * parquet read confs, a directory and a missing path all read as a
  * plain read does. Tables are copied from the sf0.001 testdata into a
  * fresh directory, so every test starts from an empty memo entry. */
class TablesSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"

  private def freshDir(tag: String, tables: String*): String = {
    val d = Files.createTempDirectory(s"tables-spec-$tag")
    tables.foreach(t => Files.copy(Path.of(s"$src/$t.parquet"),
      d.resolve(s"$t.parquet")))
    d.toString
  }

  private def jobsDuring(body: => Unit): Int =
    SpecListenerBus.stagesRunPerJob(spark.sparkContext)(body).size

  /** The executed plan's text with expression ids normalized away. */
  private def planText(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("a second load of a table submits no Spark job, and its schema " +
      "and executed plans equal a plain spark.read.parquet's") {
    val tables = Seq("lineitem", "events", "orders", "customer")
    val dir = freshDir("memo", tables: _*)
    for (t <- tables) {
      assert(jobsDuring(Tables.load(spark, dir, t).schema) > 0,
        s"$t: the first load infers its schema")
      var memo: DataFrame = null
      assert(jobsDuring { memo = Tables.load(spark, dir, t); memo.schema } == 0,
        s"$t: a memoized load ran a job")
      val plain = spark.read.parquet(s"$dir/$t.parquet")
      assert(memo.schema == plain.schema, t)
      assert(planText(memo) == planText(plain), t)
      val c = plain.columns.head
      def probe(df: DataFrame) =
        df.filter(col(c).isNotNull).select(c).groupBy(c).count()
      assert(planText(probe(memo)) == planText(probe(plain)), t)
      assert(memo.count() == plain.count(), t)
    }
  }

  test("a rewritten file is re-inferred on the next load") {
    val dir = freshDir("rewrite")
    val target = Path.of(s"$dir/t.parquet")
    def writeTable(df: DataFrame): Unit = {
      val out = s"$dir/write-${System.nanoTime}"
      df.coalesce(1).write.parquet(out)
      val part = Files.list(Path.of(out)).filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    import spark.implicits._
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    writeTable(Seq((1.5, 7, true)).toDF("x", "y", "z"))
    val again = Tables.load(spark, dir, "t")
    assert(again.schema == spark.read.parquet(target.toString).schema)
    assert(again.columns.toSeq == Seq("x", "y", "z"))
    assert(again.collect().toSeq.map(_.toSeq) == Seq(Seq(1.5, 7, true)))
  }

  /** Writes `dir/events.parquet` with a TIMESTAMP(NANOS) `ts`, which
    * reads as LONG under `spark.sql.legacy.parquet.nanosAsLong=true`
    * (every session here) and as something else, or not at all,
    * without it. */
  private def writeNanosEvents(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message events { " +
      "required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i => w.write(rows.newGroup()
      .append("event_id", i.toLong).append("ts", i * 1000000007L)))
    finally w.close()
  }

  /** What `read` gives: the schema, or the error text. */
  private def outcome(read: => DataFrame): Either[String, StructType] =
    try Right(read.schema)
    catch { case e: AnalysisException => Left(e.getMessage) }

  test("a session with other parquet read confs does not get the " +
      "memoized events schema") {
    val nanos = freshDir("nanos")
    writeNanosEvents(nanos)
    val tzLess = freshDir("ntz", "events")
    for ((dir, conf, value) <- Seq(
        (nanos, "spark.sql.legacy.parquet.nanosAsLong", "false"),
        (tzLess, "spark.sql.parquet.inferTimestampNTZ.enabled", "true"))) {
      Tables.load(spark, dir, "events")
      val memo = Tables.load(spark, dir, "events").schema
      val other = spark.newSession()
      other.conf.set(conf, value)
      val plain = outcome(other.read.parquet(s"$dir/events.parquet"))
      assert(plain != Right(memo), s"$conf=$value reads events differently")
      assert(outcome(Tables.load(other, dir, "events")) == plain, conf)
      assert(outcome(Tables.load(other, dir, "events")) == plain, conf)
    }
  }

  test("a directory table is read as before, inferring on every load") {
    val dir = freshDir("dir")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/d.parquet")
    Tables.load(spark, dir, "d")
    assert(jobsDuring(Tables.load(spark, dir, "d").schema) > 0)
    assert(Tables.load(spark, dir, "d").columns.toSeq == Seq("id", "name"))
  }

  test("a missing table throws the same AnalysisException as a plain read") {
    val dir = freshDir("missing")
    val plain = intercept[AnalysisException](
      spark.read.parquet(s"$dir/nope.parquet"))
    val got = intercept[AnalysisException](Tables.load(spark, dir, "nope"))
    assert(got.getCondition == plain.getCondition)
    assert(got.getMessage == plain.getMessage)
  }
}
