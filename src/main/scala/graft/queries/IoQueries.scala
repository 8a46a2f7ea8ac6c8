package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import graft.llm.MultimodalOps
import graft.sources.{ExcelIo, FeatherIo, FwfReader, HtmlIo, JdbcIo,
  JsonOrientIo, SasXportIo, StataIo, WetIo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IO round-trip gate queries: the sources that previously had only
  * ScalaTest coverage (read_sql/to_sql, read_feather/to_feather, image
  * decode) pushed through the DuckDB differential oracle.
  *
  * The trick shared by all three: the ENGINE-SPECIFIC artifact (a Derby
  * table, a feather file, PNG bytes) is produced and consumed entirely
  * inside the Spark-side query, and the compared projection is data that
  * a lossless round trip must preserve — which DuckDB states directly
  * from the parquet tables without ever seeing the artifact. A write
  * bug, a read bug, or a type-mapping bug on either leg hash-fails the
  * gate.
  *
  * Artifacts live under java.io.tmpdir in a per-JVM (pid-suffixed)
  * directory: concurrent `sbt test` and `Verify` JVMs never contend for
  * the same Derby lock file, and re-runs inside one JVM overwrite
  * cleanly ("replace" / overwrite semantics, themselves under test).
  */
object IoQueries extends QueryModule {

  private val T = Tables

  /** Local path of the committed sas7bdat fixture `name`: copied once
    * per JVM from the classpath (src/main/resources/sas7bdat — a
    * directory under `sbt test`, a jar under a forked `run`) into the
    * scratch root, so Verify and the test suite read the same bytes;
    * fails naming the missing file. */
  private[graft] def sasFixture(name: String): String = synchronized {
    val f = new java.io.File(scratch, s"$name.sas7bdat")
    if (!f.isFile) {
      val in = getClass.getResourceAsStream(s"/sas7bdat/$name.sas7bdat")
      require(in != null, s"sas7bdat fixture /sas7bdat/$name.sas7bdat " +
        "not on the classpath (src/main/resources/sas7bdat)")
      try java.nio.file.Files.copy(in, f.toPath) finally in.close()
    }
    f.getPath
  }

  /** Per-JVM scratch root (tmpdir is executor-local on a real cluster;
    * these round trips are driver-side gates, not data-lake layouts). */
  private lazy val scratch: String = {
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft-io-${ProcessHandle.current().pid()}")
    dir.mkdirs()
    // Derby writes its boot log to derby.log in CWD unless redirected —
    // keep the repo clean.
    System.setProperty("derby.stream.error.file",
      new java.io.File(dir, "derby.log").getPath)
    dir.getPath
  }

  /** The slice every round trip carries: one key-bounded lineitem
    * projection covering int/long/double/string/timestamp. */
  private def slice(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d).filter(col("l_orderkey") < 1000)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")

  private val sliceSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  l_returnflag, l_shipdate
      |FROM lineitem WHERE l_orderkey < 1000""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // read_sql/to_sql against a REAL database (reference: pandas/io/
    // sql.py:397 to_sql, :315 read_sql; tests/io/test_sql.py round-trip
    // suite): embedded Derby ships in /opt/spark/jars, so to_sql CREATEs
    // and populates an actual SQL table (if_exists='replace' exercising
    // drop-and-recreate on re-run) and read_sql scans it back through
    // Spark's partitioned JDBC source — 4 concurrent range queries on
    // l_orderkey, the 100 TB-shaped read path, not a single-connection
    // pull. DuckDB computes the identical projection straight from
    // parquet: any loss in the dialect type mapping (DOUBLE, VARCHAR,
    // TIMESTAMP nanos) or the partition-range WHERE clauses hash-fails.
    QueryDef("jdbc_roundtrip",
      (s, d) => {
        val url = s"jdbc:derby:$scratch/derbydb;create=true"
        JdbcIo.toSql(slice(s, d), url, "GRAFT_LINEITEM",
          ifExists = "replace")
        JdbcIo.readSql(s, url, table = Some("GRAFT_LINEITEM"),
          partitioning = Some(JdbcIo.Partitioning("l_orderkey", 0L, 1000L, 4)))
      },
      Some(sliceSql)),

    // read_feather/to_feather (reference: pandas/io/feather_format.py:37
    // to_feather, :87 read_feather): the same slice streamed into one
    // Arrow IPC file and read back batch-parallel. Pins the full Arrow
    // type round trip (int64/int32/float64/utf8/timestamp-µs) — a
    // schema-mapping or cell-conversion bug on either leg hash-fails.
    QueryDef("feather_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip.feather"
        FeatherIo.write(slice(s, d), path)
        FeatherIo.read(s, path)
      },
      Some(sliceSql)),

    // read_orc/to_orc — beyond the reference fork (which predates
    // pandas' orc support; modern pandas added read_orc/to_orc over
    // pyarrow). ORC is the OTHER first-class 100 TB lake format next to
    // parquet, and Spark's native ORC source gives the full
    // data-lake-shaped path — splittable stripes, predicate pushdown,
    // column pruning — with zero added dependencies. The gate pins the
    // complete type round trip (int64/int32/double/string/timestamp-µs)
    // through a real write-then-scan; a mapping bug on either leg
    // hash-fails against the parquet-stated oracle.
    QueryDef("orc_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip_orc"
        slice(s, d).write.mode("overwrite").orc(path)
        s.read.orc(path)
      },
      Some(sliceSql)),

    // to_parquet(partition_cols=) — hive-style partitioned dataset
    // layout (reference: pandas/io/parquet.py to_parquet's
    // partition_cols, which delegates to pyarrow write_to_dataset).
    // THE 100 TB lake primitive: the write fans rows into
    // l_returnflag=<v>/ directories, and the read back with an equality
    // filter must prune to ONE directory at PLANNING time — pinned in
    // PlanAuditSpec via the scan's PartitionFilters (the data files of
    // the other partitions are never opened, let alone scanned). The
    // oracle states the same filtered projection from the flat parquet;
    // value loss in the dir-name encode/decode or a type change on the
    // partition column (read back via partition discovery, not file
    // schema) hash-fails.
    QueryDef("parquet_partitioned_pruned",
      (s, d) => {
        val path = s"$scratch/roundtrip_parquet_part"
        slice(s, d).write.mode("overwrite")
          .partitionBy("l_returnflag").parquet(path)
        s.read.parquet(path).filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag", "l_shipdate")
      },
      Some(sliceSql + " AND l_returnflag = 'R'")),

    // Partitioned-ORC twin of the gate above (r11 verdict task 7:
    // parquet had the pruning pin, ORC read back flat). Same hive
    // layout, same planning-time contract: the equality filter must
    // reach the directory scan as a PartitionFilter — pinned in
    // PlanAuditSpec — so the other partitions' stripes are never
    // opened. Together with orc_roundtrip this makes ORC a first-class
    // lake format: type round trip AND pruned partitioned layout.
    QueryDef("orc_partitioned_pruned",
      (s, d) => {
        val path = s"$scratch/roundtrip_orc_part"
        slice(s, d).write.mode("overwrite")
          .partitionBy("l_returnflag").orc(path)
        s.read.orc(path).filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag", "l_shipdate")
      },
      Some(sliceSql + " AND l_returnflag = 'R'")),

    // read_csv/to_csv FILE round trip through the hostile dialect
    // corner (reference: pandas/io/parsers.py read_csv quoting/
    // doublequote, pandas/core/generic.py to_csv QUOTE_MINIMAL
    // default): a crafted column embeds the separator, doubled quotes,
    // AND a newline in every row. Written with escape='"' (the
    // csv.QUOTE_MINIMAL doublequote dialect pandas speaks), read back
    // with an explicit schema (read_csv dtype=) and multiLine=true.
    // The oracle recomputes the crafted column from parquet — a
    // quoting/escaping bug on either leg corrupts l_note (or shifts
    // whole rows) and hash-fails. Scale note, stated honestly:
    // multiLine CSV is NOT splittable (one task per file — embedded
    // newlines make row starts ambiguous mid-file); the splittable
    // lake path is the default newline-free CSV of csv_roundtrip's
    // family. This gate pins the dialect corner, not a lake layout.
    QueryDef("csv_dialect_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip_csv_dialect"
        val crafted = slice(s, d).withColumn("l_note",
          concat(lit("a,\"q\" "), col("l_returnflag"), lit("\nL2 "),
            col("l_orderkey").cast("string")))
        crafted.write.mode("overwrite")
          .option("header", "true").option("escape", "\"").csv(path)
        s.read.schema(crafted.schema)
          .option("header", "true").option("escape", "\"")
          .option("multiLine", "true").csv(path)
      },
      Some(sliceSql.replace("FROM lineitem",
        """,
          |  'a,"q" ' || l_returnflag || chr(10) || 'L2 ' ||
          |    CAST(l_orderkey AS VARCHAR) AS l_note
          |FROM lineitem""".stripMargin))),

    // read_excel/to_excel (reference: pandas/io/excel.py:300 read_excel,
    // pandas/core/generic.py:9977 to_excel): the same slice through a
    // real .xlsx workbook — JDK zip + StAX, zero added dependencies.
    // Pins the whole xlsx codec: XML cell encoding, sparse nulls,
    // integral-inference back to int64, double round-trip text, and
    // date-styled Excel serials for the ms timestamps. l_linenumber
    // widens int32→int64 (all xlsx numbers are doubles; integral
    // inference restores int64 — the read_excel dtype rule).
    QueryDef("excel_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip.xlsx"
        ExcelIo.write(slice(s, d), path)
        ExcelIo.read(s, path)
      },
      Some(sliceSql)),

    // Directory-of-workbooks path: the same slice split across three
    // .xlsx files by key residue, read back as ONE frame (one Spark
    // task per workbook — the many-file-drop shape ExcelIo.read
    // parallelizes; stata pins the split-parallel-within-one-file path,
    // this pins the file-parallel one). Also exercises the per-sibling
    // header validation on every read. DuckDB states the whole slice —
    // a lost file, a dropped row, or misassigned columns hash-fail.
    QueryDef("excel_dir_roundtrip",
      (s, d) => {
        val dir = new java.io.File(s"$scratch/xlsx_dir")
        dir.mkdirs()
        val sl = slice(s, d)
        (0 until 3).foreach { i =>
          ExcelIo.write(sl.filter(pmod(col("l_orderkey"), lit(3)) === i),
            s"$scratch/xlsx_dir/part$i.xlsx")
        }
        ExcelIo.read(s, s"$scratch/xlsx_dir")
      },
      Some(sliceSql)),

    // read_stata/to_stata (reference: pandas/io/stata.py:172 read_stata,
    // :506 _cast_to_stata_types): the same slice through a real dta-118
    // file. Pins the whole codec: the tagged-binary header and offset
    // map, fixed-width row encoding, %tc millisecond serials for the ms
    // timestamps, strf widths from the pre-pass, and the reference's
    // integral mapping (l_orderkey int64 → int32 since it fits — dta has
    // no int64). Read back split-parallel at a small byte target so the
    // gate exercises the multi-task seek path, not just one task.
    QueryDef("stata_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip.dta"
        StataIo.write(slice(s, d), path)
        StataIo.read(s, path, splitBytes = 1L << 20)
      },
      Some(sliceSql)),

    // read_fwf (reference: pandas/io/parsers.py:721 read_fwf,
    // FixedWidthReader :3440; tests pandas/tests/io/parser/
    // test_read_fwf.py): the same slice through a real fixed-width text
    // file. The writer measures widths in one bounded pre-pass and
    // writes pure-projection text; the read is a parallel line scan
    // where every column is a codegen'd substring+trim+cast. Pins the
    // full text round trip — canonical double text, µs timestamps,
    // blank-field nulls — and the colspec offset arithmetic (an
    // off-by-one in any start/end corrupts every value and hash-fails).
    QueryDef("fwf_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip.fwf"
        val specs = FwfReader.write(slice(s, d), path)
        FwfReader.read(s, path, specs)
      },
      Some(sliceSql)),

    // read_html/to_html as a FILE round trip (reference: pandas/io/
    // html.py:147 _HtmlFrameParser): the same slice streamed into one
    // HTML table document and parsed back through the tolerant
    // tokenizer. Pins entity escaping, the thead/tbody structure,
    // empty-cell nulls, and whole-column textual re-inference
    // (l_linenumber re-infers int64 from digit text — the same
    // widening as the excel gate; doubles round-trip via
    // Double.toString/parseDouble exactness).
    QueryDef("html_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip.html"
        HtmlIo.write(slice(s, d), path)
        HtmlIo.read(s, path)
      },
      Some(sliceSql)),

    // to_json/read_json orient='table' (reference: pandas/io/json/
    // json.py:33, table_schema.py:183): the same slice through one
    // JSON-Table-Schema document — the one orient that carries explicit
    // types, so ints, doubles, strings, and the ms timestamps
    // round-trip typed (l_linenumber widens int32→int64: the schema
    // says 'integer', the read maps it to long — same widening as the
    // excel/html gates). Pins the streaming generator, the schema
    // block, ISO datetime encoding, and null cells.
    QueryDef("json_table_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip_table.json"
        JsonOrientIo.write(slice(s, d), path, orient = "table")
        JsonOrientIo.read(s, path, orient = "table")
      },
      Some(sliceSql)),

    // read_sas(format='xport') + our writer (reference: pandas/io/sas/
    // sas_xport.py:24-30,170,365,419): the slice through a real SAS V5
    // transport file. Column names rename to the format's 8-byte limit
    // (a loud writer fence, exercised here the way a SAS user would).
    // Pins the 80-byte card framing, the namestr block, IBM hex-float
    // encoding both directions (IEEE→IBM→IEEE exact), DATETIME seconds
    // serials for the ms timestamps, and the trailing-blank record
    // count. Split-parallel read at a small byte target.
    QueryDef("sas_xport_roundtrip",
      (s, d) => {
        val path = s"$scratch/roundtrip.xpt"
        val renamed = slice(s, d)
          .withColumnRenamed("l_orderkey", "okey")
          .withColumnRenamed("l_linenumber", "lnum")
          .withColumnRenamed("l_quantity", "qty")
          .withColumnRenamed("l_extendedprice", "price")
          .withColumnRenamed("l_returnflag", "flag")
          .withColumnRenamed("l_shipdate", "sdate")
        SasXportIo.write(renamed, path)
        SasXportIo.read(s, path, splitBytes = 1L << 20)
      },
      // integers ride XPORT's single numeric type: the oracle states
      // them as DOUBLE to match (values are exact — within 2^53)
      Some("""SELECT CAST(l_orderkey AS DOUBLE) AS okey,
             |  CAST(l_linenumber AS DOUBLE) AS lnum,
             |  l_quantity AS qty, l_extendedprice AS price,
             |  l_returnflag AS flag, l_shipdate AS sdate
             |FROM lineitem WHERE l_orderkey < 1000""".stripMargin)),

    // read_sas(format='sas7bdat') — the native SAS dataset format, the
    // one §2.1 source a real SAS shop hits that r11 still lacked
    // (read-only; SasBdatIo). The input is the committed productsales
    // fixture (src/main/resources/sas7bdat: 1440 rows of strings +
    // truncated-width numerics + a MONNAME date column, rows on a mix
    // page and data pages), written by the test-scope SasBdatWriter from the
    // golden cell dump of the SAS-written original. The compared row is
    // a panel of aggregates whose constants were stated ONCE from the
    // independent reader of record on the SAS original, so they still
    // state SAS ground truth — any offset, width, truncated-double,
    // trimming, or 1960-epoch bug moves a sum, a distinct count, a char
    // mass, or a date bound and hash-fails. A fault the writer shares
    // with the reader passes here; SasBdatSpec's real-file tier and
    // tools/sas7bdat_pandas_check.py are the legs that catch one.
    QueryDef("sas7bdat_read",
      (s, d) => {
        val df = graft.sources.SasBdatIo.read(s,
          sasFixture("productsales"), splitBytes = 32768)
        df.agg(
          count(lit(1)).as("n_rows"),
          sum(col("ACTUAL")).cast("long").as("actual_sum"),
          sum(col("PREDICT")).cast("long").as("predict_sum"),
          countDistinct(col("COUNTRY")).as("n_countries"),
          countDistinct(col("REGION")).as("n_regions"),
          countDistinct(col("PRODUCT")).as("n_products"),
          sum(length(col("PRODUCT"))).cast("long").as("prod_chars"),
          sum(col("QUARTER")).cast("long").as("quarter_sum"),
          sum(col("YEAR")).cast("long").as("year_sum"),
          min(col("MONTH")).as("month_min"),
          max(col("MONTH")).as("month_max"))
      },
      Some("""SELECT CAST(1440 AS BIGINT) AS n_rows,
             |  CAST(730337 AS BIGINT) AS actual_sum,
             |  CAST(706295 AS BIGINT) AS predict_sum,
             |  CAST(3 AS BIGINT) AS n_countries,
             |  CAST(2 AS BIGINT) AS n_regions,
             |  CAST(5 AS BIGINT) AS n_products,
             |  CAST(6048 AS BIGINT) AS prod_chars,
             |  CAST(3600 AS BIGINT) AS quarter_sum,
             |  CAST(2870640 AS BIGINT) AS year_sum,
             |  CAST('1993-01-01' AS DATE) AS month_min,
             |  CAST('1994-12-01' AS DATE) AS month_max""".stripMargin)),

    // sas7bdat codec matrix gate: the SAME aggregates computed from one
    // RLE (SASYZCRL), one RDC (SASYZCR2), and one big-endian 64-bit RLE
    // encoding of the test1 golden frame (10×100, missing doubles AND
    // strings, 3- and 4-byte truncated numerics) — committed fixtures
    // written by SasBdatWriter, so the oracle states one constant panel
    // per file tag (from the golden frame, independently). Any
    // decompressor, endianness, or truncated-double bug moves a sum and
    // hash-fails. Cell-level fidelity across the full 12-layout matrix
    // is pinned in SasBdatSpec.
    QueryDef("sas7bdat_codec_read",
      (s, d) => {
        Seq("rle_le32", "rdc_le32", "rle_be64").map { tag =>
          graft.sources.SasBdatIo.read(s, sasFixture(s"test1_$tag"),
            splitBytes = 32768)
            .agg(
              count(lit(1)).as("n_rows"),
              sum(round(col("Column1") * 1000)).cast("long")
                .as("c1_milli"),
              sum(length(col("Column2"))).cast("long").as("c2_chars"),
              countDistinct(col("Column2")).as("c2_distinct"),
              sum(col("Column3")).cast("long").as("c3_sum"),
              min(col("Column4")).as("d_min"),
              max(col("Column4")).as("d_max"))
            .withColumn("codec", lit(tag))
        }.reduce(_ unionByName _).orderBy("codec")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(10 AS BIGINT), CAST(3987 AS BIGINT),
             |   CAST(43 AS BIGINT), CAST(3 AS BIGINT),
             |   CAST(354 AS BIGINT), CAST('1964-10-06' AS DATE),
             |   CAST('1984-07-15' AS DATE), 'rdc_le32'),
             |  (CAST(10 AS BIGINT), CAST(3987 AS BIGINT),
             |   CAST(43 AS BIGINT), CAST(3 AS BIGINT),
             |   CAST(354 AS BIGINT), CAST('1964-10-06' AS DATE),
             |   CAST('1984-07-15' AS DATE), 'rle_be64'),
             |  (CAST(10 AS BIGINT), CAST(3987 AS BIGINT),
             |   CAST(43 AS BIGINT), CAST(3 AS BIGINT),
             |   CAST(354 AS BIGINT), CAST('1964-10-06' AS DATE),
             |   CAST('1984-07-15' AS DATE), 'rle_le32'))
             |  AS t(n_rows, c1_milli, c2_chars, c2_distinct, c3_sum,
             |       d_min, d_max, codec)
             |ORDER BY codec""".stripMargin)),

    // REAL image decode gate: per-document PNG payloads with dimensions
    // derived from doc_id are produced by the real PNG encoder, decoded
    // by the real ImageIO reader (width/height/channels), resized
    // through the real Graphics2D kernel, and decoded AGAIN — so the
    // compared dims cross two genuine codec passes. DuckDB states the
    // expected dims from doc_id arithmetic alone; any decode, channel-
    // model, or resize bug hash-fails.
    QueryDef("image_meta",
      (s, d) => {
        import s.implicits._
        val assets = T.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val w = 8 + (id % 16).toInt
            val h = 8 + (id % 8).toInt
            (id, MultimodalOps.syntheticPng(w, h, seed = id))
          }).toDF("asset_id", "payload")
        val meta = MultimodalOps.decodeImageMeta(assets)
          .select("asset_id", "width", "height", "channels")
        val resized = MultimodalOps.decodeImageMeta(
            MultimodalOps.resizeImages(assets, 4, 3))
          .select(col("asset_id"), col("width").as("r_width"),
            col("height").as("r_height"))
        meta.join(resized, Seq("asset_id"))
      },
      Some("""SELECT doc_id AS asset_id,
             |  CAST(8 + doc_id % 16 AS INTEGER) AS width,
             |  CAST(8 + doc_id % 8 AS INTEGER) AS height,
             |  CAST(3 AS INTEGER) AS channels,
             |  CAST(4 AS INTEGER) AS r_width,
             |  CAST(3 AS INTEGER) AS r_height
             |FROM documents""".stripMargin)),

    // Sharded training-corpus write (SampleOps.writeTrainingShards):
    // hive-layout shard=<k>/ dirs by deterministic md5 shard, read back
    // WHOLE so every row's persisted shard assignment faces the oracle's
    // closed-form md5 arithmetic — a wrong mod, a salt drift, a
    // partition-column type change, or rows landing in the wrong dir
    // all hash-fail. (Pruned single-dir reads are pinned by
    // parquet_partitioned_pruned; this gate pins the ASSIGNMENT.)
    QueryDef("train_shards_roundtrip",
      (s, d) => {
        import graft.operators.SampleOps
        val out = s"$scratch/train_shards"
        val docs = T.documents(s, d).select(col("doc_id"), col("n_chars"))
        SampleOps.writeTrainingShards(docs, "doc_id", out, nShards = 8)
        s.read.parquet(out).select(col("doc_id"),
          col("shard").cast("long").as("shard"), col("n_chars"))
      },
      Some("""SELECT doc_id,
             |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8)) AS BIGINT) % 8 AS shard,
             |  n_chars
             |FROM documents""".stripMargin)),

    // MP4 container-metadata gate: per-document spec-conformant box
    // trees (brand, v0/v1 mvhd split by parity, 90kHz vs 1kHz
    // timescales, track census, 16.16 dims) built by syntheticMp4 and
    // walked back by the real ISO-BMFF parser; DuckDB restates every
    // field closed-form from doc_id, incl. the floor-division micros.
    // (Self-roundtrip caveat documented in MultimodalOps — no external
    // MP4 exists in this environment; the gate still pins regressions
    // and the exact-integer duration arithmetic.)
    QueryDef("video_meta",
      (s, d) => {
        import s.implicits._
        val assets = T.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val ts = if (id % 2 == 0) 1000L else 90000L
            val w = 320 + (id % 5).toInt * 16
            val h = 240 + (id % 3).toInt * 16
            val tracks = Seq(("vide", w, h)) ++
              (if (id % 2 == 0) Seq(("soun", 0, 0)) else Nil)
            (id, MultimodalOps.syntheticMp4("isom", ts, 100000L + id * 7,
              tracks, mvhdV1 = id % 2 == 1))
          }).toDF("asset_id", "payload")
        MultimodalOps.decodeVideoMeta(assets).toDF()
          .select("asset_id", "brand", "timescale", "duration_us",
            "n_tracks", "video_tracks", "audio_tracks", "width", "height")
      },
      Some("""SELECT doc_id AS asset_id, 'isom' AS brand,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 90000 END
             |       AS BIGINT) AS timescale,
             |  CAST((100000 + doc_id * 7) * 1000000 //
             |       (CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 90000 END)
             |       AS BIGINT) AS duration_us,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
             |    AS n_tracks,
             |  CAST(1 AS BIGINT) AS video_tracks,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             |    AS audio_tracks,
             |  CAST(320 + (doc_id % 5) * 16 AS INTEGER) AS width,
             |  CAST(240 + (doc_id % 3) * 16 AS INTEGER) AS height
             |FROM documents""".stripMargin)),

    // Real frame-sample extraction gate: per-document MP4s carry
    // 4..6 video samples of closed-form ASCII bytes; sampleVideoFrames
    // recovers every 2nd via the container's OWN stsz/stco tables and
    // the oracle restates each frame's exact content from doc_id
    // arithmetic — a sample-size mis-read, a chunk-offset bug, or an
    // off-by-one in the mdat slice changes a string and hash-fails.
    QueryDef("video_frames",
      (s, d) => {
        import s.implicits._
        val assets = T.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val n = 4 + (id % 3).toInt
            val samples = (0 until n).map { i =>
              val len = 5 + (i % 3)
              Array.tabulate(len)(j =>
                (97 + ((id * 13 + i * 7 + j) % 26)).toByte)
            }
            (id, MultimodalOps.syntheticMp4("isom", 1000, n.toLong,
              Seq(("vide", 64, 48), ("soun", 0, 0)),
              videoSamples = samples))
          }).toDF("asset_id", "payload")
        MultimodalOps.sampleVideoFrames(assets, everyNth = 2)
          .select(col("asset_id"), col("frame_no"),
            col("frame").cast("string").as("frame_str"))
      },
      Some("""WITH base AS (SELECT doc_id, 4 + doc_id % 3 AS n
             |  FROM documents),
             |fi AS (SELECT doc_id, n,
             |    unnest(range(0, CAST(n AS BIGINT))) AS i FROM base),
             |kept AS (SELECT doc_id, i, 5 + (i % 3) AS len
             |  FROM fi WHERE i % 2 = 0)
             |SELECT doc_id AS asset_id, CAST(i AS BIGINT) AS frame_no,
             |  array_to_string(list_transform(range(0, CAST(len AS BIGINT)),
             |    j -> chr(CAST(97 + (doc_id * 13 + i * 7 + j) % 26 AS INT))),
             |    '') AS frame_str
             |FROM kept""".stripMargin)),

    // MJPEG frame-DECODE gate (r12 verdict task #6 — the pixel tier
    // for the one codec family the JRE really decodes): even ids get
    // mjpa tracks whose samples are real ImageIO-written JPEGs with
    // closed-form dimensions; odd ids keep mp4v ASCII samples and MUST
    // come back as the honest "stub" rows. The oracle restates codec,
    // decoded width/height/channels, and status from doc_id arithmetic
    // — a codec misread from stsd, a decode of the wrong byte range,
    // or a stub/ok misclassification all hash-fail. pix_sum (lossy
    // JPEG pixels, not closed-form) is deliberately excluded here and
    // pinned in LlmSpec against an independent driver-side decode.
    QueryDef("video_frames_decoded",
      (s, d) => {
        import s.implicits._
        val assets = T.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val n = 3 + (id % 3).toInt
            val mjpeg = id % 2 == 0
            val samples = (0 until n).map { i =>
              if (mjpeg)
                MultimodalOps.syntheticJpeg(16 + ((id + i) % 4).toInt * 8,
                  8 + ((id + i) % 3).toInt * 8, seed = id * 31 + i)
              else Array.tabulate(6)(j =>
                (97 + ((id + i + j) % 26)).toByte)
            }
            (id, MultimodalOps.syntheticMp4("isom", 1000, n.toLong,
              Seq(("vide", 64, 48)), videoSamples = samples,
              videoCodec = if (mjpeg) "mjpa" else "mp4v"))
          }).toDF("asset_id", "payload")
        MultimodalOps.decodeVideoFrames(assets, everyNth = 2).toDF()
          .select("asset_id", "frame_no", "codec", "width", "height",
            "channels", "status")
      },
      Some("""WITH base AS (SELECT doc_id, 3 + doc_id % 3 AS n
             |  FROM documents),
             |fi AS (SELECT doc_id,
             |    unnest(range(0, CAST(n AS BIGINT))) AS i FROM base),
             |kept AS (SELECT doc_id, i FROM fi WHERE i % 2 = 0)
             |SELECT doc_id AS asset_id, CAST(i AS BIGINT) AS frame_no,
             |  CASE WHEN doc_id % 2 = 0 THEN 'mjpa' ELSE 'mp4v' END AS codec,
             |  CAST(CASE WHEN doc_id % 2 = 0
             |       THEN 16 + ((doc_id + i) % 4) * 8 ELSE -1 END
             |       AS INTEGER) AS width,
             |  CAST(CASE WHEN doc_id % 2 = 0
             |       THEN 8 + ((doc_id + i) % 3) * 8 ELSE -1 END
             |       AS INTEGER) AS height,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE -1 END
             |       AS INTEGER) AS channels,
             |  CASE WHEN doc_id % 2 = 0 THEN 'ok' ELSE 'stub' END AS status
             |FROM kept""".stripMargin)),

    // REAL audio decode gate: per-document PCM16 waveforms whose sample
    // values are a closed-form function of doc_id are pushed through the
    // JRE's genuine WAVE writer (AudioSystem.write), decoded back by the
    // genuine WAVE reader (format + exact-integer sample statistics),
    // decimated 4:1 through the real re-encode kernel, and decoded
    // AGAIN — two full codec passes, like image_meta. DuckDB restates
    // every compared value (frame counts, exact micros, peak, Σs², and
    // the decimated tier's) from the doc_id closed form alone; any
    // header, byte-order, sign, or frame-boundary bug hash-fails.
    QueryDef("audio_meta",
      (s, d) => {
        import s.implicits._
        val assets = T.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val n = 50 + (id % 40).toInt
            (id, MultimodalOps.syntheticWav(n, sampleRate = 8000, seed = id))
          }).toDF("asset_id", "payload")
        val meta = MultimodalOps.decodeAudioMeta(assets).toDF()
          .select("asset_id", "sample_rate", "channels", "bits",
            "n_frames", "duration_us", "peak_abs", "sum_sq")
        val dec = MultimodalOps.decodeAudioMeta(
            MultimodalOps.decimateAudio(assets, everyNth = 4)).toDF()
          .select(col("asset_id"), col("sample_rate").as("d_rate"),
            col("n_frames").as("d_frames"), col("sum_sq").as("d_sum_sq"))
        meta.join(dec, Seq("asset_id"))
      },
      Some("""WITH base AS (SELECT doc_id, 50 + doc_id % 40 AS n
             |  FROM documents),
             |si AS (SELECT doc_id, n,
             |    unnest(range(0, CAST(n AS BIGINT))) AS i FROM base),
             |s AS (SELECT doc_id, n, i,
             |    (doc_id * 7919 + i * 104729) % 65536 - 32768 AS v FROM si)
             |SELECT doc_id AS asset_id,
             |  CAST(8000 AS BIGINT) AS sample_rate,
             |  CAST(1 AS BIGINT) AS channels,
             |  CAST(16 AS BIGINT) AS bits,
             |  CAST(max(n) AS BIGINT) AS n_frames,
             |  CAST(max(n) * 125 AS BIGINT) AS duration_us,
             |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
             |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
             |  CAST(2000 AS BIGINT) AS d_rate,
             |  CAST((max(n) + 3) // 4 AS BIGINT) AS d_frames,
             |  CAST(sum(CASE WHEN i % 4 = 0 THEN v * v ELSE 0 END)
             |       AS BIGINT) AS d_sum_sq
             |FROM s GROUP BY doc_id""".stripMargin)),

    // Small-file compaction round trip (sources/Compaction) — the lake
    // maintenance chore a micro-batch-fed 100 TB table needs
    // continuously: the slice is deliberately fragmented into 16 files,
    // compacted to a byte-target file count (a shuffle-free
    // coalesce+rewrite; only the file LISTING touches the driver), and
    // read back. The oracle states the slice from the original parquet:
    // a row lost or duplicated in the rewrite hash-fails, and the gate
    // body asserts the file count actually shrank to the computed
    // target before returning.
    QueryDef("parquet_compacted_roundtrip",
      (s, d) => {
        val in = s"$scratch/compact_in"; val out = s"$scratch/compact_out"
        slice(s, d).repartition(16).write.mode("overwrite").parquet(in)
        val bytes = graft.sources.Compaction.dataBytes(s, in)
        val res = graft.sources.Compaction.compact(s, in, out,
          targetFileBytes = math.max(1L, (bytes + 1) / 2))
        val nOut = graft.sources.Compaction.dataFileCount(s, out)
        require(nOut <= 2,
          s"compaction missed its 2-file target (from 16): $nOut")
        res
      },
      Some(sliceSql)),

    // Range-partitioned, sorted time-series layout — the WRITE-side
    // data-skipping primitive for event data at 100 TB: repartition the
    // stream by ts RANGE and sort within partitions before writing, so
    // every parquet file covers a tight, disjoint ts interval and every
    // row group's min/max stats are narrow. A time-bounded read then
    // (a) pushes both bounds to the scan (pinned in PlanAuditSpec via
    // PushedFilters) and (b) skips whole files/row groups whose stats
    // miss the interval — on an unsorted layout the same predicate
    // reads every file because every row group spans the full month.
    // The gate states the identically filtered slice from the original
    // parquet: a row lost at a range boundary, a timezone shift in the
    // round trip, or a sort that dropped rows hash-fails.
    QueryDef("parquet_sorted_layout",
      (s, d) => {
        val path = s"$scratch/sorted_events"
        T.events(s, d).select("event_id", "ts", "user_id", "value")
          .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path)
          .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-11 00:00:00").cast("timestamp"))
          .select("event_id", "ts", "user_id", "value")
      },
      Some("""SELECT event_id, ts, user_id, value FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-11 00:00:00'""".stripMargin)),

    // Bucketed co-located fact-fact join — THE shuffle-elimination
    // primitive for repeated 100 TB joins (Spark's analog of hive
    // bucketing / the reference's presorted-index merge,
    // pandas/core/reshape/merge.py:1850 _get_join_indexers' sorted
    // path). Both sides are written ONCE as 8-bucket tables hashed on
    // the join key (bucket id = pmod(murmur3(key), n) — the same
    // function shuffle hash-partitioning uses, which is exactly why
    // catalog-reported bucketing satisfies the join's required
    // distribution); every subsequent join on that key then runs with
    // ZERO Exchange on either side — pinned in PlanAuditSpec. The
    // repartition(8, key) before each write puts one file in each
    // bucket so the sortBy order survives the scan. The merge hint
    // keeps the tiny test slice on the SortMergeJoin path a 100 TB
    // fact-fact join would take (broadcast would hide the property
    // under test). DuckDB states the identical join from flat parquet —
    // a row misrouted to the wrong bucket, or a bucket dropped by the
    // scan, hash-fails.
    QueryDef("bucketed_join_colocated",
      (s, d) => {
        val li = T.lineitem(s, d).filter(col("l_orderkey") < 2000)
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice")
        val ord = T.orders(s, d).filter(col("o_orderkey") < 2000)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        s.sql("DROP TABLE IF EXISTS graft_li_bucketed")
        s.sql("DROP TABLE IF EXISTS graft_ord_bucketed")
        li.repartition(8, col("l_orderkey")).write.mode("overwrite")
          .option("path", s"$scratch/bucketed_li")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("graft_li_bucketed")
        ord.repartition(8, col("o_orderkey")).write.mode("overwrite")
          .option("path", s"$scratch/bucketed_ord")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("graft_ord_bucketed")
        s.table("graft_li_bucketed").hint("merge")
          .join(s.table("graft_ord_bucketed").hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "o_custkey", "o_totalprice")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  l_extendedprice, o_custkey, o_totalprice
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_orderkey < 2000 AND o_orderkey < 2000""".stripMargin)),

    // WARC/WET round trip (the Common Crawl crawl-text wire format —
    // the entry point of the web-curation tier): the documents table
    // streamed into ONE gzipped WET shard (warcinfo + one conversion
    // record per doc, CRLF framing, exact UTF-8 Content-Length) and
    // parsed back record-by-record. doc_id re-derives from the target
    // URI and the compared projection is (id, byte length, text) —
    // DuckDB states it straight from parquet (strlen = BYTES, matching
    // the wire Content-Length), so a framing, length, gzip, or
    // multibyte bug on either leg hash-fails.
    QueryDef("wet_roundtrip",
      (s, d) => {
        val path = s"$scratch/corpus.wet.gz"
        val src = T.documents(s, d).select(
          concat(lit("http://example.com/doc/"), col("doc_id"))
            .as("target_uri"),
          col("text")).orderBy(col("target_uri"))
        WetIo.write(src, path)
        WetIo.read(s, path)
          .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
            col("content_length"), col("text"))
      },
      Some("""SELECT doc_id,
             |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS content_length,
             |  coalesce(text, '') AS text
             |FROM documents""".stripMargin)),

    // DISTRIBUTED sharded WET export (WetIo.writeShards — the 100 TB
    // path beside the driver-side single-file edge): 8 executor-written
    // gzipped shards with deterministic hash membership and in-shard
    // URI order, read back through the directory reader. Same
    // byte-exact projection oracle as wet_roundtrip; full coverage
    // across shards is what's under test (a dropped/duplicated shard
    // or a mis-grouped multi-shard task changes the row set).
    QueryDef("wet_shards_roundtrip",
      (s, d) => {
        val dir = s"$scratch/wet_shards"
        val src = T.documents(s, d).select(
          concat(lit("http://example.com/doc/"), col("doc_id"))
            .as("target_uri"),
          col("text"))
        WetIo.writeShards(src, dir, nShards = 8)
        WetIo.read(s, dir)
          .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
            col("content_length"), col("text"))
      },
      Some("""SELECT doc_id,
             |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS content_length,
             |  coalesce(text, '') AS text
             |FROM documents""".stripMargin)),

    // Gzipped JSONL shard round-trip — the interchange format the
    // open-data training ecosystem actually ships (HF datasets, Dolma,
    // RedPajama releases are .jsonl.gz): deterministic hash-assigned
    // shards via the training-shard writer's column, text JSON lines,
    // gzip per file. Whole-file gzip is honestly non-splittable on
    // read (one task per shard — the WET trade, documented there);
    // the shard count IS the read parallelism, which is why releases
    // ship thousands of shards. A row lost in the JSON round-trip, a
    // mangled unicode escape, or a shard misassignment hash-fails.
    QueryDef("jsonl_shards_roundtrip",
      (s, d) => {
        val path = s"$scratch/jsonl_shards"
        val docs = T.documents(s, d)
          .select("doc_id", "text", "lang", "source")
        docs.withColumn("shard",
            graft.operators.SampleOps.shardCol(col("doc_id"), 8))
          .repartition(8, col("shard"))
          .write.mode("overwrite").partitionBy("shard")
          .option("compression", "gzip").json(path)
        s.read.json(path)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"),
            col("lang"), col("source"))
      },
      Some("SELECT doc_id, text, lang, source FROM documents")),

    // Footer-manifest scan planning (Manifest.build/prunedRead) — the
    // Iceberg/Delta metadata idea without a table format: the events
    // table is laid out in 8 event_id ranges, the manifest is built
    // from FOOTERS ONLY (distributed over the file list, no data
    // pages), and a range query consults the manifest to read just
    // the intersecting files. The gate requires the pruning actually
    // happened (files read < files total — a manifest that keeps
    // everything is a no-op) and the oracle states the slice from the
    // flat table, so both the planning and the residual filter are
    // under test. ManifestSpec pins the per-file stats themselves.
    QueryDef("manifest_pruned_read",
      (s, d) => {
        val path = s"$scratch/manifest_events"
        T.events(s, d).select("event_id", "ts", "user_id", "value")
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .write.mode("overwrite").parquet(path)
        val mf = graft.sources.Manifest.build(s, path, Seq("event_id"))
        val total = mf.select("file").distinct().count()
        val pruned = graft.sources.Manifest.prunedRead(
          s, mf, "event_id", 1000L, 4000L)
        // inputFiles = the SCAN's file set (pre-filter) — counting
        // files that survive the residual filter would pass even if
        // pruning regressed to reading everything
        val readFiles = pruned.inputFiles.length
        require(readFiles < total,
          s"manifest pruned nothing: $readFiles of $total files read")
        pruned.select("event_id", "ts", "user_id", "value")
      },
      Some("""SELECT event_id, ts, user_id, value FROM events
             |WHERE event_id BETWEEN 1000 AND 4000""".stripMargin)),

    // Manifest v2 STRING-key pruning — real lake pruning keys are as
    // often strings (dates-as-strings, URL prefixes, hex ids) as
    // integers: the same footer manifest records truncated UTF-8
    // min/max (lower bound truncates, upper bound
    // truncates-and-increments — Iceberg's convention) and a string
    // range query must skip non-intersecting files. The layout keys a
    // zero-padded string so byte order == numeric order; the gate
    // requires files-read < files-total (planning proof) and the
    // oracle states the identical slice from the flat table
    // (correctness proof).
    QueryDef("manifest_pruned_read_str",
      (s, d) => {
        val path = s"$scratch/manifest_events_str"
        T.events(s, d)
          .select(lpad(col("event_id").cast("string"), 8, "0").as("ek"),
            col("ts"), col("user_id"), col("value"))
          .repartitionByRange(8, col("ek"))
          .sortWithinPartitions("ek")
          .write.mode("overwrite").parquet(path)
        val mf = graft.sources.Manifest.build(s, path, Seq("ek"))
        val total = mf.select("file").distinct().count()
        val pruned = graft.sources.Manifest.prunedReadString(
          s, mf, "ek", "00001000", "00004000")
        val readFiles = pruned.inputFiles.length
        require(readFiles < total,
          s"string manifest pruned nothing: $readFiles of $total files")
        pruned.select("ek", "ts", "user_id", "value")
      },
      Some("""SELECT lpad(cast(event_id AS varchar), 8, '0') AS ek,
             |  ts, user_id, value FROM events
             |WHERE lpad(cast(event_id AS varchar), 8, '0')
             |  BETWEEN '00001000' AND '00004000'""".stripMargin)),

    // Manifest v2 TIMESTAMP-key pruning — event-time is the #1 pruning
    // key a real lake has (daily ingest, time-windowed queries).
    // Spark timestamps land in parquet as INT64 TIMESTAMP_MICROS, so
    // the footer bounds ride the manifest's long slot and
    // prunedReadTimestamp compares them against a [lo, hi] range in
    // epoch micros, with the residual filter on the TimestampType
    // column via timestamp_micros — the exact inverse of the stats
    // encoding. Files-read < files-total is required in-gate (planning
    // proof); the oracle states the identical slice from the flat
    // table with TIMESTAMP literals (correctness proof).
    QueryDef("manifest_pruned_read_ts",
      (s, d) => {
        val path = s"$scratch/manifest_events_ts"
        // INT96 (the legacy outputTimestampType default) carries no
        // usable stats — pin the modern micros encoding for the layout
        // write, and RESTORE the previous value after (a leaked session
        // conf would change how Verify encodes every later gate's
        // timestamp outputs and shift driver hashes)
        val tsKey = "spark.sql.parquet.outputTimestampType"
        val tsPrev = s.conf.getOption(tsKey)
        s.conf.set(tsKey, "TIMESTAMP_MICROS")
        try T.events(s, d).select("event_id", "ts", "user_id", "value")
          .repartitionByRange(8, col("ts"))
          .sortWithinPartitions("ts")
          .write.mode("overwrite").parquet(path)
        finally tsPrev match {
          case Some(v) => s.conf.set(tsKey, v)
          case None => s.conf.unset(tsKey)
        }
        val mf = graft.sources.Manifest.build(s, path, Seq("ts"))
        val total = mf.select("file").distinct().count()
        // 2024-01-05T00:00:00Z .. 2024-01-08T00:00:00Z in epoch micros
        val pruned = graft.sources.Manifest.prunedReadTimestamp(
          s, mf, "ts", 1704412800000000L, 1704672000000000L)
        val readFiles = pruned.inputFiles.length
        require(readFiles < total,
          s"timestamp manifest pruned nothing: $readFiles of $total files")
        pruned.select("event_id", "ts", "user_id", "value")
      },
      Some("""SELECT event_id, ts, user_id, value FROM events
             |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |  AND ts <= TIMESTAMP '2024-01-08 00:00:00'""".stripMargin)),

    // Manifest NULL-count pruning (prunedReadNotNull) — the
    // Iceberg-style all-null file skip: a sparse optional column
    // (here: value nulled for the LOWER HALF of the id range — a
    // late-arriving enrichment shape, and SF-relative so roughly half
    // of the 8 ranged files are all-NULL at every scale) leaves whole
    // files all-NULL under a ranged layout, and an IS NOT NULL scan
    // must read only files whose footer says a value can exist.
    // Type-agnostic (null counts need no min/max), files-read <
    // files-total required in-gate, oracle states the identical
    // non-null slice with the same max/2 cut.
    QueryDef("manifest_pruned_notnull",
      (s, d) => {
        val path = s"$scratch/manifest_events_nn"
        val cut = T.events(s, d).agg(max(col("event_id"))).collect()(0)
          .getLong(0) / 2 // bounded: one scalar
        T.events(s, d).select(col("event_id"),
            when(col("event_id") < cut, lit(null).cast("double"))
              .otherwise(col("value")).as("value"),
            col("user_id"))
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .write.mode("overwrite").parquet(path)
        val mf = graft.sources.Manifest.build(s, path, Seq("value"))
        val total = mf.select("file").distinct().count()
        val pruned = graft.sources.Manifest.prunedReadNotNull(
          s, mf, "value")
        val readFiles = pruned.inputFiles.length
        require(readFiles < total,
          s"null manifest pruned nothing: $readFiles of $total files")
        pruned.select("event_id", "value", "user_id")
      },
      Some("""SELECT event_id, value, user_id FROM events
             |WHERE event_id >= (SELECT max(event_id) // 2 FROM events)
             |  AND value IS NOT NULL""".stripMargin)),

    // Manifest v2 DATE-key pruning — the daily-partition twin of the
    // timestamp gate: Spark dates land in parquet as INT32 days since
    // epoch (IntStatistics → the long slot), prunedReadDate takes the
    // range in epoch days and compares the DateType column against
    // date_from_unix_date literals. 2024-01-05 = day 19727,
    // 2024-01-08 = day 19730.
    QueryDef("manifest_pruned_read_date",
      (s, d) => {
        val path = s"$scratch/manifest_events_date"
        T.events(s, d).select(col("event_id"),
            col("ts").cast("date").as("day"), col("user_id"),
            col("value"))
          .repartitionByRange(8, col("day"), col("event_id"))
          .sortWithinPartitions("day")
          .write.mode("overwrite").parquet(path)
        val mf = graft.sources.Manifest.build(s, path, Seq("day"))
        val total = mf.select("file").distinct().count()
        val pruned = graft.sources.Manifest.prunedReadDate(
          s, mf, "day", 19727, 19730)
        val readFiles = pruned.inputFiles.length
        require(readFiles < total,
          s"date manifest pruned nothing: $readFiles of $total files")
        pruned.select("event_id", "day", "user_id", "value")
      },
      Some("""SELECT event_id, CAST(ts AS DATE) AS day, user_id, value
             |FROM events
             |WHERE CAST(ts AS DATE) >= DATE '2024-01-05'
             |  AND CAST(ts AS DATE) <= DATE '2024-01-08'""".stripMargin)),

    // CONJUNCTIVE (multi-column) manifest pruning — the
    // (event_date AND user_key) scan every lake runs daily: under a
    // Z-ORDERED layout both columns carry pruning power, and
    // prunedReadMulti intersects the per-column keep-sets, so the
    // 2-D box reads STRICTLY fewer files than either single-column
    // prune — required in-gate against both 1-D plans (and < total).
    // Bounds are SF-relative (max/4 of each key, computed from one
    // bounded aggregate) so the box stays a quarter-by-quarter corner
    // at every scale; the oracle states the identical slice with the
    // same max//4 subselects.
    QueryDef("manifest_pruned_multi",
      (s, d) => {
        val path = s"$scratch/manifest_events_multi"
        val in = T.events(s, d)
          .select("event_id", "ts", "user_id", "value")
        graft.sources.ZOrder.writeZOrdered(
          in, path, Seq("user_id", "event_id"), bits = 16, nFiles = 16)
        val mx = T.events(s, d)
          .agg(max(col("user_id")), max(col("event_id"))).collect()(0)
        val (uHi, eHi) = (mx.getLong(0) / 4, mx.getLong(1) / 4)
        val mf = graft.sources.Manifest.build(
          s, path, Seq("user_id", "event_id"))
        val total = mf.select("file").distinct().count()
        val both = graft.sources.Manifest.prunedReadMulti(s, mf, Seq(
          graft.sources.Manifest.LongRange("user_id", 0L, uHi),
          graft.sources.Manifest.LongRange("event_id", 0L, eHi)))
        val nBoth = both.inputFiles.length
        val nU = graft.sources.Manifest.prunedRead(
          s, mf, "user_id", 0L, uHi).inputFiles.length
        val nE = graft.sources.Manifest.prunedRead(
          s, mf, "event_id", 0L, eHi).inputFiles.length
        require(nBoth < nU && nBoth < nE && nBoth < total,
          s"conjunctive prune not strictly better: both=$nBoth " +
            s"user=$nU event=$nE total=$total")
        both.select("event_id", "ts", "user_id", "value")
      },
      Some("""SELECT event_id, ts, user_id, value FROM events
             |WHERE user_id BETWEEN 0
             |    AND (SELECT max(user_id) // 4 FROM events)
             |  AND event_id BETWEEN 0
             |    AND (SELECT max(event_id) // 4 FROM events)""".stripMargin)),

    // INCREMENTAL manifest maintenance (Manifest.update) — the nightly
    // shape: a table grows by appended files; the manifest absorbs the
    // delta (footer reads for NEW files only — delta-cost pinned in
    // ManifestSpec with a counting FileSystem) and pruned reads over
    // the UPDATED manifest stay exact. The gate ingests events in two
    // waves (disjoint event_id ranges, so wave-2 files are genuinely
    // new information), updates, requires files-read < files-total
    // (planning proof that the union of old+new stats prunes), and
    // states the identical slice from the flat table.
    QueryDef("manifest_incremental_pruned",
      (s, d) => {
        val path = s"$scratch/manifest_events_incr"
        val ev = T.events(s, d).select("event_id", "ts", "user_id", "value")
        ev.filter(col("event_id") < 3000)
          .repartitionByRange(4, col("event_id"))
          .sortWithinPartitions("event_id")
          .write.mode("overwrite").parquet(path)
        val m1 = graft.sources.Manifest.build(s, path, Seq("event_id"))
          .cache()
        m1.count() // materialize wave-1 stats before the append
        ev.filter(col("event_id") >= 3000)
          .repartitionByRange(4, col("event_id"))
          .sortWithinPartitions("event_id")
          .write.mode("append").parquet(path)
        val m2 = graft.sources.Manifest.update(s, path, m1, Seq("event_id"))
        val total = m2.select("file").distinct().count()
        val pruned = graft.sources.Manifest.prunedRead(
          s, m2, "event_id", 1000, 2000)
        val readFiles = pruned.inputFiles.length
        require(readFiles < total,
          s"incremental manifest pruned nothing: $readFiles of $total")
        m1.unpersist()
        pruned.select("event_id", "ts", "user_id", "value")
      },
      Some("""SELECT event_id, ts, user_id, value FROM events
             |WHERE event_id BETWEEN 1000 AND 2000""".stripMargin)),

    // Schema EVOLUTION read (mergeSchema) — the lake reality the
    // static-schema gates skip: a directory accumulates files written
    // under different schema versions (v1 lacks the bal column), and
    // the merged read must surface the union schema with NULLs for
    // files that predate a column. The oracle states the same union
    // from the flat table; a dropped v1 row, a misaligned column, or
    // a NULL leaking into v2 rows hash-fails.
    QueryDef("parquet_merge_schema",
      (s, d) => {
        val path = s"$scratch/evolve"
        // fresh dir per run: append mode accumulates across runs
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
        val t = T.customer(s, d).select(col("c_custkey").as("k"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
        t.filter(pmod(col("k"), lit(2)) === 0).drop("bal")
          .write.mode("append").parquet(path) // schema v1
        t.filter(pmod(col("k"), lit(2)) === 1)
          .write.mode("append").parquet(path) // schema v2 adds bal
        s.read.option("mergeSchema", "true").parquet(path)
          .select("k", "name", "bal")
      },
      Some("""SELECT c_custkey AS k, c_name AS name,
             |  CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS bal
             |FROM customer""".stripMargin)),

    // PERMISSIVE corrupt-record capture — the reference's
    // error-tolerant ingestion (read_json lines with bad rows, the
    // errors='coerce' family): every 5th document's JSON payload is
    // truncated mid-object; the parse must keep the row, null the
    // fields, and surface the raw text in the corrupt column instead
    // of throwing or silently dropping (dropping would bias the
    // corpus exactly like silently dropping unparseable URLs).
    QueryDef("json_corrupt_records",
      (s, d) => {
        import org.apache.spark.sql.types._
        val docs = T.documents(s, d).select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("{\"a\": "), col("doc_id").cast("string")))
            .otherwise(concat(lit("{\"a\": "), col("doc_id").cast("string"),
              lit("}"))).as("js"))
        val schema = StructType(Seq(StructField("a", LongType),
          StructField("_bad", StringType)))
        docs.select(col("doc_id"),
          from_json(col("js"), schema, Map(
            "mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_bad")).as("p"))
          .select(col("doc_id"), col("p.a").as("a"),
            col("p._bad").isNotNull.as("corrupt"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 5 <> 0 THEN doc_id END AS a,
             |  doc_id % 5 = 0 AS corrupt
             |FROM documents""".stripMargin)),

    // Parquet BLOOM-FILTER point lookup — the file-skipping index for
    // high-cardinality equality predicates (min/max stats are useless
    // when every file spans the full key range; a bloom filter skips
    // row groups that provably lack the key). The write enables the
    // filter on user_id; the gate reads a point lookup back and the
    // oracle states the same slice — BloomFilterIoSpec asserts the
    // filter bytes actually landed in the footer metadata (the gate
    // alone can't see inside parquet-mr's reader).
    QueryDef("parquet_bloom_lookup",
      (s, d) => {
        val path = s"$scratch/bloom_events"
        T.events(s, d).select("event_id", "ts", "user_id", "value")
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#user_id", "true")
          .parquet(path)
        s.read.parquet(path).filter(col("user_id") === 7)
          .select("event_id", "ts", "user_id", "value")
      },
      Some("""SELECT event_id, ts, user_id, value FROM events
             |WHERE user_id = 7""".stripMargin)),

    // Persisted IVF index (SimilarityOps.writeIvfIndex/ivfTopKIndexed)
    // — the ANN index as a lake artifact: centroids + corpus rows
    // PARTITIONED BY cell, so later query batches scan only probed-cell
    // directories (partition pruning; IvfSpec pins PartitionFilters
    // and the nprobe<cells equivalence with the in-memory tier). The
    // gate round-trips build→persist→load→query in exhaustive-probe
    // configuration, so the brute-force cosine oracle applies
    // verbatim — an index row lost in the partitioned write, a cell
    // misassigned, or a centroid misread hash-fails.
    QueryDef("ivf_index_topk",
      (s, d) => {
        import graft.llm.SimilarityOps
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val cents = SimilarityOps.trainIvfCentroids(
          emb, "vec_id", "embedding", 8)
        val dir = s"$scratch/ivf_index"
        SimilarityOps.writeIvfIndex(emb, dir, cents)
        SimilarityOps.ivfTopKIndexed(queries, dir, 3, nprobe = cents.length)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // Persisted residual IVF-PQ index (IVFADC as a lake artifact —
    // SimilarityOps.writeIvfPqIndex/ivfPqTopKIndexed): centroids +
    // residual codebooks + per-cell m-byte CODE partitions, no float
    // vectors in the index at all — probes prune to their cells'
    // directories and read codes; the shortlist joins the corpus
    // floats back BY ID for the exact re-rank. Gate round-trips
    // build→persist→load→query in the covering configuration
    // (nprobe = nlist, shortlist ⊇ corpus ⇒ brute-force oracle applies
    // verbatim); pruning + codes-only schema + approximate-config
    // equivalence with the in-memory tier are PqSpec-pinned.
    QueryDef("ivfpq_index_topk",
      (s, d) => {
        import graft.llm.SimilarityOps
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val cents = SimilarityOps.trainIvfCentroids(
          emb, "vec_id", "embedding", 4)
        val cbs = SimilarityOps.trainPqCodebooksResidual(emb, "vec_id",
          "embedding", cents, m = 8, ksub = 8, iters = 1)
        val dir = s"$scratch/ivfpq_index"
        SimilarityOps.writeIvfPqIndex(emb, dir, cents, cbs)
        SimilarityOps.ivfPqTopKIndexed(queries, dir, emb, 3,
          nprobe = cents.length, rerankFactor = 1000000)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // EXACTLY-ONCE IVF-PQ ingest (IngestCommit.ivfPqIngestBatch —
    // the embedding-store member of the r18 exactly-once family): the
    // index seeds with a third of the vectors (quantizers trained on
    // the seed — the production reality), then the remaining two
    // thirds ingest in two batches through the commit protocol, with
    // batch 0 KILLED after its stamped index append and replayed
    // (the recovery subtraction must prevent duplicate code rows —
    // duplicates double-count shortlist candidates and can displace
    // true neighbors at the rank boundary) and batch 0 replayed again
    // after commit (no-op skip). Covering configuration: the final
    // committed index holds EVERY vector, so the brute-force cosine
    // oracle applies verbatim — a lost batch, a double append, or a
    // served uncommitted row each change the ranking and hash-fail.
    QueryDef("ivfpq_ingest_exactly_once",
      (s, d) => {
        import graft.llm.{IngestCommit, SimilarityOps}
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val seed = emb.filter(col("vec_id") % 3 === 0)
        val b0 = emb.filter(col("vec_id") % 3 === 1)
        val b1 = emb.filter(col("vec_id") % 3 === 2)
        val cents = SimilarityOps.trainIvfCentroids(
          seed, "vec_id", "embedding", 4)
        val cbs = SimilarityOps.trainPqCodebooksResidual(seed, "vec_id",
          "embedding", cents, m = 8, ksub = 8, iters = 1)
        val root = s"$scratch/ivfpq_ingest_eo"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        val (idx, corp) = (s"$root/index", s"$root/corpus")
        SimilarityOps.writeIvfPqIndex(seed, idx, cents, cbs)
        try IngestCommit.ivfPqIngestBatch(b0, 0L, idx, corp,
          failpoint = pt => if (pt == "after-index") sys.error("kill"))
        catch { case _: RuntimeException => () }
        IngestCommit.ivfPqIngestBatch(b0, 0L, idx, corp) // recovery
        IngestCommit.ivfPqIngestBatch(b1, 1L, idx, corp)
        IngestCommit.ivfPqIngestBatch(b1, 1L, idx, corp) // hwm: skip
        SimilarityOps.ivfPqTopKIndexed(queries, idx, emb, 3,
          nprobe = cents.length, rerankFactor = 1000000)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // CROSS-BATCH ID DEDUP on IVF-PQ ingest (r18 verdict task #5 —
    // ivfPqIngestBatch's dedupIds flag): batch 1 re-sends EVERY vector
    // batch 0 already committed (the at-least-once upstream a real
    // feed produces) alongside its own third; without the dedup each
    // re-sent vec_id would hold TWO code rows and double-serve from
    // the probed scan — with a covering configuration the duplicate
    // shortlist entries displace true neighbors at the rank boundary
    // and the brute-force oracle hash-fails. The dedup anti-join must
    // also stay deterministic across a kill-replay (committed view
    // frozen at the hwm), which the mid-append kill exercises.
    QueryDef("ivfpq_ingest_dedup_ids",
      (s, d) => {
        import graft.llm.{IngestCommit, SimilarityOps}
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val seed = emb.filter(col("vec_id") % 3 === 0)
        val b0 = emb.filter(col("vec_id") % 3 === 1)
        val b1 = emb.filter(col("vec_id") % 3 =!= 0) // re-sends ALL of b0
        val cents = SimilarityOps.trainIvfCentroids(
          seed, "vec_id", "embedding", 4)
        val cbs = SimilarityOps.trainPqCodebooksResidual(seed, "vec_id",
          "embedding", cents, m = 8, ksub = 8, iters = 1)
        val root = s"$scratch/ivfpq_ingest_dedup"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        val (idx, corp) = (s"$root/index", s"$root/corpus")
        SimilarityOps.writeIvfPqIndex(seed, idx, cents, cbs)
        IngestCommit.ivfPqIngestBatch(b0, 0L, idx, corp, dedupIds = true)
        try IngestCommit.ivfPqIngestBatch(b1, 1L, idx, corp,
          dedupIds = true,
          failpoint = pt => if (pt == "after-index") sys.error("kill"))
        catch { case _: RuntimeException => () }
        IngestCommit.ivfPqIngestBatch(b1, 1L, idx, corp,
          dedupIds = true) // recovery: dedup re-derives deterministically
        SimilarityOps.ivfPqTopKIndexed(queries, idx, emb, 3,
          nprobe = cents.length, rerankFactor = 1000000)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // DELETE support for the persisted IVF-PQ index
    // (deleteFromIvfPqIndex / vacuumIvfPqIndex): vectors dropped by a
    // curation loop must stop surfacing as neighbors while survivors
    // keep their ranks. Same covering configuration as
    // ivfpq_index_topk (nprobe = nlist, shortlist ⊇ corpus, so the
    // brute-force oracle applies verbatim); vec_id % 10 == 7 is
    // deleted (SF-invariant), the query runs once against TOMBSTONES
    // and once after VACUUM, and the gate requires the two result
    // sets identical in-gate — tombstone-filtering ≡ compaction. The
    // oracle excludes the deleted ids from the brute-force ranking.
    QueryDef("ivfpq_index_delete",
      (s, d) => {
        import graft.llm.SimilarityOps
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val cents = SimilarityOps.trainIvfCentroids(
          emb, "vec_id", "embedding", 4)
        val cbs = SimilarityOps.trainPqCodebooksResidual(emb, "vec_id",
          "embedding", cents, m = 8, ksub = 8, iters = 1)
        val dir = s"$scratch/ivfpq_index_del"
        SimilarityOps.writeIvfPqIndex(emb, dir, cents, cbs)
        SimilarityOps.deleteFromIvfPqIndex(
          emb.filter(col("vec_id") % 10 === 7).select("vec_id"), dir)
        def run() = SimilarityOps.ivfPqTopKIndexed(queries, dir, emb, 3,
            nprobe = cents.length, rerankFactor = 1000000)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
        val viaTombstones = run().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
        SimilarityOps.vacuumIvfPqIndex(s, dir)
        val afterVacuum = run()
        val av = afterVacuum.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
        require(av == viaTombstones,
          s"vacuum changed neighbors: ${av.diff(viaTombstones)} / " +
            s"${viaTombstones.diff(av)}")
        afterVacuum
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c
             |  WHERE vec_id != q_id AND vec_id % 10 != 7)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // DELETES interleaved with the EXACTLY-ONCE IVF-PQ ingest loop
    // (r19 — the last delete × ingest interaction unpinned across the
    // store families: ivfpq_index_delete covers tombstones on a
    // log-less index, the ingest gates never delete). Two batches
    // commit through the wrapper, then vec_id % 10 == 7 is DELETED —
    // tombstones hit the UNSTAMPED seed base and BOTH stamped batches
    // at once. The covering topk is compared in-gate via tombstones
    // and after vacuumIvfPqIndex (which runs under the maintenance
    // lease against the live commit log — tombstone-filtering ≡
    // physical fold), then batch 2 RE-INGESTS the deleted vectors
    // whose vec_id % 3 == 1 against the vacuumed layout: those must
    // serve again (tombstones folded, rows re-encoded against the
    // stored quantizers), while the rest of the deleted set stays
    // gone. The brute-force oracle states exactly that survivorship.
    QueryDef("ivfpq_ingest_delete_live",
      (s, d) => {
        import graft.llm.{IngestCommit, SimilarityOps}
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val seed = emb.filter(col("vec_id") % 3 === 0)
        val b0 = emb.filter(col("vec_id") % 3 === 1)
        val b1 = emb.filter(col("vec_id") % 3 === 2)
        val cents = SimilarityOps.trainIvfCentroids(
          seed, "vec_id", "embedding", 4)
        val cbs = SimilarityOps.trainPqCodebooksResidual(seed, "vec_id",
          "embedding", cents, m = 8, ksub = 8, iters = 1)
        val root = s"$scratch/ivfpq_ingest_del_live"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        val (idx, corp) = (s"$root/index", s"$root/corpus")
        SimilarityOps.writeIvfPqIndex(seed, idx, cents, cbs)
        IngestCommit.ivfPqIngestBatch(b0, 0L, idx, corp)
        IngestCommit.ivfPqIngestBatch(b1, 1L, idx, corp)
        SimilarityOps.deleteFromIvfPqIndex(
          emb.filter(col("vec_id") % 10 === 7).select("vec_id"), idx)
        def run() = SimilarityOps.ivfPqTopKIndexed(queries, idx, emb, 3,
            nprobe = cents.length, rerankFactor = 1000000)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
        val viaTombstones = run().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
        SimilarityOps.vacuumIvfPqIndex(s, idx)
        val av = run().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
        require(av == viaTombstones,
          s"vacuum changed neighbors: ${av.diff(viaTombstones)} / " +
            s"${viaTombstones.diff(av)}")
        IngestCommit.ivfPqIngestBatch(
          emb.filter(col("vec_id") % 10 === 7 && col("vec_id") % 3 === 1),
          2L, idx, corp)
        run()
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c
             |  WHERE vec_id != q_id
             |    AND NOT (vec_id % 10 = 7 AND vec_id % 3 <> 1))
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // Z-ordered (Morton-curve) layout — MULTI-column data skipping,
    // the dimension the single-column sorted layout above cannot
    // cover: interleaving the high bits of user_id and event_id tiles
    // the plane into near-square cells, so every output file carries
    // narrow min/max footer stats on BOTH columns and a selective
    // predicate on EITHER skips most files (Delta OPTIMIZE ZORDER BY
    // semantics; ZOrderSpec measures the per-file spread vs a linear
    // sort). The gate reads the rewritten layout back through a
    // two-column selective filter and states the identical slice from
    // the original parquet: a row lost in the rewrite, a key collision
    // dropping rows, or a filter not surviving the layout hash-fails.
    // Both predicate bounds reach the scan as PushedFilters (pinned in
    // PlanAuditSpec next to the sorted-layout pin).
    QueryDef("parquet_zorder_layout",
      (s, d) => {
        val path = s"$scratch/zorder_events"
        val in = T.events(s, d)
          .select("event_id", "ts", "user_id", "value")
        graft.sources.ZOrder.writeZOrdered(
          in, path, Seq("user_id", "event_id"), bits = 16, nFiles = 8)
        s.read.parquet(path)
          .filter(col("user_id") < 40 && col("event_id") < 20000)
          .select("event_id", "ts", "user_id", "value")
      },
      Some("""SELECT event_id, ts, user_id, value FROM events
             |WHERE user_id < 40 AND event_id < 20000""".stripMargin))
  )
}
