package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException,
  InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** WARC/WET web-extract reader + writer (ISO 28500 WARC/1.0, the
  * Common Crawl "WET" conversion profile — the canonical 100 TB
  * crawl-text input feeding the curation tier: stripHtml is for raw
  * WARC responses; WET shards arrive pre-extracted as `conversion`
  * records of plain text).
  *
  * Wire format, per record:
  * {{{
  *   WARC/1.0 CRLF
  *   Header-Name: value CRLF  ...  CRLF      (blank line ends headers)
  *   <Content-Length bytes of payload> CRLF CRLF
  * }}}
  * A shard leads with one `warcinfo` record, then one `conversion`
  * record per page. Non-conversion records are skipped by the reader.
  *
  * Scale shape: ONE TASK PER FILE — WET shards ship whole-file-gzipped
  * (a single gzip member; byte-range splits cannot resynchronize), and
  * Common Crawl publishes ~64k ≈1 GB shards per snapshot, so per-file
  * parallelism IS the production shape — the same honest statement as
  * the ExcelIo/HtmlIo whole-file formats. A directory drop scans with
  * full cluster parallelism; record streaming holds ONE record in
  * memory at a time, with `maxRecordBytes` failing loudly on a
  * corrupt/hostile length instead of OOMing an executor. The writer
  * streams `toLocalIterator` partition-at-a-time (bounded driver
  * memory, like the other interchange writers).
  */
object WetIo {

  val schema: StructType = StructType(Seq(
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("record_id", StringType),
    StructField("content_length", LongType),
    StructField("text", StringType)))

  /** Read a .wet / .wet.gz file or a directory of them. */
  def read(spark: SparkSession, path: String,
      maxRecordBytes: Long = 64L << 20): DataFrame = {
    // payloads materialize as one Array[Byte]: a cap beyond
    // Int.MaxValue would let a >2 GB Content-Length overflow the
    // toInt allocation into an opaque NegativeArraySizeException
    require(maxRecordBytes > 0 && maxRecordBytes <= Int.MaxValue,
      s"maxRecordBytes must be in (0, Int.MaxValue]: $maxRecordBytes")
    val files = SplitRead.inputFiles(spark, path, WetSuffixes: _*)
    SplitRead.scan(spark, schema, files.map(_ -> ())) { case (f, _, raw) =>
      val in = new BufferedInputStream(
        if (f.endsWith(".gz")) new GZIPInputStream(raw) else raw, 1 << 16)
      new Iterator[Row] {
        private var nextRec: Row = advance()
        private def advance(): Row = {
          var r = readRecord(in, f, maxRecordBytes)
          while (r != null && r._1 != "conversion") // skip warcinfo etc.
            r = readRecord(in, f, maxRecordBytes)
          // closing at EOF frees a gzip inflater now, not at GC
          if (r == null) { in.close(); null }
          else Row(r._2, r._3, r._4, r._5, r._6)
        }
        def hasNext: Boolean = nextRec != null
        def next(): Row = { val r = nextRec; nextRec = advance(); r }
      }
    }
  }

  private val WetSuffixes = Seq(".wet", ".wet.gz")

  /** One record: (type, uri, date, id, length, text); null at EOF. */
  private def readRecord(in: InputStream, file: String,
      maxRecordBytes: Long): (String, String, String, String, Long, String) = {
    var first = readLine(in)
    while (first != null && first.isEmpty) first = readLine(in) // inter-record CRLFs
    if (first == null) return null
    require(first.startsWith("WARC/"),
      s"$file: expected a WARC/1.x version line, got '${first.take(40)}'")
    var tpe = ""; var uri = ""; var date = ""; var id = ""; var len = -1L
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      require(i > 0, s"$file: malformed WARC header line '${line.take(60)}'")
      val (k, v) = (line.substring(0, i).trim, line.substring(i + 1).trim)
      k.toLowerCase match {
        case "warc-type" => tpe = v
        case "warc-target-uri" => uri = v
        case "warc-date" => date = v
        case "warc-record-id" => id = v
        case "content-length" => len = v.toLong
        case _ => // tolerated: WARC allows arbitrary named fields
      }
      line = readLine(in)
    }
    require(len >= 0, s"$file: record without Content-Length")
    require(len <= maxRecordBytes,
      s"$file: record of $len bytes exceeds maxRecordBytes=$maxRecordBytes")
    val payload = new Array[Byte](len.toInt)
    var off = 0
    while (off < len) {
      val n = in.read(payload, off, len.toInt - off)
      if (n < 0) throw new EOFException(
        s"$file: EOF inside a $len-byte payload at offset $off")
      off += n
    }
    (tpe, uri, date, id, len, new String(payload, UTF_8))
  }

  /** Longest header line we will buffer: a corrupt/hostile file with
    * no newlines must fail loudly here, not OOM an executor before the
    * Content-Length guard is ever reached. Real WARC headers are
    * well under 1 KB; URIs cap at 64 KB in every crawler. */
  private val MaxHeaderLineBytes = 1 << 20

  /** CRLF/LF line, decoded as UTF-8 (the writer's encoding — byte-as-
    * char would mojibake non-ASCII IRIs); null at EOF. */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(80)
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      buf.write(c)
      require(buf.size <= MaxHeaderLineBytes,
        s"header line exceeds $MaxHeaderLineBytes bytes — corrupt or " +
          "hostile input (no newline found)")
      c = in.read()
    }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
      bytes.length - 1 else bytes.length
    new String(bytes, 0, n, UTF_8)
  }

  private def openOut(fs: org.apache.hadoop.fs.FileSystem, path: String,
      gzip: Boolean): BufferedOutputStream = {
    val raw = fs.create(new Path(path), true)
    new BufferedOutputStream(
      if (gzip) new GZIPOutputStream(raw) else raw, 1 << 16)
  }

  private def writeRec(out: BufferedOutputStream,
      headers: Seq[(String, String)], payload: Array[Byte]): Unit = {
    out.write("WARC/1.0\r\n".getBytes(UTF_8))
    (headers :+ ("Content-Length" -> payload.length.toString)).foreach {
      case (k, v) => out.write(s"$k: $v\r\n".getBytes(UTF_8))
    }
    out.write("\r\n".getBytes(UTF_8))
    out.write(payload)
    out.write("\r\n\r\n".getBytes(UTF_8))
  }

  private def writeInfoRec(out: BufferedOutputStream, date: String): Unit =
    writeRec(out, Seq("WARC-Type" -> "warcinfo", "WARC-Date" -> date,
      "WARC-Record-ID" -> "<urn:graft:warcinfo:0>",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-wet-writer\r\n".getBytes(UTF_8))

  private def writeConvRec(out: BufferedOutputStream, uri: String,
      text: String, date: String, n: Long): Long = {
    val payload = Option(text).getOrElse("").getBytes(UTF_8)
    writeRec(out, Seq("WARC-Type" -> "conversion",
      "WARC-Target-URI" -> uri, "WARC-Date" -> date,
      "WARC-Record-ID" -> s"<urn:graft:record:$n>",
      "Content-Type" -> "text/plain"), payload)
    payload.length.toLong
  }

  /** Write (target_uri, text) rows as ONE deterministic WET shard:
    * a warcinfo record then a conversion record per row in the frame's
    * iterator order; Content-Length is the exact UTF-8 byte count and
    * record ids are a deterministic per-shard counter (no wall clock —
    * `date` is the caller's corpus timestamp, so a re-run is
    * byte-identical). Gzip chosen by the file extension. Driver-side
    * streaming (bounded memory) — the interchange edge; the export
    * path at corpus scale is [[writeShards]]. */
  def write(df: DataFrame, path: String,
      date: String = "2026-01-01T00:00:00Z"): Unit = {
    val cols = df.columns
    require(cols.contains("target_uri") && cols.contains("text"),
      s"WetIo.write needs target_uri and text columns, got ${cols.mkString(",")}")
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(hconf)
    val out = openOut(fs, path, gzip = path.endsWith(".gz"))
    try {
      writeInfoRec(out, date)
      val it = df.select("target_uri", "text").toLocalIterator()
      var n = 0L
      while (it.hasNext) {
        val row = it.next(); n += 1
        writeConvRec(out, row.getString(0), row.getString(1), date, n)
      }
    } finally out.close()
  }

  /** DISTRIBUTED sharded WET export — the 100 TB path: `nShards`
    * gzipped shards written EXECUTOR-side, one `part-<k>.wet.gz` per
    * shard, each record landing in its shard by the deterministic
    * md5-hash of its URI (the writeTrainingShards idiom — membership
    * survives reprocessing and relayout) and written in (uri) order
    * within the shard. Every shard is therefore byte-identical across
    * re-runs: hash assignment, sort order, per-shard record counters,
    * and the caller's `date` are all layout-free. One repartition on
    * the shard id; each task streams its rows straight to the store
    * (bounded memory), grouping by shard inside the partition so a
    * task owning several shard ids emits each to its own file.
    * Returns (shard, n_records, payload_bytes) — the export manifest,
    * one row per shard. */
  def writeShards(df: DataFrame, dir: String, nShards: Int,
      date: String = "2026-01-01T00:00:00Z"): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val cols = df.columns
    require(cols.contains("target_uri") && cols.contains("text"),
      s"WetIo.writeShards needs target_uri and text columns, got ${cols.mkString(",")}")
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val dfs = new Path(dir).getFileSystem(hconf)
    dfs.mkdirs(new Path(dir))
    // overwrite semantics: clear prior part files and orphaned temps
    // BEFORE the job — otherwise a re-export to the same directory
    // would leave stale shards from a previous (possibly wider) run
    // beside fresh ones, and rename-if-absent filesystems (HDFS)
    // would silently keep ALL old data while the manifest reports new
    if (dfs.exists(new Path(dir)))
      dfs.listStatus(new Path(dir)).map(_.getPath).foreach { p =>
        val n = p.getName
        if ((n.startsWith("part-") && WetSuffixes.exists(n.endsWith)) ||
            (n.startsWith(".part-") && n.endsWith(".tmp")))
          dfs.delete(p, false)
      }
    val bConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import spark.implicits._
    val staged = df
      .withColumn("__shard", pmod(graft.operators.SampleOps
        .hashU32(col("target_uri"), "wetshard"), lit(nShards.toLong)))
      .repartition(nShards, col("__shard"))
      .sortWithinPartitions(col("__shard"), col("target_uri"), col("text"))
      .select(col("__shard").cast("long"), col("target_uri"), col("text"))
    val manifest = staged.mapPartitions { rows =>
      val fsx = new Path(dir).getFileSystem(bConf.value.value)
      // Task-attempt commit protocol: write to an attempt-suffixed
      // temp, then rename into place. Under speculative execution two
      // attempts may race; HDFS rename-if-absent picks one winner and
      // the loser deletes its temp — harmless either way, because the
      // shard bytes are DETERMINISTIC (hash membership + in-shard sort
      // + fixed date), so both attempts wrote identical content.
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      var cur = -1L
      var out: BufferedOutputStream = null
      var n = 0L; var bytes = 0L
      val acc = Seq.newBuilder[(Long, Long, Long)]
      def tmpPath(sh: Long) = new Path(dir, s".part-$sh.wet.gz.$attempt.tmp")
      def finalPath(sh: Long) = new Path(dir, s"part-$sh.wet.gz")
      def close(): Unit = if (out != null) {
        out.close()
        // the driver cleared prior part files; a present final here
        // means a speculative twin already committed IDENTICAL bytes
        if (!fsx.rename(tmpPath(cur), finalPath(cur))) {
          fsx.delete(tmpPath(cur), false) // lost the race
          require(fsx.exists(finalPath(cur)),
            s"shard $cur: rename failed and no committed file exists")
        }
        acc += ((cur, n, bytes)); out = null
      }
      rows.foreach { r =>
        val sh = r.getLong(0)
        if (sh != cur) {
          close(); cur = sh; n = 0L; bytes = 0L
          out = openOut(fsx, tmpPath(sh).toString, gzip = true)
          writeInfoRec(out, date)
        }
        n += 1
        bytes += writeConvRec(out, r.getString(1), r.getString(2), date, n)
      }
      close()
      acc.result().iterator
    }.toDF("shard", "n_records", "payload_bytes")
    // materialize the writes NOW (mapPartitions is lazy) and return
    // the collected manifest as a small local frame
    val rowsOut = manifest.collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rowsOut.toSeq, 1), manifest.schema)
  }
}
