package graft.sources

import java.io.{ByteArrayOutputStream, InputStream}

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** The read steps every file reader shares: list the input files, parse
  * each file's header on the driver and check it against the first file,
  * then scan the splits — each task opens its split's file through the
  * broadcast session Hadoop conf. A split carries its file's own header,
  * so files whose headers differ only in layout (offsets, widths, page
  * sizes, codecs) each decode with their own. A reader keeps what is
  * specific to its format: the header parse, the split plan and the row
  * decoder. */
private[sources] object SplitRead {

  /** `path` itself when it is a file; else the directory's files ending
    * in one of `suffixes`, sorted. */
  def inputFiles(spark: SparkSession, path: String,
      suffixes: String*): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath.toString)
          .filter(f => suffixes.exists(f.endsWith)).sorted.toSeq
      else Seq(p.toString)
    require(files.nonEmpty, s"no ${suffixes.mkString("/")} files under $path")
    files
  }

  /** Every file's header, parsed on the driver; each must produce the
    * first file's schema. Returns that schema and each file with its
    * own header. */
  def headers[H](spark: SparkSession, files: Seq[String])(
      parse: (FileSystem, Path) => H)(
      schemaOf: H => StructType): (StructType, Seq[(String, H)]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def parseAt(f: String): H = {
      val p = new Path(f); parse(p.getFileSystem(hconf), p)
    }
    val first = parseAt(files.head)
    val schema = schemaOf(first)
    val rest = files.tail.map { f =>
      val h = parseAt(f)
      requireSchema(f, schemaOf(h), files.head, schema)
      f -> h
    }
    (schema, (files.head -> first) +: rest)
  }

  /** The schema agreement of a multi-file read: the same column names
    * and Spark types, in order, as the first file's. */
  def requireSchema(file: String, got: StructType, first: String,
      want: StructType): Unit = {
    def cols(s: StructType) = s.map(f => (f.name, f.dataType))
    def show(s: StructType) =
      s.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")
    require(cols(got) == cols(want), s"$file: schema (${show(got)}) " +
      s"differs from the first file's, $first (${show(want)})")
  }

  /** The schema a whole-file format's header row (column → name) gives
    * over the first file's inferred `types`: unnamed columns are
    * `_c<i>`, columns past `types` strings. */
  def headerSchema(names: Map[Int, String],
      types: Seq[DataType]): StructType = {
    val n = math.max(types.size, names.keys.maxOption.fold(0)(_ + 1))
    StructType((0 until n).map(i => StructField(names.getOrElse(i, s"_c$i"),
      types.lift(i).getOrElse(StringType), nullable = true)))
  }

  /** One task per split (at most `maxSlices` tasks, each then reading
    * its splits in turn), each split decoded from its file's opened
    * stream. A split is its file and what the decoder needs of it. */
  def scan[S](spark: SparkSession, schema: StructType,
      splits: Seq[(String, S)], maxSlices: Int = Int.MaxValue)(
      decode: (String, S, FSDataInputStream) => Iterator[Row]): DataFrame = {
    val sc = spark.sparkContext
    if (splits.isEmpty)
      return spark.createDataFrame(sc.emptyRDD[Row], schema)
    val conf = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    val rows = sc.parallelize(splits, math.min(splits.size, maxSlices))
      .flatMap { case (f, split) =>
        val p = new Path(f)
        val in = p.getFileSystem(conf.value.value).open(p)
        // partial consumption (limit/take) or a decode failure must not
        // leak the stream: close at task completion, and at the split's
        // end so a task reading several splits holds one stream at a time
        var open = true
        def close(): Unit = if (open) { open = false; in.close() }
        Option(TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => close()))
        val it = decode(f, split, in)
        new Iterator[Row] {
          def hasNext: Boolean = it.hasNext || { close(); false }
          def next(): Row = it.next()
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** A whole-file format's bytes (xlsx, html), failing loudly past
    * `maxBytes`: such a file parses in one piece, in one task. */
  def readWhole(in: InputStream, file: String, maxBytes: Long,
      format: String): Array[Byte] = {
    val out = new ByteArrayOutputStream(1 << 16)
    val buf = new Array[Byte](1 << 20)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      require(out.size <= maxBytes, s"$file is over ${maxBytes >> 20} MB " +
        s"— $format is a driver-bounded interchange format; use parquet " +
        "for data at scale")
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** [[readWhole]] on the driver, for the file a schema is inferred from. */
  def readWhole(spark: SparkSession, file: String, maxBytes: Long,
      format: String): Array[Byte] = {
    val p = new Path(file)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try readWhole(in, file, maxBytes, format) finally in.close()
  }
}
