package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.{Channels, SeekableByteChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.ipc.message.ArrowBlock
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ATimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** read_feather / to_feather (reference: pandas/io/feather_format.py:87
  * `read_feather`, :37 `to_feather`). Feather v2 IS the Arrow IPC file
  * format, so this reads/writes with the Arrow Java library Spark
  * already ships — no extra dependency.
  *
  * Scale design: an IPC file's footer indexes its record batches, so
  * `read` enumerates the batch blocks on the driver (footer-only, no
  * data read) and loads each batch in a separate Spark task — batches
  * are the parallelism unit, the natural analog of parquet row-groups.
  * The file must be visible to executors (shared filesystem), the same
  * contract parquet reads have. `write` produces the single file the
  * format requires (feather is an interchange format, not a data-lake
  * layout — SURVEY §4 prescribes parquet for that), streaming batches
  * through one bounded VectorSchemaRoot via `toLocalIterator`, never
  * collecting the frame.
  */
object FeatherIo {

  private def sparkType(t: ArrowType): DataType = t match {
    // Unsigned widths (a common pandas feather producer: uint8 category
    // codes, uint32 ids) widen to the next larger SIGNED Spark type so
    // values >= 2^(w-1) survive instead of wrapping negative; uint64 has
    // no signed container and maps to DECIMAL(20,0) (same choice Spark's
    // own JDBC source makes for BIGINT UNSIGNED).
    case i: ArrowType.Int => (i.getBitWidth, i.getIsSigned) match {
      case (64, true) => LongType
      case (32, true) => IntegerType
      case (16, true) => ShortType
      case (_, true) => ByteType
      case (64, false) => DecimalType(20, 0)
      case (32, false) => LongType
      case (16, false) => IntegerType
      case (_, false) => ShortType
    }
    case f: ArrowType.FloatingPoint => f.getPrecision match {
      case FloatingPointPrecision.DOUBLE => DoubleType
      case _ => FloatType
    }
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Bool => BooleanType
    // Arrow's timezone field distinguishes instant (tz set) from
    // wall-clock (tz null) — pandas datetime64[ns] without tz lands
    // here as NTZ, matching Spark's own parquet mapping.
    case t: ArrowType.Timestamp if t.getTimezone == null => TimestampNTZType
    case _: ArrowType.Timestamp => TimestampType
    case _: ArrowType.Date => DateType
    case _: ArrowType.Binary => BinaryType
    case other =>
      throw new UnsupportedOperationException(s"feather type $other")
  }

  private def arrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case LongType => new ArrowType.Int(64, true)
      case IntegerType => new ArrowType.Int(32, true)
      case ShortType => new ArrowType.Int(16, true)
      case ByteType => new ArrowType.Int(8, true)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case StringType => ArrowType.Utf8.INSTANCE
      case BooleanType => ArrowType.Bool.INSTANCE
      case TimestampType => new ArrowType.Timestamp(ATimeUnit.MICROSECOND, "UTC")
      case TimestampNTZType => new ArrowType.Timestamp(ATimeUnit.MICROSECOND, null)
      case DateType => new ArrowType.Date(DateUnit.DAY)
      case BinaryType => ArrowType.Binary.INSTANCE
      case other =>
        throw new UnsupportedOperationException(s"to_feather type $other")
    }
    new Field(f.name, new FieldType(f.nullable, t, null), null)
  }

  /** One Arrow cell → the external Java value Spark's Row converters
    * accept (Instant/LocalDate for temporals — timezone-free). */
  private def cell(v: FieldVector, i: Int): Any =
    if (v.isNull(i)) null
    else v match {
      case x: BigIntVector => x.get(i)
      case x: IntVector => x.get(i)
      case x: SmallIntVector => x.get(i)
      case x: TinyIntVector => x.get(i)
      case x: UInt8Vector => // uint64 → DECIMAL(20,0), zero-extended
        new java.math.BigDecimal(
          new java.math.BigInteger(java.lang.Long.toUnsignedString(x.get(i))))
      case x: UInt4Vector => x.get(i) & 0xffffffffL
      case x: UInt2Vector => x.get(i).toInt // char: already zero-extended
      case x: UInt1Vector => (x.get(i) & 0xff).toShort
      case x: Float8Vector => x.get(i)
      case x: Float4Vector => x.get(i)
      case x: VarCharVector => new String(x.get(i), UTF_8)
      case x: BitVector => x.get(i) == 1
      case x: TimeStampVector => // covers all timestamp unit/tz variants
        val (micros, tz) = x.getField.getType match {
          case t: ArrowType.Timestamp =>
            val m = t.getUnit match {
              case ATimeUnit.SECOND => x.get(i) * 1000000L
              case ATimeUnit.MILLISECOND => x.get(i) * 1000L
              case ATimeUnit.MICROSECOND => x.get(i)
              case ATimeUnit.NANOSECOND => Math.floorDiv(x.get(i), 1000L)
            }
            (m, t.getTimezone)
        }
        val instant = Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L)
        // tz-less (NTZ) columns carry LocalDateTime, the external type
        // Spark's Row converter expects for TimestampNTZType
        if (tz == null)
          java.time.LocalDateTime.ofInstant(instant, java.time.ZoneOffset.UTC)
        else instant
      case x: DateDayVector => LocalDate.ofEpochDay(x.get(i).toLong)
      case x: VarBinaryVector => x.get(i)
      case other =>
        throw new UnsupportedOperationException(
          s"feather vector ${other.getClass.getSimpleName}")
    }

  /** Arrow needs a SeekableByteChannel; FSDataInputStream provides the
    * positioned reads. The stream's opener closes it. */
  private class HadoopSeekableChannel(
      in: org.apache.hadoop.fs.FSDataInputStream, sz: Long)
      extends SeekableByteChannel {
    private var pos = 0L
    private var open = true
    override def read(dst: ByteBuffer): Int = {
      val want = dst.remaining()
      if (want == 0) return 0
      if (pos >= sz) return -1
      val buf = new Array[Byte](math.min(want, 1 << 20))
      val n = in.read(pos, buf, 0, buf.length)
      if (n <= 0) return -1
      dst.put(buf, 0, n)
      pos += n
      n
    }
    override def position(): Long = pos
    override def position(p: Long): SeekableByteChannel = { pos = p; this }
    override def size(): Long = sz
    override def isOpen: Boolean = open
    override def close(): Unit = open = false
    override def write(src: ByteBuffer): Int =
      throw new UnsupportedOperationException("read-only channel")
    override def truncate(s: Long): SeekableByteChannel =
      throw new UnsupportedOperationException("read-only channel")
  }

  /** An IPC file's footer: its schema, length and record-batch blocks. */
  private case class Footer(schema: StructType, length: Long,
      blocks: Seq[(Long, Int, Long)])

  /** Footer metadata only, no record batch read. */
  private def footer(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Footer = {
    val length = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val alloc = new RootAllocator()
    try {
      val reader =
        new ArrowFileReader(new HadoopSeekableChannel(in, length), alloc)
      try {
        val schema = StructType(reader.getVectorSchemaRoot.getSchema
          .getFields.asScala.toSeq.map(f =>
            StructField(f.getName, sparkType(f.getType), f.isNullable)))
        val blocks = reader.getRecordBlocks.asScala.toSeq.map(b =>
          (b.getOffset, b.getMetadataLength, b.getBodyLength))
        Footer(schema, length, blocks)
      } finally reader.close()
    } finally { in.close(); alloc.close() }
  }

  /** pandas `read_feather(path)`: the IPC file (or a directory of them)
    * as a DataFrame, one record batch per split. Paths resolve through
    * the Hadoop FileSystem API, as spark.read.parquet's do, so a file on
    * shared storage is readable from every executor. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = SplitRead.inputFiles(spark, path, ".feather")
    val (schema, footers) = SplitRead.headers(spark, files)(footer)(_.schema)
    val splits = footers.flatMap { case (f, ft) =>
      ft.blocks.map(b => f -> (ft.length, b))
    }
    // Partition count scales with the cluster (defaultParallelism =
    // total executor cores), not a hardcoded local-mode constant: a
    // 10k-batch file on a 1000-core cluster gets 1000 slices of ~10
    // sequential batch loads each, not 32 stragglers.
    SplitRead.scan(spark, schema, splits,
        maxSlices = math.max(spark.sparkContext.defaultParallelism, 1)) {
      case (_, (length, (off, metaLen, bodyLen)), in) =>
        val alloc = new RootAllocator()
        try {
          val reader = new ArrowFileReader(
            new HadoopSeekableChannel(in, length), alloc)
          try {
            reader.loadRecordBatch(new ArrowBlock(off, metaLen, bodyLen))
            val root = reader.getVectorSchemaRoot
            val vecs = root.getFieldVectors.asScala.toArray
            // Row-at-a-time external-Row conversion: acceptable for an
            // interchange format (one pass per batch at ingest); columnar
            // analytics belong in parquet (SURVEY §4), not feather.
            val out = new ArrayBuffer[Row](root.getRowCount)
            var i = 0
            while (i < root.getRowCount) {
              out += Row.fromSeq(vecs.toIndexedSeq.map(v => cell(v, i)))
              i += 1
            }
            out.iterator
          } finally reader.close()
        } finally alloc.close()
    }
  }

  /** pandas `to_feather(df, path)`: stream the frame into one IPC file
    * in `batchSize`-row record batches. */
  def write(df: DataFrame, path: String, batchSize: Int = 4096): Unit = {
    val fields = df.schema.fields
    val arrowSchema = new ArrowSchema(fields.map(arrowField).toSeq.asJava)
    val alloc = new RootAllocator()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val ch = Channels.newChannel(fs.create(p, true))
    try {
      val root = VectorSchemaRoot.create(arrowSchema, alloc)
      try {
        val writer = new ArrowFileWriter(root, null, ch)
        try {
          writer.start()
          val it = df.toLocalIterator().asScala
          it.grouped(batchSize).foreach { rows =>
            root.allocateNew()
            rows.zipWithIndex.foreach { case (row, i) =>
              var c = 0
              while (c < fields.length) {
                setCell(root.getVector(c), i, row.get(c))
                c += 1
              }
            }
            root.setRowCount(rows.size)
            writer.writeBatch()
          }
          writer.end()
        } finally writer.close()
      } finally root.close()
    } finally { ch.close(); alloc.close() }
  }

  private def setCell(v: FieldVector, i: Int, value: Any): Unit =
    (v, value) match {
      case (x: BaseFixedWidthVector, null) => x.setNull(i)
      case (x: BaseVariableWidthVector, null) => x.setNull(i)
      case (x: BigIntVector, n: Long) => x.setSafe(i, n)
      case (x: IntVector, n: Int) => x.setSafe(i, n)
      case (x: SmallIntVector, n: Short) => x.setSafe(i, n)
      case (x: TinyIntVector, n: Byte) => x.setSafe(i, n)
      case (x: Float8Vector, n: Double) => x.setSafe(i, n)
      case (x: Float4Vector, n: Float) => x.setSafe(i, n)
      case (x: VarCharVector, s: String) => x.setSafe(i, s.getBytes(UTF_8))
      case (x: BitVector, b: Boolean) => x.setSafe(i, if (b) 1 else 0)
      case (x: TimeStampVector, t: java.sql.Timestamp) =>
        x.setSafe(i, t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
      case (x: TimeStampVector, t: Instant) =>
        x.setSafe(i, t.getEpochSecond * 1000000L + t.getNano / 1000L)
      case (x: TimeStampVector, t: java.time.LocalDateTime) =>
        val inst = t.toInstant(java.time.ZoneOffset.UTC)
        x.setSafe(i, inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
      case (x: DateDayVector, d: java.sql.Date) =>
        x.setSafe(i, d.toLocalDate.toEpochDay.toInt)
      case (x: DateDayVector, d: LocalDate) =>
        x.setSafe(i, d.toEpochDay.toInt)
      case (x: VarBinaryVector, b: Array[Byte]) => x.setSafe(i, b)
      case (vec, other) =>
        throw new UnsupportedOperationException(
          s"to_feather cell ${vec.getClass.getSimpleName} <- $other")
    }
}
