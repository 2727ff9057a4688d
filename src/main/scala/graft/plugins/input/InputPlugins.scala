package graft.plugins.input

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{Errors, InputPlugin}

/** Shared option plumbing for file-based sources. */
abstract class FileInputPlugin(val options: Map[String, Any],
                               val configDir: Path,
                               override val label: String)
    extends InputPlugin {

  /** Resolve the required `input_path` option; reference message parity
    * (/root/reference/.../input/parquet_scan.py:27-32). */
  protected def inputPath(): Either[Throwable, Path] =
    requiredString("input_path").map(resolvePath).flatMap { resolved =>
      if (!Files.exists(resolved))
        Left(new java.io.FileNotFoundException(
          s"Input file not found: $resolved"))
      else Right(resolved)
    }
}

/** A1/A2 — lazy Parquet source
  * (ref /root/reference/.../input/parquet_scan.py:20-52).
  *
  * `spark.read.parquet` returns an unexecuted plan; the vectorized
  * reader + filter/column pushdown engage at action time. Unlike the
  * reference (single file), the path may also be a directory or glob —
  * at cluster scale a "table" is a directory of part-files and Spark's
  * partition discovery/pruning come free.
  */
class ParquetScanPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileInputPlugin(options, configDir, label) {
  def name: String = "parquet_scan"

  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
    inputPath().flatMap(p => Errors.safe(spark.read.parquet(p.toString)))
}

/** A3 — CSV source with schema inference
  * (ref /root/reference/.../input/csv_scan.py:20-52; options doc'd at
  * docs/plugin_development.md:311-376). */
class CsvScanPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileInputPlugin(options, configDir, label) {
  def name: String = "csv_scan"

  private def reader(spark: SparkSession) =
    spark.read
      .option("header", flag("has_header", true))
      .option("sep", str("separator", ","))
      .option("inferSchema", true)

  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
    inputPath().flatMap(p => Errors.safe(reader(spark).csv(p.toString)))
}

/** JSONL source (newline-delimited JSON — the interchange format of
  * LLM data drops). Schema: explicit via the `schema_ddl` option
  * ("doc_id BIGINT, text STRING, ..." — the scale path: inference
  * reads the data twice and types drift batch-to-batch) or inferred
  * when absent. `multiline = true` switches to one-JSON-document
  * files (not splittable — avoid at scale). */
class JsonScanPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileInputPlugin(options, configDir, label) {
  def name: String = "json_scan"

  private def reader(spark: SparkSession) = {
    val base = spark.read.option("multiLine", flag("multiline", false))
    str("schema_ddl").fold(base)(ddl => base.schema(StructType.fromDDL(ddl)))
  }

  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
    inputPath().flatMap(p => Errors.safe(reader(spark).json(p.toString)))
}

/** ORC source (beyond-reference, same tier as `json_scan`): the other
  * mainstream columnar warehouse format, read through Spark's
  * vectorized ORC reader — predicate pushdown, column pruning and
  * partition discovery behave exactly as for parquet, so a pipeline
  * can consume ORC-lake tables without a conversion pass. */
class OrcScanPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileInputPlugin(options, configDir, label) {
  def name: String = "orc_scan"

  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
    inputPath().flatMap(p => Errors.safe(spark.read.orc(p.toString)))
}

/** A4 — Arrow IPC (Feather) source
  * (ref /root/reference/.../input/ipc_scan.py:20-52).
  *
  * Spark has no built-in Arrow-IPC file source; reads go through the
  * [[graft.sources.ArrowIpcSource]] DataSourceV2 — one task per
  * record batch, column pruning pushed into the scan, no driver
  * materialization — so `ipc_scan` keeps the reference's semantics
  * at cluster scale. ([[ArrowIpc.readFile]] remains as the
  * driver-side reference implementation the DSv2 is tested against.)
  */
class IpcScanPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileInputPlugin(options, configDir, label) {
  def name: String = "ipc_scan"

  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
    inputPath().flatMap(p => Errors.safe(
      spark.read.format("arrow-ipc").load(p.toString)))
}

/** Arrow IPC ⇄ Spark bridge used by [[IpcScanPlugin]] and the IPC
  * writer. Covers the types present in the reference's fixtures
  * (string, ints, floats, bool, date32, timestamp-us — FIXTURES.md §A). */
object ArrowIpc {
  import org.apache.arrow.memory.RootAllocator
  import org.apache.arrow.vector._
  import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
  import org.apache.arrow.vector.types.pojo.{ArrowType, Field => AField}
  import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit => ATimeUnit}

  def toSparkType(t: ArrowType): DataType = t match {
    // Utf8View/BinaryView: the string layout Polars ≥1.x writes by
    // default — same logical type, different buffer layout
    case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 | _: ArrowType.Utf8View =>
      StringType
    case i: ArrowType.Int =>
      (i.getBitWidth, i.getIsSigned) match {
        case (8, true) => ByteType
        case (16, true) => ShortType
        case (32, true) => IntegerType
        case (64, true) => LongType
        // Unsigned widening, as Spark's parquet reader does (SURVEY §1):
        case (8, false) => ShortType
        case (16, false) => IntegerType
        case (32, false) => LongType
        case (64, false) => DecimalType(20, 0)
        case _ => throw new IllegalArgumentException(s"Unsupported int width: $i")
      }
    case f: ArrowType.FloatingPoint =>
      if (f.getPrecision == FloatingPointPrecision.SINGLE) FloatType else DoubleType
    case _: ArrowType.Bool => BooleanType
    case _: ArrowType.Date => DateType
    // tz-less Arrow timestamps are wall-clock values — Spark's NTZ
    // type, matching how its parquet reader infers naive timestamps
    case t: ArrowType.Timestamp =>
      if (t.getTimezone == null) TimestampNTZType else TimestampType
    case _: ArrowType.Binary | _: ArrowType.LargeBinary |
         _: ArrowType.BinaryView => BinaryType
    case other => throw new IllegalArgumentException(s"Unsupported Arrow type: $other")
  }

  def toSparkSchema(fields: java.util.List[AField]): StructType = {
    import scala.jdk.CollectionConverters._
    StructType(fields.asScala.toSeq.map(f =>
      StructField(f.getName, toSparkType(f.getType), f.isNullable)))
  }

  /** Footer-only schema read (mirror of `collect_schema()`). */
  def readSchema(path: Path): StructType = {
    val alloc = new RootAllocator()
    val ch = java.nio.channels.FileChannel.open(path)
    try {
      val reader = new ArrowFileReader(ch, alloc)
      try toSparkSchema(reader.getVectorSchemaRoot.getSchema.getFields)
      finally reader.close()
    } finally { ch.close(); alloc.close() }
  }

  private[graft] def cellValue(v: FieldVector, i: Int): Any = {
    if (v.isNull(i)) null
    else v match {
      case x: VarCharVector => new String(x.get(i), java.nio.charset.StandardCharsets.UTF_8)
      case x: LargeVarCharVector => new String(x.get(i), java.nio.charset.StandardCharsets.UTF_8)
      case x: ViewVarCharVector => new String(x.get(i), java.nio.charset.StandardCharsets.UTF_8)
      case x: ViewVarBinaryVector => x.get(i)
      case x: TinyIntVector => x.get(i)
      case x: SmallIntVector => x.get(i)
      case x: IntVector => x.get(i)
      case x: BigIntVector => x.get(i)
      // get() returns the raw signed byte — mask before widening or
      // values >= 128 arrive negative
      case x: UInt1Vector => (x.get(i) & 0xff).toShort
      case x: UInt2Vector => x.get(i).toInt
      case x: UInt4Vector => java.lang.Integer.toUnsignedLong(x.get(i))
      case x: UInt8Vector => new java.math.BigDecimal(
        java.lang.Long.toUnsignedString(x.get(i)))
      case x: Float4Vector => x.get(i)
      case x: Float8Vector => x.get(i)
      case x: BitVector => x.get(i) == 1
      case x: DateDayVector => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(x.get(i).toLong))
      // tz-less vectors surface as LocalDateTime (Spark NTZ external
      // type); tz-aware ones as java.sql.Timestamp (TimestampType)
      case x: TimeStampMicroVector =>
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(x.get(i), 1000000L),
          (Math.floorMod(x.get(i), 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case x: TimeStampMicroTZVector =>
        java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
          x.get(i), java.time.temporal.ChronoUnit.MICROS))
      case x: TimeStampMilliVector =>
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(x.get(i), 1000L),
          (Math.floorMod(x.get(i), 1000L) * 1000000L).toInt,
          java.time.ZoneOffset.UTC)
      case x: TimeStampMilliTZVector =>
        new java.sql.Timestamp(x.get(i))
      case x: TimeStampNanoVector =>
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(x.get(i), 1000000000L),
          Math.floorMod(x.get(i), 1000000000L).toInt,
          java.time.ZoneOffset.UTC)
      case x: TimeStampNanoTZVector =>
        java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
          x.get(i), java.time.temporal.ChronoUnit.NANOS))
      case x: TimeStampSecVector =>
        java.time.LocalDateTime.ofEpochSecond(x.get(i), 0,
          java.time.ZoneOffset.UTC)
      case x: TimeStampSecTZVector =>
        new java.sql.Timestamp(x.get(i) * 1000L)
      case x: VarBinaryVector => x.get(i)
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported Arrow vector: ${other.getClass.getSimpleName}")
    }
  }

  def readFile(path: Path, spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val alloc = new RootAllocator()
    val ch = java.nio.channels.FileChannel.open(path)
    try {
      val reader = new ArrowFileReader(ch, alloc)
      try {
        val root = reader.getVectorSchemaRoot
        val schema = toSparkSchema(root.getSchema.getFields)
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (reader.loadNextBatch()) {
          val vectors = root.getFieldVectors.asScala.toSeq
          var i = 0
          while (i < root.getRowCount) {
            rows += Row.fromSeq(vectors.map(v => cellValue(v, i)))
            i += 1
          }
        }
        spark.createDataFrame(rows.asJava, schema)
      } finally reader.close()
    } finally { ch.close(); alloc.close() }
  }

  /** Spark → Arrow field mapping for the write paths (driver-side
    * [[writeFile]] and the distributed [[graft.sources.ArrowIpcWriter]]).
    * Covers the reference's `write_ipc` type surface
    * (docs/plugin_development.md:1239-1242). */
  def toArrowField(f: StructField): AField = {
    import org.apache.arrow.vector.types.pojo.FieldType
    val t: ArrowType = f.dataType match {
      case StringType => ArrowType.Utf8.INSTANCE
      case ByteType => new ArrowType.Int(8, true)
      case ShortType => new ArrowType.Int(16, true)
      case IntegerType => new ArrowType.Int(32, true)
      case LongType => new ArrowType.Int(64, true)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case BooleanType => ArrowType.Bool.INSTANCE
      case DateType => new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY)
      case TimestampType => new ArrowType.Timestamp(ATimeUnit.MICROSECOND, "UTC")
      case TimestampNTZType => new ArrowType.Timestamp(ATimeUnit.MICROSECOND, null)
      case BinaryType => ArrowType.Binary.INSTANCE
      case other => throw new IllegalArgumentException(
        s"Unsupported Spark type for IPC write: $other")
    }
    new AField(f.name, new FieldType(f.nullable, t, null), null)
  }

  def toArrowSchema(schema: StructType): org.apache.arrow.vector.types.pojo.Schema = {
    import scala.jdk.CollectionConverters._
    new org.apache.arrow.vector.types.pojo.Schema(
      schema.fields.map(toArrowField).toList.asJava)
  }

  /** Write a (small, driver-collected) DataFrame as one Arrow IPC file.
    * Reference implementation the distributed
    * [[graft.sources.ArrowIpcWriter]] is tested against; the product
    * sink ([[graft.plugins.output.IpcWriterPlugin]]) uses the DSv2
    * path — this stays for tests and tools only. */
  def writeFile(df: DataFrame, path: Path, batchRows: Int = Int.MaxValue): Unit = {
    import scala.jdk.CollectionConverters._

    val rows = df.collect()
    val schema = df.schema
    val alloc = new RootAllocator()
    val aschema = toArrowSchema(schema)
    val root = VectorSchemaRoot.create(aschema, alloc)
    val out = Files.newOutputStream(path)
    try {
      val writer = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(out))
      writer.start()
      // chunk rows into record batches of `batchRows` — each batch is
      // an independently seekable split for the arrow-ipc DSv2 source
      rows.grouped(math.max(1, batchRows)).foreach { chunk =>
        root.allocateNew()
        chunk.zipWithIndex.foreach { case (row, i) =>
          schema.fields.zipWithIndex.foreach { case (f, j) =>
            val vec = root.getVector(j)
            if (row.isNullAt(j)) vec.setNull(i)
            else (vec, f.dataType) match {
              case (v: VarCharVector, _) => v.setSafe(i,
                row.getString(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              case (v: TinyIntVector, _) => v.setSafe(i, row.getByte(j))
              case (v: SmallIntVector, _) => v.setSafe(i, row.getShort(j))
              case (v: IntVector, _) => v.setSafe(i, row.getInt(j))
              case (v: BigIntVector, _) => v.setSafe(i, row.getLong(j))
              case (v: Float4Vector, _) => v.setSafe(i, row.getFloat(j))
              case (v: Float8Vector, _) => v.setSafe(i, row.getDouble(j))
              case (v: BitVector, _) => v.setSafe(i, if (row.getBoolean(j)) 1 else 0)
              case (v: DateDayVector, _) => v.setSafe(i,
                row.getDate(j).toLocalDate.toEpochDay.toInt)
              case (v: TimeStampMicroTZVector, _) =>
                val ts = row.getTimestamp(j).toInstant
                v.setSafe(i, ts.getEpochSecond * 1000000L + ts.getNano / 1000L)
              case (v: TimeStampMicroVector, _) =>
                val ldt = row.getAs[java.time.LocalDateTime](j)
                v.setSafe(i, ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
                  ldt.getNano / 1000L)
              case (v: VarBinaryVector, _) => v.setSafe(i, row.getAs[Array[Byte]](j))
              case (v, t) => throw new IllegalArgumentException(
                s"Unsupported vector/type for IPC write: ${v.getClass.getSimpleName}/$t")
            }
          }
        }
        root.setRowCount(chunk.length)
        writer.writeBatch()
      }
      writer.end()
      writer.close()
    } finally { out.close(); root.close(); alloc.close() }
  }

  implicit private class NullableVector(v: FieldVector) {
    def setNull(i: Int): Unit = v match {
      case x: BaseFixedWidthVector => x.setNull(i)
      case x: BaseVariableWidthVector => x.setNull(i)
      case x: BaseLargeVariableWidthVector => x.setNull(i)
      case _ => throw new IllegalArgumentException("Cannot set null")
    }
  }
}

/** Snapshot source ([[graft.sources.Snapshots]]): read EXACTLY the
  * rows of one committed snapshot version, immune to later appends —
  * the reproducible-training-set scan. Options: input_path (req, the
  * snapshot directory), version (optional int; default latest). */
class SnapshotScanPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileInputPlugin(options, configDir, label) {
  def name: String = "snapshot_scan"

  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
    inputPath().flatMap(p => Errors.safe(
      graft.sources.Snapshots.read(spark, p.toString, int("version", -1))))
}
