package graft.online

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet reads via parquet-mr — NO Spark job. The online
  * point-read path must not pay job scheduling (SURVEY §3.3); a bucket
  * of the ParquetOnlineStore is small enough to scan directly on the
  * serving thread. Handles the value shapes Spark writes for our type
  * universe: INT32/INT64 (plus timestamp annotations and INT96),
  * FLOAT/DOUBLE, BOOLEAN, BINARY (utf8 or raw), and one-level LIST
  * groups. */
object ParquetPointReader {

  /** Open `f` with `conf` for its read options too. The one-argument
    * `ParquetFileReader.open(InputFile)` builds its options from a
    * `new Configuration()`, which re-parses Hadoop's XML defaults on
    * every open (~75% of a 19 ms bucket-file decode). */
  def open(conf: Configuration, f: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      HadoopReadOptions.builder(conf).build())

  /** The schema `spark.read.parquet` infers from `f`'s footer (Spark's
    * own schema metadata when present, else the converted parquet
    * schema, under the session's parquet settings), read on the driver
    * without a Spark job. */
  def sparkSchema(spark: SparkSession, f: Path): StructType = {
    val reader = open(spark.sparkContext.hadoopConfiguration, f)
    try ParquetFileFormat.readSchemaFromFooter(new Footer(f, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }

  /** All rows of the given parquet files as (column -> value) maps;
    * missing optional fields map to null. `prune` = (column, requested
    * values): row groups whose min/max statistics exclude every
    * requested value are skipped without decoding — effective because
    * the store writes each bucket sorted by key, so groups partition
    * the key range. */
  def readFiles(conf: Configuration, files: Seq[Path],
      prune: Option[(String, Seq[Any])] = None): Seq[Map[String, Any]] =
    readFilesCounting(conf, files, prune)._1

  /** readFiles plus the number of row groups skipped (for tests). */
  def readFilesCounting(conf: Configuration, files: Seq[Path],
      prune: Option[(String, Seq[Any])] = None): (Seq[Map[String, Any]], Int) = {
    val out = mutable.Buffer[Map[String, Any]]()
    var skipped = 0
    files.foreach { f =>
      val reader = open(conf, f)
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val columnIO = new ColumnIOFactory().getColumnIO(schema)
        val blocks = reader.getFooter.getBlocks
        var bi = 0
        while (bi < blocks.size()) {
          if (prune.exists { case (c, vs) => groupExcludes(blocks.get(bi), c, vs) }) {
            reader.skipNextRowGroup()
            skipped += 1
          } else {
            val pages = reader.readNextRowGroup()
            val rr = columnIO.getRecordReader(pages, new GroupRecordConverter(schema))
            var i = 0L
            val n = pages.getRowCount
            while (i < n) {
              out += groupToMap(schema, rr.read())
              i += 1
            }
          }
          bi += 1
        }
      } finally reader.close()
    }
    (out.toSeq, skipped)
  }

  /** True iff the row group's [min, max] for `column` excludes every
    * requested value. Conservative: missing/unknown stats never skip. */
  private def groupExcludes(block: org.apache.parquet.hadoop.metadata.BlockMetaData,
      column: String, values: Seq[Any]): Boolean = {
    import scala.jdk.CollectionConverters._
    block.getColumns.asScala.find(_.getPath.toDotString == column).exists { cc =>
      val st: org.apache.parquet.column.statistics.Statistics[_] = cc.getStatistics
      if (st == null || !st.hasNonNullValue) false
      else (st.genericGetMin, st.genericGetMax) match {
        case (mn: java.lang.Long, mx: java.lang.Long) =>
          values.forall {
            case l: Long => l < mn || l > mx
            case i: Int => i.toLong < mn || i.toLong > mx
            case _ => false
          }
        case (mn: java.lang.Integer, mx: java.lang.Integer) =>
          values.forall {
            case i: Int => i < mn || i > mx
            case l: Long => l < mn.toLong || l > mx.toLong
            case _ => false
          }
        case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
          // UTF8 string stats order is unsigned lexicographic — use the
          // parquet comparator, not Binary.compareTo (deprecated, and
          // signed-byte order would mis-prune non-ASCII keys)
          val cmp = org.apache.parquet.schema.PrimitiveComparator
            .UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR
          values.forall {
            case s: String =>
              val b = org.apache.parquet.io.api.Binary.fromString(s)
              cmp.compare(b, mn) < 0 || cmp.compare(b, mx) > 0
            case _ => false
          }
        case _ => false
      }
    }
  }

  private def groupToMap(schema: MessageType, g: Group): Map[String, Any] =
    (0 until schema.getFieldCount).map { i =>
      val field = schema.getType(i)
      val v =
        if (g.getFieldRepetitionCount(i) == 0) null
        else if (field.isPrimitive) primitive(field.asPrimitiveType(), g, i)
        else listValue(field.asGroupType(), g.getGroup(i, 0))
      field.getName -> v
    }.toMap

  /** Spark's 3-level list encoding: group (LIST) { repeated group list {
    * element } }. */
  private def listValue(t: GroupType, g: Group): Any = {
    if (t.getLogicalTypeAnnotation != LogicalTypeAnnotation.listType())
      throw new IllegalArgumentException(s"unsupported nested type ${t.getName}")
    val repeated = t.getType(0).asGroupType()
    val elemType = repeated.getType(0)
    val n = g.getFieldRepetitionCount(0)
    (0 until n).map { i =>
      val entry = g.getGroup(0, i)
      if (entry.getFieldRepetitionCount(0) == 0) null
      else if (elemType.isPrimitive) primitive(elemType.asPrimitiveType(), entry, 0)
      else throw new IllegalArgumentException("nested lists not supported")
    }
  }

  private def primitive(t: PrimitiveType, g: Group, i: Int): Any = {
    import PrimitiveType.PrimitiveTypeName._
    t.getPrimitiveTypeName match {
      case INT64 => t.getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation =>
          timestampOf(g.getLong(i, 0), ts.getUnit, ts.isAdjustedToUTC)
        case _ => g.getLong(i, 0)
      }
      case INT32 => g.getInteger(i, 0)
      case DOUBLE => g.getDouble(i, 0)
      case FLOAT => g.getFloat(i, 0)
      case BOOLEAN => g.getBoolean(i, 0)
      case BINARY | FIXED_LEN_BYTE_ARRAY =>
        val b = g.getBinary(i, 0).getBytes
        if (t.getLogicalTypeAnnotation.isInstanceOf[StringLogicalTypeAnnotation])
          new String(b, StandardCharsets.UTF_8)
        else b
      case INT96 => int96Timestamp(g.getInt96(i, 0).getBytes)
      case other => throw new IllegalArgumentException(s"unsupported parquet type $other")
    }
  }

  /** `utcAdjusted = false` marks TIMESTAMP_NTZ: the stored micros
    * encode a WALL-CLOCK datetime, not an epoch instant — decoding it
    * as epoch would shift the rendered value by the serving JVM's zone
    * offset and break online/offline parity with Spark's NTZ read
    * (review r6). The wall-clock fields are reconstructed in UTC and
    * re-expressed as a local java.sql.Timestamp with the SAME fields —
    * exactly how Spark renders an NTZ value. */
  private def timestampOf(v: Long, unit: LogicalTypeAnnotation.TimeUnit,
      utcAdjusted: Boolean): java.sql.Timestamp = {
    val (epochMillis, nanos) = unit match {
      case LogicalTypeAnnotation.TimeUnit.MILLIS =>
        (v, (Math.floorMod(v, 1000L) * 1000000L).toInt)
      case LogicalTypeAnnotation.TimeUnit.MICROS =>
        (Math.floorDiv(v, 1000L), (Math.floorMod(v, 1000000L) * 1000L).toInt)
      case LogicalTypeAnnotation.TimeUnit.NANOS =>
        (Math.floorDiv(v, 1000000L), Math.floorMod(v, 1000000000L).toInt)
    }
    if (utcAdjusted) {
      val ts = new java.sql.Timestamp(epochMillis)
      ts.setNanos(nanos)
      ts
    } else {
      val ldt = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(epochMillis, 1000L), nanos, java.time.ZoneOffset.UTC)
      java.sql.Timestamp.valueOf(ldt)
    }
  }

  /** Legacy INT96: 8-byte LE nanos-of-day + 4-byte LE julian day. */
  private def int96Timestamp(bytes: Array[Byte]): java.sql.Timestamp = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    val epochDay = julianDay - 2440588L
    val ts = new java.sql.Timestamp(epochDay * 86400000L + nanosOfDay / 1000000L)
    ts.setNanos((nanosOfDay % 1000000000L).toInt)
    ts
  }
}
