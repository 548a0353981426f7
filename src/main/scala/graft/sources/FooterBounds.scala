package graft.sources

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, IntegralDivide, Literal, MicrosToTimestamp, TimestampAddInterval}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DayTimeIntervalType, LongType, TimestampType}

import graft.online.ParquetPointReader

/** Metadata-only timestamp bounds: min/max of a column straight from
  * parquet footer statistics, with NO Spark job.
  *
  * The PIT join needs the entity df's (min, max) event-ts once per call
  * to derive the feature-scan pruning window [min − ttl, max] (O5,
  * reference bigquery.py:418-437). That window is purely an
  * OPTIMIZATION — every candidate outside it is already excluded by the
  * per-row as-of predicate — so any SUPERSET of the true bounds is
  * correct, which is what makes footer stats usable even under
  * filters the trace ignores. When the entity frame is a projection
  * over a parquet relation and the ts column traces (through aliases,
  * optionally plus a constant day-time interval — the `orderdate +
  * INTERVAL 365 DAY` shape — and through the ingest layer's
  * nanos→micros conversion `timestamp_micros(ts div 1000)`, the
  * TIMESTAMP(NANOS) normalization in [[Tables.normalize]]) to a
  * physical INT64 timestamp column, the bounds come from column-chunk
  * statistics: one footer read per file instead of a full-column
  * aggregation job. At 100 TB that replaces a scan of the ts column
  * with O(files) driver metadata reads — bounded here at
  * [[MaxFooterFiles]] files, beyond which the distributed agg (itself
  * a narrow column scan) is the better plan anyway.
  *
  * Returns None whenever ANY precondition fails — unexpected plan
  * shape, non-parquet relation, partition-derived column, a file whose
  * footer lacks stats for the column, INT96 timestamps (no usable
  * stats), unit mismatch between the plan's conversion and the file's
  * annotation — and the caller falls back to the aggregation job.
  * Nulls need no care: parquet min/max stats ignore nulls exactly like
  * the agg's min()/max(), and a file with no non-null value reports
  * empty stats (skipped; it cannot contribute a bound). An all-null
  * column across all files yields None → fallback agg returns
  * (null, null), the already-handled no-bounds case.
  */
object FooterBounds {

  /** Above this many files the distributed agg beats serial
    * driver-side footer reads. */
  val MaxFooterFiles = 64

  /** What the traced plan expression does to the physical long before
    * it becomes TimestampType micros. */
  private sealed trait Unit
  private case object Micros extends Unit   // value IS micros (TimestampType column)
  private case object Nanos extends Unit    // value div 1000 (truncating) = micros

  private final case class Trace(attr: Attribute, shiftMicros: Long, unit: Unit)

  /** (min, max) of `tsCol` over `df` from parquet footers alone, or
    * None when the plan/files don't support a metadata-only answer.
    * The result may be a superset of the true bounds when the plan
    * contains filters (they are traced through, not applied) — callers
    * must only use it for conservative pruning windows. */
  def tsBounds(df: DataFrame, tsCol: String): Option[(Timestamp, Timestamp)] = {
    try {
      val plan = df.queryExecution.analyzed
      for {
        attr0 <- plan.output.find(_.name == tsCol)
        t <- trace(plan, attr0, 0L, Micros)
        rel <- leafRelation(plan)
        colName <- physicalName(rel, t)
        bounds <- footerMinMax(df, rel, colName, t.unit)
      } yield (tsOf(bounds._1 + t.shiftMicros), tsOf(bounds._2 + t.shiftMicros))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // metadata-only pruning is best-effort by contract; surface the
        // reason only when explicitly debugging
        if (sys.env.contains("GRAFT_FOOTER_DEBUG")) e.printStackTrace()
        None
    }
  }

  /** Exact micros-since-epoch → Timestamp (sub-ms precision kept via
    * setNanos — truncating to ms would shrink the upper bound). */
  private def tsOf(micros: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    ts.setNanos(Math.floorMod(micros, 1000000L).toInt * 1000)
    ts
  }

  /** Trace `attr` down through Project/SubqueryAlias/Filter layers to
    * the relation's own attribute, accumulating any constant day-time
    * interval shifts (`ts + INTERVAL ...`) and at most one physical-unit
    * conversion (the innermost nanos→micros layer). Filters are
    * skipped — safe because the caller's contract is a superset
    * window. */
  @annotation.tailrec
  private def trace(plan: LogicalPlan, attr: Attribute, shift: Long,
      unit: Unit): Option[Trace] =
    plan match {
      case p: Project =>
        p.projectList.find(_.exprId == attr.exprId) match {
          case Some(ne) => unwrap(ne) match {
            case Some((a, d, layerUnit)) =>
              // a unit conversion may appear at most once (there is only
              // one physical column under the chain); a second one means
              // a shape this trace doesn't understand
              if (layerUnit != Micros && unit != Micros) None
              else trace(p.child, a, shift + d,
                if (layerUnit != Micros) layerUnit else unit)
            case None => None
          }
          case None => None // attr not produced here — unexpected shape
        }
      case s: SubqueryAlias => trace(s.child, attr, shift, unit)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        trace(f.child, attr, shift, unit)
      case _: LogicalRelation =>
        if (plan.output.exists(_.exprId == attr.exprId)) Some(Trace(attr, shift, unit))
        else None
      case _ => None
    }

  /** One projection layer: attr, alias-of-attr, alias-of
    * (attr + constant day-time interval), or the ingest nanos→micros
    * conversion `timestamp_micros(attr div 1000)` — modulo identity
    * timestamp→timestamp casts the analyzer inserts around the add. */
  private def unwrap(e: Expression): Option[(Attribute, Long, Unit)] = {
    def stripNoopCast(x: Expression): Expression = x match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.dataType == TimestampType && c.child.dataType == TimestampType =>
        stripNoopCast(c.child)
      case other => other
    }
    e match {
      case a: AttributeReference => Some((a, 0L, Micros))
      case Alias(child, _) => stripNoopCast(child) match {
        case a: AttributeReference => Some((a, 0L, Micros))
        case TimestampAddInterval(a: AttributeReference,
            Literal(micros: Long, _: DayTimeIntervalType), _) => Some((a, micros, Micros))
        case MicrosToTimestamp(IntegralDivide(a: AttributeReference, d, _))
            if a.dataType == LongType && d.foldable &&
              d.dataType == LongType && d.eval() == 1000L =>
          // the ANALYZED plan carries the divisor as
          // cast(1000 as bigint) — constant folding hasn't run yet, so
          // a bare Literal(1000L) pattern never matches a real plan
          // (caught by the PlanSpec nanos fixture); accept any foldable
          // bigint divisor that evaluates to 1000
          Some((a, 0L, Nanos))
        case _ => None
      }
      case _ => None
    }
  }

  private def leafRelation(plan: LogicalPlan): Option[HadoopFsRelation] =
    plan.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] => Some(fs)
        case _ => None
      }
      case _ => None
    }

  /** The physical parquet column name for the traced attribute: a
    * top-level DATA column (partition columns have no footer stats) of
    * the Spark type the trace's unit implies — TimestampType for
    * micros, the nanosAsLong LongType for nanos. */
  private def physicalName(rel: HadoopFsRelation, t: Trace): Option[String] = {
    val expected = t.unit match {
      case Micros => TimestampType
      case Nanos => LongType
    }
    if (t.attr.dataType == expected &&
        rel.dataSchema.fieldNames.contains(t.attr.name) &&
        !rel.partitionSchema.fieldNames.contains(t.attr.name))
      Some(t.attr.name)
    else None
  }

  /** Min/max MICROS across every file's column-chunk stats; None if any
    * file lacks usable INT64 timestamp stats of the expected unit for
    * the column. Nanos stats truncate-divide to micros — monotone, exactly
    * the ingest conversion. */
  private def footerMinMax(df: DataFrame, rel: HadoopFsRelation,
      colName: String, unit: Unit): Option[(Long, Long)] = {
    val files = rel.location.inputFiles
    if (files.isEmpty || files.length > MaxFooterFiles) return None
    val conf = df.sparkSession.sessionState.newHadoopConf()
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var seen = false
    files.foreach { f =>
      val reader = ParquetPointReader.open(conf, new Path(f))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        if (!schema.containsField(colName)) return None
        val fld = schema.getFields.get(schema.getFieldIndex(colName))
        if (!fld.isPrimitive) return None
        val prim = fld.asPrimitiveType()
        val expectedUnit = unit match {
          case Micros => org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
          case Nanos => org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
        }
        val ok = prim.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
          (prim.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == expectedUnit
            case _ => false
          })
        if (!ok) return None
        reader.getFooter.getBlocks.asScala.foreach { block =>
          // locate the chunk by its LEAF PATH, not the top-level field
          // index: getColumns() is leaf-ordered, so any group-typed
          // field before this column fans out into several leaves and
          // an index lookup would read another column's statistics
          // (type-gated above on the NAME, so a misaligned INT64 leaf
          // would silently pass). The traced column is a verified
          // top-level primitive — its leaf path is exactly [colName].
          val chunk = block.getColumns.asScala
            .find { c => val p = c.getPath.toArray; p.length == 1 && p(0) == colName }
            .getOrElse(return None)
          val stats = chunk.getStatistics
          // stats missing/untrusted for a chunk with rows → can't bound
          if (stats == null || stats.isEmpty) {
            if (block.getRowCount > 0 && chunk.getValueCount > 0) return None
          } else if (stats.hasNonNullValue) {
            var lo = stats.genericGetMin.asInstanceOf[java.lang.Long].longValue()
            var hi = stats.genericGetMax.asInstanceOf[java.lang.Long].longValue()
            // Spark's `div` (IntegralDivide) TRUNCATES toward zero —
            // mirror it exactly (Java `/`), not floorDiv: for negative
            // (pre-1970) nanos floorDiv sits 1µs below the true
            // converted max, and prepareFeature's `ts <= max` filter
            // would prune a legitimately matching feature row.
            // Truncation is monotone, so the converted footer min/max
            // remain the exact bounds of the converted per-row values.
            if (unit == Nanos) { lo = lo / 1000L; hi = hi / 1000L }
            if (lo < mn) mn = lo
            if (hi > mx) mx = hi
            seen = true
          }
          // hasNonNullValue == false: all-null chunk, contributes nothing
        }
      } finally reader.close()
    }
    if (seen) Some((mn, mx)) else None
  }
}
