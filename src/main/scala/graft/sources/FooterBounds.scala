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

  /** Measured average bytes-per-ROW of `colName` over `df`'s backing
    * parquet files, from footer metadata alone (no job): the sum of
    * the column's chunk `totalUncompressedSize` across every leaf
    * under the column, divided by total file rows. This is the
    * broadcast-width signal the as-of gate needs for variable-width
    * payloads — `StringType.defaultSize` is a flat 20 bytes, so a
    * document-text payload under-estimates the shipped winners frame
    * by orders of magnitude (VERDICT r12 #1); footer bytes are the
    * column's ACTUALS. The column is traced through alias-only
    * Project/SubqueryAlias/Filter layers (no arithmetic — widths of
    * computed columns are not a footer fact); None whenever the plan
    * shape, relation kind, or file count doesn't support a
    * metadata-only answer, and the caller must treat None as
    * unmeasurable (refuse, or fall back to its own bound). Filters are
    * traced through, so the returned width is the FILE's average, not
    * the filtered subset's — an estimate by contract. */
  def avgRowBytes(df: DataFrame, colName: String): Option[Double] =
    avgRowBytes(df, Seq(colName)).get(colName)

  /** Multi-column variant: ONE footer sweep measures every requested
    * column (the as-of gate asks about every payload column of a view —
    * a per-column sweep re-parsed the same footers once per column,
    * review r13). Returns only the measurable columns; a column whose
    * trace fails or whose field is absent from any file is simply not
    * in the map. */
  def avgRowBytes(df: DataFrame, colNames: Seq[String]): Map[String, Double] = {
    try {
      val plan = df.queryExecution.analyzed
      leafRelation(plan) match {
        case None => Map.empty
        case Some(rel) =>
          val phys: Map[String, String] = colNames.distinct.flatMap { c =>
            for {
              attr0 <- plan.output.find(_.name == c)
              attr <- traceAlias(plan, attr0)
              if rel.dataSchema.fieldNames.contains(attr.name) &&
                !rel.partitionSchema.fieldNames.contains(attr.name)
            } yield c -> attr.name
          }.toMap
          if (phys.isEmpty) Map.empty
          else footerAvgRowBytes(df, rel, phys)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (sys.env.contains("GRAFT_FOOTER_DEBUG")) e.printStackTrace()
        Map.empty
    }
  }

  /** Total data-file ROW COUNT of `df`'s backing parquet relation from
    * footer metadata alone (no job) — valid as an UPPER BOUND on the
    * frame's cardinality when the plan between root and scan is only
    * Project/SubqueryAlias/Filter layers: filters are traced through,
    * not applied, so the count is the FILES', a superset — callers
    * must only use it where over-counting is the safe direction (the
    * as-of broadcast gate's entity cardinality: more rows → bigger
    * priced broadcast → refusal, VERDICT r13 #4). Row-multiplying or
    * row-reducing operators (Generate/Join/Aggregate/Limit…) reject →
    * None, as does a non-parquet or many-file relation. */
  def rowCount(df: DataFrame): Option[Long] = {
    try {
      val plan = df.queryExecution.analyzed
      def shapeOk(p: LogicalPlan): Boolean = p match {
        case pr: Project => shapeOk(pr.child)
        case s: SubqueryAlias => shapeOk(s.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => shapeOk(f.child)
        case _: LogicalRelation => true
        case _ => false
      }
      if (!shapeOk(plan)) return None
      leafRelation(plan).flatMap { rel =>
        val files = rel.location.inputFiles
        if (files.isEmpty || files.length > MaxFooterFiles) None
        else {
          val conf = df.sparkSession.sessionState.newHadoopConf()
          var rows = 0L
          files.foreach { f =>
            val reader = ParquetPointReader.open(conf, new Path(f))
            try rows += reader.getRecordCount
            finally reader.close()
          }
          Some(rows)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (sys.env.contains("GRAFT_FOOTER_DEBUG")) e.printStackTrace()
        None
    }
  }

  /** Alias-only variant of [[trace]]: walk `attr` to the relation's own
    * attribute through Project (attr / Alias-of-attr only),
    * SubqueryAlias and Filter layers. */
  @annotation.tailrec
  private def traceAlias(plan: LogicalPlan, attr: Attribute): Option[Attribute] =
    plan match {
      case p: Project =>
        p.projectList.find(_.exprId == attr.exprId) match {
          case Some(a: AttributeReference) => traceAlias(p.child, a)
          case Some(Alias(a: AttributeReference, _)) => traceAlias(p.child, a)
          case _ => None
        }
      case s: SubqueryAlias => traceAlias(s.child, attr)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        traceAlias(f.child, attr)
      case _: LogicalRelation =>
        if (plan.output.exists(_.exprId == attr.exprId)) Some(attr) else None
      case _ => None
    }

  /** Σ totalUncompressedSize of every leaf chunk under each requested
    * top-level column, over Σ file rows, in ONE sweep — nested columns
    * (arrays/structs) fan out into several leaves that all share the
    * top-level path head, so summing by path head covers exactly the
    * column's bytes (repetition/definition levels included — the right
    * side of the estimate for an in-memory row representation). A
    * column absent from any file's schema drops out of the result
    * (schema evolution — no per-file answer would bound it). */
  private def footerAvgRowBytes(df: DataFrame, rel: HadoopFsRelation,
      phys: Map[String, String]): Map[String, Double] = {
    val files = rel.location.inputFiles
    if (files.isEmpty || files.length > MaxFooterFiles) return Map.empty
    val conf = df.sparkSession.sessionState.newHadoopConf()
    var rows = 0L
    val bytes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var alive = phys // (outCol -> physName) still measurable
    files.foreach { f =>
      val reader = ParquetPointReader.open(conf, new Path(f))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        alive = alive.filter { case (_, pn) => schema.containsField(pn) }
        if (alive.isEmpty) return Map.empty
        val byPhys = alive.groupMap(_._2)(_._1)
        reader.getFooter.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { c =>
            val p = c.getPath.toArray
            if (p.nonEmpty) byPhys.get(p(0)).foreach(_.foreach { outCol =>
              bytes(outCol) += c.getTotalUncompressedSize
            })
          }
        }
      } finally reader.close()
    }
    if (rows > 0) alive.keys.map(c => c -> bytes(c).toDouble / rows).toMap
    else Map.empty
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
