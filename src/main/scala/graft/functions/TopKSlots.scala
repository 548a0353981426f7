package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `top_k_slots`: the k lexicographically-smallest field tuples per
  * group, held in k FLATTENED primitive buffer slots — a fully
  * DECLARATIVE bounded top-k that plans as a codegen'd `HashAggregate`.
  *
  * Why it exists next to [[BoundedMinK]]: the heap aggregate is a
  * `TypedImperativeAggregate`, so it can only execute through
  * `ObjectHashAggregate` — whose per-row overhead (hash-map machinery,
  * buffer (de)serialization at the partial→final hand-off) was
  * JFR-attributed as the dominant map-task cost of q_window_topk
  * (~220 samples of ObjectAggregationMap vs ~20 of parquet decode,
  * OPTIMIZATION_r16.md). This aggregate keeps the same k-capped
  * shuffle bound (≤ k tuples per (key, map task)) but expresses
  * insert/merge as pure CASE/comparison expressions over k×(1+n)
  * primitive buffer attributes, all `UnsafeRow`-mutable — so the
  * planner picks `HashAggregate` and the whole update path is
  * whole-stage-codegen'd with zero per-row allocation or
  * serialization (guide §4: prefer codegen expressions over
  * imperative Expression machinery in the hot path).
  *
  * Expression-size discipline (the r17 lesson this file carries): the
  * obvious merge — k symbolic re-insertions of the right buffer into
  * the left — COMPOSES expression trees, growing them ~5× per
  * insertion; the resulting ~400 KB of generated source cost 7-9 s of
  * driver-side CODE GENERATION per execution (doConsumeWithKeys string
  * assembly + CSE analysis are superlinear in tree size; measured,
  * jstack-attributed). The merge below is instead a SELECTION NETWORK
  * over the two already-sorted slot sequences: the i-th output is
  * picked by split-validity conditions (the classic "r-th element of
  * two sorted arrays" identity), so every condition compares BASE
  * attributes only and total tree size stays ~2k nodes. Comparisons
  * can further be restricted to a PREFIX of the fields (`cmpFields`)
  * when the remaining fields are functionally determined by the
  * prefix (q_window_topk: price = -np), which is the caller's claim
  * to uphold — with a non-determining prefix, tuples equal on the
  * prefix are interchangeable: which one's trailing fields a slot keeps
  * may depend on the partitioning. The comparison-prefix children must
  * be non-nullable: analysis rejects a nullable one (see
  * [[TopKSlots.nonNull]] for a column whose nulls were filtered).
  *
  * Semantics match BoundedMinK over a struct of the same fields:
  * tuples compare lexicographically field-by-field with SQL ordering
  * (the same NaN/-0.0 handling, since `LessThan`/`EqualTo` and
  * `GenerateOrdering` share the comparator codegen); every input row
  * participates; the result is the ascending array of the k smallest
  * tuples as structs (fewer if the group is smaller).
  *
  * Buffer layout per slot i: `occ_i: Boolean` (slot holds a value —
  * needed because a stored tuple may legitimately have null fields)
  * followed by the tuple's fields, nullable. Occupied slots form a
  * sorted prefix; unoccupied slots hold don't-care values, masked by
  * their flag everywhere (update, merge, eval).
  */
case class TopKSlots(
    fieldChildren: Seq[Expression],
    fieldNames: Seq[String],
    k: Int,
    cmpFields: Int)
  extends DeclarativeAggregate {

  require(k > 0 && k <= TopKSlots.MaxK,
    s"k must be in [1, ${TopKSlots.MaxK}], got $k (use BoundedMinK for larger k)")
  require(fieldChildren.nonEmpty && fieldChildren.size == fieldNames.size,
    "fieldChildren and fieldNames must be non-empty and aligned")
  require(cmpFields >= 1 && cmpFields <= fieldChildren.size,
    s"cmpFields must be in [1, ${fieldChildren.size}], got $cmpFields")

  override def children: Seq[Expression] = fieldChildren
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_slots"

  private def fieldTypes: Seq[DataType] = fieldChildren.map(_.dataType)

  override def dataType: DataType = ArrayType(
    StructType(fieldNames.zip(fieldTypes).map { case (n, t) =>
      StructField(n, t, nullable = true)
    }),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = fieldChildren.map(_.dataType).filterNot(TopKSlots.supportedFieldType)
    val nullable = fieldNames.zip(fieldChildren).take(cmpFields)
      .collect { case (n, c) if c.nullable => n }
    if (bad.nonEmpty) TypeCheckResult.TypeCheckFailure(
      s"top_k_slots requires UnsafeRow-mutable orderable field types, got ${bad.mkString(", ")}")
    else if (nullable.nonEmpty) TypeCheckResult.TypeCheckFailure(
      s"top_k_slots comparison field(s) ${nullable.mkString(", ")} must be non-nullable: " +
        "filter their nulls and wrap them in TopKSlots.nonNull")
    else TypeCheckResult.TypeCheckSuccess
  }

  // ---- buffer: k × (occupied flag + flattened fields) -------------
  // comparison-prefix fields are NON-NULLABLE (checkInputDataTypes
  // rejects a nullable prefix child) — this halves nothing semantically
  // but cuts each field comparison from ~16 expression nodes of null
  // plumbing to ONE LessThan/EqualTo, which is what keeps per-planning
  // codegen time (the binding cost, see class doc) near a plain
  // aggregate's
  @transient private lazy val occ: IndexedSeq[AttributeReference] =
    (0 until k).map(i => AttributeReference(s"occ$i", BooleanType, nullable = false)())
  @transient private lazy val slotFields: IndexedSeq[IndexedSeq[AttributeReference]] =
    (0 until k).map { i =>
      fieldNames.zip(fieldTypes).zipWithIndex.map { case ((n, t), f) =>
        AttributeReference(s"s${i}_$n", t, nullable = f >= cmpFields)()
      }.toIndexedSeq
    }

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    (0 until k).flatMap(i => occ(i) +: slotFields(i))

  override lazy val initialValues: Seq[Expression] =
    (0 until k).flatMap(_ => Literal(false) +: fieldTypes.zipWithIndex.map {
      case (t, f) => if (f >= cmpFields) Literal(null, t) else Literal.default(t)
    })

  // ---- expression-level tuple comparison (SQL ordering) -----------
  // lexicographic on the first cmpFields fields, all non-null (checked
  // at analysis); LessThan/EqualTo share GenerateOrdering's comparator
  // codegen (NaN/-0.0 handling identical to BoundedMinK's ordering)
  private def tupleLt(a: Seq[Expression], b: Seq[Expression]): Expression = {
    val pairs = a.take(cmpFields).zip(b.take(cmpFields))
    pairs.init.foldRight(LessThan(pairs.last._1, pairs.last._2): Expression) {
      case ((x, y), rest) => Or(LessThan(x, y), And(EqualTo(x, y), rest))
    }
  }

  /** One slot (occupancy flag + field expressions). */
  private case class Slot(occ: Expression, fields: IndexedSeq[Expression])

  /** x ≤ y where an unoccupied slot reads as +infinity (and two
    * unoccupied slots compare equal). */
  private def leE(x: Slot, y: Slot): Expression =
    If(Not(x.occ), Not(y.occ),
      Or(Not(y.occ), Not(tupleLt(y.fields, x.fields))))

  override lazy val updateExpressions: Seq[Expression] = {
    val cur = (0 until k).map(i =>
      Slot(occ(i), slotFields(i).map(a => a: Expression)))
    val v = fieldChildren.toIndexedSeq
    // guarded shift: admission c_i = slot-empty ∨ v < slot_i is
    // monotone in i (occupied slots are a sorted prefix), so slot i
    // keeps its value (¬c_i), receives old slot i−1 (c_{i−1}), or
    // receives v (c_i ∧ ¬c_{i−1})
    val c: IndexedSeq[Expression] =
      cur.map(s => Or(Not(s.occ), tupleLt(v, s.fields)))
    (0 until k).flatMap { i =>
      if (i == 0)
        If(c(0), Literal(true), cur(0).occ) +:
          v.indices.map(f => If(c(0), v(f), cur(0).fields(f)))
      else
        If(c(i), If(c(i - 1), cur(i - 1).occ, Literal(true)), cur(i).occ) +:
          v.indices.map(f =>
            If(c(i), If(c(i - 1), cur(i - 1).fields(f), v(f)), cur(i).fields(f)))
    }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val a = (0 until k).map(i =>
      Slot(occ(i).left, slotFields(i).map(x => x.left: Expression)))
    val b = (0 until k).map(i =>
      Slot(occ(i).right, slotFields(i).map(x => x.right: Expression)))
    // Selection network over the two sorted slot sequences: output r
    // (1-based) is the r-th smallest of A ∪ B. Split s = #elements
    // taken from A; the unique valid split satisfies
    // a_{s-1} ≤ b_{r-s} ∧ b_{r-s-1} ≤ a_s (sentinels: index −1 → −inf,
    // index ≥ k → +inf, both making their condition true), and the
    // r-th element is max(a_{s-1}, b_{r-s-1}). Ties may validate
    // several splits, but then the tied candidate tuples are
    // compare-equal on the prefix, so any pick is a correct top-k.
    // Conditions reference only base attributes — no tree composition.
    def cond1(r: Int, s: Int): Expression =
      if (s == 0 || r - s >= k) Literal(true) else leE(a(s - 1), b(r - s))
    def cond2(r: Int, s: Int): Expression =
      if (r - s - 1 < 0) Literal(true) else leE(b(r - s - 1), a(s))
    (1 to k).flatMap { r =>
      val i = r - 1
      // occupancy: ≥ r elements in total, i.e. some (p, q), p+q = r,
      // with p occupied in A and q occupied in B (prefix flags)
      val occR = (0 to r).map { p =>
        val q = r - p
        (p, q) match {
          case (0, _) => b(q - 1).occ
          case (_, 0) => a(p - 1).occ
          case _ => And(a(p - 1).occ, b(q - 1).occ)
        }
      }.reduce(Or(_, _))
      // value: CASE over splits s = 0..r-1, else the all-A split s = r
      def pickField(s: Int, f: Int): Expression =
        if (s == 0) b(r - 1).fields(f)
        else If(leE(a(s - 1), b(r - s - 1)), b(r - s - 1).fields(f),
          a(s - 1).fields(f))
      val fields = fieldChildren.indices.map { f =>
        val branches = (0 until r).map(s =>
          (And(cond1(r, s), cond2(r, s)), pickField(s, f)))
        CaseWhen(branches, Some(a(r - 1).fields(f)))
      }
      (occR: Expression) +: fields
    }
  }

  override lazy val evaluateExpression: Expression = {
    val structs = (0 until k).map { i =>
      CreateNamedStruct(fieldNames.zip(slotFields(i)).flatMap {
        case (n, x) => Seq(Literal(n), x)
      })
    }
    val branches = (k - 1 to 0 by -1).map(i =>
      (occ(i): Expression, CreateArray(structs.take(i + 1)): Expression))
    CaseWhen(branches,
      Some(Literal(new GenericArrayData(Array.empty[Any]), dataType)))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKSlots =
    copy(fieldChildren = newChildren)
}

object TopKSlots {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Slots × fields drives generated-code size (codegen TIME is the
    * binding cost — see class doc); capped small, larger k belongs on
    * BoundedMinK. */
  val MaxK = 8

  /** Field types the flattened buffer supports: fixed-width
    * UnsafeRow-mutable AND orderable. */
  def supportedFieldType(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** `fields` in comparison order (lexicographic, ascending); result
    * column is the ascending array of the k smallest tuples as structs
    * named per `fields`. `cmpFields` restricts the comparison to the
    * first m fields — only sound for deterministic output when they
    * functionally determine the rest (or when any tied tuple is an
    * acceptable pick). Those m fields must be non-nullable columns, or
    * the query fails analysis; the rest may hold nulls. */
  def column(fields: Seq[(String, Column)], k: Int,
      cmpFields: Int = Int.MaxValue): Column =
    ColumnShim.column(TopKSlots(
      fields.map(f => ColumnShim.expression(f._2)),
      fields.map(_._1), k, math.min(cmpFields, fields.size))
      .toAggregateExpression())

  /** `c` typed non-nullable, for a comparison field whose nulls the
    * caller has filtered: Spark keeps a filtered column nullable in the
    * analyzed plan. A null that still arrives fails the task. */
  def nonNull(c: Column): Column =
    ColumnShim.column(AssertNotNull(ColumnShim.expression(c)))
}
