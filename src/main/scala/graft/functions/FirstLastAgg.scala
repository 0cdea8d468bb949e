package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData, TypeUtils}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Mutable (key, value) accumulator for [[FirstLastFoldAgg]]/[[AnyFoldAgg]]. */
final class FirstLastAcc(var k: Any, var v: Any, var has: Boolean)

private[functions] object FoldAccCopy {
  /** Input values may point into the scan's reused row buffer (UTF8String /
    * UnsafeArrayData over UnsafeRow memory); anything retained across rows
    * must be copied first. */
  def copyOf(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case a: ArrayData => a.copy()
    case m: MapData => m.copy()
    case r: InternalRow => r.copy()
    case x => x
  }
}

/** EARLIEST/LATEST as an incremental (key, value) pair fold — the exact
  * lifecycle of the reference's first/last aggregators (reference:
  * processing/.../query/aggregation/first/LongFirstAggregator.java:40-56 —
  * `if (time < firstTime) { firstTime = time; firstValue = value }` — with
  * the pair state of SerializablePairLongString.java crossing the merge).
  *
  * Spark planning rationale: the previous spelling (`min_by(struct(t,v),
  * struct(t,v))` / bare `first()`) is a declarative aggregate with an
  * IMMUTABLE buffer type, which HashAggregateExec cannot hold — every
  * EARLIEST/LATEST/ANY query was planned as SortAggregate, paying an
  * O(n log n) sort on both shuffle sides (measured ~3× vs hash siblings at
  * sf0.1). A TypedImperativeAggregate plans as ObjectHashAggregateExec: one
  * small heap accumulator per group, O(n) updates, partials crossing the
  * shuffle as compact UnsafeRow bytes.
  *
  * `key` is the full ordering key (time, or struct(time, tiebreak...) for
  * deterministic ties); rows with a null key are skipped, like Spark's
  * MaxMinBy and the reference's null-time guard. Struct keys compare
  * field-lexicographically with null fields first — identical to the struct
  * ordering the old min_by spelling used, so results are bit-identical.
  */
case class FirstLastFoldAgg(
    key: Expression,
    out: Expression,
    latest: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FirstLastAcc] with BinaryLike[Expression] {
  import FoldAccCopy.copyOf

  override def left: Expression = key
  override def right: Expression = out
  override def dataType: DataType = out.dataType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeUtils.checkForOrderingExpr(key.dataType, prettyName)

  /** r17: codegen'd comparator instead of TypeUtils.getInterpretedOrdering —
    * the interpreted ordering recurses per struct field with boxed
    * comparisons ONCE PER INPUT ROW (update() calls replaces() for every
    * row after the first). GenerateOrdering is the same comparator SortExec
    * runs (LazilyGeneratedOrdering's primary path; semantically
    * interchangeable with the interpreted form by contract — nulls first,
    * field-lexicographic structs), evaluated through two reusable one-field
    * row wrappers. Falls back to the interpreted ordering if codegen
    * rejects the type. */
  @transient private lazy val ordering: Ordering[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder}
    try {
      val gen = org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
        .generate(Seq(SortOrder(BoundReference(0, key.dataType, nullable = true), Ascending)))
      // ra/rb are shared mutable buffers with no lock: safe only because
      // the lazy val is @transient, so each task deserializes its own
      // expression instance and builds its own pair, and a task's
      // aggregation runs on one thread. An instance shared across threads
      // would race here.
      val ra = new GenericInternalRow(1)
      val rb = new GenericInternalRow(1)
      new Ordering[Any] {
        override def compare(a: Any, b: Any): Int = {
          ra.update(0, a); rb.update(0, b)
          gen.compare(ra, rb)
        }
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        TypeUtils.getInterpretedOrdering(key.dataType)
    }
  }

  override def createAggregationBuffer(): FirstLastAcc = new FirstLastAcc(null, null, false)

  /** true when candidate key `a` should replace current key `b`. On EQUAL
    * keys `latest` replaces (LongLastAggregator.java folds on
    * `time >= lastTime` — the LAST occurrence at the max time wins, in
    * encounter order) while `earliest` keeps the incumbent
    * (LongFirstAggregator: strict `time < firstTime` — the FIRST occurrence
    * at the min time wins). */
  private def replaces(a: Any, b: Any): Boolean =
    if (latest) ordering.compare(a, b) >= 0 else ordering.compare(a, b) < 0

  override def update(buf: FirstLastAcc, input: InternalRow): FirstLastAcc = {
    val k = key.eval(input)
    if (k == null) return buf // null ordering key: row never wins (MaxMinBy semantics)
    if (!buf.has || replaces(k, buf.k)) {
      buf.k = copyOf(k)
      buf.v = copyOf(out.eval(input))
      buf.has = true
    }
    buf
  }

  override def merge(buf: FirstLastAcc, other: FirstLastAcc): FirstLastAcc = {
    if (other.has && (!buf.has || replaces(other.k, buf.k))) {
      buf.k = other.k
      buf.v = other.v
      buf.has = true
    }
    buf
  }

  override def eval(buf: FirstLastAcc): Any = if (buf.has) buf.v else null

  @transient private lazy val serProj =
    UnsafeProjection.create(Array(key.dataType, out.dataType, BooleanType))
  @transient private lazy val serRow = new GenericInternalRow(3)
  override def serialize(buf: FirstLastAcc): Array[Byte] = {
    serRow.update(0, buf.k)
    serRow.update(1, buf.v)
    serRow.update(2, buf.has)
    serProj(serRow).copy().getBytes
  }
  override def deserialize(bytes: Array[Byte]): FirstLastAcc = {
    val row = new UnsafeRow(3)
    row.pointTo(bytes, bytes.length)
    new FirstLastAcc(copyOf(row.get(0, key.dataType)), copyOf(row.get(1, out.dataType)),
      row.getBoolean(2))
  }

  override def withNewMutableAggBufferOffset(o: Int): FirstLastFoldAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FirstLastFoldAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): FirstLastFoldAgg = copy(key = l, out = r)
  override def prettyName: String = if (latest) "latest_fold" else "earliest_fold"
}

/** ANY_VALUE / longAny-family as a first-seen fold (reference: query/
  * aggregation/any/LongAnyAggregator.java — takes the first value offered,
  * null included, and never replaces it). Same ObjectHashAggregate planning
  * rationale as [[FirstLastFoldAgg]] (`any_value`/`first()` are SortAggregate
  * spellings in Spark for immutable buffer types). */
case class AnyFoldAgg(
    child: Expression,
    ignoreNulls: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FirstLastAcc] with UnaryLike[Expression] {
  import FoldAccCopy.copyOf

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true

  override def createAggregationBuffer(): FirstLastAcc = new FirstLastAcc(null, null, false)

  override def update(buf: FirstLastAcc, input: InternalRow): FirstLastAcc = {
    if (!buf.has) {
      val v = child.eval(input)
      if (v != null || !ignoreNulls) {
        buf.v = copyOf(v)
        buf.has = true
      }
    }
    buf
  }

  override def merge(buf: FirstLastAcc, other: FirstLastAcc): FirstLastAcc = {
    if (!buf.has && other.has) { buf.v = other.v; buf.has = true }
    buf
  }

  override def eval(buf: FirstLastAcc): Any = if (buf.has) buf.v else null

  @transient private lazy val serProj =
    UnsafeProjection.create(Array(child.dataType, BooleanType))
  @transient private lazy val serRow = new GenericInternalRow(2)
  override def serialize(buf: FirstLastAcc): Array[Byte] = {
    serRow.update(0, buf.v)
    serRow.update(1, buf.has)
    serProj(serRow).copy().getBytes
  }
  override def deserialize(bytes: Array[Byte]): FirstLastAcc = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    new FirstLastAcc(null, copyOf(row.get(0, child.dataType)), row.getBoolean(1))
  }

  override def withNewMutableAggBufferOffset(o: Int): AnyFoldAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): AnyFoldAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): AnyFoldAgg = copy(child = c)
  override def prettyName: String = "any_fold"
}

/** Column-API helpers for the hash-plannable first/last/any family. */
object FirstLastAgg {
  /** value at the minimum ordering key (EARLIEST; key = time or
    * struct(time, tiebreak...)). */
  def earliest(out: Column, key: Column): Column =
    CatalystBridge.column(FirstLastFoldAgg(
      CatalystBridge.expression(key), CatalystBridge.expression(out),
      latest = false).toAggregateExpression())

  /** value at the maximum ordering key (LATEST). */
  def latest(out: Column, key: Column): Column =
    CatalystBridge.column(FirstLastFoldAgg(
      CatalystBridge.expression(key), CatalystBridge.expression(out),
      latest = true).toAggregateExpression())

  /** first value offered, nulls included (ANY_VALUE / longAny family). */
  def anyValue(out: Column): Column =
    CatalystBridge.column(
      AnyFoldAgg(CatalystBridge.expression(out)).toAggregateExpression())
}
