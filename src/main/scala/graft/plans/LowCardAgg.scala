package graft.plans

import graft.functions.FloorTimestamp
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Partial, Sum}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Columnar batch-at-a-time PARTIAL aggregation for the low-cardinality
  * GROUP BY shape — the probed h02/h06/h07 residual where DuckDB's
  * vectorized perfect-hash aggregate beats Spark's row-based
  * [[HashAggregateExec]] 2-7× (probes/lowcard_agg.json: the stock
  * partial agg carries 0.2-0.3 s of pure grouping overhead per heavy
  * query that a hand-tuned columnar loop reduces to near the global-agg
  * floor).
  *
  * The rule replaces `HashAggregateExec(Partial)` over a (possibly
  * projected) columnar parquet scan with [[LowCardAggExec]], which
  * consumes the scan's ColumnarBatches directly — no ColumnarToRow, no
  * per-row UnsafeRow key materialization — and accumulates into typed
  * primitive arrays behind one open-addressed int table. Output rows
  * are the standard partial layout (group keys ++ inputAggBuffer
  * values), so the exchange and final aggregate run unchanged.
  *
  * Sound at ANY cardinality: when the map exceeds [[FlushGroups]] (1M)
  * groups the operator emits the current groups as partial rows and
  * resets — partial outputs are mergeable downstream by definition, so a
  * flood of distinct keys degrades to roughly the skip-partial-
  * aggregation behavior instead of unbounded memory.
  *
  * Scope (bails to stock otherwise): grouping keys and aggregate inputs
  * are scan columns or [[FloorTimestamp]] of one (what
  * [[TruncToFloor]] emits for `date_trunc`), key types in {int-family,
  * date, timestamp, string}, aggregates in {COUNT, SUM, AVG, MIN, MAX}
  * over non-decimal numeric/temporal inputs, no DISTINCT / FILTER
  * clause. A WHERE between scan and aggregate is supported: the scan's
  * residual predicate evaluates per row through Spark's own generated
  * Predicate into a selection mask (stock FilterExec cost), so the
  * commonest filtered-group-by shape rides the columnar path too.
  *
  * The rule fires on a grouped aggregate only when CBO/AutoStats column
  * stats bound the product of the key NDVs by [[MaxNdv]]; missing stats
  * keep the stock plan. A global aggregate (no keys) always qualifies.
  * The same pass shrinks the exchange above the rewritten partial (see
  * [[SmallExchangePartitions]]).
  */
object LowCardAgg extends Rule[SparkPlan] {

  /** Upper bound on the product of the grouping keys' NDVs. */
  private val MaxNdv = BigInt(262144)
  /** String keys the rewrite accepts: the dictionary-id fast path made
    * two string keys a measured win on dictionary-encoded parquet
    * (honest h02 0.50 → 0.33, probes/lowcard_agg.json addendum) and the
    * no-dictionary fallback sits at parity; beyond two the per-row
    * extraction fallback is unproven, so the plan stays stock. */
  private val MaxStringKeys = 2
  /** Groups held before the operator flushes its partial rows. */
  private val FlushGroups = 1 << 20
  /** Partitions of the exchange above a rewritten partial. */
  private val SmallExchangePartitions = 2

  // ── serializable per-row accessor specs ────────────────────────────────
  /** Read one value from a batch column: `width` 8=getLong 4=getInt
    * 2=getShort 1=getByte, 0=double, -1=float, -2=string, -3=computed
    * (idx indexes the exec's computedVecs — a deterministic double
    * expression over scan columns, evaluated per batch as a
    * [[VecSpec]] program);
    * `floorUnit` > 0 applies FloorTimestamp's micros floor. */
  private[graft] final case class Get(idx: Int, width: Int,
      floorUnit: Long = 0L) extends Serializable

  private[graft] sealed trait AggSpec extends Serializable { def slots: Int }
  private[graft] case object CountStar extends AggSpec { def slots = 1 }
  private[graft] final case class CountCol(g: Get) extends AggSpec { def slots = 1 }
  private[graft] final case class SumLong(g: Get) extends AggSpec { def slots = 1 }
  private[graft] final case class SumDouble(g: Get) extends AggSpec { def slots = 1 }
  private[graft] final case class AvgDouble(g: Get) extends AggSpec { def slots = 2 }
  private[graft] final case class MinMaxLong(g: Get, isMin: Boolean)
      extends AggSpec { def slots = 1 }
  private[graft] final case class MinMaxDouble(g: Get, isMin: Boolean)
      extends AggSpec { def slots = 1 }
  /** Exact distinct count as a [[graft.functions.BitmapDistinct.PageSet]]
    * — object state (accObj), serialized to the partial binary column. */
  private[graft] final case class BitmapSpec(g: Get) extends AggSpec { def slots = 1 }

  /** Output column source: kind 0 = group key `a`; kind 1 = aggregate
    * `a` buffer slot `b`. */
  private[graft] final case class OutCol(kind: Int, a: Int, b: Int)
    extends Serializable

  // ── vectorized residual predicate ──────────────────────────────────────
  /** One conjunct of the scan's residual predicate, evaluated
    * COLUMN-AT-A-TIME into the selection mask — the per-row
    * `pred.eval(batch.getRow(i))` detour through a row view costs ~50%
    * of a filtered global aggregate (h01 profiled 0.506 s filtered vs
    * 0.338 s unfiltered); a direct vector loop removes the row
    * materialization and the per-row virtual eval. Only simple shapes
    * decompose (attr-vs-literal comparisons, string
    * contains/prefix/suffix/equality, null tests); anything else keeps
    * the generated-Predicate path. Null semantics match filtering
    * exactly: an atom over a NULL input contributes FALSE, and
    * AND(FALSE, _) = AND(NULL, _) = drop. */
  private[graft] sealed trait FilterAtom extends Serializable {
    /** AND this atom into `mask` (first atom writes it). */
    def eval(b: ColumnarBatch, n: Int, mask: Array[Boolean],
        first: Boolean): Unit
  }

  /** op: 0 `<`, 1 `<=`, 2 `>`, 3 `>=`, 4 `=`. */
  private def cmpOk(c: Int, op: Int): Boolean = (op: @annotation.switch) match {
    case 0 => c < 0
    case 1 => c <= 0
    case 2 => c > 0
    case 3 => c >= 0
    case _ => c == 0
  }

  /** Long-domain comparison (int family / date / timestamp). */
  private[graft] final case class CmpLongAtom(idx: Int, width: Int, op: Int,
      rhs: Long) extends FilterAtom {
    def eval(b: ColumnarBatch, n: Int, mask: Array[Boolean],
        first: Boolean): Unit = {
      val c = b.column(idx)
      val noNull = !c.hasNull
      var i = 0
      if (first) while (i < n) {
        mask(i) = (noNull || !c.isNullAt(i)) && {
          val v = (width: @annotation.switch) match {
            case 8 => c.getLong(i)
            case 4 => c.getInt(i).toLong
            case 2 => c.getShort(i).toLong
            case _ => c.getByte(i).toLong
          }
          cmpOk(java.lang.Long.compare(v, rhs), op)
        }
        i += 1
      } else while (i < n) {
        if (mask(i)) mask(i) = (noNull || !c.isNullAt(i)) && {
          val v = (width: @annotation.switch) match {
            case 8 => c.getLong(i)
            case 4 => c.getInt(i).toLong
            case 2 => c.getShort(i).toLong
            case _ => c.getByte(i).toLong
          }
          cmpOk(java.lang.Long.compare(v, rhs), op)
        }
        i += 1
      }
    }
  }

  /** Double/float comparison with Spark's SQL ordering: `v == rhs` first
    * (so -0.0 = 0.0 holds), else Double.compare (NaN greatest, NaN =
    * NaN) — the same contract SQLOrderingUtil.compareDoubles encodes. */
  private[graft] final case class CmpDoubleAtom(idx: Int, width: Int,
      op: Int, rhs: Double) extends FilterAtom {
    def eval(b: ColumnarBatch, n: Int, mask: Array[Boolean],
        first: Boolean): Unit = {
      val c = b.column(idx)
      val noNull = !c.hasNull
      var i = 0
      if (first) while (i < n) {
        mask(i) = (noNull || !c.isNullAt(i)) && {
          val v = if (width == 0) c.getDouble(i) else c.getFloat(i).toDouble
          cmpOk(if (v == rhs) 0 else java.lang.Double.compare(v, rhs), op)
        }
        i += 1
      } else while (i < n) {
        if (mask(i)) mask(i) = (noNull || !c.isNullAt(i)) && {
          val v = if (width == 0) c.getDouble(i) else c.getFloat(i).toDouble
          cmpOk(if (v == rhs) 0 else java.lang.Double.compare(v, rhs), op)
        }
        i += 1
      }
    }
  }

  /** Base for string predicates with the dictionary verdict cache.
    *
    * Dictionary-aware (DuckDB's LIKE-over-dictionary trick, round-11
    * directive): when the batch column is dictionary-backed, the
    * predicate is evaluated ONCE PER DISTINCT CODE and cached per
    * Dictionary object — codes are stable for a whole parquet column
    * chunk, so across the ~64 batches of a row group each distinct
    * value pays one `test` and every row pays one int load + one
    * boolean load. Atom instances deserialize per task (closure), so
    * the mutable cache is single-threaded. For the cheap atoms
    * (contains/prefix/suffix/equals) this is parity — measured, see
    * probes/dict_predicate_shape.json; for [[RegexAtom]] it is the
    * difference between one regex match per row and one per distinct
    * value per column chunk. */
  private[graft] sealed abstract class StringPredAtom extends FilterAtom {
    def idx: Int
    protected def test(s: UTF8String): Boolean

    @transient private var seen: Array[Boolean] = null
    @transient private var verdict: Array[Boolean] = null
    @transient private var lastDict: AnyRef = null

    final def eval(b: ColumnarBatch, n: Int, mask: Array[Boolean],
        first: Boolean): Unit = {
      val c = b.column(idx)
      val noNull = !c.hasNull
      val wv = c match {
        case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
            if w.hasDictionary => w
        case _ => null
      }
      val dict = if (wv == null) null else dictOf(wv)
      if (dict != null) {
        if (!(dict eq lastDict)) {
          // new column chunk → new code space
          lastDict = dict
          if (seen == null) { seen = new Array[Boolean](1024)
            verdict = new Array[Boolean](1024) }
          else java.util.Arrays.fill(seen, false)
        }
        val ids = wv.getDictionaryIds
        def okDict(i: Int): Boolean = (noNull || !c.isNullAt(i)) && {
          val id = ids.getInt(i)
          if (id >= seen.length) {
            val nc = math.max(id + 1, seen.length * 2)
            seen = java.util.Arrays.copyOf(seen, nc)
            verdict = java.util.Arrays.copyOf(verdict, nc)
          }
          if (!seen(id)) { seen(id) = true; verdict(id) = test(c.getUTF8String(i)) }
          verdict(id)
        }
        var i = 0
        if (first) while (i < n) { mask(i) = okDict(i); i += 1 }
        else while (i < n) { if (mask(i)) mask(i) = okDict(i); i += 1 }
        return
      }
      def ok(i: Int): Boolean = (noNull || !c.isNullAt(i)) && test(c.getUTF8String(i))
      var i = 0
      if (first) while (i < n) { mask(i) = ok(i); i += 1 }
      else while (i < n) { if (mask(i)) mask(i) = ok(i); i += 1 }
    }
  }

  /** String predicate: kind 0 contains, 1 prefix, 2 suffix, 3 equals. */
  private[graft] final case class StrAtom(idx: Int, kind: Int,
      needle: UTF8String) extends StringPredAtom {
    protected def test(s: UTF8String): Boolean =
      (kind: @annotation.switch) match {
        case 0 => s.contains(needle)
        case 1 => s.startsWith(needle)
        case 2 => s.endsWith(needle)
        case _ => s.equals(needle)
      }
  }

  /** Regex predicate: RLIKE (`find` semantics) and non-simplifiable
    * LIKE (full `matches` over `StringUtils.escapeLikeRegex` output) —
    * exactly Spark's `StringRegexExpression` contract — plus the
    * NOT-wrapped forms (`negated`; a NULL input stays FALSE before the
    * flip, matching three-valued logic where NOT(NULL) = NULL = drop).
    *
    * This is the expensive atom the dictionary verdict cache exists
    * for (probes/dict_predicate_shape.json closed the cheap atoms at
    * parity): a compiled-regex match costs ~0.1-1 µs vs ~1-2 ns for a
    * cached code lookup, so over a dictionary-backed column chunk the
    * regex runs once per distinct value instead of once per row —
    * ~rows/NDV fewer matches, the same trick DuckDB applies to LIKE
    * over FSST/dictionary vectors. Row path (no dictionary) reuses one
    * Matcher to avoid per-row allocation. The pattern is validated
    * driver-side in `decomposeFilter` (invalid regex keeps the stock
    * path so errors surface identically). */
  private[graft] final case class RegexAtom(idx: Int, pattern: String,
      fullMatch: Boolean, negated: Boolean = false) extends StringPredAtom {
    @transient private var m: java.util.regex.Matcher = null
    protected def test(s: UTF8String): Boolean = {
      if (m == null) m = java.util.regex.Pattern.compile(pattern).matcher("")
      m.reset(s.toString)
      (if (fullMatch) m.matches() else m.find(0)) != negated
    }
  }

  /** The protected `dictionary` field of WritableColumnVector, UNWRAPPED
    * to the underlying `org.apache.parquet.column.Dictionary`: the
    * wrapper (`ParquetDictionary`) is re-constructed by Spark 4.1's
    * `VectorizedColumnReader.readBatch` on EVERY batch (verified against
    * this distribution's bytecode — the `new ParquetDictionary` sits
    * inside readBatch, round-11 ADVICE), so wrapper identity would
    * invalidate the verdict cache ~64× per row group; the UNDERLYING
    * Dictionary object is one-per-column-chunk, which is the code
    * space's true lifetime. Reflection is two cached Fields; any lookup
    * failure degrades to null → the atom's row path. */
  private val dictField: java.lang.reflect.Field =
    try {
      val f = classOf[
        org.apache.spark.sql.execution.vectorized.WritableColumnVector]
        .getDeclaredField("dictionary")
      f.setAccessible(true)
      f
    } catch { case _: Throwable => null }

  private val parquetDictField: java.lang.reflect.Field =
    try {
      val c = Class.forName(
        "org.apache.spark.sql.execution.datasources.parquet.ParquetDictionary")
      val f = c.getDeclaredField("dictionary")
      f.setAccessible(true)
      f
    } catch { case _: Throwable => null }

  private def dictOf(
      wv: org.apache.spark.sql.execution.vectorized.WritableColumnVector)
      : AnyRef =
    if (dictField == null) null
    else try {
      val wrapper = dictField.get(wv)
      if (wrapper != null && parquetDictField != null &&
          parquetDictField.getDeclaringClass.isInstance(wrapper))
        parquetDictField.get(wrapper)
      else wrapper
    } catch { case _: Throwable => null }

  private[graft] final case class NullTestAtom(idx: Int, isNull: Boolean)
    extends FilterAtom {
    def eval(b: ColumnarBatch, n: Int, mask: Array[Boolean],
        first: Boolean): Unit = {
      val c = b.column(idx)
      if (!c.hasNull) {
        // constant over the batch
        if (isNull) java.util.Arrays.fill(mask, 0, n, false)
        else if (first) java.util.Arrays.fill(mask, 0, n, true)
        return
      }
      var i = 0
      if (first) while (i < n) { mask(i) = c.isNullAt(i) == isNull; i += 1 }
      else while (i < n) {
        if (mask(i)) mask(i) = c.isNullAt(i) == isNull; i += 1
      }
    }
  }

  // ── vectorized computed aggregate inputs ───────────────────────────────
  /** A double-valued arithmetic expression over scan columns compiled to
    * a column-at-a-time program (the revenue shape `sum(a * (1 - b))`).
    * The row-projection variant measured a LOSS vs stock codegen
    * (probes/lowcard_agg.json: getRow + projection per row); this form
    * evaluates each node as one monomorphic loop over the batch —
    * the same shape that won for the residual predicate. op: 0 `+`,
    * 1 `-`, 2 `*` (Divide is not compiled: its NULL-on-zero semantics
    * have no loop form here). Nulls propagate (either side null → null). */
  private[graft] sealed trait VecSpec extends Serializable
  private[graft] final case class VCol(idx: Int, width: Int) extends VecSpec
  private[graft] final case class VLit(v: Double) extends VecSpec
  private[graft] final case class VBin(op: Int, l: VecSpec, r: VecSpec)
    extends VecSpec

  /** Compile `e` (double-typed, deterministic, over scan columns) to a
    * [[VecSpec]]; None → the shape stays with stock codegen. */
  private[graft] def compileVec(e: Expression,
      colIdx: Map[Long, Int]): Option[VecSpec] = {
    import org.apache.spark.sql.catalyst.expressions._
    def widthOfNum(t: DataType): Option[Int] = t match {
      case DoubleType => Some(0)
      case FloatType => Some(-1)
      case LongType => Some(8)
      case IntegerType => Some(4)
      case ShortType => Some(2)
      case ByteType => Some(1)
      case _ => None
    }
    def go(x: Expression): Option[VecSpec] = x match {
      case a: AttributeReference =>
        for { i <- colIdx.get(a.exprId.id); w <- widthOfNum(a.dataType) }
          yield VCol(i, w)
      case Literal(v, t) if v != null && widthOfNum(t).isDefined =>
        Some(VLit(v match {
          case d: Double => d
          case f: Float => f.toDouble
          case l: Long => l.toDouble
          case i: Int => i.toDouble
          case s: Short => s.toDouble
          case b: Byte => b.toDouble
        }))
      // Only WIDENING casts are no-ops under read-as-double evaluation:
      //   • integral → wider-or-equal integral (value-preserving)
      //   • any numeric → double (int→double exact; long→double is the
      //     same IEEE rounding Spark applies)
      //   • byte/short/float → float (exactly representable)
      // Narrowing casts (double/float→integral, long→int, long→float…)
      // truncate / overflow-wrap / round in Spark; treating them as
      // no-ops returns wrong aggregates — bail to stock instead.
      case c: Cast if castIsWidening(c.child.dataType, c.dataType) =>
        go(c.child)
      // Arithmetic is evaluated in IEEE double; that matches Spark only
      // when the node itself is double-typed. Integral-typed +/-/* use
      // wrapping int/long semantics (and exact long math beyond 2^53);
      // float-typed rounds each step to float — both diverge, so bail.
      case Add(l, r, _) if x.dataType == DoubleType =>
        for (a <- go(l); b <- go(r)) yield VBin(0, a, b)
      case Subtract(l, r, _) if x.dataType == DoubleType =>
        for (a <- go(l); b <- go(r)) yield VBin(1, a, b)
      case Multiply(l, r, _) if x.dataType == DoubleType =>
        for (a <- go(l); b <- go(r)) yield VBin(2, a, b)
      // Divide deliberately absent: Spark's Divide is NULL-on-zero
      // (error under ANSI) even for doubles — not IEEE `/`
      case _ => None
    }
    if (e.dataType == DoubleType) go(e) else None
  }

  /** True when Spark's Cast(from → to) is value-preserving under our
    * read-the-source-as-double evaluation (see [[compileVec]]). */
  private[graft] def castIsWidening(from: DataType, to: DataType): Boolean = {
    def intWidth(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 4; case LongType => 8; case _ => 0
    }
    (from, to) match {
      case (f, t) if intWidth(f) > 0 && intWidth(t) > 0 =>
        intWidth(t) >= intWidth(f)
      case (ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType, DoubleType) => true
      case (ByteType | ShortType | FloatType, FloatType) => true
      case _ => false
    }
  }

  /** Per-partition evaluator for a [[VecSpec]] tree: each node owns its
    * output buffers; eval is one tight loop per node per batch. */
  private[graft] final class VecNode(val spec: VecSpec) {
    val l: VecNode = spec match {
      case VBin(_, a, _) => new VecNode(a); case _ => null }
    val r: VecNode = spec match {
      case VBin(_, _, b) => new VecNode(b); case _ => null }
    var out: Array[Double] = new Array[Double](0)
    var nulls: Array[Boolean] = new Array[Boolean](0)
    private var litFilled = 0
    def ensure(n: Int): Unit = {
      if (out.length < n) {
        out = new Array[Double](n); nulls = new Array[Boolean](n)
        litFilled = 0
      }
      if (l != null) { l.ensure(n); r.ensure(n) }
    }
    def eval(b: ColumnarBatch, n: Int): Unit = spec match {
      case VLit(v) =>
        if (litFilled < n) {
          java.util.Arrays.fill(out, 0, n, v)
          java.util.Arrays.fill(nulls, 0, n, false)
          litFilled = n
        }
      case VCol(idx, w) =>
        val c = b.column(idx)
        val noNull = !c.hasNull
        var i = 0
        if (noNull) {
          java.util.Arrays.fill(nulls, 0, n, false)
          while (i < n) {
            out(i) = (w: @annotation.switch) match {
              case 0 => c.getDouble(i)
              case -1 => c.getFloat(i).toDouble
              case 8 => c.getLong(i).toDouble
              case 4 => c.getInt(i).toDouble
              case 2 => c.getShort(i).toDouble
              case _ => c.getByte(i).toDouble
            }
            i += 1
          }
        } else while (i < n) {
          if (c.isNullAt(i)) nulls(i) = true
          else {
            nulls(i) = false
            out(i) = (w: @annotation.switch) match {
              case 0 => c.getDouble(i)
              case -1 => c.getFloat(i).toDouble
              case 8 => c.getLong(i).toDouble
              case 4 => c.getInt(i).toDouble
              case 2 => c.getShort(i).toDouble
              case _ => c.getByte(i).toDouble
            }
          }
          i += 1
        }
      case VBin(op, _, _) =>
        l.eval(b, n); r.eval(b, n)
        val lo = l.out; val ln = l.nulls
        val ro = r.out; val rn = r.nulls
        var i = 0
        (op: @annotation.switch) match {
          case 0 => while (i < n) {
            out(i) = lo(i) + ro(i); nulls(i) = ln(i) || rn(i); i += 1 }
          case 1 => while (i < n) {
            out(i) = lo(i) - ro(i); nulls(i) = ln(i) || rn(i); i += 1 }
          case _ => while (i < n) {
            out(i) = lo(i) * ro(i); nulls(i) = ln(i) || rn(i); i += 1 }
        }
    }
  }

  /** Decompose a residual predicate into vectorizable atoms; None keeps
    * the generated-Predicate path. */
  private[graft] def decomposeFilter(cond: Expression,
      scanOutput: Seq[Attribute]): Option[Array[FilterAtom]] = {
    import org.apache.spark.sql.catalyst.expressions._
    val colIdx = scanOutput.map(_.exprId).zipWithIndex.toMap
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def longWidth(t: DataType): Int = t match {
      case LongType | TimestampType | TimestampNTZType => 8
      case IntegerType | DateType => 4
      case ShortType => 2
      case ByteType => 1
      case _ => 0
    }
    def litLong(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case by: Byte => by.toLong
      case _ => 0L
    }
    def cmpAtom(a: Attribute, lit: Literal, op: Int): Option[FilterAtom] = {
      if (lit.value == null) return None
      colIdx.get(a.exprId).flatMap { idx =>
        a.dataType match {
          case DoubleType =>
            Some(CmpDoubleAtom(idx, 0, op, lit.value.asInstanceOf[Double]))
          case FloatType =>
            Some(CmpDoubleAtom(idx, -1, op,
              lit.value.asInstanceOf[Float].toDouble))
          case t @ (LongType | IntegerType | ShortType | ByteType |
              DateType | TimestampType | TimestampNTZType) =>
            Some(CmpLongAtom(idx, longWidth(t), op, litLong(lit.value)))
          case StringType if op == 4 =>
            Some(StrAtom(idx, 3, lit.value.asInstanceOf[UTF8String]))
          case _ => None
        }
      }
    }
    def flipOp(op: Int): Int = (op: @annotation.switch) match {
      case 0 => 2; case 1 => 3; case 2 => 0; case 3 => 1; case _ => 4
    }
    // Invalid patterns keep the stock path so the user sees Spark's own
    // error, not a silent drop; compiling here also fails fast on the
    // driver instead of per task.
    def regexAtom(a: Attribute, regex: String, fullMatch: Boolean,
        negated: Boolean): Option[FilterAtom] =
      colIdx.get(a.exprId).flatMap { idx =>
        try {
          java.util.regex.Pattern.compile(regex)
          Some(RegexAtom(idx, regex, fullMatch, negated))
        } catch { case _: Exception => None }
      }
    def atomOf(e: Expression): Option[FilterAtom] = e match {
      case IsNotNull(a: AttributeReference) =>
        colIdx.get(a.exprId).map(NullTestAtom(_, isNull = false))
      case IsNull(a: AttributeReference) =>
        colIdx.get(a.exprId).map(NullTestAtom(_, isNull = true))
      case cmp: BinaryComparison if !cmp.isInstanceOf[EqualNullSafe] =>
        val op = cmp match {
          case _: LessThan => 0
          case _: LessThanOrEqual => 1
          case _: GreaterThan => 2
          case _: GreaterThanOrEqual => 3
          case _ => 4 // EqualTo
        }
        (cmp.left, cmp.right) match {
          case (a: AttributeReference, l: Literal) => cmpAtom(a, l, op)
          case (l: Literal, a: AttributeReference) =>
            cmpAtom(a, l, flipOp(op))
          case _ => None
        }
      case Contains(a: AttributeReference,
          Literal(s: UTF8String, StringType)) =>
        colIdx.get(a.exprId).map(StrAtom(_, 0, s))
      case StartsWith(a: AttributeReference,
          Literal(s: UTF8String, StringType)) =>
        colIdx.get(a.exprId).map(StrAtom(_, 1, s))
      case EndsWith(a: AttributeReference,
          Literal(s: UTF8String, StringType)) =>
        colIdx.get(a.exprId).map(StrAtom(_, 2, s))
      // RLIKE: Spark's RLike = Pattern.compile(p).matcher(s).find(0);
      // LIKE reaching the physical plan is the non-simplifiable multi-
      // wildcard form (LikeSimplification rewrites the rest) = full
      // matches() over escapeLikeRegex. NOT-wrapped forms negate after
      // the null test (NOT(NULL) = NULL = drop, same as FALSE here).
      case RLike(a: AttributeReference, Literal(p: UTF8String, StringType)) =>
        regexAtom(a, p.toString, fullMatch = false, negated = false)
      case Not(RLike(a: AttributeReference,
          Literal(p: UTF8String, StringType))) =>
        regexAtom(a, p.toString, fullMatch = false, negated = true)
      case Like(a: AttributeReference,
          Literal(p: UTF8String, StringType), esc) =>
        regexAtom(a,
          org.apache.spark.sql.catalyst.util.StringUtils
            .escapeLikeRegex(p.toString, esc),
          fullMatch = true, negated = false)
      case Not(Like(a: AttributeReference,
          Literal(p: UTF8String, StringType), esc)) =>
        regexAtom(a,
          org.apache.spark.sql.catalyst.util.StringUtils
            .escapeLikeRegex(p.toString, esc),
          fullMatch = true, negated = true)
      case _ => None
    }
    val parts = conjuncts(cond).map(atomOf)
    if (parts.nonEmpty && parts.forall(_.isDefined))
      Some(parts.flatten.toArray)
    else None
  }

  override def apply(plan: SparkPlan): SparkPlan = rewrite(plan, FlushGroups)

  /** The rule with a smaller flush cap, so a test reaches the flush path
    * on small data. */
  private[plans] final class WithFlushCap(flushGroups: Int)
      extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = rewrite(plan, flushGroups)
  }

  /** One bottom-up pass: the partial is rewritten before its parent
    * exchange is visited, so the exchange case sees the new operator.
    *
    * The exchange ABOVE a [[LowCardAggExec]] shrinks to
    * [[SmallExchangePartitions]]: its partial output is
    * group-count-sized, yet EnsureRequirements sized the exchange at the
    * session's shuffle-partition count — so every map task opens that
    * many reducer files for a few thousand rows, and AQE coalesces the
    * reads back to one anyway. Probed (probes/small_exchange.json): the
    * write fan-out is 70-100 ms of the small-aggregate stage floor at
    * local[32]; the round-10 honest re-probe found 2 partitions ~6%
    * better than 4 across h02/h06/h07/h08, with 1 inside noise of 2 but
    * worse on the smallest query. Hash distribution over the same keys
    * at any partition count stays valid for the final aggregate.
    *
    * OBJECT-STATE partials are exempt: a bitmap COUNT(DISTINCT) partial
    * carries serialized PageSets whose final-stage OR-merge is the cost
    * — shrinking its exchange serializes that merge (h04 p2 +25%, p1
    * +42% vs p4≈p8≈p32, probes/small_exchange.json h04 section). Those
    * exchanges keep the session partitioning. */
  private def rewrite(plan: SparkPlan, flushGroups: Int): SparkPlan =
    plan.transformUp {
      // ObjectHashAggregate appears when DistinctToBitmap planted a
      // TypedImperativeAggregate — same partial-over-scan shape
      case agg: BaseAggregateExec
          if (agg.isInstanceOf[HashAggregateExec] ||
              agg.isInstanceOf[ObjectHashAggregateExec]) &&
            agg.aggregateExpressions.nonEmpty &&
            agg.aggregateExpressions.forall(ae =>
              ae.mode == Partial && !ae.isDistinct && ae.filter.isEmpty) &&
            (agg.groupingExpressions.isEmpty || lowNdv(agg)) =>
        tryRewrite(agg, flushGroups).getOrElse(agg)
      case sh @ ShuffleExchangeExec(hp: HashPartitioning,
          lc: LowCardAggExec, _, _)
          if hp.numPartitions > SmallExchangePartitions &&
            !lc.aggSpecs.exists(_.isInstanceOf[BitmapSpec]) =>
        sh.copy(outputPartitioning =
          hp.copy(numPartitions = SmallExchangePartitions))
    }

  /** The gate: every grouping key has a known distinct count and the
    * product stays under the map-friendly bound.
    *
    * A FLOORED-TIMESTAMP key (`date_trunc('hour', ts)` →
    * [[FloorTimestamp]], pulled out by Spark into a computed Project
    * column) has no column stats of its own; its NDV is bounded soundly
    * by the SOURCE column's value range: at most (max−min)/unit + 1
    * distinct floor values can exist. The range comes from
    * [[graft.engine.AutoStats]]'s side store (kept out of the catalog —
    * NTZ column stats crash FilterEstimation). Without this bound the
    * canonical time-bucketed GROUP BY could never ride the columnar
    * path in a real session. */
  private def lowNdv(agg: BaseAggregateExec): Boolean = {
    agg.logicalLink match {
      case Some(la: org.apache.spark.sql.catalyst.plans.logical.Aggregate) =>
        val stats = la.child.stats
        // aliases computed in Projects between the Aggregate and the scan
        // (PullOutGroupingExpressions parks complex keys there)
        def aliases(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : Map[Long, Expression] = p match {
          case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
            pr.projectList.collect {
              case al: org.apache.spark.sql.catalyst.expressions.Alias =>
                al.exprId.id -> al.child
            }.toMap ++ aliases(pr.child)
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            aliases(f.child)
          case _ => Map.empty
        }
        lazy val aliasMap = aliases(la.child)
        def unwrapTsCast(e: Expression): Expression = e match {
          case c: org.apache.spark.sql.catalyst.expressions.Cast
              if (c.dataType == TimestampType ||
                c.dataType == TimestampNTZType) &&
                (c.child.dataType == TimestampType ||
                  c.child.dataType == TimestampNTZType) => unwrapTsCast(c.child)
          case other => other
        }
        def flooredBound(e: Expression): Option[BigInt] = e match {
          case FloorTimestamp(inner, unit) if unit > 0 =>
            unwrapTsCast(inner) match {
              case src: Attribute =>
                graft.engine.AutoStats.tsRangeFor(la.child, src).map {
                  case (mn, mx) =>
                    // range is raw internal micros (AutoStats pins the
                    // collection cast to UTC — ADVICE r10 #3, no DST
                    // shrink); +2 covers the boundary buckets
                    BigInt((mx - mn) / unit) + 2
                }
              case _ => None
            }
          case _ => None
        }
        val ndv = la.groupingExpressions.map {
          case a: Attribute =>
            stats.attributeStats.find(_._1.exprId == a.exprId)
              .flatMap(_._2.distinctCount)
              .orElse(aliasMap.get(a.exprId.id).flatMap(flooredBound))
          case other => flooredBound(other)
        }
        ndv.forall(_.isDefined) &&
          ndv.flatten.product <= MaxNdv
      case _ => false
    }
  }

  /** Peel (project?, filter?, transitions) down to the columnar scan.
    * The filter condition (the scan's residual predicate) is evaluated
    * per row by the operator through Spark's own generated Predicate —
    * the same work the stock FilterExec would do — so WHERE + GROUP BY,
    * the commonest aggregate shape, rides the columnar path too. */
  private def unwrap(p: SparkPlan): Option[(Seq[NamedExpression],
      Option[Expression], FileSourceScanExec)] = {
    def scanOf(q: SparkPlan): Option[FileSourceScanExec] = q match {
      case s: FileSourceScanExec => Some(s)
      case ColumnarToRowExec(s: FileSourceScanExec) => Some(s)
      case _ => None
    }
    p match {
      case ProjectExec(list,
          org.apache.spark.sql.execution.FilterExec(cond, q)) =>
        scanOf(q).map((list, Some(cond), _))
      case org.apache.spark.sql.execution.FilterExec(cond, q) =>
        scanOf(q).map((Nil, Some(cond), _))
      case ProjectExec(list, q) => scanOf(q).map((list, None, _))
      case q => scanOf(q).map((Nil, None, _))
    }
  }

  private def tryRewrite(agg: BaseAggregateExec,
      flushGroups: Int): Option[SparkPlan] = {
    val (projList, filterCond, scan) = unwrap(agg.child).getOrElse(return None)
    if (!scan.supportsColumnar) return None
    // the filter must be evaluable over the scan's output alone
    if (filterCond.exists(c => !c.deterministic ||
        !c.references.subsetOf(
          org.apache.spark.sql.catalyst.expressions.AttributeSet(scan.output))))
      return None
    val aliasMap: Map[Long, Expression] = projList.collect {
      case a: org.apache.spark.sql.catalyst.expressions.Alias =>
        a.exprId.id -> a.child
    }.toMap
    val colIdx: Map[Long, Int] =
      scan.output.zipWithIndex.map { case (a, i) => a.exprId.id -> i }.toMap

    def widthOf(dt: DataType): Option[Int] = dt match {
      case LongType | TimestampType | TimestampNTZType => Some(8)
      case IntegerType | DateType => Some(4)
      case ShortType => Some(2)
      case ByteType => Some(1)
      case DoubleType => Some(0)
      case FloatType => Some(-1)
      case StringType => Some(-2)
      case _ => None
    }
    val utcSession = {
      val z = conf.sessionLocalTimeZone
      z == "UTC" || z == "Etc/UTC" || z == "GMT" || z == "Z" || z == "+00:00"
    }
    /** Strip casts whose value conversion our readers reproduce exactly:
      * timestamp-flavor re-tags (identity on micros, UTC session only),
      * integral widenings, and numeric→double (toDouble matches Spark's
      * cast for every source our readers support). */
    def unwrapCast(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        val ok = (c.child.dataType, c.dataType) match {
          case (TimestampNTZType, TimestampType) |
               (TimestampType, TimestampNTZType) => utcSession
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType) => true
          case (IntegerType, LongType) => true
          case (ByteType | ShortType | IntegerType | LongType | FloatType,
                DoubleType) => true
          case _ => false
        }
        if (ok) unwrapCast(c.child) else e
      case _ => e
    }
    /** Resolve an expression (through project aliases) to a Get. */
    def getOf(e0: Expression): Option[Get] = {
      val e = unwrapCast(e0.transformUp {
        case a: AttributeReference if aliasMap.contains(a.exprId.id) =>
          aliasMap(a.exprId.id)
      })
      e match {
        case a: AttributeReference =>
          for {
            i <- colIdx.get(a.exprId.id)
            w <- widthOf(a.dataType)
          } yield Get(i, w)
        case FloorTimestamp(inner, unit) => unwrapCast(inner) match {
          case a: AttributeReference
              if a.dataType == TimestampType ||
                a.dataType == TimestampNTZType =>
            colIdx.get(a.exprId.id).map(Get(_, 8, unit))
          case _ => None
        }
        case _ => None
      }
    }

    // grouping keys — the stored value's domain must match the OUTPUT
    // attribute's type family (a cast that changes family, e.g. int key
    // emitted as double, keeps the stock path)
    def domainOk(width: Int, out: DataType): Boolean = (width, out) match {
      case (w, LongType | IntegerType | ShortType | ByteType | DateType |
               TimestampType | TimestampNTZType) if w > 0 => true
      case (0 | -1, DoubleType | FloatType) => true
      case (-2, StringType) => true
      case _ => false
    }
    val keySpecs = agg.groupingExpressions.map { g =>
      getOf(g match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case other => other
      }).filter(get => domainOk(get.width, g.toAttribute.dataType))
        .map(get => (get, g.toAttribute.dataType))
    }
    if (keySpecs.exists(_.isEmpty)) return None

    // computed aggregate inputs: a deterministic double EXPRESSION over
    // scan columns (the revenue shape `sum(a*(1-b))`) compiled to a
    // column-at-a-time [[VecSpec]] program — one monomorphic loop per
    // node per batch, the shape that won for the residual predicate:
    // probes/vector_compute.json measured the grouped revenue shape at
    // -39% vs stock codegen and the global+filter h05 shape at parity.
    // A per-row generated projection measured a 25% LOSS on h05
    // (probes/lowcard_agg.json addendum), so expressions that don't
    // compile bail to stock.
    val computedVec = scala.collection.mutable.ArrayBuffer.empty[VecSpec]
    def getOrCompute(e0: Expression): Option[Get] = getOf(e0).orElse {
      val e = e0.transformUp {
        case a: AttributeReference if aliasMap.contains(a.exprId.id) =>
          aliasMap(a.exprId.id)
      }
      if (e.deterministic && e.dataType == DoubleType &&
          e.references.subsetOf(
            org.apache.spark.sql.catalyst.expressions.AttributeSet(scan.output)))
        compileVec(e, colIdx).map { spec =>
          computedVec += spec
          Get(computedVec.length - 1, -3)
        }
      else None
    }
    // aggregates — buffer layout must match what the FINAL agg merges
    def aggOf(ae: AggregateExpression): Option[AggSpec] =
      ae.aggregateFunction match {
        // COUNT over only-literal children is COUNT(*) ONLY if none of
        // them can evaluate to null — COUNT(NULL) must stay 0
        case c: Count if c.children.forall(_.foldable) &&
            c.children.forall(_.eval(null) != null) => Some(CountStar)
        case c: Count if c.children.length == 1 =>
          getOf(c.children.head).map(CountCol)
        case s: Sum => s.aggBufferAttributes.head.dataType match {
          case LongType => getOf(s.child)
            .filter(g => g.width > 0 && g.floorUnit == 0L).map(SumLong)
          case DoubleType =>
            getOrCompute(s.child).filter(_.floorUnit == 0L).map(SumDouble)
          case _ => None // decimal sums keep the stock path
        }
        case a: Average
            if a.aggBufferAttributes.head.dataType == DoubleType =>
          getOrCompute(a.child).filter(_.floorUnit == 0L).map(AvgDouble)
        case m: Min => getOf(m.child).flatMap { g =>
          if (g.width > 0) Some(MinMaxLong(g, isMin = true))
          else if (g.width == 0 || g.width == -1)
            Some(MinMaxDouble(g, isMin = true))
          else None
        }
        case m: Max => getOf(m.child).flatMap { g =>
          if (g.width > 0) Some(MinMaxLong(g, isMin = false))
          else if (g.width == 0 || g.width == -1)
            Some(MinMaxDouble(g, isMin = false))
          else None
        }
        case bd: graft.functions.BitmapDistinctCount =>
          getOf(bd.child).filter(_.width > 0).map(BitmapSpec)
        case _ => None
      }
    val aggSpecs = agg.aggregateExpressions.map(aggOf)
    if (aggSpecs.exists(_.isEmpty)) return None

    // output plan: every result attr is a group output or a buffer attr
    val keyIds = agg.groupingExpressions.map(_.toAttribute.exprId.id)
      .zipWithIndex.toMap
    val bufIds: Map[Long, (Int, Int)] =
      agg.aggregateExpressions.zipWithIndex.flatMap { case (ae, i) =>
        ae.aggregateFunction.inputAggBufferAttributes.zipWithIndex.map {
          case (b, j) => b.exprId.id -> ((i, j))
        }
      }.toMap
    val outCols = agg.resultExpressions.map {
      case a: Attribute if keyIds.contains(a.exprId.id) =>
        Some(OutCol(0, keyIds(a.exprId.id), 0))
      case a: Attribute if bufIds.contains(a.exprId.id) =>
        val (i, j) = bufIds(a.exprId.id); Some(OutCol(1, i, j))
      case _ => None
    }
    if (outCols.exists(_.isEmpty)) return None

    if (keySpecs.flatten.count(_._1.width == -2) > MaxStringKeys) return None
    Some(LowCardAggExec(agg.output, keySpecs.flatten, aggSpecs.flatten,
      outCols.flatten, flushGroups, filterCond, scan, computedVec.toSeq))
  }
}

/** The physical operator — see [[LowCardAgg]]. Child is the columnar
  * parquet scan; output is the standard partial-aggregate row layout. */
final case class LowCardAggExec(
    output: Seq[Attribute],
    keySpecs: Seq[(LowCardAgg.Get, DataType)],
    aggSpecs: Seq[LowCardAgg.AggSpec],
    outCols: Seq[LowCardAgg.OutCol],
    flushGroups: Int,
    filterCond: Option[Expression],
    child: SparkPlan,
    computedVecs: Seq[LowCardAgg.VecSpec] = Nil) extends UnaryExecNode {

  import LowCardAgg._

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val keys = keySpecs.toArray
    val aggs = aggSpecs.toArray
    val outs = outCols.toArray
    val outTypes = output.map(_.dataType).toArray
    val flushCap = flushGroups
    val cond = filterCond
    val computedVecs = this.computedVecs
    // transition + codegen rules may wrap the scan in ColumnarToRow /
    // WholeStageCodegen / InputAdapter shells below this operator —
    // unwrap to the columnar source and consume its batches directly
    def findColumnar(p: SparkPlan): SparkPlan = p match {
      case c: ColumnarToRowExec => findColumnar(c.child)
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        findColumnar(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter =>
        findColumnar(i.child)
      case s => s
    }
    val columnar = findColumnar(child)
    val scanOutput = columnar.output
    // vectorized residual predicate when every conjunct decomposes —
    // evaluated column-at-a-time into the mask instead of per-row
    // through a batch-row view (h01 profile: the row detour was ~50%
    // of the filtered global aggregate)
    val atoms: Array[FilterAtom] =
      cond.flatMap(decomposeFilter(_, scanOutput)).orNull
    columnar.executeColumnar().mapPartitionsWithIndex { (pi, batches) =>
      // fallback: the scan's residual predicate via Spark's own
      // generated Predicate over reused batch-row views
      val pred =
        if (atoms != null) null
        else cond.map { c =>
          val p = org.apache.spark.sql.catalyst.expressions.Predicate
            .create(c, scanOutput)
          p.initialize(pi)
          p
        }.orNull
      new LowCardAggIterator(batches, keys, aggs, outs, outTypes, flushCap,
        pred, atoms, computedVecs.map(new VecNode(_)).toArray)
    }
  }
}

/** Per-partition accumulation: open-addressed int table over typed
  * primitive arrays; emits (and resets) at the flush cap. */
private[graft] final class LowCardAggIterator(
    batches: Iterator[ColumnarBatch],
    keys: Array[(LowCardAgg.Get, DataType)],
    aggs: Array[LowCardAgg.AggSpec],
    outs: Array[LowCardAgg.OutCol],
    outTypes: Array[DataType],
    flushCap: Int,
    pred: org.apache.spark.sql.catalyst.expressions.BasePredicate = null,
    atoms: Array[LowCardAgg.FilterAtom] = null,
    vecComp: Array[LowCardAgg.VecNode] = Array.empty)
    extends Iterator[InternalRow] {

  import LowCardAgg._

  private val nKeys = keys.length
  private val nComp = vecComp.length
  private val proj = UnsafeProjection.create(outTypes)
  private val scratch = new GenericInternalRow(outTypes.length)

  // ── group storage (grows with groups, resets at flush) ───────────────
  private var tableBits = 12
  private var table = Array.fill(1 << tableBits)(-1)
  private var nGroups = 0
  private var capGroups = 1 << 10
  private var groupHash = new Array[Int](capGroups)
  // key values: long-domain keys in keyL, string keys in keyS (copied)
  private var keyL = Array.fill(nKeys)(new Array[Long](capGroups))
  private var keyS = Array.fill(nKeys)(new Array[UTF8String](capGroups))
  private var keyLen = Array.fill(nKeys)(new Array[Int](capGroups))
  private var keyNull = Array.fill(nKeys)(new Array[Boolean](capGroups))
  // agg buffers: one double/long array per slot + a has-value flag
  private val slotOf = {
    val o = new Array[Int](aggs.length); var acc = 0
    var i = 0
    while (i < aggs.length) { o(i) = acc; acc += aggs(i).slots; i += 1 }
    o
  }
  private val nSlots = aggs.map(_.slots).sum
  private var accL = new Array[Long](capGroups * nSlots)
  private var accD = new Array[Double](capGroups * nSlots)
  private var accHas = new Array[Boolean](capGroups * nSlots)
  // object-state aggregates (BitmapSpec): one slot per (group, objAgg)
  private val objIdxOf = {
    val o = new Array[Int](aggs.length); var acc = 0
    var i = 0
    while (i < aggs.length) {
      o(i) = if (aggs(i).isInstanceOf[BitmapSpec]) { val v = acc; acc += 1; v }
             else -1
      i += 1
    }
    o
  }
  private val nObj = objIdxOf.count(_ >= 0)
  private var accObj =
    if (nObj == 0) null else new Array[AnyRef](capGroups * nObj)

  private def growGroups(): Unit = {
    val nc = capGroups * 2
    groupHash = java.util.Arrays.copyOf(groupHash, nc)
    var k = 0
    while (k < nKeys) {
      keyL(k) = java.util.Arrays.copyOf(keyL(k), nc)
      keyS(k) = java.util.Arrays.copyOf(keyS(k), nc)
      keyLen(k) = java.util.Arrays.copyOf(keyLen(k), nc)
      keyNull(k) = java.util.Arrays.copyOf(keyNull(k), nc)
      k += 1
    }
    accL = java.util.Arrays.copyOf(accL, nc * nSlots)
    accD = java.util.Arrays.copyOf(accD, nc * nSlots)
    accHas = java.util.Arrays.copyOf(accHas, nc * nSlots)
    if (nObj > 0) accObj = java.util.Arrays.copyOf(accObj, nc * nObj)
    capGroups = nc
  }

  private def rehash(): Unit = {
    tableBits += 1
    table = Array.fill(1 << tableBits)(-1)
    val mask = table.length - 1
    var g = 0
    while (g < nGroups) {
      var s = groupHash(g) & mask
      while (table(s) != -1) s = (s + 1) & mask
      table(s) = g
      g += 1
    }
  }

  private def reset(): Unit = {
    java.util.Arrays.fill(table, -1)
    var k = 0
    while (k < nKeys) {
      java.util.Arrays.fill(keyS(k).asInstanceOf[Array[AnyRef]], null)
      k += 1
    }
    if (nObj > 0) java.util.Arrays.fill(accObj, null)
    if (direct != null) java.util.Arrays.fill(direct, -1)
    nGroups = 0
  }

  // ── vectorized two-pass batch processing ─────────────────────────────
  // Pass 1 materializes each key column into temp arrays (one tight,
  // monomorphic loop per key), hashes and probes per row against the
  // temps, filling gids. Pass 2 runs one tight loop per aggregate kind
  // over (gids, source vector). Dispatch happens per BATCH, not per row
  // — the structure that let the hand-tuned ceiling probe reach DuckDB
  // throughput (probes/lowcard_agg.json).
  private var tmpCap = 0
  private var gids: Array[Int] = null
  private var tmpL: Array[Array[Long]] = null
  private var tmpN: Array[Array[Boolean]] = null
  private var tmpS: Array[Array[UTF8String]] = null
  private var tmpLen: Array[Array[Int]] = null
  private var rowHash: Array[Int] = null
  /** The batch currently being probed — group inserts re-read string
    * keys from it (the packed temp carries no object to clone). */
  private var curBatch: ColumnarBatch = null

  private def ensureTmp(n: Int): Unit = if (n > tmpCap) {
    tmpCap = math.max(n, 4096)
    gids = new Array[Int](tmpCap)
    rowHash = new Array[Int](tmpCap)
    tmpL = Array.fill(nKeys)(new Array[Long](tmpCap))
    tmpN = Array.fill(nKeys)(new Array[Boolean](tmpCap))
    tmpS = Array.fill(nKeys)(new Array[UTF8String](tmpCap))
    tmpLen = Array.fill(nKeys)(new Array[Int](tmpCap))
    tmpId = Array.fill(nKeys)(new Array[Int](tmpCap))
    sel = new Array[Boolean](tmpCap)
    if (nComp > 0) {
      compV = Array.fill(nComp)(new Array[Double](tmpCap))
      compN = Array.fill(nComp)(new Array[Boolean](tmpCap))
    }
  }

  // per-batch dictionary-CODE state: when every grouping key of a batch
  // is dictionary-backed, (code0, code1) is a perfect key within the
  // batch and the combo cache maps it straight to a gid — the hash pass
  // and the per-row table probe collapse to one array load per row
  // (DuckDB's perfect-hash-over-dictionary-codes trick)
  private var tmpId: Array[Array[Int]] = null
  private val batchDict = new Array[Boolean](math.max(nKeys, 1))
  private val batchDictMax = new Array[Int](math.max(nKeys, 1))
  private var comboG: Array[Int] = new Array[Int](0)
  private var comboEp: Array[Int] = new Array[Int](0)
  private var comboEpoch = 0
  private def ensureCombo(size: Int): Unit = if (comboG.length < size) {
    comboG = new Array[Int](size)
    comboEp = new Array[Int](size) // epoch 0 never used → no fill needed
  }

  private var sel: Array[Boolean] = null
  // computed aggregate inputs (width -3): per-batch materialization
  private var compV: Array[Array[Double]] = null
  private var compN: Array[Array[Boolean]] = null

  // direct-address (perfect-hash) table for a single dense int-family
  // key: gids come from one bounds check + array load instead of the
  // open-addressed probe (measured ~0.22 s of the 5.6 M-row stage at
  // 20 k groups). Groups created through it are ALSO inserted into the
  // hash table, so a key outside [0, cap) just disables the shortcut
  // and the generic probe continues seamlessly.
  private val DirectCap = 1 << 21
  private var directEnabled =
    nKeys == 1 && keys(0)._1.width > 0 && keys(0)._1.floorUnit == 0L
  private var direct: Array[Int] = null
  private var directLen = 0

  private def growDirect(min: Long): Unit = {
    val want = math.min(DirectCap.toLong,
      math.max(math.max(min + 1, 1024L), directLen.toLong * 2)).toInt
    if (direct == null) {
      direct = new Array[Int](want)
      java.util.Arrays.fill(direct, -1)
    } else {
      val old = directLen
      direct = java.util.Arrays.copyOf(direct, want)
      java.util.Arrays.fill(direct, old, want, -1)
    }
    directLen = want
  }

  /** Materialize key `k` of the batch into the temp arrays. */
  private def extractKey(b: ColumnarBatch, k: Int, n: Int): Unit = {
    val spec = keys(k)._1
    val c = b.column(spec.idx)
    batchDict(k) = false
    val vL = tmpL(k); val vN = tmpN(k); val vS = tmpS(k)
    val unit = spec.floorUnit
    val noNull = !c.hasNull
    if (noNull) java.util.Arrays.fill(vN, 0, n, false)
    spec.width match {
      case 8 =>
        var i = 0
        if (unit > 0) {
          if (noNull) while (i < n) {
            val v = c.getLong(i)
            vL(i) = v - java.lang.Math.floorMod(v, unit)
            i += 1
          } else while (i < n) {
            if (c.isNullAt(i)) vN(i) = true
            else { vN(i) = false
              val v = c.getLong(i)
              vL(i) = v - java.lang.Math.floorMod(v, unit) }
            i += 1
          }
        } else {
          if (noNull) while (i < n) { vL(i) = c.getLong(i); i += 1 }
          else while (i < n) {
            if (c.isNullAt(i)) vN(i) = true
            else { vN(i) = false; vL(i) = c.getLong(i) }
            i += 1
          }
        }
      case 4 =>
        var i = 0
        if (noNull) while (i < n) { vL(i) = c.getInt(i).toLong; i += 1 }
        else while (i < n) {
          if (c.isNullAt(i)) vN(i) = true
          else { vN(i) = false; vL(i) = c.getInt(i).toLong }
          i += 1
        }
      case 2 =>
        var i = 0
        while (i < n) {
          if (c.isNullAt(i)) vN(i) = true
          else { vN(i) = false; vL(i) = c.getShort(i).toLong }
          i += 1
        }
      case 1 =>
        var i = 0
        while (i < n) {
          if (c.isNullAt(i)) vN(i) = true
          else { vN(i) = false; vL(i) = c.getByte(i).toLong }
          i += 1
        }
      case 0 =>
        var i = 0
        while (i < n) {
          if (c.isNullAt(i)) vN(i) = true
          else { vN(i) = false
            vL(i) = java.lang.Double.doubleToLongBits(c.getDouble(i)) }
          i += 1
        }
      case -1 =>
        var i = 0
        while (i < n) {
          if (c.isNullAt(i)) vN(i) = true
          else { vN(i) = false
            vL(i) = java.lang.Double.doubleToLongBits(c.getFloat(i).toDouble) }
          i += 1
        }
      case -2 =>
        val vLen = tmpLen(k)
        // dictionary fast path: parquet dictionary-encodes low-cardinality
        // string columns, and after a batch completes, hasDictionary means
        // EVERY row of the batch is id-encoded (the vectorized reader
        // decodes ids to values and clears the dictionary the moment a
        // plain page appears). Materialize each DISTINCT id once per
        // batch via getUTF8String, then the row loop is one getInt plus
        // array loads — no per-row UTF8String allocation, which the
        // probe pinned as the two-string-key floor
        // (probes/lowcard_agg.json "per-row getUTF8String+getPrefix
        // extraction"). Ids translate per batch, never across batches:
        // different row groups assign different ids to the same value.
        val wv = c match {
          case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
              if w.hasDictionary => w
          case _ => null
        }
        if (wv != null) {
          val ids = wv.getDictionaryIds
          dictEpoch += 1
          val epoch = dictEpoch
          val vId = tmpId(k)
          var maxId = 0
          var i = 0
          while (i < n) {
            if (!noNull && c.isNullAt(i)) { vN(i) = true; vS(i) = null; vLen(i) = 0 }
            else {
              if (!noNull) vN(i) = false
              val id = ids.getInt(i)
              if (id >= dictCap) growDict(id + 1)
              if (dictSeen(id) != epoch) {
                dictSeen(id) = epoch
                val s = c.getUTF8String(i)
                val nb = s.numBytes()
                if (nb <= 8) { dictL(id) = s.getPrefix; dictLen(id) = nb
                  dictS(id) = null }
                else { dictS(id) = s; dictLen(id) = -1 }
              }
              vL(i) = dictL(id); vLen(i) = dictLen(id); vS(i) = dictS(id)
              vId(i) = id
              if (id > maxId) maxId = id
            }
            i += 1
          }
          batchDict(k) = true
          batchDictMax(k) = maxId
        } else {
        // short strings (≤8 bytes — flags, status codes, event types)
        // pack losslessly into (first-8-bytes prefix, length): hashing
        // and equality then run at long speed, and the ephemeral
        // UTF8String wrapper never escapes, so C2 elides it. Longer
        // strings keep the object (vLen = -1 marks them).
        var i = 0
        if (noNull) while (i < n) {
          val s = c.getUTF8String(i)
          val nb = s.numBytes()
          if (nb <= 8) { vL(i) = s.getPrefix; vLen(i) = nb; vS(i) = null }
          else { vS(i) = s; vLen(i) = -1 }
          i += 1
        } else while (i < n) {
          if (c.isNullAt(i)) { vN(i) = true; vS(i) = null; vLen(i) = 0 }
          else {
            vN(i) = false
            val s = c.getUTF8String(i)
            val nb = s.numBytes()
            if (nb <= 8) { vL(i) = s.getPrefix; vLen(i) = nb; vS(i) = null }
            else { vS(i) = s; vLen(i) = -1 }
          }
          i += 1
        }
        }
    }
  }

  // per-batch dictionary-id translation tables (epoch-tagged so no
  // per-batch clearing; shared across key columns — epochs disambiguate)
  private var dictCap = 0
  private var dictSeen: Array[Long] = null
  private var dictL: Array[Long] = null
  private var dictLen: Array[Int] = null
  private var dictS: Array[UTF8String] = null
  private var dictEpoch = 0L

  private def growDict(min: Int): Unit = {
    val nc = math.max(math.max(min, 1024), dictCap * 2)
    if (dictCap == 0) {
      dictSeen = new Array[Long](nc); dictL = new Array[Long](nc)
      dictLen = new Array[Int](nc); dictS = new Array[UTF8String](nc)
    } else {
      dictSeen = java.util.Arrays.copyOf(dictSeen, nc)
      dictL = java.util.Arrays.copyOf(dictL, nc)
      dictLen = java.util.Arrays.copyOf(dictLen, nc)
      dictS = java.util.Arrays.copyOf(dictS, nc)
    }
    dictCap = nc
  }

  /** Row hash on demand — must match the batch hash pass exactly (the
    * table stores groupHash from whichever path inserted the group). */
  private def hashRowAt(i: Int): Int = {
    var h = 17
    var k = 0
    while (k < nKeys) {
      val hk =
        if (tmpN(k)(i)) 0
        else if (keys(k)._1.width == -2) {
          if (tmpLen(k)(i) >= 0) {
            val v = tmpL(k)(i)
            (v ^ (v >>> 32)).toInt * 31 + tmpLen(k)(i)
          } else tmpS(k)(i).hashCode()
        } else {
          val v = tmpL(k)(i)
          (v ^ (v >>> 32)).toInt
        }
      h = h * 31 + hk
      k += 1
    }
    h
  }

  /** Generic probe/insert for the RARE rows of the combo path (combo
    * miss — once per distinct code pair per batch — and null keys).
    * Re-reads the table fields each call, so rehash needs no local
    * refresh here. */
  private def probeSlow(i: Int): Int = {
    val h = hashRowAt(i) & 0x7fffffff
    var mask = table.length - 1
    var s = h & mask
    while (true) {
      val t = table(s)
      if (t == -1) {
        val g = newGroupTmp(i, h)
        table(s) = g
        if (nGroups * 3 > table.length * 2) rehash()
        return g
      } else if (groupHash(t) == h && keysEqualTmp(i, t)) return t
      else s = (s + 1) & mask
    }
    -1
  }

  private def keysEqualTmp(i: Int, g: Int): Boolean = {
    var k = 0
    while (k < nKeys) {
      val nul = tmpN(k)(i)
      if (nul != keyNull(k)(g)) return false
      if (!nul) {
        if (keys(k)._1.width == -2) {
          val len = tmpLen(k)(i)
          if (len != keyLen(k)(g)) return false
          if (len >= 0) {
            if (tmpL(k)(i) != keyL(k)(g)) return false
          } else if (!tmpS(k)(i).equals(keyS(k)(g))) return false
        } else if (tmpL(k)(i) != keyL(k)(g)) return false
      }
      k += 1
    }
    true
  }

  private def newGroupTmp(i: Int, h: Int): Int = {
    if (nGroups == capGroups) growGroups()
    val g = nGroups
    nGroups += 1
    groupHash(g) = h
    var k = 0
    while (k < nKeys) {
      val nul = tmpN(k)(i)
      keyNull(k)(g) = nul
      if (!nul) {
        val spec = keys(k)._1
        if (spec.width == -2) {
          val len = tmpLen(k)(i)
          keyLen(k)(g) = len
          keyL(k)(g) = tmpL(k)(i)
          // the output needs the string object; packed rows re-read it
          // from the batch (one clone per NEW group — never per row)
          keyS(k)(g) =
            if (len >= 0) curBatch.column(spec.idx).getUTF8String(i).clone()
            else tmpS(k)(i).clone()
        } else keyL(k)(g) = tmpL(k)(i)
      }
      k += 1
    }
    val base = g * nSlots
    var s = 0
    while (s < nSlots) {
      accL(base + s) = 0L; accD(base + s) = 0d; accHas(base + s) = false
      s += 1
    }
    if (nObj > 0) {
      var o = 0
      while (o < nObj) { accObj(g * nObj + o) = null; o += 1 }
    }
    g
  }

  private def processBatch(b: ColumnarBatch): Unit = {
    val n = b.numRows()
    ensureTmp(n)
    curBatch = b
    // residual-filter selection mask: vectorized atoms when the
    // predicate decomposed (column-at-a-time, no row views), else the
    // generated Predicate over reused batch-row views
    val hasFilter = pred != null || atoms != null
    val sl = sel
    if (atoms != null) {
      var a = 0
      while (a < atoms.length) { atoms(a).eval(b, n, sl, a == 0); a += 1 }
    } else if (pred != null) {
      var i = 0
      while (i < n) { sl(i) = pred.eval(b.getRow(i)); i += 1 }
    }
    // computed inputs — column-at-a-time programs: branchless
    // full-batch evaluation, buffers swapped in by reference
    // (filtered-out slots hold valid-but-unread doubles)
    var c = 0
    while (c < nComp) {
      val nd = vecComp(c)
      nd.ensure(n); nd.eval(b, n)
      compV(c) = nd.out; compN(c) = nd.nulls
      c += 1
    }
    // grouping-free (global) aggregate: one group, no key passes — the
    // h01/h05 shape; the whole batch maps to group 0 modulo the filter
    if (nKeys == 0) {
      if (nGroups == 0) newGroupTmp(0, 0)
      val ids = gids
      var i = 0
      if (hasFilter) while (i < n) { ids(i) = if (sl(i)) 0 else -1; i += 1 }
      else while (i < n) { ids(i) = 0; i += 1 }
      runAggPass(b, n)
      return
    }
    // pass 1a: key materialization + hashing. Loop state lives in LOCAL
    // vals throughout this method: the JIT cannot hoist instance-field
    // array loads across the vectors' virtual calls, and leaving them as
    // fields measured 3× slower than the hand-inlined loop.
    var k = 0
    while (k < nKeys) { extractKey(b, k, n); k += 1 }
    // dictionary-code combo path: every key of THIS batch id-encoded →
    // (code0[, code1]) is a perfect within-batch key; one array load
    // replaces hash + probe per row, with the generic probe paid once
    // per distinct code combo per batch (and for NULL-key rows)
    if (nKeys <= 2 && batchDict(0) &&
        (nKeys == 1 || batchDict(1)) && {
          val s1 = if (nKeys == 2) batchDictMax(1) + 1 else 1
          (batchDictMax(0).toLong + 1) * s1 <= (1 << 22)
        }) {
      val two = nKeys == 2
      val stride = if (two) batchDictMax(1) + 1 else 1
      ensureCombo((batchDictMax(0) + 1) * stride)
      comboEpoch += 1
      val ep = comboEpoch
      val cg = comboG; val ce = comboEp
      val id0 = tmpId(0); val id1 = if (two) tmpId(1) else null
      val n0 = tmpN(0); val n1 = if (two) tmpN(1) else null
      val ids = gids
      var i = 0
      while (i < n) {
        if (hasFilter && !sl(i)) ids(i) = -1
        else if (n0(i) || (two && n1(i))) ids(i) = probeSlow(i)
        else {
          val cidx =
            if (two) id0(i) * stride + id1(i) else id0(i)
          if (ce(cidx) == ep) ids(i) = cg(cidx)
          else {
            val g = probeSlow(i)
            cg(cidx) = g; ce(cidx) = ep; ids(i) = g
          }
        }
        i += 1
      }
      runAggPass(b, n)
      return
    }
    val hsh = rowHash
    java.util.Arrays.fill(hsh, 0, n, 17)
    k = 0
    while (k < nKeys) {
      val vL = tmpL(k); val vN = tmpN(k); val vS = tmpS(k)
      val vLen = tmpLen(k)
      val isStr = keys(k)._1.width == -2
      var i = 0
      if (isStr) while (i < n) {
        val hk =
          if (vN(i)) 0
          else if (vLen(i) >= 0) {
            val v = vL(i)
            ((v ^ (v >>> 32)).toInt * 31 + vLen(i))
          } else vS(i).hashCode()
        hsh(i) = hsh(i) * 31 + hk
        i += 1
      } else while (i < n) {
        val v = vL(i)
        hsh(i) = hsh(i) * 31 + (if (vN(i)) 0 else (v ^ (v >>> 32)).toInt)
        i += 1
      }
      k += 1
    }
    // pass 1b: probe/insert, filling gids. One- and two-key shapes
    // compare inline from hoisted locals (packed strings compare as
    // (prefix, len) longs; a varlen side mismatches on len and falls to
    // the object compare only when BOTH sides are varlen); wider key
    // lists call the general keysEqualTmp.
    val ids = gids
    val str0 = keys(0)._1.width == -2
    val fk0L = tmpL(0); val fk0N = tmpN(0)
    val fk0Len = tmpLen(0); val fk0S = tmpS(0)
    val two = nKeys == 2
    val str1 = two && keys(1)._1.width == -2
    val fk1L = if (two) tmpL(1) else null
    val fk1N = if (two) tmpN(1) else null
    val fk1Len = if (two) tmpLen(1) else null
    val fk1S = if (two) tmpS(1) else null
    val fastMode = nKeys <= 2
    var tbl = table
    var gh = groupHash
    var kl0 = keyL(0); var kn0 = keyNull(0)
    var klen0 = keyLen(0); var ks0 = keyS(0)
    var kl1 = if (two) keyL(1) else null
    var kn1 = if (two) keyNull(1) else null
    var klen1 = if (two) keyLen(1) else null
    var ks1 = if (two) keyS(1) else null
    var mask = tbl.length - 1
    var useDirect = directEnabled
    var dArr = direct
    var dLen = directLen
    var i = 0
    while (i < n) {
      if (hasFilter && !sl(i)) { ids(i) = -1; i += 1 }
      else {
      var dSlot = -1
      if (useDirect && !fk0N(i)) {
        val v = fk0L(i)
        if (v >= 0L && v < DirectCap) {
          if (v >= dLen) { growDirect(v); dArr = direct; dLen = directLen }
          dSlot = v.toInt
          val dg = dArr(dSlot)
          if (dg >= 0) { ids(i) = dg; i += 1 }
          else dSlot = -2 - dSlot // miss: fall through, then record
        } else { useDirect = false; directEnabled = false }
      }
      if (dSlot >= 0) () // direct hit handled above
      else {
      val h = hsh(i) & 0x7fffffff
      var s = h & mask
      var g = -1
      var probing = true
      while (probing) {
        val t = tbl(s)
        if (t == -1) probing = false
        else if (gh(t) == h && {
          if (!fastMode) keysEqualTmp(i, t)
          else {
            var ok = fk0N(i) == kn0(t) && (fk0N(i) || {
              if (!str0) fk0L(i) == kl0(t)
              else if (fk0Len(i) >= 0 || klen0(t) >= 0)
                fk0Len(i) == klen0(t) && fk0L(i) == kl0(t)
              else fk0S(i).equals(ks0(t))
            })
            if (ok && two) ok = fk1N(i) == kn1(t) && (fk1N(i) || {
              if (!str1) fk1L(i) == kl1(t)
              else if (fk1Len(i) >= 0 || klen1(t) >= 0)
                fk1Len(i) == klen1(t) && fk1L(i) == kl1(t)
              else fk1S(i).equals(ks1(t))
            })
            ok
          }
        }) {
          g = t; probing = false
        } else s = (s + 1) & mask
      }
      if (g == -1) {
        g = newGroupTmp(i, h)
        tbl(s) = g
        if (nGroups * 3 > tbl.length * 2) rehash()
        // growth/rehash replaced the arrays — refresh the locals
        tbl = table; gh = groupHash; mask = tbl.length - 1
        kl0 = keyL(0); kn0 = keyNull(0); klen0 = keyLen(0); ks0 = keyS(0)
        if (two) {
          kl1 = keyL(1); kn1 = keyNull(1); klen1 = keyLen(1); ks1 = keyS(1)
        }
      }
      ids(i) = g
      if (dSlot < -1) dArr(-2 - dSlot) = g
      i += 1
      }
      }
    }
    runAggPass(b, n)
  }

  /** Pass 2: one tight loop per aggregate over (gids, source vector),
    * accumulators in locals (the arrays are only replaced in pass 1b's
    * growth, never here). The no-nulls batch fast paths skip the
    * per-row null probe. */
  private def runAggPass(b: ColumnarBatch, n: Int): Unit = {
    val ids = gids
    val aL = accL; val aD = accD; val aH = accHas
    val ns = nSlots
    var a = 0
    while (a < aggs.length) {
      val off = slotOf(a)
      aggs(a) match {
        case CountStar =>
          var i = 0
          while (i < n) {
            val gi = ids(i)
            if (gi >= 0) aL(gi * ns + off) += 1
            i += 1
          }
        case CountCol(get) =>
          val c = b.column(get.idx)
          var i = 0
          while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !c.isNullAt(i)) aL(gi * ns + off) += 1
            i += 1
          }
        case SumLong(get) =>
          val c = b.column(get.idx)
          val w = get.width
          var i = 0
          if (!c.hasNull && w == 8) while (i < n) {
            val gi = ids(i)
            if (gi >= 0) {
              val o = gi * ns + off
              aL(o) += c.getLong(i); aH(o) = true
            }
            i += 1
          } else while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !c.isNullAt(i)) {
              val o = gi * ns + off
              aL(o) += lngAt(c, w, i)
              aH(o) = true
            }
            i += 1
          }
        case SumDouble(get) if get.width == -3 =>
          val v = compV(get.idx); val nn = compN(get.idx)
          var i = 0
          while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !nn(i)) {
              val o = gi * ns + off
              aD(o) += v(i); aH(o) = true
            }
            i += 1
          }
        case AvgDouble(get) if get.width == -3 =>
          val v = compV(get.idx); val nn = compN(get.idx)
          var i = 0
          while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !nn(i)) {
              val o = gi * ns + off
              aD(o) += v(i); aL(o + 1) += 1
            }
            i += 1
          }
        case SumDouble(get) =>
          val c = b.column(get.idx)
          val w = get.width
          var i = 0
          if (!c.hasNull && w == 0) while (i < n) {
            val gi = ids(i)
            if (gi >= 0) {
              val o = gi * ns + off
              aD(o) += c.getDouble(i); aH(o) = true
            }
            i += 1
          } else while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !c.isNullAt(i)) {
              val o = gi * ns + off
              aD(o) += dblAt(c, w, i)
              aH(o) = true
            }
            i += 1
          }
        case AvgDouble(get) =>
          val c = b.column(get.idx)
          val w = get.width
          var i = 0
          if (!c.hasNull && w == 0) while (i < n) {
            val gi = ids(i)
            if (gi >= 0) {
              val o = gi * ns + off
              aD(o) += c.getDouble(i); aL(o + 1) += 1
            }
            i += 1
          } else while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !c.isNullAt(i)) {
              val o = gi * ns + off
              aD(o) += dblAt(c, w, i)
              aL(o + 1) += 1
            }
            i += 1
          }
        case MinMaxLong(get, isMin) =>
          val c = b.column(get.idx)
          val w = get.width
          val unit = get.floorUnit
          var i = 0
          while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !c.isNullAt(i)) {
              val o = gi * ns + off
              val v0 = lngAt(c, w, i)
              val v =
                if (unit > 0) v0 - java.lang.Math.floorMod(v0, unit) else v0
              if (!aH(o) || (if (isMin) v < aL(o) else v > aL(o)))
                aL(o) = v
              aH(o) = true
            }
            i += 1
          }
        case MinMaxDouble(get, isMin) =>
          val c = b.column(get.idx)
          val w = get.width
          var i = 0
          while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !c.isNullAt(i)) {
              val o = gi * ns + off
              val v = dblAt(c, w, i)
              // Double.compare order = Spark's SQL ordering (NaN
              // greatest, -0.0 < 0.0), unlike IEEE < / >
              if (!aH(o) || (if (isMin) java.lang.Double.compare(v, aD(o)) < 0
                else java.lang.Double.compare(v, aD(o)) > 0))
                aD(o) = v
              aH(o) = true
            }
            i += 1
          }
        case BitmapSpec(get) =>
          val c = b.column(get.idx)
          val w = get.width
          val unit = get.floorUnit
          val oi = objIdxOf(a)
          val aO = accObj
          val no = nObj
          var i = 0
          while (i < n) {
            val gi = ids(i)
            if (gi >= 0 && !c.isNullAt(i)) {
              val o = gi * no + oi
              var set = aO(o).asInstanceOf[graft.functions.BitmapDistinct.PageSet]
              if (set == null) {
                set = new graft.functions.BitmapDistinct.PageSet
                aO(o) = set
              }
              val v0 = lngAt(c, w, i)
              set.add(
                if (unit > 0) v0 - java.lang.Math.floorMod(v0, unit) else v0)
            }
            i += 1
          }
      }
      a += 1
    }
  }

  private def lngAt(c: org.apache.spark.sql.vectorized.ColumnVector,
      w: Int, i: Int): Long = (w: @annotation.switch) match {
    case 8 => c.getLong(i)
    case 4 => c.getInt(i).toLong
    case 2 => c.getShort(i).toLong
    case _ => c.getByte(i).toLong
  }

  private def dblAt(c: org.apache.spark.sql.vectorized.ColumnVector,
      w: Int, i: Int): Double = (w: @annotation.switch) match {
    case 0 => c.getDouble(i)
    case -1 => c.getFloat(i).toDouble
    case 8 => c.getLong(i).toDouble
    case 4 => c.getInt(i).toDouble
    case 2 => c.getShort(i).toDouble
    case _ => c.getByte(i).toDouble
  }

  /** Write group `g` into the output row layout. */
  private def rowOf(g: Int): InternalRow = {
    val base = g * nSlots
    var c = 0
    while (c < outs.length) {
      val oc = outs(c)
      val value: Any =
        if (oc.kind == 0) {
          val k = oc.a
          if (keyNull(k)(g)) null
          else {
            val spec = keys(k)._1
            // keyL holds the raw long for long-domain keys and the IEEE
            // bits for double-domain keys; boxAs decodes per type
            if (spec.width == -2) keyS(k)(g) else boxAs(keys(k)._2, keyL(k)(g))
          }
        } else {
          val o = base + slotOf(oc.a)
          aggs(oc.a) match {
            case CountStar | CountCol(_) => accL(o)
            case SumLong(_) => if (accHas(o)) accL(o) else null
            case SumDouble(_) => if (accHas(o)) accD(o) else null
            case AvgDouble(_) =>
              if (oc.b == 0) accD(o) else accL(o + 1)
            case MinMaxLong(_, _) =>
              if (accHas(o)) boxAs(outTypes(c), accL(o)) else null
            case MinMaxDouble(_, _) =>
              if (!accHas(o)) null
              else if (outTypes(c) == FloatType) accD(o).toFloat
              else accD(o)
            case BitmapSpec(_) =>
              // the partial binary column: serialized PageSet (empty set
              // for a group whose inputs were all NULL)
              val set = accObj(g * nObj + objIdxOf(oc.a))
                .asInstanceOf[graft.functions.BitmapDistinct.PageSet]
              (if (set == null) new graft.functions.BitmapDistinct.PageSet
               else set).serialize()
          }
        }
      scratch.update(c, value)
      c += 1
    }
    proj(scratch)
  }

  private def boxAs(dt: DataType, v: Long): Any = dt match {
    case LongType | TimestampType | TimestampNTZType => v
    case IntegerType | DateType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
    case DoubleType => java.lang.Double.longBitsToDouble(v)
    case FloatType => java.lang.Double.longBitsToDouble(v).toFloat
    case _ => v
  }

  // ── iterator protocol: process until flush-cap or input end ──────────
  private var emitG = 0
  private var emitN = 0
  private var draining = false

  private def fill(): Unit = {
    // accumulate until the input is exhausted or the cap is reached;
    // then drain the current groups (partial rows merge downstream)
    while (batches.hasNext && nGroups < flushCap) processBatch(batches.next())
    draining = true
    emitG = 0
    emitN = nGroups
  }

  override def hasNext: Boolean = {
    if (draining && emitG < emitN) return true
    if (draining) {
      reset()
      draining = false
    }
    if (!batches.hasNext) return false
    fill()
    emitG < emitN
  }

  override def next(): InternalRow = {
    val r = rowOf(emitG)
    emitG += 1
    r
  }
}
