package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BinaryExpression, Expression, If, IsNull, Literal, Or, Size}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** |set(a) ∩ set(b)| without materializing the intersection array.
  *
  * The dedup/containment verify stages compute
  * `size(array_intersect(sh_a, sh_b))` per candidate pair —
  * `ArrayIntersect` allocates an OpenHashSet AND a result ArrayData per
  * row just so `Size` can read its length. With ~10⁵ candidates × ~200
  * shingles per doc, that allocation is the verify hot path. This
  * expression computes the count directly: one hash set from the smaller
  * side, one membership sweep over the other, zero result allocation.
  *
  * Semantics match `size(array_intersect(a, b))` exactly (the rewrite
  * rule below is only sound because of it):
  *  - result = number of DISTINCT elements present in both arrays
  *    (`array_intersect` dedupes; removing from the probe set dedupes
  *    here);
  *  - a null ELEMENT counts once iff both sides contain null;
  *  - a null ARRAY on either side → null result (non-legacy `size`
  *    returns null on null input; the rule does not fire under
  *    spark.sql.legacy.sizeOfNull=true).
  *
  * Eval-only (CodegenFallback), like every engine sketch expression: one
  * virtual call per row, tight JVM loops inside.
  */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      // sameType (nullability-insensitive), or an empty-literal array<void>
      // side — matching array_intersect's coerced surface
      case (ArrayType(l, _), ArrayType(r, _))
          if DataType.equalsStructurally(l, r, ignoreNullability = true) ||
            l == NullType || r == NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"intersect_size needs two arrays of the same element type, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }

  @transient private lazy val elemType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    var build = a.asInstanceOf[ArrayData]
    var probe = b.asInstanceOf[ArrayData]
    if (probe.numElements() < build.numElements()) {
      val t = build; build = probe; probe = t
    }
    // Per-element ArrayData.get(i, dataType) routes through
    // PhysicalDataType.apply — a per-ELEMENT allocation + dispatch that
    // profiling showed dominating the verify stage. Specialize the two
    // element types the engine intersects (shingle strings, hash longs);
    // anything else takes the generic path. Semantics are identical.
    elemType match {
      case StringType => evalString(build, probe)
      case LongType   => evalLong(build, probe)
      case _          => evalGeneric(build, probe)
    }
  }

  // Open-addressing index tables over a per-thread reusable scratch
  // buffer (IntersectSize.scratch): the java.util.HashSet formulation
  // allocated a hash node per build element per ROW — across ~10⁵
  // verify pairs × ~200 shingles × 32 concurrent tasks that allocation
  // rate was the verify stage's GC bill (guide §5). The table stores
  // INDICES into the build array (-1 empty, -2 tombstone); equality is
  // re-checked against the build array on every hit, so the semantics
  // stay exact (distinct-element count, not hash-collision-approximate).
  // Tombstones only appear during the probe sweep (the "remove" that
  // dedupes repeated probe elements), and lookups walk past them, so
  // probe chains stay intact.

  private def evalString(build: ArrayData, probe: ArrayData): Int = {
    val nb = build.numElements()
    val s = IntersectSize.scratch.get()
    val mask = s.acquire(nb)
    val table = s.table
    var buildHasNull = false
    var i = 0
    while (i < nb) {
      if (build.isNullAt(i)) buildHasNull = true
      else {
        val e = build.getUTF8String(i)
        var slot = e.hashCode() & mask
        var done = false
        while (!done) {
          val idx = table(slot)
          if (idx == -1) { table(slot) = i; done = true }
          else if (build.getUTF8String(idx).equals(e)) done = true // dup
          else slot = (slot + 1) & mask
        }
      }
      i += 1
    }
    var count = 0
    var nullCounted = false
    val np = probe.numElements()
    i = 0
    while (i < np) {
      if (probe.isNullAt(i)) {
        if (buildHasNull && !nullCounted) { count += 1; nullCounted = true }
      } else {
        val e = probe.getUTF8String(i)
        var slot = e.hashCode() & mask
        var done = false
        while (!done) {
          val idx = table(slot)
          if (idx == -1) done = true
          else if (idx >= 0 && build.getUTF8String(idx).equals(e)) {
            count += 1; table(slot) = -2; done = true
          } else slot = (slot + 1) & mask
        }
      }
      i += 1
    }
    count
  }

  private def evalLong(build: ArrayData, probe: ArrayData): Int = {
    val nb = build.numElements()
    val s = IntersectSize.scratch.get()
    val mask = s.acquire(nb)
    val table = s.table
    var buildHasNull = false
    var i = 0
    while (i < nb) {
      if (build.isNullAt(i)) buildHasNull = true
      else {
        val v = build.getLong(i)
        var slot = IntersectSize.mixLong(v) & mask
        var done = false
        while (!done) {
          val idx = table(slot)
          if (idx == -1) { table(slot) = i; done = true }
          else if (build.getLong(idx) == v) done = true // dup
          else slot = (slot + 1) & mask
        }
      }
      i += 1
    }
    var count = 0
    var nullCounted = false
    val np = probe.numElements()
    i = 0
    while (i < np) {
      if (probe.isNullAt(i)) {
        if (buildHasNull && !nullCounted) { count += 1; nullCounted = true }
      } else {
        val v = probe.getLong(i)
        var slot = IntersectSize.mixLong(v) & mask
        var done = false
        while (!done) {
          val idx = table(slot)
          if (idx == -1) done = true
          else if (idx >= 0 && build.getLong(idx) == v) {
            count += 1; table(slot) = -2; done = true
          } else slot = (slot + 1) & mask
        }
      }
      i += 1
    }
    count
  }

  private def evalGeneric(build: ArrayData, probe: ArrayData): Int = {
    val set = new java.util.HashSet[Any](Math.max(8, build.numElements() * 2))
    var buildHasNull = false
    var i = 0
    while (i < build.numElements()) {
      if (build.isNullAt(i)) buildHasNull = true
      else set.add(build.get(i, elemType))
      i += 1
    }
    var count = 0
    var nullCounted = false
    i = 0
    while (i < probe.numElements()) {
      if (probe.isNullAt(i)) {
        if (buildHasNull && !nullCounted) { count += 1; nullCounted = true }
      } else if (set.remove(probe.get(i, elemType))) count += 1
      i += 1
    }
    count
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)
}

object IntersectSize {
  /** Per-thread reusable open-addressing scratch. One instance per task
    * thread; the array grows monotonically, but each row uses (and
    * re-clears) only the next power of two ≥ 2× ITS build-side
    * cardinality, min 16 — one huge row early on a thread does not make
    * every later small row clear the huge table. Zero steady-state
    * allocation in the verify hot path. Safe to share across expression
    * instances on a thread: eval is not reentrant (both operand arrays
    * are fully materialized before nullSafeEval runs, and nothing inside
    * the loops evaluates another expression).
    */
  private[functions] final class Scratch {
    var table: Array[Int] = new Array[Int](16)
    /** Clear max(16, 2n) rounded up to a power of two slots; return the
      * slot mask, which keeps every probe inside the cleared prefix.
      */
    def acquire(n: Int): Int = {
      var need = 16
      while (need < n * 2) need <<= 1
      if (need > table.length) table = new Array[Int](need)
      java.util.Arrays.fill(table, 0, need, -1)
      need - 1
    }
  }

  private[functions] val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Finalizing mix for long keys (splitmix-style) — ArrayData longs are
    * often sequential hashes; a raw modulo would cluster.
    */
  @inline private[functions] def mixLong(v: Long): Int = {
    var h = v * -7046029254386353131L
    h ^= (h >>> 32)
    h.toInt
  }
}

/** Optimizer rule: `size(array_intersect(a, b))` → `intersect_size(a, b)`
  * wherever the intersection array itself is never used. Fires across the
  * whole dedup/containment verify surface without touching caller code —
  * registered via SparkSessionExtensions.injectOptimizerRule
  * (GraftSession), PlanSpec asserts it fired in the verify plans.
  *
  * Both `size` null contracts are preserved: non-legacy size(null) is
  * null (IntersectSize's own null propagation); legacy size(null) is -1
  * — the engine's default, since ANSI is off — so that form rewrites to
  * `if(isnull(a) or isnull(b), -1, intersect_size(a, b))`.
  */
object IntersectSizeRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ai: ArrayIntersect, false) =>
        IntersectSize(ai.left, ai.right)
      case Size(ai: ArrayIntersect, true) =>
        If(Or(IsNull(ai.left), IsNull(ai.right)), Literal(-1),
          IntersectSize(ai.left, ai.right))
    }
}
