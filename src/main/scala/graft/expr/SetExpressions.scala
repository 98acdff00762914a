package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Intersection SIZE of two SORTED-ascending long arrays by linear merge
  * walk — the set-similarity verify kernel (PPJoin / LSH-verify stage).
  *
  * `array_intersect` is semantically right but allocates a per-row hash
  * set and materializes the intersection array just to take its size; on
  * the dedup verify path (millions of candidate pairs × ~dozens-of-longs
  * token sets, `dedup/Dedup.scala` jaccardPairsPrefix) that allocation is
  * the measured bottleneck. Both sides there are produced by
  * `array_sort(transform(sh, xxhash64))`, so a branchless two-pointer
  * merge gives the same count with zero allocation inside whole-stage
  * codegen. ~2.4x on the d12/d7 verify stage at sf0.1 (4.0 s → 1.6 s);
  * at 100 TB the verify stage is candidate-count × set-width work, so the
  * constant matters more, not less.
  *
  * PRECONDITIONS (callers own them; violated ⇒ undercount in codegen, an
  * `IllegalArgumentException` on the interpreted path):
  *  - both arrays sorted ascending;
  *  - elements distinct within each array (set semantics — guaranteed by
  *    the distinct-shingle construction upstream).
  * Null elements are not expected (xxhash64 over non-null strings); a
  * null element would surface as a sort-order violation upstream, not
  * here.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    SortedIntersectCount.assertSortedDistinct(x, "left")
    SortedIntersectCount.assertSortedDistinct(y, "right")
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1L; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i);
         |  long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Precondition violations UNDERCOUNT silently in the codegen'd hot
    * path (never crash), so misuse by a future call site would produce
    * wrong Jaccard values with no failure signal there. The INTERPRETED
    * path verifies sorted-ascending/distinct inputs and throws instead;
    * [[CoverageKeptIndices]] checks its sorted-starts precondition the
    * same way.
    */
  private[expr] def assertSortedDistinct(a: ArrayData, side: String): Unit = {
    var i = 1
    while (i < a.numElements()) {
      if (a.getLong(i - 1) >= a.getLong(i))
        throw new IllegalArgumentException(
          s"graft_sorted_intersect_count: $side array not strictly " +
            s"ascending at index $i (${a.getLong(i - 1)} >= ${a.getLong(i)})")
      i += 1
    }
  }
}

/** The UNCOVERED 1-based positions of a length-`n` token sequence under
  * coverage intervals `[s, s + window)` for each `s` in the
  * SORTED-ascending `starts` array — the doc-local coverage filter of
  * ExactSubstr span dedup ([[graft.curation.Curation.dedupSpansAcrossDocs]])
  * as ONE linear merge sweep.
  *
  * The HOF form it replaces — `filter(sequence(1, n), t -> !exists(starts,
  * s -> s <= t AND t < s + window))` — is O(n · f) per document (every
  * position re-scans the flagged-starts array). Fine at fixture scale; a
  * fully-duplicated 100k-token document (exactly what ExactSubstr meets in
  * a real crawl: every window flagged, f ≈ n) does 10^10 doc-local ops.
  * The sweep walks positions and starts together carrying the running
  * coverage end — O(n + f), allocation is one int buffer (same order as
  * the `sequence(1, n)` the HOF form allocated anyway).
  *
  * PRECONDITION (callers own it): `starts` sorted ascending (violated ⇒
  * under-coverage — positions before a late out-of-order start would be
  * kept). Produced upstream by `array_sort(collect_list(s))`.
  */
case class CoverageKeptIndices(left: Expression, right: Expression,
                               window: Int) extends BinaryExpression {
  require(window >= 1, s"window must be >= 1: $window")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_coverage_kept_indices"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, false), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(IntegerType, true), IntegerType) =>
        // a null element would read as start 0 via getInt (covering
        // [0, window) silently) — fail at ANALYSIS, not wrong results;
        // cast to array<int> with non-null elements upstream
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires non-nullable array elements " +
            "(a null start would silently read as 0); cast the starts " +
            "array to a containsNull=false element type")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int> starts, int n), " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val starts = a.asInstanceOf[ArrayData]
    val n = b.asInstanceOf[Int]
    var i = 1
    while (i < starts.numElements()) {
      if (starts.getInt(i - 1) > starts.getInt(i))
        throw new IllegalArgumentException(
          s"$prettyName: starts array not sorted ascending at index $i " +
            s"(${starts.getInt(i - 1)} > ${starts.getInt(i)})")
      i += 1
    }
    val f = starts.numElements()
    val tmp = new Array[Int](math.max(n, 0))
    var j = 0
    var cover = 0 // exclusive end of the merged coverage seen so far
    var k = 0
    var t = 1
    while (t <= n) {
      while (j < f && starts.getInt(j) <= t) {
        val e = starts.getInt(j) + window
        if (e > cover) cover = e
        j += 1
      }
      if (cover <= t) { tmp(k) = t; k += 1 }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(tmp, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) => {
      val f = ctx.freshName("f")
      val tmp = ctx.freshName("tmp")
      val j = ctx.freshName("j")
      val cover = ctx.freshName("cover")
      val k = ctx.freshName("k")
      val t = ctx.freshName("t")
      val e = ctx.freshName("e")
      s"""
         |int $f = $s.numElements();
         |int[] $tmp = new int[$n > 0 ? $n : 0];
         |int $j = 0; int $cover = 0; int $k = 0;
         |for (int $t = 1; $t <= $n; $t++) {
         |  while ($j < $f && $s.getInt($j) <= $t) {
         |    int $e = $s.getInt($j) + $window;
         |    if ($e > $cover) $cover = $e;
         |    $j++;
         |  }
         |  if ($cover <= $t) { $tmp[$k++] = $t; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($tmp, $k));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetExpressions {
  /** Codegen'd |A ∩ B| over sorted distinct long arrays (merge walk). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd linear-sweep span-coverage filter: kept (uncovered)
    * 1-based positions of 1..n under `[s, s+window)` intervals from a
    * sorted start array.
    */
  def coverageKeptIndices(starts: Column, n: Column, window: Int): Column =
    Bridge.column(CoverageKeptIndices(Bridge.expression(starts),
      Bridge.expression(n), window))
}
