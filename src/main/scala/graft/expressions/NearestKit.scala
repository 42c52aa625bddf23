package graft.expressions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared distance arithmetic for the nearest-centroid expressions: the
  * decimal-exact squared euclidean distance the k-means / PQ oracle
  * contract pins, replicated step for step —
  *
  *   round((a-b)^2, 12)                  Spark Round on double:
  *                                       BigDecimal.valueOf(x)
  *                                         .setScale(12, HALF_UP)
  *                                         .doubleValue
  *   CAST(... AS DECIMAL(38,12))         BigDecimal.valueOf(rounded)
  *                                         .setScale(12, HALF_UP)
  *   SUM(...)                            exact BigDecimal addition
  *
  * so a plan using these expressions is bit-identical to the exploded
  * `round(...).cast("decimal(38,12)")` + `sum` formulation (and to the
  * DuckDB oracles that unroll it), while evaluating as one tight JVM
  * loop per row instead of an interpreted higher-order-function tree or
  * a fan-out join + two shuffled aggregations. A NaN/Infinity term
  * throws, mirroring the ANSI double->decimal cast.
  */
object NearestMath {
  /** d2 between vec[offset, offset+cent.length) and cent — exact
    * DECIMAL(38,12) arithmetic as documented above. Called from
    * generated code.
    *
    * `stopAfter` (nullable) is argmin pruning: terms are non-negative,
    * so once the partial sum exceeds the current best the centroid can
    * never win and the loop exits with the partial (only valid for the
    * better/worse DECISION, not as a distance). Exactness is untouched:
    * pruning skips only candidates STRICTLY worse than the running best,
    * so exact-decimal ties still surface and resolve to the first
    * (lowest-id) entry.
    */
  def d2Range(
      vec: ArrayData, isFloat: Boolean, offset: Int,
      cent: Array[Double], stopAfter: JBigDecimal): JBigDecimal = {
    val n = math.min(cent.length, vec.numElements() - offset)
    var acc = JBigDecimal.ZERO.setScale(12)
    var i = 0
    while (i < n) {
      val a =
        if (isFloat) vec.getFloat(offset + i).toDouble
        else vec.getDouble(offset + i)
      val diff = a - cent(i)
      val sq = diff * diff
      if (java.lang.Double.isNaN(sq) || java.lang.Double.isInfinite(sq))
        throw new ArithmeticException(
          "graft nearest-centroid: non-finite squared-distance term " +
            "(mirrors the ANSI NaN/Infinity -> decimal cast failure)")
      val rounded = JBigDecimal.valueOf(sq)
        .setScale(12, RoundingMode.HALF_UP).doubleValue()
      acc = acc.add(
        JBigDecimal.valueOf(rounded).setScale(12, RoundingMode.HALF_UP))
      if (stopAfter != null && acc.compareTo(stopAfter) > 0) return acc
      i += 1
    }
    acc
  }

  private[expressions] def vecElemType(e: Expression): Option[DataType] =
    e.dataType match {
      case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
      case _ => None
    }

  /** Plain-double d2 over the same range — the SCREENING pass of the
    * double-first argmin (see [[candidateSlack]]); decisions about
    * actual distances always re-run through the decimal [[d2Range]].
    */
  def d2Double(
      vec: ArrayData, isFloat: Boolean, offset: Int,
      cent: Array[Double]): Double = {
    val n = math.min(cent.length, vec.numElements() - offset)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val a =
        if (isFloat) vec.getFloat(offset + i).toDouble
        else vec.getDouble(offset + i)
      val diff = a - cent(i)
      acc += diff * diff
      i += 1
    }
    acc
  }

  /** The provable gap between a centroid's decimal-contract d2 and its
    * plain-double d2, with margin: per-term HALF_UP rounding moves each
    * of n terms by <= 0.5e-12, and the double summation's relative
    * error is <= n·2^-53 of the (non-negative) term sum. Any centroid
    * whose DOUBLE distance exceeds the double minimum by more than
    * twice this slack therefore cannot be the DECIMAL argmin — which is
    * what lets the expressions below run the BigDecimal arithmetic on a
    * handful of candidates instead of all k (the decimal ops are ~100×
    * a double flop and were the measured assignment bottleneck,
    * SCALE.md §10d/§10e). Ties are unaffected: every centroid within
    * the slack window IS evaluated exactly.
    */
  def candidateSlack(n: Int, d2: Double): Double =
    n * 1e-12 + 1e-9 * (1.0 + d2)
}

/** Per-task adaptive tree-vs-flat router for [[NearestCentroidGrouped]]
  * (VERDICT r16 item 3): the first `sampleRows` rows run the tree path
  * while RECORDING its group-screen hit rate (groups skipped / groups
  * total); if, at the end of the sample, the observed skip fraction is
  * below `minSkipFrac` — the triangle-inequality bounds are not
  * separating groups, §10e's distance-concentrated case where the tree
  * is a pure ~25% premium — every later row takes the flat screened
  * argmin instead. Both paths are bit-identical in results (pinned in
  * NearestKitSpec), so the switch is purely a cost decision; the
  * observation is free (two long adds per sampled row against work that
  * is O(√k·d)).
  *
  * One instance per expression; it travels to executors inside the
  * plan's codegen references, and Spark deserializes those PER TASK —
  * each task samples its own first rows and decides independently. The
  * INTERPRETED path (nullSafeEval) can share the driver-side instance
  * across local-mode threads; the fields are deliberately tolerant of
  * that: both routes return bit-identical results, so a torn or stale
  * read can only perturb WHICH route a row takes, never what it
  * returns, and the counters only inform the one-way sampling→decided
  * transition. A task shorter than the sample stays on the tree path,
  * which is at worst the measured ~25% premium on a bounded number of
  * rows.
  */
final class TreeRouting(
    val sampleRows: Int, val minSkipFrac: Double) extends Serializable {
  private var rows: Int = 0
  private var skipped: Long = 0L
  private var groups: Long = 0L
  private var flat: Boolean = false
  private var decided: Boolean = false
  def useFlat: Boolean = flat
  def sampling: Boolean = !decided
  def record(skippedGroups: Int, totalGroups: Int): Unit = {
    rows += 1
    skipped += skippedGroups
    groups += totalGroups
    if (rows >= sampleRows) {
      decided = true
      flat = groups > 0L && skipped.toDouble / groups < minSkipFrac
    }
  }
}

/** Nearest centroid of a literal codebook for a float/double vector
  * column: struct(cluster, d2 DECIMAL(38,12)), ties -> the FIRST entry
  * (callers pass `clusters` sorted ascending, making the tie rule
  * "lowest cluster id" — the min_by(struct(d2, cluster)) contract).
  * The codebook (k x dims doubles — metadata) is expression
  * configuration, shipped once per task via codegen references, and
  * every row argmins over it in one compiled loop: the 100 TB
  * assignment shape — zero shuffles, zero joins, a single scan.
  */
case class NearestCentroid(
    child: Expression,
    clusters: Array[Int],
    centroids: Array[Array[Double]])
  extends UnaryExpression {

  require(clusters.nonEmpty && clusters.length == centroids.length,
    "graft_nearest_centroid needs one cluster id per centroid")

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("d2", DecimalType(38, 12), nullable = false)))
  override def prettyName: String = "graft_nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    if (NearestMath.vecElemType(child).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid requires array<float|double>, got ${child.dataType}")

  private lazy val isFloat = NearestMath.vecElemType(child).contains(FloatType)

  protected override def nullSafeEval(v: Any): Any =
    NearestCentroid.nearest(
      v.asInstanceOf[ArrayData], isFloat, clusters, centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cl = ctx.addReferenceObj("clusters", clusters, "int[]")
    val ce = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.NearestCentroid.nearest($v, $isFloat, $cl, $ce)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  /** Called from generated code. Strict `<` keeps the first (= lowest
    * id) centroid on exact-decimal ties.
    *
    * Double-first argmin (r16): one plain-double pass over all k
    * centroids screens to the candidates within [[NearestMath
    * .candidateSlack]] of the double minimum; only THOSE evaluate the
    * decimal contract — the result (including tie resolution) is
    * bit-identical to evaluating decimal everywhere, at ~k× fewer
    * BigDecimal ops (the measured assignment bottleneck). ANY
    * non-finite double distance — not just a non-finite minimum —
    * disables screening and falls back to the full decimal loop, so a
    * single NaN/±Infinity-scale centroid coordinate still reaches
    * [[NearestMath.d2Range]] and throws the documented ANSI-cast error
    * exactly as the unscreened form (ADVICE r16: screening a non-finite
    * CANDIDATE out while the minimum stayed finite skipped the throw).
    * The only other way a double distance goes infinite — finite terms
    * whose plain-double SUM overflows — also lands in the full decimal
    * loop: slower, never wrong.
    */
  def nearest(
      vec: ArrayData, isFloat: Boolean, clusters: Array[Int],
      centroids: Array[Array[Double]]): InternalRow = {
    val k = centroids.length
    val dd = new Array[Double](k)
    var bestD = Double.PositiveInfinity
    var anyNonFinite = false
    var c = 0
    while (c < k) {
      val d = NearestMath.d2Double(vec, isFloat, 0, centroids(c))
      dd(c) = d
      if (!java.lang.Double.isFinite(d)) anyNonFinite = true
      if (d < bestD) bestD = d
      c += 1
    }
    val screen = !anyNonFinite
    val cut =
      if (screen)
        bestD + 2.0 * NearestMath.candidateSlack(vec.numElements(), bestD)
      else Double.PositiveInfinity
    var best: JBigDecimal = null
    var bi = 0
    c = 0
    while (c < k) {
      if (!screen || dd(c) <= cut) {
        val d = NearestMath.d2Range(vec, isFloat, 0, centroids(c), best)
        if (best == null || d.compareTo(best) < 0) { best = d; bi = c }
      }
      c += 1
    }
    InternalRow(clusters(bi), Decimal(scala.math.BigDecimal(best)))
  }
}

/** [[NearestCentroid]] behind a two-level coarse-quantizer tree — the
  * SAME argmin, cell for cell (pinned in NearestKitSpec/IvfIndexSpec),
  * at O(√k·d) expected cost per row instead of the flat O(k·d) that was
  * measured as the kCells wall (SCALE.md §10d: √n-cells build cost 7×
  * the fixed-32 build because every row argmins over all k cells).
  *
  * Structure (built driver-side, [[graft.operators.SimilarityOps
  * .buildCellTree]]): the k centroids are grouped into ~√k super-cells;
  * each group carries its super-centroid, its RADIUS (max euclidean
  * distance from the super-centroid to any child centroid), and its
  * child indices. Per row: compute the plain-double distance to every
  * super-centroid (O(√k·d)) and the triangle-inequality lower bound
  * lb = max(0, d(v, super) − radius)² — no child of the group can be
  * closer than lb. The MIN-lb group is visited first to seed a tight
  * running minimum, then the remaining groups are scanned in array
  * order with a per-group SKIP: a group whose lb exceeds the running
  * best (plus a conservative slack for the double-vs-decimal
  * arithmetic gap) is provably worse and its children are never
  * measured. (No full ascending-lb sort: the boxed comparator cost
  * more per row than the ordering ever saved — SCALE.md §10e, commit
  * acc67ee.) Children within a visited group evaluate with the exact
  * decimal [[NearestMath.d2Range]] incl. its argmin pruning, so the
  * returned (cluster, d2) is bit-identical to the flat expression:
  * pruning skips only candidates that PROVABLY cannot win, and ties
  * resolve to the lowest cluster id exactly as the flat strict-`<`
  * first-entry rule does (children are scanned in ascending-id order
  * inside a group; across groups an explicit lowest-id-on-tie compare
  * replaces the ordering the flat loop got for free).
  */
case class NearestCentroidGrouped(
    child: Expression,
    clusters: Array[Int],
    centroids: Array[Array[Double]],
    groupCentroids: Array[Array[Double]],
    groupRadius: Array[Double],
    groupChildren: Array[Array[Int]],
    adaptiveRouting: Boolean = true)
  extends UnaryExpression {

  require(clusters.nonEmpty && clusters.length == centroids.length,
    "graft_nearest_centroid_grouped needs one cluster id per centroid")
  require(groupCentroids.length == groupRadius.length &&
    groupCentroids.length == groupChildren.length && groupCentroids.nonEmpty,
    "graft_nearest_centroid_grouped needs (centroid, radius, children) " +
      "per group")
  require(groupChildren.map(_.length).sum == centroids.length,
    "graft_nearest_centroid_grouped: every centroid must belong to " +
      "exactly one group")

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("d2", DecimalType(38, 12), nullable = false)))
  override def prettyName: String = "graft_nearest_centroid_grouped"

  override def checkInputDataTypes(): TypeCheckResult =
    if (NearestMath.vecElemType(child).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid_grouped requires array<float|double>, " +
        s"got ${child.dataType}")

  private lazy val isFloat = NearestMath.vecElemType(child).contains(FloatType)

  // one router per expression instance; deserialized PER TASK inside
  // the codegen references, so each task decides independently. The
  // skip fraction only pays for the tree when it beats the tree's own
  // overhead: the super-pass costs g extra distance evals per row and a
  // skipped group saves ~k/g child evals, so break-even is at
  // skipFrac ≈ (g/k)·(g/g) = g²/k... measured conservatively as 2g/k
  // with a 0.05 floor (g ≈ √k makes that ~2/√k).
  @transient private lazy val routing: TreeRouting = {
    val g = groupCentroids.length.toDouble
    val k = centroids.length.toDouble
    new TreeRouting(4096, math.max(2.0 * g / k, 0.05))
  }
  private def routingOrNull: TreeRouting = if (adaptiveRouting) routing else null

  protected override def nullSafeEval(v: Any): Any =
    NearestCentroidGrouped.nearest(
      v.asInstanceOf[ArrayData], isFloat, clusters, centroids,
      groupCentroids, groupRadius, groupChildren, routingOrNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cl = ctx.addReferenceObj("clusters", clusters, "int[]")
    val ce = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val gc = ctx.addReferenceObj("groupCentroids", groupCentroids, "double[][]")
    val gr = ctx.addReferenceObj("groupRadius", groupRadius, "double[]")
    val gh = ctx.addReferenceObj("groupChildren", groupChildren, "int[][]")
    val rt =
      if (adaptiveRouting)
        ctx.addReferenceObj("routing", routingOrNull,
          "graft.expressions.TreeRouting")
      else "((graft.expressions.TreeRouting) null)"
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.NearestCentroidGrouped.nearest(" +
        s"$v, $isFloat, $cl, $ce, $gc, $gr, $gh, $rt)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidGrouped =
    copy(child = newChild)
}

object NearestCentroidGrouped {
  /** Called from generated code. Exact argmin in two screens:
    *
    *  1. GROUP screen — groups are visited in ascending order of the
    *     triangle-inequality lower bound lb = max(0, d(v, super) −
    *     radius)²; once a group's lb clears the running double minimum
    *     plus [[NearestMath.candidateSlack]], every remaining group is
    *     provably worse and the loop stops (this is what makes the
    *     expected cost O(√k·d) when the centroids cluster; on
    *     distance-concentrated data — e.g. uniform random vectors —
    *     the bounds cannot separate groups and this screen degrades to
    *     visiting all of them, measured and documented in SCALE.md
    *     §10e).
    *  2. CANDIDATE screen — visited children are measured in plain
    *     double; only those within the slack window of the double
    *     minimum evaluate the decimal contract, in ascending cluster-id
    *     order so exact-decimal ties resolve to the lowest id exactly
    *     like the flat loop's first-entry rule.
    *
    * Both screens only ever discard PROVABLY-worse centroids (slack
    * covers the decimal-vs-double gap and the bound arithmetic's own
    * rounding), so the returned (cluster, d2) is bit-identical to the
    * flat expression — pinned in NearestKitSpec. ANY non-finite double
    * arithmetic — a group bound or a visited child distance — disables
    * both screens and falls back to the full decimal loop over all k
    * centroids, which throws the documented ANSI-cast error exactly as
    * the flat form (same ADVICE-r16 contract as
    * [[NearestCentroid.nearest]]).
    */
  def nearest(
      vec: ArrayData, isFloat: Boolean, clusters: Array[Int],
      centroids: Array[Array[Double]], groupCentroids: Array[Array[Double]],
      groupRadius: Array[Double], groupChildren: Array[Array[Int]],
      routing: TreeRouting): InternalRow = {
    // adaptive route (VERDICT r16 item 3): once this task's sample
    // showed the bounds don't separate groups, the flat screened argmin
    // — bit-identical results, no super-pass premium
    if (routing != null && routing.useFlat)
      return NearestCentroid.nearest(vec, isFloat, clusters, centroids)
    val g = groupCentroids.length
    val k = centroids.length
    val dims = vec.numElements()
    // lower bound per group: no child can be closer than
    // d(v, super) − radius (triangle inequality). No sort: visiting the
    // MIN-bound group first tightens the running minimum nearly as well
    // as a full ascending order, and the measured boxed-comparator sort
    // cost more per row than the bounds ever saved (SCALE.md §10e probe:
    // tree 11.0 s vs flat 6.5 s per 98k-row pass BEFORE this cut).
    val lb = new Array[Double](g)
    var minG = 0
    var anyNonFinite = false
    var gi = 0
    while (gi < g) {
      val d = math.sqrt(NearestMath.d2Double(vec, isFloat, 0,
        groupCentroids(gi)))
      val l = d - groupRadius(gi)
      lb(gi) = if (l > 0.0) l * l else 0.0
      // a non-finite bound (NaN super-distance, or an Inf one that
      // would SKIP a group whose children the decimal contract must
      // still see) voids both screens — full decimal loop below
      if (!java.lang.Double.isFinite(lb(gi))) anyNonFinite = true
      if (lb(gi) < lb(minG)) minG = gi
      gi += 1
    }
    // visited children's double distances; NaN marks "never visited"
    // (an unvisited child was excluded by a group bound that already
    // carries the slack, so it can never be a decimal candidate)
    val dd = new Array[Double](k)
    java.util.Arrays.fill(dd, Double.NaN)
    var bestD = Double.PositiveInfinity
    def visit(grp: Int): Unit = {
      val kids = groupChildren(grp)
      var c = 0
      while (c < kids.length) {
        val ci = kids(c)
        val d = NearestMath.d2Double(vec, isFloat, 0, centroids(ci))
        dd(ci) = d
        if (!java.lang.Double.isFinite(d)) anyNonFinite = true
        if (d < bestD) bestD = d
        c += 1
      }
    }
    visit(minG)
    var skippedGroups = 0
    gi = 0
    while (gi < g) {
      // per-group SKIP against the (only-decreasing) running minimum —
      // a skipped group's children are provably worse than the final
      // best, slack included
      if (gi != minG) {
        if (java.lang.Double.isFinite(bestD) &&
          lb(gi) > bestD + 2.0 * NearestMath.candidateSlack(dims, bestD))
          skippedGroups += 1
        else visit(gi)
      }
      gi += 1
    }
    if (routing != null && routing.sampling) routing.record(skippedGroups, g)
    val screen = !anyNonFinite && java.lang.Double.isFinite(bestD)
    val cut =
      if (screen) bestD + 2.0 * NearestMath.candidateSlack(dims, bestD)
      else Double.PositiveInfinity
    var best: JBigDecimal = null
    var bi = 0
    var ci = 0
    while (ci < k) {
      // ascending cluster-id order (centroids are id-sorted), so strict
      // `<` keeps the lowest id on exact-decimal ties, like the flat
      // loop; NaN (unvisited) fails the <= and is skipped
      if ((screen && dd(ci) <= cut) || !screen) {
        val d = NearestMath.d2Range(vec, isFloat, 0, centroids(ci), best)
        if (best == null || d.compareTo(best) < 0) { best = d; bi = ci }
      }
      ci += 1
    }
    InternalRow(clusters(bi), Decimal(scala.math.BigDecimal(best)))
  }
}

/** [[NearestCentroidGrouped]] with ONE MORE coarse level — the 3-level
  * tree the §10e scale ledger records as needed only past ~10⁵ cells,
  * where the 2-level super-pass itself (O(√k·d) per row) becomes the
  * double-flop wall (k·d ≈ 6.4×10⁷ flops/row at k ~ 10⁶). Built now,
  * behind [[graft.operators.SimilarityOps.nearestExpr]]'s k-threshold /
  * `treeLevels` parameter, so the structure exists before the
  * scale does (VERDICT r16 item 4).
  *
  * Structure: the ~√k groups of the 2-level tree are themselves grouped
  * into ~√√k SUPER-groups; a super-group's radius covers every
  * DESCENDANT CENTROID (max over member groups j of d(superCentroid,
  * groupCentroid_j) + groupRadius_j — the triangle inequality makes
  * that a valid bound on any child under j). Per row: O(k^(1/4)·d)
  * super bounds screen whole super-groups; surviving super-groups
  * compute their member groups' bounds (lazily — a skipped super-group
  * never prices its groups); surviving groups visit children. Same
  * slack discipline, same ascending-id decimal pass, same non-finite
  * fallback as the 2-level form, so the result is bit-identical to the
  * flat argmin (pinned in NearestKitSpec).
  */
case class NearestCentroidGrouped3(
    child: Expression,
    clusters: Array[Int],
    centroids: Array[Array[Double]],
    groupCentroids: Array[Array[Double]],
    groupRadius: Array[Double],
    groupChildren: Array[Array[Int]],
    superCentroids: Array[Array[Double]],
    superRadius: Array[Double],
    superChildren: Array[Array[Int]])
  extends UnaryExpression {

  require(clusters.nonEmpty && clusters.length == centroids.length,
    "graft_nearest_centroid_grouped3 needs one cluster id per centroid")
  require(groupCentroids.length == groupRadius.length &&
    groupCentroids.length == groupChildren.length && groupCentroids.nonEmpty,
    "graft_nearest_centroid_grouped3 needs (centroid, radius, children) " +
      "per group")
  require(groupChildren.map(_.length).sum == centroids.length,
    "graft_nearest_centroid_grouped3: every centroid must belong to " +
      "exactly one group")
  require(superCentroids.length == superRadius.length &&
    superCentroids.length == superChildren.length && superCentroids.nonEmpty,
    "graft_nearest_centroid_grouped3 needs (centroid, radius, children) " +
      "per super-group")
  require(superChildren.map(_.length).sum == groupCentroids.length,
    "graft_nearest_centroid_grouped3: every group must belong to " +
      "exactly one super-group")

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("d2", DecimalType(38, 12), nullable = false)))
  override def prettyName: String = "graft_nearest_centroid_grouped3"

  override def checkInputDataTypes(): TypeCheckResult =
    if (NearestMath.vecElemType(child).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid_grouped3 requires array<float|double>, " +
        s"got ${child.dataType}")

  private lazy val isFloat = NearestMath.vecElemType(child).contains(FloatType)

  protected override def nullSafeEval(v: Any): Any =
    NearestCentroidGrouped3.nearest(
      v.asInstanceOf[ArrayData], isFloat, clusters, centroids,
      groupCentroids, groupRadius, groupChildren,
      superCentroids, superRadius, superChildren)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cl = ctx.addReferenceObj("clusters", clusters, "int[]")
    val ce = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val gc = ctx.addReferenceObj("groupCentroids", groupCentroids, "double[][]")
    val gr = ctx.addReferenceObj("groupRadius", groupRadius, "double[]")
    val gh = ctx.addReferenceObj("groupChildren", groupChildren, "int[][]")
    val sc = ctx.addReferenceObj("superCentroids", superCentroids, "double[][]")
    val sr = ctx.addReferenceObj("superRadius", superRadius, "double[]")
    val sh = ctx.addReferenceObj("superChildren", superChildren, "int[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.NearestCentroidGrouped3.nearest(" +
        s"$v, $isFloat, $cl, $ce, $gc, $gr, $gh, $sc, $sr, $sh)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidGrouped3 =
    copy(child = newChild)
}

object NearestCentroidGrouped3 {
  /** Called from generated code. Three screens, all exact: super-group
    * bounds prune whole branches, group bounds (computed LAZILY — only
    * inside surviving super-groups) prune groups, and the candidate
    * screen gates the decimal arithmetic — each against the
    * only-decreasing running double minimum plus
    * [[NearestMath.candidateSlack]]. ANY non-finite double arithmetic
    * voids every screen and falls back to the full decimal loop (the
    * ADVICE-r16 contract shared with the flat and 2-level forms).
    */
  def nearest(
      vec: ArrayData, isFloat: Boolean, clusters: Array[Int],
      centroids: Array[Array[Double]], groupCentroids: Array[Array[Double]],
      groupRadius: Array[Double], groupChildren: Array[Array[Int]],
      superCentroids: Array[Array[Double]], superRadius: Array[Double],
      superChildren: Array[Array[Int]]): InternalRow = {
    val s = superCentroids.length
    val k = centroids.length
    val dims = vec.numElements()
    var anyNonFinite = false
    // super-group lower bounds — O(s·d)
    val lbA = new Array[Double](s)
    var minS = 0
    var si = 0
    while (si < s) {
      val d = math.sqrt(NearestMath.d2Double(vec, isFloat, 0,
        superCentroids(si)))
      val l = d - superRadius(si)
      lbA(si) = if (l > 0.0) l * l else 0.0
      if (!java.lang.Double.isFinite(lbA(si))) anyNonFinite = true
      if (lbA(si) < lbA(minS)) minS = si
      si += 1
    }
    // group bounds, computed lazily per surviving super-group;
    // NaN = not computed
    val lbB = new Array[Double](groupCentroids.length)
    java.util.Arrays.fill(lbB, Double.NaN)
    def groupBound(gi: Int): Double = {
      if (java.lang.Double.isNaN(lbB(gi))) {
        val d = math.sqrt(NearestMath.d2Double(vec, isFloat, 0,
          groupCentroids(gi)))
        val l = d - groupRadius(gi)
        lbB(gi) = if (l > 0.0) l * l else 0.0
        if (!java.lang.Double.isFinite(lbB(gi))) anyNonFinite = true
      }
      lbB(gi)
    }
    val dd = new Array[Double](k)
    java.util.Arrays.fill(dd, Double.NaN)
    var bestD = Double.PositiveInfinity
    def visit(grp: Int): Unit = {
      val kids = groupChildren(grp)
      var c = 0
      while (c < kids.length) {
        val ci = kids(c)
        val d = NearestMath.d2Double(vec, isFloat, 0, centroids(ci))
        dd(ci) = d
        if (!java.lang.Double.isFinite(d)) anyNonFinite = true
        if (d < bestD) bestD = d
        c += 1
      }
    }
    def cut(): Double =
      if (java.lang.Double.isFinite(bestD))
        bestD + 2.0 * NearestMath.candidateSlack(dims, bestD)
      else Double.PositiveInfinity
    // seed the running minimum from the min-bound super-group's
    // min-bound group (the 2-level "visit minG first" trick, one level
    // down), then scan every super-group with the per-branch skip
    locally {
      val members = superChildren(minS)
      var minGi = members(0)
      var mi = 1
      while (mi < members.length) {
        if (groupBound(members(mi)) < groupBound(minGi)) minGi = members(mi)
        mi += 1
      }
      visit(minGi)
      mi = 0
      while (mi < members.length) {
        val gi = members(mi)
        if (gi != minGi && !(groupBound(gi) > cut())) visit(gi)
        mi += 1
      }
    }
    si = 0
    while (si < s) {
      if (si != minS && !(lbA(si) > cut())) {
        val members = superChildren(si)
        // min-bound member FIRST (then the rest with the skip): when
        // the super bounds cannot separate (every lbA ≈ 0 — the
        // concentrated case), this is what keeps the running minimum
        // tightening as fast as the 2-level form's global-min seed —
        // without it the first 3-level cut measured SLOWER than flat
        // (43 s vs 32 s at k = 4096; SCALE.md §10g on
        // bench/ANN_TREE_r17_mult50.json) purely from visit order
        var minGi = members(0)
        var mi = 1
        while (mi < members.length) {
          if (groupBound(members(mi)) < groupBound(minGi)) minGi = members(mi)
          mi += 1
        }
        if (!(groupBound(minGi) > cut())) visit(minGi)
        mi = 0
        while (mi < members.length) {
          val gi = members(mi)
          if (gi != minGi && !(groupBound(gi) > cut())) visit(gi)
          mi += 1
        }
      }
      si += 1
    }
    val screen = !anyNonFinite && java.lang.Double.isFinite(bestD)
    val theCut = if (screen) cut() else Double.PositiveInfinity
    var best: JBigDecimal = null
    var bi = 0
    var ci = 0
    while (ci < k) {
      // ascending cluster-id order, strict `<`: lowest id on exact ties,
      // like the flat loop; NaN (unvisited) fails the <= and is skipped
      if ((screen && dd(ci) <= theCut) || !screen) {
        val d = NearestMath.d2Range(vec, isFloat, 0, centroids(ci), best)
        if (best == null || d.compareTo(best) < 0) { best = d; bi = ci }
      }
      ci += 1
    }
    InternalRow(clusters(bi), Decimal(scala.math.BigDecimal(best)))
  }
}

/** Per-subspace nearest-codeword ids (PQ encoding) for a float/double
  * vector column against a literal PQ codebook: array<int> in subspace
  * order, subvector `s` = vec[s*dsubLen, (s+1)*dsubLen), ties -> the
  * first entry of `codes(s)` (callers pass codes sorted ascending =
  * lowest code id). Same decimal discipline as [[NearestCentroid]];
  * one compiled loop per row replaces the exploded fan-out + two
  * aggregations per encode.
  */
case class PqCodesOf(
    child: Expression,
    codes: Array[Array[Int]],
    codebooks: Array[Array[Array[Double]]],
    dsubLen: Int)
  extends UnaryExpression {

  require(codes.nonEmpty && codes.length == codebooks.length &&
    codes.indices.forall(s => codes(s).nonEmpty &&
      codes(s).length == codebooks(s).length),
    "graft_pq_codes needs one code id per codeword in every subspace")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (NearestMath.vecElemType(child).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_pq_codes requires array<float|double>, got ${child.dataType}")

  private lazy val isFloat = NearestMath.vecElemType(child).contains(FloatType)

  protected override def nullSafeEval(v: Any): Any =
    PqCodesOf.encode(
      v.asInstanceOf[ArrayData], isFloat, codes, codebooks, dsubLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val co = ctx.addReferenceObj("codes", codes, "int[][]")
    val cb = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.PqCodesOf.encode($v, $isFloat, $co, $cb, $dsubLen)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodesOf =
    copy(child = newChild)
}

object PqCodesOf {
  /** Called from generated code. Same double-first screening as
    * [[NearestCentroid.nearest]], per subspace (the PQ encode was the
    * other all-decimal argmin in the build's hot path).
    */
  def encode(
      vec: ArrayData, isFloat: Boolean, codes: Array[Array[Int]],
      codebooks: Array[Array[Array[Double]]], dsubLen: Int): ArrayData = {
    val out = new Array[Int](codebooks.length)
    var s = 0
    while (s < codebooks.length) {
      val cws = codebooks(s)
      val off = s * dsubLen
      val dd = new Array[Double](cws.length)
      var bestD = Double.PositiveInfinity
      var anyNonFinite = false
      var c = 0
      while (c < cws.length) {
        val d = NearestMath.d2Double(vec, isFloat, off, cws(c))
        dd(c) = d
        if (!java.lang.Double.isFinite(d)) anyNonFinite = true
        if (d < bestD) bestD = d
        c += 1
      }
      // any non-finite double distance -> full decimal loop, so the
      // ANSI-cast throw fires even when the MINIMUM is finite (same
      // ADVICE-r16 contract as NearestCentroid.nearest)
      val screen = !anyNonFinite
      val cut =
        if (screen) bestD + 2.0 * NearestMath.candidateSlack(dsubLen, bestD)
        else Double.PositiveInfinity
      var best: JBigDecimal = null
      var bi = 0
      c = 0
      while (c < cws.length) {
        if (!screen || dd(c) <= cut) {
          val d = NearestMath.d2Range(vec, isFloat, off, cws(c), best)
          if (best == null || d.compareTo(best) < 0) { best = d; bi = c }
        }
        c += 1
      }
      out(s) = codes(s)(bi)
      s += 1
    }
    new GenericArrayData(out)
  }
}
