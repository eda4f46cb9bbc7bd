package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.GeoFunctions

/** Optimizer rule: rewrite a haversine range predicate over a cross join
  * into a geo-cell-bucketed equi-join.
  *
  *   Filter(haversine(latA, lonA, latB, lonB) <= r)
  *     Join(Cross)                                    // |L| x |R| pairs
  * becomes
  *   Filter(same predicate)
  *     Join(Inner, cell_i = cell_i && cell_j = cell_j)
  *       Project(L, cell_i = floor(latA/c), cell_j = floor(lonA/c))
  *       Generate(explode 3x3 neighbor cells of R)
  *
  * with cell size c = the spherical longitude reach at the latitude guard
  * (see cellDeg below). The cell only guarantees longitude recall while
  * cos(lat) >= 1/2, i.e. |lat| <= 60°, and plain floor(lon/c) cells cannot pair across the
  * antimeridian (the haversine itself wraps via sin²(Δlon/2)). So the
  * rewrite splits rows by a runtime guard instead of assuming a domain:
  *
  *   bucketed(goodL ⋈ goodR)  ∪  exact(badL × all R)  ∪  exact(goodL × badR)
  *
  * where good = |lat| <= 60 AND |lon| <= 180 − c. The three branches are
  * disjoint and cover every pair, the exact haversine predicate applies in
  * all of them, and rows with null coordinates drop in every branch exactly
  * as they do in the original filter — semantics are identical at ANY
  * latitude/longitude. Realistic datasets put almost all rows in the
  * bucketed branch; the exact branches stay tiny (and degenerate to the
  * original cross join only if the whole dataset is polar/seam data).
  * What changes is the physical shape: a hash/sort-merge equi-join shuffled
  * on the cell key instead of an O(|L| x |R|) nested-loop cross join — the
  * difference between feasible and not at 100 TB.
  *
  * Every join the rewrite emits keeps the original join's hint, left to
  * right: each branch joins a filtered copy of the original left side to a
  * filtered (or exploded) copy of the original right side. A caller's
  * `broadcast(sources)` therefore still builds the sources side, and the
  * grid streams through all of its input splits. Dropping the hint lets the
  * planner broadcast the grid instead, which runs the whole pairing in the
  * task that reads the sources, or plan the exact branches as
  * `CartesianProduct`s when neither side fits the broadcast threshold. A
  * join without a hint gets none.
  *
  * Recall proof for the bucketed branch (c = cellDeg below, the SPHERICAL
  * bound 2·asin(min(1, 2·sin(r/2R)))): haversine gives
  * sin²(Δlat/2) <= sin²(r/2R), so |Δlat| <= 2·(r/2R) <= c (asin(x) >= x);
  * and for both |lat| <= 60, sin(Δlon/2)·cos(60°) <= sin(r/2R), so
  * |Δlon| <= 2·asin(2·sin(r/2R)) = c exactly. Hence the pair lands in the
  * same or a neighboring cell on each axis — the planar 2·rDeg is NOT
  * sufficient here (9.0001° > 8.9932° at r = 500 km, lat 60). No wrapped
  * pair survives the good-filter: both |lon| <= 180 − c means the wrapped
  * gap 360 − |Δlon| >= 2c > c, beyond any within-radius pair's reach. The exact
  * branches avoid re-matching this rule by phrasing the predicate as
  * `r >= haversine(...)` (semantically identical, structurally distinct).
  *
  * This is the rewrite `Noise.groundNoiseBucketed` performs by hand
  * (SURVEY.md §7.5), packaged as a `Rule[LogicalPlan]` so ANY naive
  * cross-join + haversine-cutoff query picks it up. Install via
  * `spark.experimental.extraOptimizations` or the `graft.GraftExtensions`
  * session extension.
  */
object BucketedRangeJoinRule extends Rule[LogicalPlan] {

  /** Max radius (m) the rewrite accepts — beyond this the cells grow so
    * coarse that bucketing stops pruning and the cross join is no worse.
    */
  private val MaxRadiusM = 500000.0

  /** Latitude bound (deg) inside which the spherical cell covers longitude
    * shrink: cos(60°) = 1/2 matches the 2·sin(r/2R) factor in cellDeg.
    */
  private val SafeLatDeg = 60.0

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // shape 1: Filter above a condition-less cross join
    case f @ Filter(cond @ LessThanOrEqual(HaversinePattern(latA, lonA, latB, lonB), Literal(r: Double, DoubleType)),
        join @ Join(left, right, Cross | Inner, None, _))
        if r > 0 && r <= MaxRadiusM && sidesMatch(left, right, latA, lonA, latB, lonB) =>
      rewrite(cond, join, latA, lonA, latB, lonB, r)
    // shape 2: the optimizer already pushed the predicate into the join
    case join @ Join(left, right, Cross | Inner,
        Some(cond @ LessThanOrEqual(HaversinePattern(latA, lonA, latB, lonB), Literal(r: Double, DoubleType))), _)
        if r > 0 && r <= MaxRadiusM && sidesMatch(left, right, latA, lonA, latB, lonB) =>
      rewrite(cond, join.copy(condition = None), latA, lonA, latB, lonB, r)
  }

  private def sidesMatch(left: LogicalPlan, right: LogicalPlan,
                         latA: Attribute, lonA: Attribute,
                         latB: Attribute, lonB: Attribute): Boolean =
    (left.outputSet.contains(latA) && left.outputSet.contains(lonA) &&
      right.outputSet.contains(latB) && right.outputSet.contains(lonB)) ||
      (left.outputSet.contains(latB) && left.outputSet.contains(lonB) &&
        right.outputSet.contains(latA) && right.outputSet.contains(lonA))

  private def rewrite(rangeCond: Expression, join: Join, latA: Attribute, lonA: Attribute,
                      latB: Attribute, lonB: Attribute, r: Double): LogicalPlan = {
    val (left, right) = (join.left, join.right)
    // orient the pairs to their sides
    val (latL, lonL, latR, lonR) =
      if (left.outputSet.contains(latA)) (latA, lonA, latB, lonB)
      else (latB, lonB, latA, lonA)

    // Spherical longitude reach, NOT the planar 2*rDeg: by the haversine,
    // a within-radius pair at equal latitude phi has
    //   sin(dLon/2) * cos(phi) <= sin(r/2R),
    // so at the |phi| <= 60 guard (cos = 1/2) the true bound is
    //   dLonMax = 2*asin(min(1, 2*sin(r/2R)))
    // which exceeds 2*rDeg (9.005 deg vs 8.993 deg at r = 500 km). A planar
    // cell would let a max-radius pair hugging the 60-degree guard straddle
    // two cell boundaries and silently drop. The spherical bound also covers
    // latitude (dLatMax = rDeg*2... <= cellDeg since asin(x) >= x) and keeps
    // the seam argument intact (wrapped gap >= 2*cellDeg when both
    // |lon| <= 180 - cellDeg).
    val cellDeg = math.toDegrees(2.0 * math.asin(
      math.min(1.0, 2.0 * math.sin(r / (2.0 * GeoFunctions.EarthRadiusM)))))
    def cellOf(a: Attribute): Expression = Floor(Divide(a, Literal(cellDeg)))

    // runtime guard: rows the spherical cell provably covers
    def isGood(lat: Attribute, lon: Attribute): Expression = And(
      LessThanOrEqual(Abs(lat), Literal(SafeLatDeg)),
      LessThanOrEqual(Abs(lon), Literal(180.0 - cellDeg)))
    def isBad(lat: Attribute, lon: Attribute): Expression = Not(isGood(lat, lon))

    // --- branch 1: bucketed equi-join over the guarded rows ---
    val lCellI = Alias(cellOf(latL), "__cell_i")()
    val lCellJ = Alias(cellOf(lonL), "__cell_j")()
    val goodLeft = Filter(isGood(latL, lonL), left)
    val newLeft = Project(left.output :+ lCellI :+ lCellJ, goodLeft)

    // right side: explode each guarded row into its 3x3 neighbor cells
    val rCellIAttr = AttributeReference("__rcell_i", LongType)()
    val rCellJAttr = AttributeReference("__rcell_j", LongType)()
    def neighbors(base: Expression): Expression =
      CreateArray(Seq(-1L, 0L, 1L).map(d => Add(base, Literal(d))))
    val goodRight = Filter(isGood(latR, lonR), right)
    val genI = Generate(Explode(neighbors(cellOf(latR))), Nil, outer = false,
      qualifier = None, generatorOutput = Seq(rCellIAttr), child = goodRight)
    val genJ = Generate(Explode(neighbors(cellOf(lonR))), Nil, outer = false,
      qualifier = None, generatorOutput = Seq(rCellJAttr), child = genI)

    val joinCond = And(
      EqualTo(lCellI.toAttribute, rCellIAttr),
      EqualTo(lCellJ.toAttribute, rCellJAttr))
    val bucketed = Join(newLeft, genJ, Inner, Some(joinCond), join.hint)
    // original predicate still applies inside buckets; drop the helper cols
    val branchBucketed = Project(join.output, Filter(rangeCond, bucketed))

    // --- branches 2+3: exact path for unguarded (polar / seam) rows ---
    // The predicate is flipped to `r >= haversine` so this rule's own
    // output can never re-match shape 1/2 on a later fixpoint pass.
    val exactCond = rangeCond match {
      case LessThanOrEqual(h, lit) => GreaterThanOrEqual(lit, h)
      case other => other
    }
    def exactBranch(l: LogicalPlan, rgt: LogicalPlan): LogicalPlan = {
      val joined = Join(l, rgt, Inner, None, join.hint)
      // fresh output aliases: Union children must not share attribute ids
      // with the first branch
      Project(join.output.map(a => Alias(a, a.name)()),
        Filter(exactCond, joined))
    }
    val branchBadLeft = exactBranch(Filter(isBad(latL, lonL), left), right)
    val branchBadRight = exactBranch(Filter(isGood(latL, lonL), left),
      Filter(isBad(latR, lonR), right))

    Union(Seq(branchBucketed, branchBadLeft, branchBadRight))
  }
}

/** Structural matcher for the haversine great-circle expression
  * `lit(2R) * asin(sqrt(sin²(Δlat/2) + cos(lat1)cos(lat2)sin²(Δlon/2)))`
  * over four attribute references. Extracts (latA, lonA, latB, lonB): the
  * two attributes appearing inside `cos(radians(x))` are the latitudes; the
  * subtraction not made of latitudes yields the longitudes.
  */
object HaversinePattern {
  def unapply(e: Expression): Option[(Attribute, Attribute, Attribute, Attribute)] = e match {
    case Multiply(Literal(scale: Double, DoubleType), asin: Asin, _)
        if scale > 2 * 6.0e6 && scale < 2 * 6.8e6 =>
      val lats: Seq[Attribute] = asin.collect {
        case Cos(ToRadians(a: Attribute)) => a
      }.distinct
      val subs: Seq[(Attribute, Attribute)] = asin.collect {
        case Subtract(b: Attribute, a: Attribute, _) => (a, b)
      }.distinct
      (lats, subs) match {
        case (Seq(lat1, lat2), ss) if ss.size == 2 =>
          ss.find { case (a, b) =>
            !Set(lat1.exprId, lat2.exprId).contains(a.exprId) &&
              !Set(lat1.exprId, lat2.exprId).contains(b.exprId)
          }.map { case (lonA, lonB) =>
            // orient longitudes to their latitudes: radians(latB - latA) and
            // radians(lonB - lonA) subtract in the same order
            val latOrder = ss.find { case (a, _) =>
              Set(lat1.exprId, lat2.exprId).contains(a.exprId)
            }
            latOrder match {
              case Some((latA: Attribute, _)) if latA.exprId == lat1.exprId =>
                (lat1, lonA, lat2, lonB)
              case Some((latA: Attribute, _)) if latA.exprId == lat2.exprId =>
                (lat2, lonA, lat1, lonB)
              case _ => (lat1, lonA, lat2, lonB)
            }
          }
        case _ => None
      }
    case _ => None
  }
}
