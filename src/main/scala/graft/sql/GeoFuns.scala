package graft.sql

import org.apache.spark.unsafe.types.UTF8String

import graft.engine.{FlagRow, RelAgg, RelState, RelVerdict}
import graft.geom.{Dist, Geo, PairRel, Relate, Wkt}

/** Static evaluation core of the `st_*` SQL functions.
  *
  * Every method here is reachable from generated code as a plain static
  * call (top-level object => static forwarders), so the Catalyst
  * expressions in [[exprs]] stay inside whole-stage codegen.
  *
  * WKT parsing is [[Wkt.parseWkt]] and per-sub-pair refinement is
  * [[Relate.relate]], as in the engine. The multi-geometry aggregation
  * folds the refine stage's [[FlagRow]] records through [[RelAgg]], a
  * plain fold that the join does NOT use (the join merges packed partial
  * states, SpatialJoin.emissionMask): it is kept deliberately independent
  * of the join's merge, so that [[verdict]] can serve as the brute-force
  * oracle of the join's multi-geometry semantics (reference:
  * src/spatialjoin/Sweeper.cpp:788-1059). The scalar functions agree
  * row-for-row with the distributed join (pinned by SqlFunctionsSpec's
  * brute-force-vs-engine differential), while the join remains the scale
  * path — these are for ad-hoc SQL filters and projections.
  *
  * Invalid or empty WKT: predicates return false, `relate` returns null,
  * `distance`/`area`/`length` return NaN (primitive-friendly sentinels that
  * keep codegen null handling trivial).
  */
object GeoFuns {

  /** Predicate codes (directional A->B where applicable, matching the
    * engine's writeRel discipline: covers/contains = A covers/contains B;
    * crosses = line-side-first). */
  final val INTERSECTS = 0
  final val EQUALS = 1
  final val COVERS = 2
  final val CONTAINS = 3
  final val TOUCHES = 4
  final val CROSSES = 5
  final val OVERLAPS = 6

  /** Parse WKT into decomposed single geometries (empty array = invalid). */
  def parse(s: UTF8String): Array[Geo.G] =
    if (s == null) Array.empty else Wkt.parseWkt(s.toString)

  /** The exact PairRel -> FlagRow field mapping of the refine stage
    * (SpatialJoin refine, the general path's boolean columns). */
  private def flagRow(ga: Geo.G, ia: Int, nA: Int,
      gb: Geo.G, ib: Int, nB: Int, r: PairRel): FlagRow =
    FlagRow(
      "a", ia, nA, ga.kind, "b", ib, nB, gb.kind,
      isect = true,
      covAbyB = r.aCovByB, covBbyA = r.bCovByA,
      contAinB = r.aContInB, contBinA = r.bContInA,
      subEq = r.aCovByB && r.bCovByA,
      touch = r.touches, notTouch = r.interiorIsect,
      llCross = ga.kind == 1 && gb.kind == 1 && r.crosses,
      laCrossAB = ga.kind == 1 && gb.kind == 2 && r.crosses,
      laCrossBA = ga.kind == 2 && gb.kind == 1 && r.crosses,
      overlap = r.overlaps,
      de9im = "", dist = -1.0)

  /** Aggregated relation verdict over two decomposed geometries; null when
    * either side is empty/invalid or no sub-pair intersects (the engine
    * keeps no state for non-intersecting pairs). */
  def verdict(as: Array[Geo.G], bs: Array[Geo.G]): RelVerdict = {
    if (as.length == 0 || bs.length == 0) return null
    var st: RelState = null
    var ia = 0
    while (ia < as.length) {
      val ga = as(ia)
      var ib = 0
      while (ib < bs.length) {
        val gb = bs(ib)
        if (ga.bboxIntersects(gb)) {
          val r = Relate.relate(ga, gb)
          if (r.isect) {
            if (st == null) st = RelAgg.zero
            st = RelAgg.reduce(st, flagRow(ga, ia, as.length, gb, ib, bs.length, r))
          }
        }
        ib += 1
      }
      ia += 1
    }
    if (st == null) null
    else {
      // non-intersecting sub pairs still count toward nA/nB (the engine's
      // nA/nB columns carry the full decomposition size on every row)
      st.nA = as.length; st.nB = bs.length
      RelAgg.finish(st)
    }
  }

  private def predOf(v: RelVerdict, p: Int): Boolean =
    if (v == null) false
    else p match {
      case INTERSECTS => v.isect
      case EQUALS => v.equalsAB
      case COVERS => v.coversAB
      case CONTAINS => v.containsAB
      case TOUCHES => v.touchesAB
      case CROSSES => v.crossesAB
      case OVERLAPS => v.overlapsAB
      case _ => false
    }

  def pred(a: UTF8String, b: UTF8String, p: Int): Boolean =
    predOf(verdict(parse(a), parse(b)), p)

  /** Literal-side fast path: the right argument was parsed once at plan
    * time (see [[StPredicate]]'s foldable handling). */
  def predPre(a: UTF8String, pre: ParsedWkt, p: Int): Boolean =
    predOf(verdict(parse(a), pre.geoms), p)

  /** Merged DE-9IM matrix string. For intersecting pairs this merges only
    * the intersecting sub-pair matrices — exactly the engine's de9im mode
    * (cellwise MAX, reference DE9IMatrix::operator+=); a fully disjoint
    * pair merges all sub-pair matrices instead (the engine emits no row at
    * all there, so this extends rather than contradicts it). */
  def relateMat(as: Array[Geo.G], bs: Array[Geo.G]): UTF8String = {
    if (as.length == 0 || bs.length == 0) return null
    var m: Relate.Mat = null
    var mAll: Relate.Mat = null
    var ia = 0
    while (ia < as.length) {
      val ga = as(ia)
      var ib = 0
      while (ib < bs.length) {
        val gb = bs(ib)
        val mat = Relate.de9im(ga, gb)
        mAll = if (mAll == null) mat else Relate.merge(mAll, mat)
        if (ga.bboxIntersects(gb) && Relate.relate(ga, gb).isect)
          m = if (m == null) mat else Relate.merge(m, mat)
        ib += 1
      }
      ia += 1
    }
    UTF8String.fromString(Relate.matToString(if (m != null) m else mAll))
  }

  def relate(a: UTF8String, b: UTF8String): UTF8String =
    relateMat(parse(a), parse(b))

  def relatePre(a: UTF8String, pre: ParsedWkt): UTF8String =
    relateMat(parse(a), pre.geoms)

  /** Min meter distance over all sub-pairs (0 when intersecting) — the
    * same [[Dist.geomDist]] the distance-mode join refines with. */
  def distGeoms(as: Array[Geo.G], bs: Array[Geo.G]): Double = {
    if (as.length == 0 || bs.length == 0) return Double.NaN
    var best = Double.MaxValue
    var ia = 0
    while (ia < as.length && best > 0.0) {
      var ib = 0
      while (ib < bs.length && best > 0.0) {
        val d = Dist.geomDist(as(ia), bs(ib))
        if (d < best) best = d
        ib += 1
      }
      ia += 1
    }
    if (best == Double.MaxValue) Double.NaN else best
  }

  def distance(a: UTF8String, b: UTF8String): Double =
    distGeoms(parse(a), parse(b))

  def distancePre(a: UTF8String, pre: ParsedWkt): Double =
    distGeoms(parse(a), pre.geoms)

  /** Summed polygon area in web-mercator units² (shoelace/2 over PREC²) —
    * the P8 area measure the engine sorts and shortcuts with. */
  def area(a: UTF8String): Double = {
    val gs = parse(a)
    if (gs.length == 0) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < gs.length) {
      if (gs(i).kind == 2) acc += gs(i).area2 / 2.0 / (Geo.PREC * Geo.PREC)
      i += 1
    }
    acc
  }

  /** Summed line length in web-mercator units (P8's length measure). */
  def length(a: UTF8String): Double = {
    val gs = parse(a)
    if (gs.length == 0) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < gs.length) {
      if (gs(i).kind == 1) acc += gs(i).length / Geo.PREC
      i += 1
    }
    acc
  }
}

/** A WKT literal captured at plan time and parsed lazily ONCE per task
  * (decoded [[Geo.G]] holds lazy edge indexes and is deliberately not
  * serializable — the string travels, the parse stays local). */
final class ParsedWkt(val wkt: String) extends Serializable {
  @transient lazy val geoms: Array[Geo.G] = Wkt.parseWkt(wkt)
}
