package graft.engine

/** Per-(gidA,gidB) relation state of the [[RelAgg]] fold: unbounded sub-id
  * bitsets — the analogue of the reference's _sub* staging maps
  * (reference: src/spatialjoin/Sweeper.h:422-445).
  */
final case class RelState(
    var nA: Int, var nB: Int,
    var isect: Boolean,
    var touch: Boolean, var notTouch: Boolean,
    var llCross: Boolean, var laAB: Boolean, var laBA: Boolean,
    var overlap: Boolean, var notCross: Boolean,
    var covA: Array[Long], var covB: Array[Long],
    var contA: Array[Long], var contB: Array[Long],
    var eqA: Array[Long], var eqB: Array[Long])

/** Plain fold (zero / reduce / finish) of sub-pair [[FlagRow]]s into the
  * reference's multi-geometry verdict (Sweeper.cpp:788-1059). The join
  * does not use it — its merge is SpatialJoin's packed partial-state
  * merge — so the `st_*` functions and the brute-force oracles that fold
  * through it ([[graft.sql.GeoFuns.verdict]]) stay independent of the
  * join's merge code.
  */
object RelAgg {

  private def set(bits: Array[Long], i: Int): Array[Long] = {
    val w = i >> 6
    val b = if (w < bits.length) bits
      else java.util.Arrays.copyOf(bits, w + 1)
    b(w) |= 1L << (i & 63)
    b
  }

  private def card(x: Array[Long]): Int = {
    var c = 0
    var i = 0
    while (i < x.length) { c += java.lang.Long.bitCount(x(i)); i += 1 }
    c
  }

  private val EMPTY = new Array[Long](0)

  def zero: RelState = RelState(0, 0,
    false, false, false, false, false, false, false, false,
    EMPTY, EMPTY, EMPTY, EMPTY, EMPTY, EMPTY)

  def reduce(s: RelState, f: FlagRow): RelState = {
    s.nA = math.max(s.nA, f.nA); s.nB = math.max(s.nB, f.nB)
    s.isect ||= f.isect
    s.touch ||= f.touch; s.notTouch ||= f.notTouch
    s.llCross ||= f.llCross; s.laAB ||= f.laCrossAB; s.laBA ||= f.laCrossBA
    s.overlap ||= f.overlap
    s.notCross ||= f.covAbyB || f.covBbyA || f.overlap
    if (f.covAbyB) s.covA = set(s.covA, f.subA)
    if (f.covBbyA) s.covB = set(s.covB, f.subB)
    if (f.contAinB) s.contA = set(s.contA, f.subA)
    if (f.contBinA) s.contB = set(s.contB, f.subB)
    if (f.subEq) { s.eqA = set(s.eqA, f.subA); s.eqB = set(s.eqB, f.subB) }
    s
  }

  def finish(s: RelState): RelVerdict = {
    val covCntA = card(s.covA); val covCntB = card(s.covB)
    val coversAB = covCntB == s.nB
    val coversBA = covCntA == s.nA
    val partial = (covCntA > 0 && covCntA < s.nA) ||
      (covCntB > 0 && covCntB < s.nB)
    RelVerdict(
      isect = s.isect,
      coversAB = coversAB,
      coversBA = coversBA,
      containsAB = card(s.contB) == s.nB,
      containsBA = card(s.contA) == s.nA,
      equalsAB = s.nA == s.nB && card(s.eqA) == s.nA && card(s.eqB) == s.nB,
      touchesAB = s.touch && !s.notTouch,
      crossesAB = (s.llCross && !s.notCross) || s.laAB,
      crossesBA = (s.llCross && !s.notCross) || s.laBA,
      overlapsAB = (s.overlap || partial) && !coversAB && !coversBA &&
        !s.llCross)
  }
}

final case class RelVerdict(
    isect: Boolean,
    coversAB: Boolean, coversBA: Boolean,
    containsAB: Boolean, containsBA: Boolean,
    equalsAB: Boolean,
    touchesAB: Boolean,
    crossesAB: Boolean, crossesBA: Boolean,
    overlapsAB: Boolean)
