package graft.spjbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Model, RefEdge, SpatialConfig, SpatialJoin, SubGeom}
import graft.geom.Geo
import graft.sql.GeoFuns

/** Relation count plus an order-independent 64-bit row hash: the sums of
  * the low and the high 32 bits of each row's xxhash64 (two sums, so no
  * ANSI overflow below 2^31 rows, and a dropped or changed row moves them). */
final case class Summary(count: Long, hash: String)

object Gate {

  def summarize(df: DataFrame): Summary = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(h, 32))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Summary(l(0), f"${l(1)}%x.${l(2)}%x")
  }

  /** Relations as (a, predicate or distance, b) strings. */
  def relSet(rels: DataFrame): Set[(String, String, String)] =
    rels.collect().map(r => (r.getString(0), r.get(1).toString,
      r.getString(2))).toSet

  private val PREDS = Array("intersects", "equals", "covers", "contains",
    "touches", "crosses", "overlaps")

  /** Driver-side brute force over every ordered pair of ids through
    * [[GeoFuns.verdict]] / [[GeoFuns.distGeoms]]. */
  def brute(parts: Map[String, Array[Geo.G]], cfg: SpatialConfig)
      : Set[(String, String, String)] = {
    val ids = parts.keys.toSeq.sorted
    (for {
      a <- ids; b <- ids if a != b
      rel <- {
        val (ga, gb) = (parts(a), parts(b))
        if (cfg.mode == "distance") {
          val d = GeoFuns.distGeoms(ga, gb)
          if (d <= cfg.withinDist) Seq((a, d.toString, b)) else Nil
        } else {
          val v = GeoFuns.verdict(ga, gb)
          if (v == null) Nil
          else PREDS.zip(Array(v.isect, v.equalsAB, v.coversAB, v.containsAB,
            v.touchesAB, v.crossesAB, v.overlapsAB)).collect {
            case (p, true) => (a, p, b)
          }.toSeq
        }
      }
    } yield rel).toSet
  }

  /** Outcome of the windowed check: relations compared, and mismatches. */
  final case class WindowResult(box: (Int, Int, Int, Int), ids: Int,
      compared: Int, missing: Set[(String, String, String)],
      extra: Set[(String, String, String)]) {
    def ok: Boolean = missing.isEmpty && extra.isEmpty
  }

  /** Compare engine and brute force over the ids whose whole geometry is
    * inside the window. A multi-geometry (or an alias) that the window
    * cuts keeps only some of its parts in the engine's filtered input;
    * its relations are left out of the comparison on both sides. */
  def compare(box: (Int, Int, Int, Int), engine: Set[(String, String, String)],
      parts: Map[String, Array[Geo.G]], complete: Set[String],
      cfg: SpatialConfig): WindowResult = {
    val keep = (t: (String, String, String)) =>
      complete(t._1) && complete(t._3)
    val e = engine.filter(keep)
    val b = brute(parts.filter(p => complete(p._1)), cfg).filter(keep)
    WindowResult(box, complete.size, b.size, b -- e, e -- b)
  }

  /** Window of half-width ~0.015 degrees around a seed-chosen geometry. */
  def windowBox(geoms: Dataset[SubGeom], seed: Long): (Int, Int, Int, Int) = {
    val r = geoms.toDF().select(min(struct(xxhash64(col("gid"), lit(seed)),
      col("minX"), col("minY"), col("maxX"), col("maxY")))).head().getStruct(0)
    val cx = ((r.getInt(1).toLong + r.getInt(3)) / 2).toInt
    val cy = ((r.getInt(2).toLong + r.getInt(4)) / 2).toInt
    val w = Geo.projX(0.015)
    (cx - w, cy - w, cx + w, cy + w)
  }

  /** Sub-geometries whose bbox meets the box, grouped into their ids'
    * parts, plus the ids whose every part is present. */
  def windowParts(geoms: Dataset[SubGeom], box: (Int, Int, Int, Int))
      : (Map[String, Array[Geo.G]], Set[String]) = {
    val (x0, y0, x1, y1) = box
    val rows = geoms.filter(col("minX") <= x1 && col("maxX") >= x0 &&
      col("minY") <= y1 && col("maxY") >= y0).collect()
    val byGid = rows.groupBy(_.gid)
    val parts = byGid.map { case (g, rs) =>
      g -> rs.sortBy(_.subId).map(s => Model.toG(s.kind, s.coords, s.ringEnds))
    }
    val complete = byGid.collect {
      case (g, rs) if rs.map(_.subId).distinct.length == rs.head.nSubs => g
    }.toSet
    (parts, complete)
  }

  /** Alias ids take their targets' parts; an alias is complete when every
    * target is present and complete. */
  def withAliases(parts: Map[String, Array[Geo.G]], complete: Set[String],
      refs: Seq[RefEdge]): (Map[String, Array[Geo.G]], Set[String]) = {
    val byAlias = refs.groupBy(_.referer)
    val aliasParts = byAlias.flatMap { case (a, es) =>
      val ts = es.sortBy(_.subId).map(_.target)
      val got = ts.flatMap(t => parts.get(t).toSeq.flatten).toArray
      if (got.isEmpty) None else Some(a -> got)
    }
    val aliasComplete = byAlias.collect {
      case (a, es) if es.forall(e => complete(e.target)) => a
    }.toSet
    (parts ++ aliasParts, complete ++ aliasComplete)
  }

  /** The windowed engine join: the same input through run() with
    * `SpatialConfig.filterBox`. */
  def engineWindow(spark: SparkSession, geoms: Dataset[SubGeom],
      refs: Dataset[RefEdge], cfg: SpatialConfig, box: (Int, Int, Int, Int))
      : Set[(String, String, String)] =
    relSet(SpatialJoin.run(spark, geoms, refs, cfg.copy(filterBox = Some(box))))

  /** Gate self-test: an output with one relation dropped must fail both
    * the count+hash gate and the windowed comparison. */
  def selfTest(spark: SparkSession, engine: Set[(String, String, String)],
      w: WindowResult, parts: Map[String, Array[Geo.G]], complete: Set[String],
      cfg: SpatialConfig): Boolean = {
    import spark.implicits._
    val kept = engine.filter(t => complete(t._1) && complete(t._3)).toSeq.sorted
    if (kept.isEmpty) return false
    val full = kept.toDF("a", "m", "b")
    val dropped = kept.tail.toDF("a", "m", "b")
    val gateCatches = summarize(full) != summarize(dropped)
    val cmp = compare(w.box, kept.tail.toSet, parts, complete, cfg)
    gateCatches && !cmp.ok && cmp.missing == Set(kept.head)
  }
}
