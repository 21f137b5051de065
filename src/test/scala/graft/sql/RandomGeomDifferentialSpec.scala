package graft.sql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{Model, SpatialConfig, SpatialJoin}
import graft.geom.{Geo, Wkt}

/** Seeded random-geometry differential: the full distributed pipeline
  * (cover cells -> fused kernel -> aggregation -> emission) against a
  * driver-side brute force over every ordered pair through
  * [[GeoFuns.verdict]] (RelAgg fold over Relate) — a fourth path that
  * shares only the geometry kernels with the engine, none of the
  * candidate-generation, dedup, or aggregation machinery. Unlike the
  * fixture suite this explores arbitrary pair configurations: star
  * polygons with holes, random-walk lines, multi geometries, exact
  * duplicates, clustered so that intersections are dense. The `aliases`
  * variants add authored alias lines (one with 70 targets) and 64- and
  * 256-part multis, which route the join through the general path
  * (candidates, refine, fanout, aggregate's adapter) into the same merge:
  * the brute force expands each alias to its targets' parts.
  *
  * The fixed seeds keep the gate deterministic; DifferentialSoak
  * (Test/runMain) is the open-ended version of the same idea.
  */
class RandomGeomDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("randdiff")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** ~90 random WKT rows clustered in a ~0.1° window around (10, 45).
    * With `aliases`, also a 64-part MULTIPOLYGON (`m64`), a 256-part
    * MULTIPOINT (`m256`) and 70 points inside a square (`cover`), and
    * authored alias lines over single-part targets: `alias70` (the 70
    * points) and `alias3`. */
  private def randomWkts(seed: Long,
      aliases: Boolean = false): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    def coord(c0: Double, spread: Double): Double =
      math.rint((c0 + (rnd.nextDouble() - 0.5) * spread) * 1e5) / 1e5
    val centers = Array.fill(4)((coord(10.0, 0.08), coord(45.0, 0.06)))
    def center() = centers(rnd.nextInt(centers.length))

    def point(): String = {
      val (cx, cy) = center()
      s"POINT(${coord(cx, 0.02)} ${coord(cy, 0.02)})"
    }
    def ring(cx: Double, cy: Double, r0: Double): String = {
      val n = 3 + rnd.nextInt(6)
      val pts = (0 until n).map { i =>
        val a = 2 * math.Pi * i / n
        val r = r0 * (0.6 + 0.4 * rnd.nextDouble())
        val x = math.rint((cx + r * math.cos(a)) * 1e5) / 1e5
        val y = math.rint((cy + r * math.sin(a)) * 1e5) / 1e5
        s"$x $y"
      }
      "(" + (pts :+ pts.head).mkString(", ") + ")"
    }
    def polygon(): String = {
      val (cx, cy) = center()
      val r = 0.004 + rnd.nextDouble() * 0.02
      val shell = ring(cx, cy, r)
      // a hole strictly inside the shell's minimum radius
      if (rnd.nextBoolean()) s"POLYGON($shell, ${ring(cx, cy, r * 0.25)})"
      else s"POLYGON($shell)"
    }
    def line(): String = {
      val (cx, cy) = center()
      var x = coord(cx, 0.02); var y = coord(cy, 0.02)
      val pts = scala.collection.mutable.ArrayBuffer(s"$x $y")
      (0 until 1 + rnd.nextInt(5)).foreach { _ =>
        x = coord(x, 0.015); y = coord(y, 0.015)
        pts += s"$x $y"
      }
      s"LINESTRING(${pts.mkString(", ")})"
    }
    def multi(): String = rnd.nextInt(3) match {
      case 0 =>
        val (cx, cy) = center()
        s"MULTIPOLYGON((${ring(cx, cy, 0.01)}), (${ring(coord(cx, 0.05), coord(cy, 0.05), 0.008)}))"
      case 1 => s"GEOMETRYCOLLECTION(${point()}, ${line()})"
      case _ =>
        s"MULTIPOINT(${point().stripPrefix("POINT(").stripSuffix(")")}, " +
          s"${point().stripPrefix("POINT(").stripSuffix(")")})"
    }

    val base = (1 to 80).map { i =>
      val wkt = rnd.nextInt(10) match {
        case 0 | 1 | 2 => point()
        case 3 | 4 | 5 => polygon()
        case 6 | 7 | 8 => line()
        case _ => multi()
      }
      (s"g$i", wkt)
    }
    // exact duplicates exercise equals + the duplicate machinery
    val dups = (1 to 8).map(i => (s"dup$i", base((i * 7) % base.length)._2))
    if (!aliases) return base ++ dups
    // a square `cover` holding 70 points (`alias70`'s targets) and the 256
    // points of `m256`: its covers/contains verdicts need every slot >= 64
    // counted
    val (cx, cy) = center()
    def inside() = s"${coord(cx, 0.02)} ${coord(cy, 0.02)}"
    def r5(v: Double) = math.rint(v * 1e5) / 1e5
    val cover = Seq((-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1)).map {
      case (dx, dy) => s"${r5(cx + dx * 0.011)} ${r5(cy + dy * 0.011)}"
    }.mkString("POLYGON((", ", ", "))")
    val extra = (1 to 70).map(i => (s"x$i", s"POINT(${inside()})"))
    val m256 = (1 to 256).map(_ => inside()).mkString("MULTIPOINT(", ", ", ")")
    val m64 = (1 to 64).map { _ =>
      val (px, py) = center()
      s"(${ring(coord(px, 0.03), coord(py, 0.03), 0.002)})"
    }.mkString("MULTIPOLYGON(", ", ", ")")
    // alias targets are single points and polygons. Single-part: the
    // engine never relates the parts of one multi-geometry to each other,
    // while the brute force over an alias's expanded parts would. No
    // lines: an alias and its target are related by the reference's
    // hard-coded self relation (selfCheck: contains, matrix 10FF0FFF2),
    // while relating a line to itself gives no contains and 1FFFFFFF2
    val single = rnd.shuffle((base ++ dups).collect {
      case (id, w) if w.startsWith("POINT") || w.startsWith("POLYGON") => id
    })
    base ++ dups ++ extra ++ Seq("cover" -> cover, "m64" -> m64,
      "m256" -> m256, "alias70" -> extra.map(_._1).mkString("<", ",", ">"),
      "alias3" -> single.take(3).mkString("<", ",", ">"))
  }

  /** Decomposed parts per id; an alias takes its targets' parts in slot
    * order. */
  private def partsOf(rows: Seq[(String, String)]): Map[String, Array[Geo.G]] = {
    val direct = rows.collect {
      case (id, w) if !w.startsWith("<") => id -> Wkt.parseWkt(w)
    }.toMap
    direct ++ rows.collect {
      case (id, w) if w.startsWith("<") =>
        id -> w.stripPrefix("<").stripSuffix(">").split(",").flatMap(direct)
    }
  }

  private def assertSame(engine: Set[(String, String, String)],
      brute: Set[(String, String, String)]): Unit = {
    val (extra, missing) = (engine -- brute, brute -- engine)
    assert(extra.isEmpty && missing.isEmpty,
      s"extra=${extra.take(8)} missing=${missing.take(8)}")
  }

  /** Brute-force predicates over the given ordered id pairs. */
  private def brutePreds(pairs: Seq[(String, String)],
      parts: Map[String, Array[Geo.G]]): Set[(String, String, String)] =
    (for {
      (ida, idb) <- pairs
      v = GeoFuns.verdict(parts(ida), parts(idb)) if v != null
      (name, on) <- PREDS.zip(Array(v.isect, v.equalsAB, v.coversAB,
        v.containsAB, v.touchesAB, v.crossesAB, v.overlapsAB)) if on
    } yield (ida, name, idb)).toSet

  private def engineRels(rows: Seq[(String, String)], cfg: SpatialConfig)
      : Set[(String, String, String)] = {
    val lines = rows.map { case (id, wkt) => s"$id\t$wkt" }
    val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
    val (geoms, refs) = Model.parseLines(spark, ds)
    SpatialJoin.run(spark, geoms, refs, cfg).collect()
      .map(r => (r.getString(0),
        if (cfg.mode == "distance") r.getDouble(1).toString else r.getString(1),
        r.getString(2))).toSet
  }

  private val PREDS = Array("intersects", "equals", "covers", "contains",
    "touches", "crosses", "overlaps")

  test("random geometries: engine == brute verdicts (predicates)") {
    for (seed <- Seq(1L, 42L)) {
      val rows = randomWkts(seed)
      val parsed = rows.map { case (id, w) => (id, Wkt.parseWkt(w)) }
      val brute = (for {
        (ida, ga) <- parsed
        (idb, gb) <- parsed if ida != idb
        v = GeoFuns.verdict(ga, gb) if v != null
        (name, on) <- PREDS.zip(Array(v.isect, v.equalsAB, v.coversAB,
          v.containsAB, v.touchesAB, v.crossesAB, v.overlapsAB)) if on
      } yield (ida, name, idb)).toSet
      val engine = engineRels(rows, SpatialConfig())
      val extra = engine -- brute
      val missing = brute -- engine
      assert(extra.isEmpty && missing.isEmpty,
        s"seed=$seed extra=${extra.take(5)} missing=${missing.take(5)}")
      assert(brute.size > 50, s"seed=$seed degenerate input: ${brute.size}")
    }
  }

  test("random geometries: engine == brute verdicts (non-self, two sides)") {
    val rows = randomWkts(1234L)
    // alternate rows between the two sides (explicit side field)
    val sided = rows.zipWithIndex.map { case ((id, w), i) => (id, i % 2, w) }
    val lines = sided.map { case (id, s, w) => s"$id\t$s\t$w" }
    val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
    val (geoms, refs) = Model.parseLines(spark, ds)
    val engine = SpatialJoin.run(spark, geoms, refs,
      SpatialConfig(selfJoin = false)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // non-self discipline: side-0 geometry first, A->B slots only
    val parsed = sided.map { case (id, s, w) => (id, s, Wkt.parseWkt(w)) }
    val brute = (for {
      (ida, sa, ga) <- parsed if sa == 0
      (idb, sb, gb) <- parsed if sb == 1
      v = GeoFuns.verdict(ga, gb) if v != null
      (name, on) <- PREDS.zip(Array(v.isect, v.equalsAB, v.coversAB,
        v.containsAB, v.touchesAB, v.crossesAB, v.overlapsAB)) if on
    } yield (ida, name, idb)).toSet
    assert(engine == brute,
      s"extra=${(engine -- brute).take(5)} missing=${(brute -- engine).take(5)}")
    assert(brute.size > 20, s"degenerate input: ${brute.size}")
  }

  test("random geometries: engine == brute de9im") {
    val rows = randomWkts(7L)
    val parsed = rows.map { case (id, w) => (id, Wkt.parseWkt(w)) }
    val brute = (for {
      (ida, ga) <- parsed
      (idb, gb) <- parsed if ida != idb
      v = GeoFuns.verdict(ga, gb) if v != null && v.isect
    } yield (ida, GeoFuns.relateMat(ga, gb).toString, idb)).toSet
    val engine = engineRels(rows, SpatialConfig(mode = "de9im"))
      .filter(t => t._1 != t._3)
    assert(engine == brute,
      s"extra=${(engine -- brute).take(5)} missing=${(brute -- engine).take(5)}")
  }

  test("random geometries: engine == brute within-distance") {
    val wd = 2000.0
    val rows = randomWkts(99L)
    val parsed = rows.map { case (id, w) => (id, Wkt.parseWkt(w)) }
    val brute = (for {
      (ida, ga) <- parsed
      (idb, gb) <- parsed if ida != idb
      d = GeoFuns.distGeoms(ga, gb) if d <= wd
    } yield (ida, d.toString, idb)).toSet
    val engine = engineRels(rows,
      SpatialConfig(mode = "distance", withinDist = wd))
    assert(engine == brute,
      s"extra=${(engine -- brute).take(5)} missing=${(brute -- engine).take(5)}")
    assert(brute.size > 50, s"degenerate input: ${brute.size}")
  }

  test("aliases + 64/256-part multis: engine == brute verdicts (predicates)") {
    val rows = randomWkts(5L, aliases = true)
    val parts = partsOf(rows)
    val ids = parts.keys.toSeq
    val brute =
      brutePreds(for (a <- ids; b <- ids if a != b) yield (a, b), parts)
    val engine = engineRels(rows, SpatialConfig())
    assertSame(engine, brute)
    for (id <- Seq("alias70", "alias3", "m64", "m256"))
      assert(brute.exists(t => t._1 == id && t._2 != "intersects"), id)
    assert(brute(("cover", "contains", "alias70")) &&
      brute(("cover", "contains", "m256")))
  }

  test("aliases + 64/256-part multis: engine == brute verdicts (non-self)") {
    val rows = randomWkts(6L, aliases = true)
    // an alias and its targets share side 0: the engine relates an alias
    // through its targets' refined pairs, which exist only across sides
    val targets = rows.collect { case (_, w) if w.startsWith("<") =>
      w.stripPrefix("<").stripSuffix(">").split(",").toSeq
    }.flatten.toSet
    val sided = rows.zipWithIndex.map { case ((id, w), i) =>
      val side =
        if (w.startsWith("<") || targets(id) || id == "m256") 0
        else if (id == "cover") 1
        else i % 2
      (id, side, w)
    }
    val lines = sided.map { case (id, s, w) => s"$id\t$s\t$w" }
    val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
    val (geoms, refs) = Model.parseLines(spark, ds)
    val engine = SpatialJoin.run(spark, geoms, refs,
      SpatialConfig(selfJoin = false)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val brute = brutePreds(for {
      (a, 0, _) <- sided; (b, 1, _) <- sided
    } yield (a, b), partsOf(rows))
    assertSame(engine, brute)
    for (id <- Seq("alias70", "m64", "m256"))
      assert(brute.exists(t => t._1 == id || t._3 == id), id)
    assert(brute(("alias70", "intersects", "cover")))
  }

  test("aliases + 64/256-part multis: engine == brute de9im") {
    val rows = randomWkts(8L, aliases = true)
    val parts = partsOf(rows)
    val ids = parts.keys.toSeq
    val brute = (for {
      a <- ids; b <- ids if a != b
      v = GeoFuns.verdict(parts(a), parts(b)) if v != null && v.isect
    } yield (a, GeoFuns.relateMat(parts(a), parts(b)).toString, b)).toSet
    val engine = engineRels(rows, SpatialConfig(mode = "de9im"))
    assertSame(engine, brute)
    assert(brute.exists(t => t._1 == "cover" && t._3 == "alias70") &&
      brute.exists(_._1 == "m64"))
  }

  test("aliases + 64/256-part multis: engine == brute within-distance") {
    val wd = 1500.0
    val rows = randomWkts(9L, aliases = true)
    val parts = partsOf(rows)
    val ids = parts.keys.toSeq
    val brute = (for {
      a <- ids; b <- ids if a != b
      d = GeoFuns.distGeoms(parts(a), parts(b)) if d <= wd
    } yield (a, d.toString, b)).toSet
    val engine = engineRels(rows,
      SpatialConfig(mode = "distance", withinDist = wd))
    assertSame(engine, brute)
    assert(brute.exists(_._1 == "alias70") && brute.exists(_._1 == "m256"))
  }
}
