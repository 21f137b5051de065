package graft.spjbench

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.engine.{SubGeom, SynthGeo}

/** Seeded inputs. Every value is a pure function of (seed, line or id),
  * so the same seed always yields the same input. */
object Inputs {

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform double in [0,1) from (seed, id, salt). */
  def u(seed: Long, id: Long, salt: Long): Double =
    (mix(seed ^ mix(id) ^ (salt * 0x632be59bd9b4e019L)) >>> 11) *
      (1.0 / (1L << 53))

  /** Towns for n geometries at the geometry density of SynthGeo's
    * 1,000,000-geometry input (1024 towns): the relations per geometry,
    * and so the per-geometry cost, match that input at a smaller n. */
  def townsAtMillionDensity(n: Long): Int =
    math.max(1L, 1024L * n / 1000000L).toInt

  /** OSM-like SynthGeo geometries (60% points, 20% roads, 20% polygons),
    * clustered in towns. */
  def osm(spark: SparkSession, n: Long, seed: Long): Dataset[SubGeom] = {
    import spark.implicits._
    val towns = townsAtMillionDensity(n)
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 2)
      .map(id => SynthGeo.make(seed, id, towns))
  }

  def persisted(ds: Dataset[SubGeom]): Dataset[SubGeom] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  // ----------------------------------------------------------- WKT lines

  private final val LON0 = 5.0; private final val LONW = 10.0
  private final val LAT0 = 47.0; private final val LATH = 8.0

  /** Line kind: 0 point, 1 road, 2 polygon, 3 multipolygon, 4 alias.
    * Without aliases the alias draws become points. */
  def wktKind(seed: Long, i: Long, aliases: Boolean): Int = {
    val k = u(seed, i, 4)
    if (k < 0.02) { if (aliases) 4 else 0 }
    else if (k < 0.04) 3
    else {
      val r = (k - 0.04) / 0.96
      if (r < 0.60) 0 else if (r < 0.80) 1 else 2
    }
  }

  private def num(sb: StringBuilder, x: Double): Unit =
    sb.append(java.lang.Double.toString(math.rint(x * 1e7) / 1e7))

  private def ring(sb: StringBuilder, seed: Long, i: Long, salt: Int,
      cLon: Double, cLat: Double, r: Double, n: Int): Unit = {
    sb.append('(')
    var k = 0
    while (k <= n) {
      val j = k % n // closed ring: the last vertex repeats the first
      val ang = 2 * math.Pi * j / n
      val jit = 0.7 + 0.6 * u(seed, i, salt + j)
      if (k > 0) sb.append(", ")
      num(sb, cLon + math.cos(ang) * r * jit); sb.append(' ')
      num(sb, cLat + math.sin(ang) * r * jit * 0.7)
      k += 1
    }
    sb.append(')')
  }

  /** Line `i` of the seeded WKT input: `w<i> \t <payload>`. About 2% of
    * the lines are 2-4-part MULTIPOLYGONs and, with aliases, about 2% are
    * `<a, b>` alias lines whose two targets are earlier single-geometry
    * lines (single-part targets keep the engine's alias expansion the
    * identity, so the traced run can hand the parsed edges to `fanout` as
    * run() does). */
  def wktLine(seed: Long, i: Long, towns: Int, aliases: Boolean): String = {
    val sb = new StringBuilder(64)
    sb.append('w').append(i).append('\t')
    val town = (u(seed, i, 1) * towns).toInt
    val cLon = LON0 + u(seed, town, 101) * LONW + (u(seed, i, 2) - 0.5) * 0.1
    val cLat = LAT0 + u(seed, town, 102) * LATH + (u(seed, i, 3) - 0.5) * 0.1
    wktKind(seed, i, aliases) match {
      case 0 =>
        sb.append("POINT("); num(sb, cLon); sb.append(' '); num(sb, cLat)
        sb.append(')')
      case 1 =>
        val n = 4 + (u(seed, i, 5) * 28).toInt
        var lon = cLon; var lat = cLat
        sb.append("LINESTRING(")
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(", ")
          num(sb, lon); sb.append(' '); num(sb, lat)
          lon += (u(seed, i, 10 + k) - 0.5) * 0.004
          lat += (u(seed, i, 50 + k) - 0.5) * 0.004
          k += 1
        }
        sb.append(')')
      case 2 =>
        val det = u(seed, i, 9)
        val n =
          if (det < 0.7) 4 + (u(seed, i, 6) * 12).toInt
          else if (det < 0.95) 16 + (u(seed, i, 6) * 48).toInt
          else 64 + (u(seed, i, 6) * 192).toInt
        val r = 0.0005 + u(seed, i, 7) * 0.01
        sb.append("POLYGON(")
        ring(sb, seed, i, 100, cLon, cLat, r, n)
        if (u(seed, i, 8) < 0.1) {
          sb.append(", "); ring(sb, seed, i, 400, cLon, cLat, r * 0.3, n)
        }
        sb.append(')')
      case 3 =>
        val parts = 2 + (u(seed, i, 5) * 3).toInt
        sb.append("MULTIPOLYGON(")
        var p = 0
        while (p < parts) {
          if (p > 0) sb.append(", ")
          val pLon = cLon + (u(seed, i, 20 + p) - 0.5) * 0.02
          val pLat = cLat + (u(seed, i, 30 + p) - 0.5) * 0.02
          val n = 4 + (u(seed, i, 40 + p) * 12).toInt
          sb.append('(')
          ring(sb, seed, i, 1000 * (p + 1), pLon, pLat,
            0.0005 + u(seed, i, 60 + p) * 0.003, n)
          sb.append(')')
          p += 1
        }
        sb.append(')')
      case _ =>
        val t = aliasTargets(seed, i)
        sb.append('<').append(t.map(j => s"w$j").mkString(", ")).append('>')
    }
    sb.toString
  }

  /** The two targets of alias line `i`: the nearest earlier lines that
    * hold a single point, road or polygon (none for the first lines). */
  def aliasTargets(seed: Long, i: Long): Seq[Long] = {
    def single(j: Long): Boolean = j >= 0 && wktKind(seed, j, true) <= 2
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var j = i - 1 - (u(seed, i, 11) * 40).toLong
    while (out.size < 2 && j >= 0) { if (single(j)) out += j; j -= 1 }
    out.toSeq
  }

  /** Write the n seeded lines as a text input under `path`. */
  def writeWkt(spark: SparkSession, n: Long, seed: Long, aliases: Boolean,
      path: String): Unit = {
    val towns = townsAtMillionDensity(n)
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 2)
      .map(i => wktLine(seed, i, towns, aliases))(Encoders.STRING)
      .write.mode("overwrite").text(path)
  }
}
