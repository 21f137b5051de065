package graft.spjbench

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftInternal, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

import graft.SpatialJoinCli
import graft.engine.{RefEdge, RelationText, SpatialConfig, SpatialJoin, SubGeom, SynthGeo}

/** One benchmark workload: an untimed set-up that builds and materialises
  * the seeded input, the timed op, and the traced replay of that op. */
sealed trait Workload {
  def name: String
  def cfg: SpatialConfig
  /** Warm-up ops in set-up: enough for the JIT to settle (op times stop
    * falling), measured on this workload at 4 cores. */
  def warmupOps: Int
  /** Input geometries, or lines for the WKT workload (geoms_per_s base). */
  def inputSize: Long
  /** Set-up: generate and materialise the input for `seed` under `dir`. */
  def prepare(spark: SparkSession, seed: Long, dir: String): Unit
  /** Sub-geometry rows the join sees (cover rows_per_geom base). */
  def inputRows: Long
  /** The timed op. It consumes the join's whole result and returns the
    * output summary for the gate: a GeomWorkload consumes the result with
    * the gate's own count+row-hash aggregation, so that hash is part of
    * the timed op; a WktWorkload consumes it by writing the text output,
    * and the returned check reads that output back after the timer. */
  def op(spark: SparkSession, outDir: String): () => Summary
  /** The op again, through each layer's public call inside a span.
    * Counts that only the replay can see go into `counts`. */
  def traced(spark: SparkSession, t: Tracer, outDir: String,
      counts: mutable.Map[String, Double]): () => Summary
  /** The input and alias edges for the windowed brute-force check. */
  def windowInput(spark: SparkSession): (Dataset[SubGeom], Dataset[RefEdge])
}

object Workload {
  /** Persist and force a layer's output through a copy-only RDD cache, so
    * the next layer starts from it and a span's time is its own layer's. */
  def boundary(spark: SparkSession, df: DataFrame)
      : (DataFrame, Long, RDD[InternalRow]) = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count()
    (GraftInternal.internalDf(spark, rdd, df.schema), n, rdd)
  }

  /** Call run() for its eager probes only. Their jobs carry the engine's
    * call-site labels (graft.stats, graft.refs, graft.dupscan) and are
    * booked to those layers; run()'s lazy result is replayed layer by layer
    * instead, so any other eager job it starts is done again by the replay
    * and is booked to `aux`. */
  def probes(t: Tracer)(run: => DataFrame): Unit = t("aux") { run }

  /** Sizes give warm ops of about 1 s (osm_fused, wkt_multi) and 2.5 s
    * (wkt_refs_multi) at 4 cores. BENCHMARK.json lists osm_fused (fused
    * kernel) and wkt_refs_multi (general path). wkt_multi, the same WKT
    * lines without alias lines (fused kernel plus multipolygon merge),
    * skew_continent and osm_within_dist run by name but are not listed: an
    * hour of runs holds two workloads at these per-run costs. */
  def byName(name: String): Workload = name match {
    case "osm_fused" =>
      new GeomWorkload(name, 130000, SpatialConfig(), Inputs.osm)
    case "wkt_multi" => new WktWorkload(name, 50000, aliases = false)
    case "wkt_refs_multi" => new WktWorkload(name, 50000, aliases = true)
    case "skew_continent" =>
      new GeomWorkload(name, 250000, SpatialConfig(),
        (s, n, seed) => SynthGeo.skewDataset(s, n, seed))
    case "osm_within_dist" =>
      new GeomWorkload(name, 80000,
        SpatialConfig(mode = "distance", withinDist = 100.0), Inputs.osm)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** A SubGeom input materialised in set-up, joined by SpatialJoin.run;
  * the op is run() consumed by one count+row-hash aggregation (the gate's
  * summary) instead of a bare count(), so the hash is timed with it. */
final class GeomWorkload(val name: String, val inputSize: Long,
    val cfg: SpatialConfig,
    gen: (SparkSession, Long, Long) => Dataset[SubGeom]) extends Workload {

  val warmupOps = 12
  private var input: Dataset[SubGeom] = _
  private var refs: Dataset[RefEdge] = _
  var inputRows = 0L

  def prepare(spark: SparkSession, seed: Long, dir: String): Unit = {
    input = Inputs.persisted(gen(spark, inputSize, seed))
    inputRows = input.count()
    refs = spark.emptyDataset(Encoders.product[RefEdge])
  }

  def op(spark: SparkSession, outDir: String): () => Summary = {
    val s = Gate.summarize(SpatialJoin.run(spark, input, refs, cfg))
    () => s
  }

  def traced(spark: SparkSession, t: Tracer, outDir: String,
      counts: mutable.Map[String, Double]): () => Summary = {
    Workload.probes(t) { SpatialJoin.run(spark, input, refs, cfg) }
    // replay-only work (run() takes these from its own stats pass)
    val (cfgCs, lvls, _) = t("aux") { SpatialJoin.coverSpec(input, cfg) }
    counts("dupscan.edges") =
      t("aux") { SpatialJoin.dupEdges(spark, input, cfgCs).count() }.toDouble
    counts("cover.levels") = lvls.size
    // SynthGeo geometries are single-part, so run() emits final rows
    // straight from the kernel (direct) and no merge runs
    val s = t("kernel") {
      Gate.summarize(SpatialJoin.fusedPairs(spark, input, cfgCs, lvls,
        direct = true, rowHint = inputRows))
    }
    () => s
  }

  def windowInput(spark: SparkSession): (Dataset[SubGeom], Dataset[RefEdge]) =
    (input, refs)
}

/** Seeded WKT lines written to a local text file in set-up; the op is the
  * CLI's path without spark-submit: read + parse, run, write text. With
  * alias lines run() takes the general path (candidates, refine, fanout,
  * aggregate); without them the fused kernel plus the multipolygon merge. */
final class WktWorkload(val name: String, val inputSize: Long,
    aliases: Boolean) extends Workload {

  val cfg = SpatialConfig()
  val warmupOps = 8
  private var path: String = _
  var inputRows = 0L

  def prepare(spark: SparkSession, seed: Long, dir: String): Unit = {
    path = s"$dir/input.wkt"
    Inputs.writeWkt(spark, inputSize, seed, aliases, path)
  }

  private def read(spark: SparkSession) =
    SpatialJoinCli.readInputs(spark, SpatialJoinCli.CliArgs(inputs = Seq(path)))

  private def written(spark: SparkSession, outDir: String): () => Summary =
    () => Gate.summarize(spark.read.text(outDir))

  def op(spark: SparkSession, outDir: String): () => Summary = {
    val (g, r, c) = read(spark)
    RelationText.write(SpatialJoin.run(spark, g, r, c), outDir, c)
    written(spark, outDir)
  }

  def traced(spark: SparkSession, t: Tracer, outDir: String,
      counts: mutable.Map[String, Double]): () => Summary = {
    val (g, r, c) = t("parse") {
      val x = read(spark)
      inputRows = x._1.count()
      x
    }
    // the alias edges are read again only for the replay's counts and its
    // fanout call; run()'s own reads of them are its graft.refs jobs
    val edges = t("aux") { r.collect() }
    counts("parse.ref_edges") = edges.length.toDouble
    counts("parse.lines") = inputSize.toDouble
    counts("parse.subgeoms") = inputRows.toDouble
    Workload.probes(t) { SpatialJoin.run(spark, g, r, c) }
    val (cfgCs, lvls, _) = t("aux") { SpatialJoin.coverSpec(g, c) }
    counts("cover.levels") = lvls.size
    if (!aliases) {
      // no alias edges and no >63-part multis: run() takes the fused
      // kernel, and the multipolygons' partial rows need the merge
      val (pre, _, preRdd) = t("kernel") {
        Workload.boundary(spark, SpatialJoin.fusedPairs(spark, g, cfgCs, lvls,
          rowHint = inputRows))
      }
      val (rels, _, _) = t("merge") {
        Workload.boundary(spark, SpatialJoin.aggregateFromPre(spark, pre, cfgCs))
      }
      preRdd.unpersist(blocking = true)
      t("sink") { RelationText.write(rels, outDir, c) }
      return written(spark, outDir)
    }
    // alias targets are single-part lines, so the parsed edges are exactly
    // the expansion run() computes on the driver
    counts("refs.edges") = edges.length.toDouble
    // each boundary's cache is dropped once the next layer has read it, so
    // a layer's GC does not pay for the heap of every earlier one
    val (cands, nCands, candsRdd) = t("general.candidates") {
      Workload.boundary(spark, SpatialJoin.candidates(spark, g, cfgCs, lvls))
    }
    val (flags, nFlags, flagsRdd) = t("general.refine") {
      Workload.boundary(spark, SpatialJoin.refine(spark, cands, cfgCs))
    }
    candsRdd.unpersist(blocking = true)
    counts("general.cand_pairs") = nCands.toDouble
    counts("general.flags_per_cand") =
      if (nCands == 0) 0.0 else nFlags.toDouble / nCands
    val (fanned, _, fannedRdd) = t("general.fanout") {
      Workload.boundary(spark, SpatialJoin.fanout(spark, flags, edges, g, cfgCs))
    }
    flagsRdd.unpersist(blocking = true)
    val (rels, _, _) = t("general.aggregate") {
      Workload.boundary(spark, SpatialJoin.aggregate(spark, fanned, cfgCs,
        hadRefs = true))
    }
    fannedRdd.unpersist(blocking = true)
    t("sink") { RelationText.write(rels, outDir, c) }
    written(spark, outDir)
  }

  def windowInput(spark: SparkSession): (Dataset[SubGeom], Dataset[RefEdge]) = {
    val (g, r, _) = read(spark)
    (g, r)
  }
}
