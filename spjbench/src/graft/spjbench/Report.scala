package graft.spjbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of one traced op, and their report. */
object PerLayer {

  private val KindPairs = for (a <- 0 to 2; b <- 0 to 2) yield s"k$a$b"

  /** Every per-layer metric with its unit, in report order. A layer that
    * does no work on a workload reports 0. */
  val Metrics: Seq[(String, String)] = Seq(
    "parse.wall_s" -> "s", "parse.core_s" -> "s", "parse.lines" -> "count",
    "parse.subgeoms" -> "count", "parse.ref_edges" -> "count",
    "stats.wall_s" -> "s", "stats.core_s" -> "s", "stats.jobs" -> "count",
    "dupscan.wall_s" -> "s", "dupscan.core_s" -> "s",
    "dupscan.edges" -> "count",
    "refs.wall_s" -> "s", "refs.jobs" -> "count", "refs.edges" -> "count",
    "cover.wall_s" -> "s", "cover.core_s" -> "s", "cover.rows" -> "count",
    "cover.rows_per_geom" -> "ratio", "cover.levels" -> "count",
    "kernel.wall_s" -> "s", "kernel.core_s" -> "s", "kernel.gc_s" -> "s",
    "kernel.shuffle_write_mb" -> "MB", "kernel.spill_mb" -> "MB",
    "kernel.peak_exec_mem_mb" -> "MB",
    "kernel.task_s_max_over_median" -> "ratio",
    "kernel.pair_tests" -> "count", "kernel.bbox_pass" -> "count",
    "kernel.cell_pass" -> "count", "kernel.decided" -> "count",
    "kernel.exact_checks" -> "count", "kernel.isect_miss" -> "count",
    "kernel.exact_per_pair_test" -> "ratio",
    "kernel.rels_per_exact" -> "ratio") ++
    KindPairs.map(k => s"kernel.exact_us.$k" -> "us") ++ Seq(
    "merge.wall_s" -> "s", "merge.core_s" -> "s", "merge.shuffle_mb" -> "MB") ++
    Seq("candidates", "refine", "fanout", "aggregate").flatMap(s =>
      Seq(s"general.$s.wall_s" -> "s", s"general.$s.core_s" -> "s")) ++ Seq(
    "general.cand_pairs" -> "count", "general.flags_per_cand" -> "ratio",
    "general.aggregate.shuffle_mb" -> "MB",
    "sink.wall_s" -> "s", "sink.core_s" -> "s", "sink.lines" -> "count",
    "sink.bytes" -> "bytes",
    "driver.idle_s" -> "s",
    "leak.cached_mb_after_op" -> "MB", "leak.caches_after_op" -> "count",
    "trace.op_s" -> "s", "trace.overhead_s" -> "s",
    "trace.aux_core_s" -> "s", "trace.layer_core_over_op_core" -> "ratio")

  def apply(w: Workload, win: Window, tracer: Tracer,
      counts: mutable.Map[String, Double], out: Summary, opWallS: Double,
      outDir: String): Map[String, Double] = {
    val L = new Layers(win, tracer)
    val m = mutable.Map.empty[String, Double] ++ counts
    def mb(b: Long) = b / 1048576.0
    for (l <- Seq("parse", "stats", "dupscan", "refs", "cover", "kernel",
        "merge", "sink") ++ Seq("candidates", "refine", "fanout",
        "aggregate").map("general." + _)) {
      m(s"$l.wall_s") = L.wallS(l)
      m(s"$l.core_s") = L.coreS(l)
    }
    m("stats.jobs") = L.jobs("stats")
    m("refs.jobs") = L.jobs("refs")

    val cover = L.tasks("cover")
    m("cover.rows") = cover.map(_.shufWriteRecs).sum.toDouble
    m("cover.rows_per_geom") =
      if (w.inputRows > 0) m("cover.rows") / w.inputRows else 0.0

    val k = L.tasks("kernel")
    val kw = L.sub("kernel")
    // the cell shuffle is the kernel's when the kernel ran (fused path);
    // on the general path it belongs to candidates
    val cellShuffle = if (k.isEmpty) Nil else cover
    m("kernel.gc_s") = k.map(_.gcMs).sum / 1e3
    m("kernel.shuffle_write_mb") = mb(cellShuffle.map(_.shufWrite).sum)
    m("kernel.spill_mb") = mb((k ++ cellShuffle).map(_.spill).sum)
    m("kernel.peak_exec_mem_mb") = kw.peakMemMb
    // the kernel stage is the one with the most task time; its slowest
    // task over its median task sets how much the stragglers cost
    m("kernel.task_s_max_over_median") =
      if (k.isEmpty) 0.0
      else {
        val st = k.groupBy(_.stageId).values
          .maxBy(_.map(t => t.finish - t.launch).sum)
        val d = st.map(t => (t.finish - t.launch).toDouble)
        val med = Main.median(d)
        if (med > 0) d.max / med else 0.0
      }
    for ((metric, acc) <- Seq("pair_tests" -> "pairTests",
        "bbox_pass" -> "bboxPass", "cell_pass" -> "cellPass",
        "decided" -> "decided", "exact_checks" -> "exactChecks",
        "isect_miss" -> "isectMiss"))
      m(s"kernel.$metric") = kw.acc(s"graft.$acc").toDouble
    val exact = m("kernel.exact_checks")
    m("kernel.exact_per_pair_test") =
      if (m("kernel.pair_tests") > 0) exact / m("kernel.pair_tests") else 0.0
    m("kernel.rels_per_exact") = if (exact > 0) out.count / exact else 0.0
    KindPairs.foreach { kp =>
      val n = kw.acc(s"graft.relateN.$kp")
      m(s"kernel.exact_us.$kp") =
        if (n > 0) kw.acc(s"graft.relateNs.$kp") / 1e3 / n else 0.0
    }

    m("merge.shuffle_mb") = L.sub("merge").shuffleMb
    m("general.aggregate.shuffle_mb") = L.sub("general.aggregate").shuffleMb
    if (L.tasks("sink").nonEmpty) {
      m("sink.lines") = out.count.toDouble
      m("sink.bytes") = Files.walk(Paths.get(outDir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
        .map(Files.size).sum.toDouble
    }
    m("trace.op_s") = opWallS
    m("trace.aux_core_s") = L.coreS("aux")
    m("trace.layer_core_s") = win.coreS - L.coreS("aux")
    m.toMap
  }

  /** Median traced per-layer core-s over the median untraced op core-s:
    * 1 when the layers account for exactly the op's work. */
  def attribution(ops: Seq[OpStats], traced: Seq[Map[String, Double]])
      : Double = {
    val refCore = Main.median(ops.map(_.coreS))
    if (refCore > 0) Main.median(traced.map(_("trace.layer_core_s"))) / refCore
    else 0.0
  }

  /** Medians over the traced ops, plus the figures that need the untraced
    * reference ops of the same run. */
  def report(ops: Seq[OpStats], traced: Seq[Map[String, Double]])
      : Seq[(String, Double, String)] = {
    def med(k: String) = Main.median(traced.map(_.getOrElse(k, 0.0)))
    val refOpS = Main.median(ops.map(_.wallS))
    val derived = Map(
      "driver.idle_s" -> Main.median(ops.map(_.idleS)),
      "leak.cached_mb_after_op" -> Main.median(ops.map(_.leakMb)),
      "leak.caches_after_op" -> Main.median(ops.map(_.leakRdds.toDouble)),
      "trace.overhead_s" -> (med("trace.op_s") - refOpS),
      "trace.layer_core_over_op_core" -> attribution(ops, traced))
    Metrics.map { case (k, u) => (k, derived.getOrElse(k, med(k)), u) }
  }
}

/** Host context of a run, so a noisy draw can be blamed on the host. */
object HostProbe {

  /** (total jiffies, steal jiffies) from /proc/stat. */
  def cpuStat(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  private def memAvailableMb(): Double =
    try Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemAvailable:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  /** Single-thread copy bandwidth (GB/s) over 64 MB arrays. */
  private def copyGbs(): Double = {
    val n = 8 << 20
    val a = new Array[Long](n); val b = new Array[Long](n)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 8) { System.arraycopy(a, 0, b, 0, n); i += 1 }
    8.0 * n * 8 / 1e9 / ((System.nanoTime() - t0) / 1e9)
  }

  def record(s0: (Long, Long), s1: (Long, Long)): Map[String, Double] = {
    val dt = s1._1 - s0._1
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
      "mem_available_mb" -> memAvailableMb(),
      "copy_gbs" -> copyGbs(),
      "steal_pct" -> (if (dt > 0) 100.0 * (s1._2 - s0._2) / dt else 0.0))
  }
}

/** The run record: seed, input sizes, Spark conf, host context, result. */
object RunRecord {
  private def q(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def json(w: Workload, seed: Long, seconds: Double, trace: Boolean,
      setup: Seq[(String, Double)], warmOpS: Seq[Double],
      engineSites: Set[String], spark: SparkSession,
      host: Map[String, Double], failures: Seq[String],
      metrics: Seq[(String, Double, String)], ops: Seq[OpStats],
      reference: Summary): String = {
    val opWalls = ops.map(_.wallS)
    val conf = spark.conf.getAll.toSeq.sorted
      .filterNot(_._1.startsWith("spark.app.")).filterNot(_._1 == "spark.driver.port")
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
    val hostJ = host.toSeq.sorted.map { case (k, v) => s"${q(k)}: ${Main.num(v)}" }
      .mkString(", ")
    val mJ = metrics.map { case (k, v, _) => s"${q(k)}: ${Main.num(v)}" }
      .mkString(", ")
    s"""{"workload": ${q(w.name)}, "seed": $seed, "seconds": $seconds, """ +
      s""""trace": $trace, "input_size": ${w.inputSize}, """ +
      s""""input_rows": ${w.inputRows}, "ops": ${opWalls.size}, """ +
      setup.map { case (k, v) => s"${q(k)}: ${Main.num(v)}, " }.mkString +
      s""""warmup_op_s": [${warmOpS.map(Main.num).mkString(", ")}], """ +
      s""""engine_sites": [${engineSites.toSeq.sorted.map(q).mkString(", ")}], """ +
      s""""op_s": [${opWalls.map(Main.num).mkString(", ")}], """ +
      s""""op_core_s": [${ops.map(o => Main.num(o.coreS)).mkString(", ")}], """ +
      s""""relations": ${Option(reference).map(_.count).getOrElse(-1L)}, """ +
      s""""hash": ${q(Option(reference).map(_.hash).getOrElse(""))}, """ +
      s""""kernel_debug": ${q(sys.env.getOrElse("GRAFT_KERNEL_DEBUG", ""))}, """ +
      s""""host": {$hostJ}, "spark_conf": {$conf}, """ +
      s""""failures": [${failures.map(q).mkString(", ")}], "metrics": {$mJ}}"""
  }
}
