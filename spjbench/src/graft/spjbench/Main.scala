package graft.spjbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SpjCache}

/** Spatial-join benchmark: one JVM, local[4], a single closed-loop client
  * (the next op starts only after the previous op's result is consumed).
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --launch-ms T [--expect COUNT:HASH]
  *
  * Set-up (untimed; reported as setup_s, the wall time from the launch
  * of the JVM to the start of the first timed op) starts the session,
  * builds and materialises the seeded input and runs the workload's
  * warm-up ops; then ops run for S seconds. --trace 0 reports
  * the end-to-end metrics; --trace 1 alternates untraced reference ops
  * with traced replays and reports the per-layer metrics. A replay fails
  * when it runs other SpatialJoin code than the untraced op, and the run
  * fails when its layers' core-s fall outside the attribution bounds.
  * Either way every op's output is checked, and a windowed brute-force
  * check plus the gate self-test run once, outside the timed window.
  * The last stdout line is the result JSON.
  */
object Main {

  final val Cores = 4
  final val MinOps = 3
  final val TracedWarmupOps = 2
  /** Bounds on traced per-layer core-s over untraced op core-s. Below the
    * lower one the layers miss work the op did; above the upper one the
    * replay's layer boundaries (copy-cached rows) cost as much as the op
    * itself, and the layers no longer describe it. */
  final val AttributionMin = 0.85
  final val AttributionMax = 2.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val w = Workload.byName(a("--workload"))
    val seed = a("--seed").toLong
    val seconds = a("--seconds").toDouble
    val trace = a("--trace") == "1"
    val work = Paths.get(a("--work")).toAbsolutePath.toString
    val launchMs = a("--launch-ms").toLong
    val expected = a.get("--expect").map { e =>
      val Array(count, hash) = e.split(":")
      Summary(count.toLong, hash)
    }

    val spark = session(work)
    val meter = new Meter(spark)
    spark.sparkContext.addSparkListener(meter)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3

    val failures = mutable.ArrayBuffer.empty[String]
    var reference: Summary = null
    var attempted = 0
    var failed = 0
    var opSeq = 0
    def nextDir(): String = { opSeq += 1; s"$work/out/op$opSeq" }

    /** Check one op's output against the run's first op and, for the
      * default seed, the recorded values. */
    def gate(label: String, s: Summary): Unit = {
      if (reference == null) reference = s
      val bad = (if (s != reference) Seq(s"$s != first op $reference") else Nil) ++
        expected.filter(_ != s).map(e => s"$s != recorded $e")
      if (bad.nonEmpty) throw new IllegalStateException(bad.mkString("; "))
    }

    /** Count one attempted op; an exception or a failed check fails it. */
    def attempt(label: String)(body: => Unit): Unit = {
      attempted += 1
      try body
      catch { case e: Exception => failed += 1; failures += s"$label: $e" }
    }

    def timed[T](body: => T): (T, Long, Long) = {
      val t0 = System.currentTimeMillis()
      val r = body
      (r, t0, System.currentTimeMillis())
    }

    // ------------------------------------------------------------ set-up
    val buildT0 = System.nanoTime()
    w.prepare(spark, seed, s"$work/input")
    val buildS = (System.nanoTime() - buildT0) / 1e9
    val owned = SpjCache.snapshot(spark)
    // SpatialJoin's RDD creation sites in the last untraced op: the code
    // path run() took, which the traced replay must take too
    var opSites = Set.empty[String]
    val warmT0 = System.nanoTime()
    val warmOpS = (1 to w.warmupOps).map { i =>
      val dir = nextDir()
      val t0 = System.nanoTime()
      attempt(s"warm-up op $i") {
        val check = w.op(spark, dir)
        opSites = meter.take().sites
        gate(s"warm-up op $i", check())
      }
      rmrf(dir)
      SpjCache.release(spark, owned)
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    meter.take()
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3

    // ------------------------------------------------------------ measure
    val stat0 = HostProbe.cpuStat()
    val ops = mutable.ArrayBuffer.empty[OpStats]
    val tracedOps = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = mutable.ArrayBuffer.empty[Span]
    val measureT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - measureT0) / 1e9

    /** One untraced op: time it, fold its jobs and tasks, check it, probe
      * and clear what it left cached. */
    def untracedOp(): Unit = {
      val dir = nextDir()
      attempt(s"op $opSeq") {
        val (check, t0, t1) = timed(w.op(spark, dir))
        val win = meter.take()
        opSites = win.sites
        gate(s"op $opSeq", check())
        val (leakMb, leakRdds) = SpjCache.leaked(spark, owned)
        ops += OpStats((t1 - t0) / 1e3, win.coreS, win.jobs.size,
          win.shuffleMb, win.peakMemMb, leakMb, leakRdds,
          (t1 - t0 - win.busyMs(t0, t1)) / 1e3)
      }
      SpjCache.release(spark, owned)
      meter.take()
      rmrf(dir)
    }

    def tracedOp(keep: Boolean): Unit = {
      val dir = nextDir()
      val tracer = new Tracer(spark)
      val counts = mutable.Map.empty[String, Double]
      spark.conf.set("graft.kernel.pairstats", "true")
      try attempt(s"traced op $opSeq") {
        val (check, t0, t1) = timed(tracer("op") {
          w.traced(spark, tracer, dir, counts)
        })
        val win = meter.take()
        if (win.sites != opSites) throw new IllegalStateException(
          "the replay ran other SpatialJoin code than the op: only in the " +
          s"op ${opSites -- win.sites}, only in the replay ${win.sites -- opSites}")
        val s = check()
        gate(s"traced op $opSeq", s)
        if (keep) {
          tracedOps += PerLayer(w, win, tracer, counts, s, (t1 - t0) / 1e3, dir)
          spans ++= tracer.spans
        }
      } finally spark.conf.unset("graft.kernel.pairstats")
      SpjCache.release(spark, owned)
      meter.take()
      rmrf(dir)
    }

    if (!trace) {
      // counted by attempts, so ops that fail still end the window
      var n = 0
      while (n < MinOps || elapsed < seconds) { untracedOp(); n += 1 }
    } else {
      // the replay's plans differ from the op's (layer boundaries), so
      // their generated code is warmed separately before it is measured
      (1 to TracedWarmupOps).foreach(_ => tracedOp(keep = false))
      var n = 0
      while (n < 2 || elapsed < seconds) {
        untracedOp(); tracedOp(keep = true); n += 1
      }
    }
    val stat1 = HostProbe.cpuStat()
    if (trace) attempt("attribution") {
      val r = PerLayer.attribution(ops.toSeq, tracedOps.toSeq)
      if (r < AttributionMin || r > AttributionMax)
        throw new IllegalStateException(f"traced layers sum to $r%.2f x the " +
          f"op's core-s, outside [$AttributionMin, $AttributionMax]")
    }

    // ---------------------------------------------- windowed brute force
    attempt("window") {
      val (g, r) = w.windowInput(spark)
      val box = Gate.windowBox(g, seed)
      val (p0, c0) = Gate.windowParts(g, box)
      val (parts, complete) =
        Gate.withAliases(p0, c0, r.collect().toSeq)
      val engine = Gate.engineWindow(spark, g, r, w.cfg, box)
      val res = Gate.compare(box, engine, parts, complete, w.cfg)
      System.err.println(s"[spjbench] window $box: ${res.ids} ids, " +
        s"${res.compared} relations compared, missing=${res.missing.take(5)} " +
        s"extra=${res.extra.take(5)}")
      if (res.compared == 0) throw new IllegalStateException("no relations to compare")
      if (!res.ok) throw new IllegalStateException(
        s"missing ${res.missing.size}, extra ${res.extra.size}")
      if (!Gate.selfTest(spark, engine, res, parts, complete, w.cfg))
        throw new IllegalStateException("gate self-test: a dropped relation was not caught")
    }
    SpjCache.release(spark, owned)

    // -------------------------------------------------------- report
    val host = HostProbe.record(stat0, stat1)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd(w, setupS, ops.toSeq)
      else PerLayer.report(ops.toSeq, tracedOps.toSeq)
    val record = RunRecord.json(w, seed, seconds, trace,
      Seq("setup_s" -> setupS, "session_s" -> sessionS,
        "input_build_s" -> buildS, "warmup_s" -> warmS), warmOpS, opSites,
      spark, host, failures.toSeq, metrics, ops.toSeq, reference)
    Files.createDirectories(Paths.get(work, "runs"))
    val tag = s"${w.name}_seed${seed}_trace${if (trace) 1 else 0}"
    Files.writeString(Paths.get(work, "runs", s"$tag.json"), record)
    if (trace)
      Files.writeString(Paths.get(work, "runs", s"${tag}_spans.json"),
        Tracer.json(spans.toSeq))
    System.err.println(s"[spjbench] run record: $record")
    failures.foreach(f => System.err.println(s"[spjbench] FAILED $f"))
    spark.stop()

    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$m}}""")
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("spjbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * Cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.shuffle.file.buffer", "1m")
      // Spark's generated-code cache holds 100 classes by default; with
      // the benchmark's own plans between ops, the general path's join
      // stage was evicted before the next op in some JVMs and not in
      // others, so each op re-compiled it and ran it interpreted until the
      // JIT caught up (3 vs 9 core-s per op on the same input)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}

/** What one untraced op cost. */
final case class OpStats(wallS: Double, coreS: Double, jobs: Int,
    shuffleMb: Double, peakMemMb: Double, leakMb: Double, leakRdds: Int,
    idleS: Double)

object EndToEnd {
  def apply(w: Workload, setupS: Double, ops: Seq[OpStats])
      : Seq[(String, Double, String)] = {
    import Main.median
    val opS = median(ops.map(_.wallS))
    Seq(
      ("setup_s", setupS, "s"),
      ("op_s_p50", opS, "s"),
      ("geoms_per_s", if (opS > 0) w.inputSize / opS else 0.0, "1/s"),
      ("core_s_per_op", median(ops.map(_.coreS)), "s"),
      ("jobs_per_op", median(ops.map(_.jobs.toDouble)), "count"),
      ("shuffle_mb_per_op", median(ops.map(_.shuffleMb)), "MB"),
      ("peak_exec_mem_mb", median(ops.map(_.peakMemMb)), "MB"))
  }
}
