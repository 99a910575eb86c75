package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, `local[cores]`, one closed-loop client.
  *
  * Flow: session + `GraftExtensions.register`, then two untimed passes:
  * one that checks every operation's result and one in the timed shape
  * that lets the JIT settle (setup ends here); then timed passes until
  * `--seconds` have elapsed. With `--trace 1` half the
  * passes are traced; they give the layer metrics and spans, and the
  * untraced half gives the tracing overhead by difference.
  *
  * Writes one JSON result (`--out`) and, when tracing, spans and a
  * per-operation breakdown (`--trace-out`). `run.py` drives it. */
object Main {

  val json = new ObjectMapper()
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p / 100 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("spark-local"))
    graft.Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    val logs = LogCounter.install()
    val sessionMs = nowMs()

    a.get("record").foreach { path =>
      recordFingerprints(spark, opDirs(a("ops")), path)
      spark.stop()
      return
    }

    val wl: Workload =
      if (workload == "gedixr_cli")
        new CliWorkload(spark, json.readValue(Files.readString(Paths.get(a("cli-spec"))),
          classOf[java.util.Map[String, AnyRef]]))
      else {
        val expected = json.readValue(Files.readString(Paths.get(a("expected"))),
          classOf[java.util.Map[String, String]]).asScala.toMap
        new QueryWorkload(spark, opDirs(a("ops")), seed, expected)
      }

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var died: Option[String] = None
    def alive(op: String): Boolean = {
      if (spark.sparkContext.isStopped && died.isEmpty) died = Some(op)
      died.isEmpty
    }
    def attempt(op: String)(body: => Option[String]): Unit = {
      attempted += 1
      val err = try body catch { case e: Throwable => Some(e.toString.take(300)) }
      // a dead context is one harness failure, never N operation failures
      if (alive(op)) err.foreach(e => failures += s"$op: $e")
    }

    // warm-up: a checking pass (every result checked) and a settling pass
    // in the timed shape; the JIT needs both before passes run steadily
    val warmS = mutable.LinkedHashMap.empty[String, Double]
    wl.order(0).iterator.takeWhile(_ => died.isEmpty).foreach { op =>
      val t = nowMs()
      attempt(op)(wl.warm(op))
      warmS(op) = (nowMs() - t) / 1e3
    }
    val settleStart = nowMs()
    wl.order(0).iterator.takeWhile(_ => died.isEmpty).foreach { op =>
      attempt(op) {
        wl.run(op)
        wl.check(op)
      }
    }
    val settleS = (nowMs() - settleStart) / 1e3
    val setupS = (nowMs() - jvmStart) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val passLat = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Double]]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val passStats = mutable.ArrayBuffer.empty[Map[String, Double]]
    val opRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    // traced runs order passes U T T U (repeating), so warm-up drift
    // cancels out of the overhead estimate
    val minPasses = if (trace) 4 else 1
    val t0 = nowMs()
    var pass = 0
    def more: Boolean = died.isEmpty &&
      (pass < minPasses || nowMs() - t0 < seconds * 1e3)
    while (more) {
      pass += 1
      val traced = trace && (pass % 4 == 2 || pass % 4 == 3)
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val gc0 = gcSeconds()
      val (e0, w0) = (logs.errors.get, logs.warns.get)
      val lat = mutable.ArrayBuffer.empty[Double]
      passLat += lat
      val ps = nowMs()
      wl.order(pass).iterator.takeWhile(_ => died.isEmpty).foreach { op =>
        attempt(op) {
          val os = nowMs()
          val phases = wl.run(op)
          val oe = nowMs()
          lat += (oe - os) / 1e3
          val bad = wl.check(op)
          tracer.filter(_ => traced && bad.isEmpty).foreach { t =>
            val stats = new OpStats
            val (rb, rbytes) = t.retained()
            val opSpan = Span(t.newId(), 0L, 0L, "op", os, oe, Map("op" -> op, "pass" -> pass))
            val root = opSpan.copy(trace = opSpan.id)
            t.collect(root,
              phases.map(p => Span(t.newId(), root.id, root.id, p.name, p.start, p.end)),
              stats)
            val (xb, xr) = wl.extraRead(op)
            val (wb, wf) = wl.written(op)
            stats.add("retained_blocks", rb.toDouble)
            stats.add("retained_b", rbytes.toDouble)
            stats.add("extra_read_b", xb.toDouble)
            stats.add("extra_rows", xr.toDouble)
            stats.add("rows_out", wl.rowsOut(op).toDouble)
            stats.add("write_b", wb.toDouble)
            stats.add("files", wf.toDouble)
            if (workload == "gedixr_cli") stats.add(s"cli_${op}_s", (oe - os) / 1e3)
            stats.add("build_s", phases.filter(_.name == "build")
              .map(p => p.end - p.start).sum / 1e3)
            stats.c.foreach { case (k, v) => sum(k) += v }
            opRows += Map("pass" -> pass, "op" -> op, "wall_s" -> (oe - os) / 1e3,
              "jobs" -> stats.c("jobs"), "build_s" -> stats.c("build_s"),
              "build_jobs" -> stats.c("build_jobs"),
              "retained_mb" -> rbytes / 1e6, "retained_blocks" -> rb)
          }
          bad
        }
      }
      val wall = (nowMs() - ps) / 1e3
      passWall += ((traced, wall))
      if (traced) {
        sum("pass_s") += wall
        sum("jvm_gc_s") += gcSeconds() - gc0
        sum("log_errors") += logs.errors.get - e0
        sum("log_warns") += logs.warns.get - w0
        passStats += sum.toMap
      }
    }
    tracer.foreach(_.detach())

    // op_tail_s: per pass, the highest percentile with ten samples beyond
    // it (below twenty samples that would sit under the median, so the
    // slowest operation), then the median over passes
    val opLat = passLat.flatten.toSeq
    val nOps = opLat.size
    def tailPct(n: Int): Double = if (n >= 20) 100.0 * (n - 10) / n else 100.0
    val passTails = passLat.filter(_.nonEmpty).map(l => percentile(l.toSeq, tailPct(l.size)))
    val failed = failures.size + died.size
    val ok = failed == 0
    val metrics: Map[String, (Double, String)] =
      if (!trace) {
        Map(
          "setup_s" -> (setupS, "s"),
          "pass_s" -> (median(passWall.map(_._2).toSeq), "s"),
          "op_p50_s" -> (if (nOps > 0) percentile(opLat, 50) else 0.0, "s"),
          "op_tail_s" -> (median(passTails.toSeq), "s"),
          "ok_frac" -> (1.0 - failed.toDouble / math.max(attempted, 1L), "ratio"),
          "peak_rss_mb" -> (peakRssMb(), "MB"))
      } else layerMetrics(passStats.toSeq, passWall.toSeq, cores)

    val context = Map(
      "workload" -> workload, "seed" -> seed, "nproc" -> cores,
      "master" -> s"local[$cores]",
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "passes" -> pass, "ops_per_pass" -> wl.ops.size,
      "pass_walls_s" -> passWall.map(_._2).toSeq,
      "op_samples" -> nOps, "op_tail_pct" -> tailPct(wl.ops.size),
      "error_frac" -> failed.toDouble / math.max(attempted, 1L),
      "session_s" -> (sessionMs - jvmStart) / 1e3, "warmup_op_s" -> warmS,
      "settle_pass_s" -> settleS)
    val result = Map(
      "correct" -> ok, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "context" -> (context ++ died.map(op => "harness_died" -> op)),
      "failures" -> failures.toSeq)
    Files.writeString(Paths.get(a("out")), toJson(result))
    tracer.foreach { t =>
      val spans = t.spans.toSeq
      Files.writeString(Paths.get(a("trace-out")), toJson(Map(
        "context" -> context,
        "layer_self_s" -> Tracer.selfTimes(spans),
        "ops" -> opRows.toSeq,
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "trace" -> s.trace, "name" -> s.name, "start_ms" -> s.start,
          "end_ms" -> s.end) ++ s.attrs))))
    }
    if (!spark.sparkContext.isStopped) spark.stop()
  }

  /** `--ops` value: comma-separated `query=catalog-dir` pairs. */
  private def opDirs(v: String): Seq[(String, String)] =
    v.split(",").toSeq.map { kv =>
      val Array(q, d) = kv.split("=", 2)
      (q, d)
    }

  /** Expected-fingerprint maintenance: fingerprint each query's result
    * and write `{query: fingerprint}` plus the DuckDB oracle SQL of the
    * queries that have one (for `oracle_xcheck.py`). */
  private def recordFingerprints(spark: SparkSession, ops: Seq[(String, String)],
                                 path: String): Unit = {
    val fps = ops.map { case (q, d) =>
      q -> Fingerprint.of(org.apache.spark.sql.graftbridge.PlanBridge
        .stripTopSort(graft.SparkEntry.queries(q)(spark, d)))
    }
    val names = ops.map(_._1).toSet
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => names(q) }
    Files.writeString(Paths.get(path), toJson(Map(
      "fingerprints" -> scala.collection.immutable.ListMap(fps: _*),
      "oracle_sql" -> oracle)))
  }

  /** Per-layer metrics: each counter summed per traced pass, median over
    * traced passes; the overhead compares traced with untraced passes. */
  private def layerMetrics(passes: Seq[Map[String, Double]],
                           walls: Seq[(Boolean, Double)], cores: Int)
      : Map[String, (Double, String)] = {
    def m(k: String): Double = median(passes.map(_.getOrElse(k, 0.0)))
    def ratio(num: String, den: String, empty: Double): Double =
      median(passes.map { p =>
        val d = p.getOrElse(den, 0.0)
        if (d == 0) empty else p.getOrElse(num, 0.0) / d
      })
    val mb = 1e6
    val traced = walls.filter(_._1).map(_._2)
    val plain = walls.filterNot(_._1).map(_._2)
    Map(
      "operators.build_s" -> (m("build_s"), "s"),
      "operators.build_jobs" -> (m("build_jobs"), "count"),
      "plans.analysis_s" -> (m("plan_analysis"), "s"),
      "plans.optimization_s" -> (m("plan_optimization"), "s"),
      "plans.physical_s" -> (m("plan_planning"), "s"),
      "scheduler.jobs" -> (m("jobs"), "count"),
      "scheduler.stages" -> (m("stages"), "count"),
      "scheduler.tasks" -> (m("tasks"), "count"),
      "scheduler.job_wall_s" -> (m("job_wall_s"), "s"),
      "scheduler.driver_s" -> (m("driver_s"), "s"),
      "scheduler.slot_util" -> (median(passes.map { p =>
        val jw = p.getOrElse("job_wall_s", 0.0)
        if (jw == 0) 0.0 else p.getOrElse("task_run_s", 0.0) / (cores * jw)
      }), "ratio"),
      "scheduler.failed_tasks" -> (m("failed_tasks"), "count"),
      "tasks.run_s" -> (m("task_run_s"), "s"),
      "tasks.cpu_s" -> (m("task_cpu_s"), "s"),
      "tasks.gc_s" -> (m("task_gc_s"), "s"),
      "shuffle.write_mb" -> (m("shuffle_write_b") / mb, "MB"),
      "shuffle.read_mb" -> (m("shuffle_read_b") / mb, "MB"),
      "shuffle.spill_mb" -> (m("spill_b") / mb, "MB"),
      "shuffle.fetch_wait_s" -> (m("fetch_wait_s"), "s"),
      "graftbridge.blocks_created" -> (m("blocks_created"), "count"),
      "graftbridge.retained_blocks" -> (m("retained_blocks"), "count"),
      "graftbridge.retained_mb" -> (m("retained_b") / mb, "MB"),
      "graftbridge.released_ratio" -> (ratio("blocks_released", "blocks_created", 1.0), "ratio"),
      "sources.read_mb" -> (median(passes.map(p =>
        p.getOrElse("input_b", 0.0) + p.getOrElse("extra_read_b", 0.0))) / mb, "MB"),
      "sources.rows_read" -> (median(passes.map(p =>
        p.getOrElse("input_rows", 0.0) + p.getOrElse("extra_rows", 0.0))), "count"),
      "sources.rows_read_per_row_out" -> (median(passes.map { p =>
        val out = p.getOrElse("rows_out", 0.0)
        if (out == 0) 0.0
        else (p.getOrElse("input_rows", 0.0) + p.getOrElse("extra_rows", 0.0)) / out
      }), "ratio"),
      "cli.pipeline_l2a_s" -> (m("cli_pipeline_l2a_s"), "s"),
      "cli.pipeline_l2b_s" -> (m("cli_pipeline_l2b_s"), "s"),
      "cli.merge_s" -> (m("cli_merge_s"), "s"),
      "cli.rasterize_s" -> (m("cli_rasterize_s"), "s"),
      "cli.subset_aoi_s" -> (m("cli_subset_aoi_s"), "s"),
      "sinks.write_mb" -> (m("write_b") / mb, "MB"),
      "sinks.files_written" -> (m("files"), "count"),
      "sinks.write_amp" -> (ratio("write_b", "extra_read_b", 0.0), "ratio"),
      "jvm.gc_s" -> (m("jvm_gc_s"), "s"),
      "log.error_lines" -> (m("log_errors"), "count"),
      "log.warn_lines" -> (m("log_warns"), "count"),
      "trace.pass_s" -> (median(traced), "s"),
      "trace.overhead_s" -> (median(traced) - median(plain), "s"))
  }

  /** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
  def toJson(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => toJson(x)
    case s: String => json.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => toJson(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case m: java.util.Map[_, _] => toJson(m.asScala)
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => json.writeValueAsString(other.toString)
  }
}
