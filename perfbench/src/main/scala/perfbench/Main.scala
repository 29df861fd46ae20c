package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark harness for one workload in one JVM:
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --sf DIR --work DIR --out FILE
  * }}}
  *
  * Starts a `local[nproc]` session, builds the seeded inputs, warms up,
  * then runs the workload's ops back to back (one client, closed loop)
  * until their summed latency reaches `S` seconds, rounded up to whole
  * passes; the output check after each op is not timed. With `--trace 0`
  * it reports the end-to-end metrics; with `--trace 1` it interleaves
  * untraced and traced ops (passes, for query sets) for `2 S` seconds and
  * reports the per-layer metrics of the traced ones plus the tracing
  * overhead against the untraced ones. The result is one JSON object
  * written to `--out`; the spans go beside it. */
object Main {
  val floorQueries: Seq[String] = Seq(
    "q01_manifest_parse", "q02_watermark_filter", "q03_watermark_advance",
    "q04_hash_dedup_antijoin", "q05_dedup_keep_first", "q06_latest_per_group",
    "q07_top_k", "q08_error_metrics", "q09_partitioned_layout",
    "q10_join_inner_equi", "q11_agg_tpch_pricing", "q12_join_semi_anti",
    "q13_window_analytic", "q14_rollup", "q15_set_ops", "q16_text_analysis",
    "q17_similarity_knn", "q18_streaming_tumbling")

  val heavyQueries: Seq[String] = Seq(
    "q297", "q186", "q244", "q266", "q21", "q80", "q175", "q127",
    "q245", "q287", "q121", "q32", "q144", "q159", "q296", "q300")

  /** Full declared names for `q<N>` prefixes. */
  def resolve(prefixes: Seq[String]): Seq[String] = {
    val all = graft.SparkEntry.queries.keySet
    prefixes.map { p =>
      all.find(n => n == p || n.startsWith(p + "_"))
        .getOrElse(throw new IllegalArgumentException(s"no declared query $p"))
    }
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        sf: String, work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("sf"), Paths.get(get("work")), Paths.get(get("out")))
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case scala.util.control.NonFatal(_) => "" }

  /** Peak resident set of this process, MB (VmHWM). */
  def rssPeakMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
        .split('\n').find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  final class Sample(val id: Long, val label: String, val traced: Boolean,
                     val startNs: Long, val endNs: Long, val error: Option[String]) {
    def secs: Double = (endNs - startNs) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(a.work)
    val queries = a.workload match {
      case "query_floor" => floorQueries
      case "query_heavy" => resolve(heavyQueries)
      case _ => Nil
    }
    // The DuckDB oracle check reads graft.Verify's dump of every query in
    // the set. Verify runs first, in its own session that it stops, and
    // its pass is the first of the two warm-up passes.
    if (queries.nonEmpty)
      graft.Verify.main(Array(a.sf, a.work.resolve("oracle-dump").toString, queries.mkString(",")))
    val spark = graft.core.Sessions.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    Trace.driver()
    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    val w: Workload = a.workload match {
      case "archive_daily" => new ArchiveWorkload(spark, a.work, a.seed)
      case "corpus_ingest" => new IngestWorkload(spark, a.work, a.seed, a.sf)
      case _ if queries.nonEmpty => new QueryWorkload(spark, a.sf, queries, a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the seeded inputs are built three times on fresh copies; set-up
    // counts them once, at their median
    val inputSecs = (0 until 3).map { rep =>
      val t0 = System.nanoTime(); w.inputs(rep); (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    w.warmup()
    val warmSecs = (System.nanoTime() - warm0) / 1e9
    val setupSecs = (System.currentTimeMillis() - jvmStartMs) / 1e3 -
      (inputSecs.sum - Stats.median(inputSecs))

    val samples = mutable.ArrayBuffer.empty[Sample]
    val heapMb = mutable.Map.empty[Long, Double]
    val sc = spark.sparkContext
    val window = if (a.trace) 2 * a.seconds else a.seconds
    var i = 0L
    // the window counts timed ops only, not the checks between them, so the number of passes does not hinge on check cost
    def elapsed = samples.map(_.secs).sum
    // traced runs interleave untraced and traced units (a pass for query
    // sets, else an op) as U T T U, in whole blocks, so a drift in speed
    // over the run (JIT, growing state) falls on both sides equally
    val block = if (a.trace) 4 * w.passSize else w.passSize
    while (elapsed < window || i % block != 0) {
      val traced = a.trace && Set(1L, 2L).contains((i / w.passSize) % 4)
      Trace.on = traced
      Trace.op = i
      sc.setJobGroup(s"op-$i", s"perfbench ${a.workload} op $i", interruptOnCancel = false)
      val s = System.nanoTime()
      probe.foreach(_.opStart(i, System.currentTimeMillis()))
      val err =
        try { Trace.span("bench", "op")(w.op(i)); None }
        catch { case scala.util.control.NonFatal(e) => Some(s"op $i: $e") }
      val e = System.nanoTime()
      probe.foreach(_.opEnd(i, System.currentTimeMillis()))
      sc.clearJobGroup()
      Trace.op = -1
      val checked = err.orElse(
        try w.check(i) catch { case scala.util.control.NonFatal(x) => Some(s"check $i: $x") })
      if (traced) heapMb(i) = {
        val rt = Runtime.getRuntime; (rt.totalMemory - rt.freeMemory) / 1048576.0 }
      Trace.on = false
      samples += new Sample(i, w.label(i), traced, s, e, checked)
      i += 1
    }
    val windowSecs = (samples.last.endNs - samples.head.startNs) / 1e9
    val rss = rssPeakMb()

    val measured = samples.filter(!_.traced)
    val lat = measured.map(_.secs).toSeq
    val errors = mutable.ArrayBuffer.empty[String] ++ samples.flatMap(_.error)
    val units = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      units("setup_s") = (setupSecs, "s")
      units("op_p50_s") = (Stats.median(lat), "s")
      units("op_p90_s") = (Stats.percentile(lat, 90), "s")
      // per second of timed run: the output checks between ops are not timed
      units("ops_per_s") = (measured.size / lat.sum, "1/s")
      units("rss_peak_mb") = (rss, "MB")
    } else {
      val traced = samples.filter(_.traced)
      val (extra, errs) = w.layerMetrics(traced.map(_.id).toSeq)
      errors ++= errs
      val layer = Report.perLayer(traced.toSeq, probe.get.stats(), Trace.snapshot, cores)
      val all = layer ++ extra ++ Map(
        "jvm.heap_used_mb" -> traced.flatMap(t => heapMb.get(t.id)).sum / traced.size,
        "trace.overhead_ratio" -> Stats.median(traced.map(_.secs).toSeq) / Stats.median(lat))
      Report.complete(all).foreach { case (k, v) => units(k) = (v, Report.unit(k)) }
      val tracedIds = traced.map(_.id).toSet
      Report.writeSpans(
        a.out.resolveSibling(a.out.getFileName.toString.stripSuffix(".json") + "-spans.jsonl"),
        Trace.snapshot.filter(s => tracedIds(s.op)))
    }
    val failed = samples.count(_.error.nonEmpty)
    val byLabel = samples.filter(s => s.label.nonEmpty && !s.traced).groupBy(_.label)
      .map { case (k, v) => k -> v.size }
    val loadAfter = loadavg()
    val result = ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "correct" -> errors.isEmpty,
      "attempted" -> samples.size, "failed" -> failed,
      "metrics" -> ListMap.from(units.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }),
      "errors" -> errors.take(20).toSeq,
      "ops_by_label" -> byLabel,
      "info" -> ListMap(
        "nproc" -> cores, "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
        "jvm" -> System.getProperty("java.runtime.version"), "spark" -> spark.version,
        "window_s" -> windowSecs, "samples" -> lat.size, "op_s" -> lat,
        "p90_samples_beyond" -> Stats.beyond(lat, 90),
        "p90_supported" -> Stats.supported(lat, 90),
        "setup_parts_s" -> ListMap(
          "to_session" -> (sessionReadyMs - jvmStartMs) / 1e3,
          "inputs_median" -> Stats.median(inputSecs), "inputs" -> inputSecs,
          "warmup" -> warmSecs)))
    Files.createDirectories(a.out.toAbsolutePath.getParent)
    Files.writeString(a.out, Report.json.writeValueAsString(result))
    w.close()
    spark.stop()
  }
}
