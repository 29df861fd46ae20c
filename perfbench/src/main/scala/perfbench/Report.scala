package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Per-layer metrics of the traced ops, each a mean per op unless its
  * name says ratio. */
object Report {
  /** Writes the result file and the spans. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Every per-layer metric a traced run reports, in BENCHMARK.json order.
    * A workload that bypasses a layer reports that layer's metrics as 0. */
  val layerNames: Seq[String] = Seq(
    "queries.construct_s", "queries.construct_jobs", "queries.action_s", "queries.self_s",
    "core.pins_release_s", "core.self_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.plan_s", "spark.job_s",
    "spark.driver_gap_s", "spark.task_s", "spark.slot_busy_ratio",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.gc_s",
    "sources.store_list_calls", "sources.store_list_objects", "sources.store_list_s",
    "sources.manifest_fetch_s", "sources.fetch_calls", "sources.fetch_s",
    "sources.fetch_bytes", "sources.store_write_s", "sources.store_copy_s",
    "sources.store_delete_s", "sources.stored_bytes_per_payload_byte", "sources.self_s",
    "plans.files_fetched", "plans.files_kept", "plans.files_deleted",
    "plans.dedup_hit_ratio", "plans.self_s",
    "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.commit_offsets_s",
    "streaming.docs_in", "streaming.source_rows_read", "streaming.docs_accepted",
    "streaming.accept_ratio", "streaming.state_files", "streaming.state_bytes",
    "streaming.self_s",
    "loadgen.http_requests", "loadgen.http_bytes", "jvm.heap_used_mb",
    "trace.spans_per_op", "trace.overhead_ratio")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("ratio") || name.endsWith("_per_payload_byte")) "ratio"
    else "count"

  /** All of [[layerNames]], 0 where nothing was measured. */
  def complete(measured: Map[String, Double]): Seq[(String, Double)] = {
    val unknown = measured.keySet -- layerNames
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    layerNames.map(n => n -> measured.getOrElse(n, 0.0))
  }

  private val spanTimes = Seq(
    "queries.construct_s" -> ("queries", "construct"),
    "queries.action_s" -> ("queries", "action"),
    "core.pins_release_s" -> ("core", "pins.release"),
    "sources.store_list_s" -> ("sources", "store.list"),
    "sources.manifest_fetch_s" -> ("sources", "manifest.fetch"),
    "sources.fetch_s" -> ("sources", "fetch"),
    "sources.store_write_s" -> ("sources", "store.write"),
    "sources.store_copy_s" -> ("sources", "store.copy"),
    "sources.store_delete_s" -> ("sources", "store.delete"))

  private val counts = Seq(
    "sources.store_list_calls" -> "store_list_calls",
    "sources.store_list_objects" -> "store_list_objects",
    "sources.fetch_calls" -> "fetch_calls",
    "sources.fetch_bytes" -> "fetch_bytes")

  /** A Spark job span's parent is the innermost span of the same op whose
    * interval holds the job's start: ops run one at a time, so that is
    * the call that submitted it. */
  def parentJobs(spans: Seq[Span]): Seq[Span] = {
    val calls = spans.filter(_.layer != "spark")
    spans.map { s =>
      if (s.layer != "spark") s
      else calls.filter(c => c.op == s.op && c.start <= s.start && s.start <= c.end)
        .sortBy(_.dur).headOption.fold(s)(p => s.copy(parent = p.id))
    }
  }

  def perLayer(traced: Seq[Main.Sample], engine: Map[Long, EngineStats],
               allSpans: Seq[Span], cores: Int): Map[String, Double] = {
    val ids = traced.map(_.id).toSet
    val n = traced.size.toDouble
    val spans = parentJobs(allSpans.filter(s => ids.contains(s.op)))
    def spanSecs(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name).map(_.dur).sum / 1e9 / n
    val es = traced.map(t => t.id -> engine.getOrElse(t.id, new EngineStats)).toMap
    def sum(f: EngineStats => Long) = es.values.map(f).sum.toDouble
    val jobSecs = traced.map { t =>
      t.id -> Trace.unionLength(es(t.id).jobIntervals.toSeq) / 1e3
    }.toMap
    val wall = traced.map(_.secs).sum
    val self = Trace.selfByLayer(spans)
    spanTimes.map { case (k, (l, nm)) => k -> spanSecs(l, nm) }.toMap ++
      counts.map { case (k, c) => k -> Counters.get(c) / n } ++
      Seq("queries", "core", "plans", "sources", "streaming").map { l =>
        s"$l.self_s" -> self.getOrElse(l, 0L) / 1e9 / n
      } ++ Map(
        "queries.construct_jobs" -> sum(_.constructJobs) / n,
        "spark.jobs" -> sum(_.jobs) / n,
        "spark.stages" -> sum(_.stages) / n,
        "spark.tasks" -> sum(_.tasks) / n,
        "spark.plan_s" -> sum(_.planMs) / 1e3 / n,
        "spark.job_s" -> jobSecs.values.sum / n,
        "spark.driver_gap_s" -> traced.map(t => t.secs - jobSecs(t.id)).sum / n,
        "spark.task_s" -> sum(_.taskNs) / 1e9 / n,
        "spark.slot_busy_ratio" -> sum(_.taskNs) / 1e9 / (cores * wall),
        "spark.shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
        "spark.shuffle_read_bytes" -> sum(_.shuffleRead) / n,
        "spark.spill_bytes" -> sum(_.spill) / n,
        "spark.input_bytes" -> sum(_.input) / n,
        "spark.gc_s" -> sum(_.gcMs) / 1e3 / n,
        "trace.spans_per_op" -> spans.size / n)
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val lines = parentJobs(spans).map(s => json.writeValueAsString(ListMap(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end)))
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
