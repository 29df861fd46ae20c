package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.core.Metrics
import graft.plans.Downloader
import graft.sources.{HadoopFsStore, HttpFetcher, Store}

/** One closed-loop workload: the harness calls [[inputs]] (repeatable, on
  * fresh directories), [[warmup]], then [[op]] back to back, with
  * [[check]] after every op outside the timed region. */
trait Workload {
  /** Ops in one pass; a run measures whole passes. */
  def passSize: Int = 1
  /** Build the seeded inputs; `rep` names a fresh copy. The last call's
    * inputs are the ones the run uses. */
  def inputs(rep: Int): Unit
  /** Untimed warm-up: with any pass run before the session, at least two
    * passes of ops. */
  def warmup(): Unit
  def op(i: Long): Unit
  /** What one op ran (the query name), for per-label accounting. */
  def label(i: Long): String = ""
  /** Output check after op `i`; an error message fails the op. */
  def check(i: Long): Option[String] = None
  /** Workload-specific per-layer metrics over the traced ops. */
  def layerMetrics(traced: Seq[Long]): (Map[String, Double], Seq[String]) = (Map.empty, Nil)
  def close(): Unit = ()
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
    }

  def md5Hex(f: Path): String = {
    val in = Files.newInputStream(f)
    try {
      val digest = java.security.MessageDigest.getInstance("MD5")
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { digest.update(buf, 0, n); n = in.read(buf) }
      digest.digest().map("%02x".format(_)).mkString
    } finally in.close()
  }

  def treeFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally w.close()
    }
}

/** A declared query set on the generated tables: op = construct the
  * DataFrame, run `graft.Bench.action` (noop sink), `Pins.release`. Each
  * pass runs every query once, in an order drawn from the seed. */
final class QueryWorkload(spark: SparkSession, sfDir: String, names: Seq[String],
                          seed: Long) extends Workload {
  private val fns = {
    val all = graft.SparkEntry.queries
    names.map(n => all.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
  }
  private var orders = Vector.empty[Seq[Int]]
  override def passSize: Int = names.size

  private def order(pass: Int): Seq[Int] = {
    while (orders.size <= pass)
      orders :+= new scala.util.Random(seed * 7919L + orders.size).shuffle(names.indices.toVector)
    orders(pass)
  }
  private def at(i: Long): Int = order((i / names.size).toInt)((i % names.size).toInt)

  def inputs(rep: Int): Unit = { orders = Vector.empty; order(0) }

  private def run(k: Int): Unit = {
    val sc = spark.sparkContext
    try {
      sc.setLocalProperty("perfbench.phase", "construct")
      val df = Trace.span("queries", "construct")(fns(k)(spark, sfDir))
      sc.setLocalProperty("perfbench.phase", "action")
      Trace.span("queries", "action")(graft.Bench.action(df))
    } finally {
      sc.setLocalProperty("perfbench.phase", null)
      Trace.span("core", "pins.release")(graft.core.Pins.release())
    }
  }

  /** One pass, in an order of its own; the oracle dump's pass, before
    * the session, is the other warm-up pass. */
  def warmup(): Unit =
    new scala.util.Random(seed * 7919L - 1).shuffle(names.indices.toVector).foreach(run)
  def op(i: Long): Unit = run(at(i))
  override def label(i: Long): String = names(at(i))
}

/** The archive daemon's daily cycle: `Downloader.runOnce` over the
  * deployed three-feed configuration against [[FeedServer]], on a
  * `HadoopFsStore` over `file://` pre-seeded with
  * `ArchiveGen.HistoryDays` of history. Op `i` archives one new
  * simulated day. */
final class ArchiveWorkload(spark: SparkSession, workDir: Path, seed: Long) extends Workload {
  import ArchiveGen.HistoryDays
  private val gen = new ArchiveGen(seed)
  private val server = new FeedServer(gen)
  private val (manifestFeeds, fixedFeeds) = Downloader.parseFeeds(server.feedSpec)
  private val metrics = new Metrics(spark)
  private val fetcher = HttpFetcher()
  private val timedFetcher = new TimedFetcher(fetcher)
  private var root: Path = _
  private var store: Store = _
  private var timedStore: Store = _
  private var day = HistoryDays - 1
  private val opDay = mutable.Map.empty[Long, Int]

  def inputs(rep: Int): Unit = {
    if (root != null) Workload.deleteTree(root)
    root = workDir.resolve(s"archive-$rep").toAbsolutePath
    store = new HadoopFsStore(root.toUri.toString)
    timedStore = new TimedStore(store)
    gen.seedHistory(store, HistoryDays - 1)
    day = HistoryDays - 1
  }

  private def cycle(): Unit = {
    day += 1
    server.day = day
    val d = day
    val traced = Trace.on
    val (st, fe) = if (traced) (timedStore, timedFetcher) else (store, fetcher)
    val (req0, bytes0) = (server.requests.get, server.bytesOut.get)
    val ok = Trace.span("plans", "Downloader.runOnce")(
      Downloader.runOnce(spark, st, fe, metrics, manifestFeeds, fixedFeeds,
        now = () => gen.instant(d)))
    Counters.add("http_requests", server.requests.get - req0)
    Counters.add("http_bytes", server.bytesOut.get - bytes0)
    if (!ok.forall(identity)) throw new IllegalStateException(s"day $d: feed results $ok")
  }

  def warmup(): Unit = (0 until ArchiveWorkload.WarmDays).foreach { _ =>
    cycle()
    stateError(day).foreach(e => throw new IllegalStateException(s"warm-up: $e"))
  }

  def op(i: Long): Unit = { opDay(i) = day + 1; cycle() }

  override def check(i: Long): Option[String] = opDay.get(i).flatMap(stateError)

  /** The store after `d` must hold exactly the expected objects (payload
    * files, current pointers, watermarks), each with the expected size and
    * MD5, no two objects of one Maxmind month scope may share content, and
    * no download may have failed. */
  def stateError(d: Int): Option[String] = {
    val expected = gen.expected(d)
    val actual = Workload.treeFiles(root)
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(f => root.relativize(f).toString -> f).toMap
    val failed = metrics.snapshot.collect {
      case (k, v) if k.startsWith("downloader_download_failed_total") && v != 0 => k
    }
    val missing = expected.keySet -- actual.keySet
    val extra = actual.keySet -- expected.keySet
    lazy val md5 = actual.map { case (n, f) => n -> Workload.md5Hex(f) }
    lazy val wrong = expected.collect {
      case (n, o) if actual.contains(n) && (Files.size(actual(n)) != o.size || md5(n) != o.md5) => n
    }
    lazy val dupScopes = actual.keys.filter(_.startsWith(s"${ArchiveGen.Maxmind}/2"))
      .groupBy(n => n.split('/').take(3).mkString("/"))
      .filter { case (_, ns) => ns.map(md5).toSet.size != ns.size }.keys
    if (failed.nonEmpty) Some(s"day $d: failed downloads ${failed.mkString(",")}")
    else if (missing.nonEmpty) Some(s"day $d: missing ${missing.toSeq.sorted.take(3).mkString(",")}")
    else if (extra.nonEmpty) Some(s"day $d: unexpected ${extra.toSeq.sorted.take(3).mkString(",")}")
    else if (wrong.nonEmpty) Some(s"day $d: wrong bytes in ${wrong.toSeq.sorted.take(3).mkString(",")}")
    else if (dupScopes.nonEmpty) Some(s"day $d: duplicate content in ${dupScopes.mkString(",")}")
    else None
  }

  override def layerMetrics(traced: Seq[Long]): (Map[String, Double], Seq[String]) = {
    val n = traced.size.toDouble
    val (fetched, _, deleted) = traced.map(i => gen.dayOutcome(opDay(i)))
      .foldLeft((0, 0, 0)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    val gotFetched = Counters.get("fetch_calls")
    val gotDeleted = Counters.get("store_deletes")
    val errors = Seq(
      Option.when(gotFetched != fetched)(s"fetched $gotFetched files, generator expects $fetched"),
      Option.when(gotDeleted != deleted)(s"deleted $gotDeleted files, generator expects $deleted"),
    ).flatten
    val files = Workload.treeFiles(root)
    val payload = gen.expected(day).collect {
      case (name, o) if !name.contains("/current/") && !name.startsWith("_meta/") => o.size
    }.sum
    (Map(
      "plans.files_fetched" -> gotFetched / n,
      "plans.files_kept" -> (gotFetched - gotDeleted) / n,
      "plans.files_deleted" -> gotDeleted / n,
      "plans.dedup_hit_ratio" -> gotDeleted.toDouble / math.max(1L, gotFetched),
      "sources.stored_bytes_per_payload_byte" -> files.map(Files.size).sum.toDouble / payload,
      "loadgen.http_requests" -> Counters.get("http_requests") / n,
      "loadgen.http_bytes" -> Counters.get("http_bytes") / n,
    ), errors)
  }

  override def close(): Unit = server.stop()
}

object ArchiveWorkload {
  /** Days archived before the first timed op. */
  val WarmDays = 3
}

/** Closed-loop streaming ingest: one seeded micro-batch per op through
  * `CorpusIngest.start` (a `MemoryStream` source), the next batch offered
  * only after the previous one committed. The accepted-signature store
  * grows over the run. */
final class IngestWorkload(spark: SparkSession, workDir: Path, seed: Long,
                           sfDir: String) extends Workload {
  import spark.implicits._
  import IngestGen.BatchDocs
  /** Batches run on both the reference and the measured stream. */
  private val warmBatches = 3
  private var gen: IngestGen = _
  private var dir: Path = _
  private var input: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private val reference = mutable.Map.empty[Int, Set[Long]]
  private val accepted = mutable.Map.empty[Int, Set[Long]]
  private val progress = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long, Long)]()
  private val state = mutable.Map.empty[Long, (Long, Long)]

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (query != null && p.runId == query.runId && p.numInputRows > 0) {
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress.put(p.batchId, (p.numInputRows, d("addBatch"), d("walCommit"), d("commitOffsets")))
      }
    }
  }
  spark.streams.addListener(listener)

  def inputs(rep: Int): Unit = {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).map(_._2).toVector
    gen = new IngestGen(seed, corpus)
    (0 until warmBatches).foreach(gen.batch)
  }

  private def start(name: String): (MemoryStream[(Long, String)], StreamingQuery, Path) = {
    val d = workDir.resolve(name).toAbsolutePath
    Workload.deleteTree(d)
    val ms = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.CorpusIngest.start(ms.toDF().toDF("doc_id", "text"),
      d.resolve("sig").toString, d.resolve("ckpt").toString, Trigger.ProcessingTime(0))
    (ms, q, d)
  }

  private def acceptedIn(d: Path, b: Int): Set[Long] = {
    val lo = b.toLong * BatchDocs
    spark.read.parquet(d.resolve("sig").toString).select($"doc_id").as[Long].collect()
      .filter(id => id > lo && id <= lo + BatchDocs).toSet
  }

  /** Warm-up, and the reference for "same seed, same accepted set": the
    * first `warmBatches` batches run on a throwaway reference stream, then
    * again on the measured stream, which must accept exactly the same
    * documents. The measured ops continue from there. */
  def warmup(): Unit = {
    val (ms, q, d) = start("ingest-ref")
    try (0 until warmBatches).foreach { b =>
      ms.addData(gen.batch(b))
      q.processAllAvailable()
      reference(b) = acceptedIn(d, b)
    } finally q.stop()
    Workload.deleteTree(d)
    val (ms2, q2, d2) = start("ingest")
    input = ms2; query = q2; dir = d2
    (0 until warmBatches).foreach { b =>
      input.addData(gen.batch(b))
      query.processAllAvailable()
      val got = acceptedIn(dir, b)
      if (got != reference(b)) throw new IllegalStateException(
        s"batch $b accepted ${got.size} docs, the same seed accepted ${reference(b).size} before")
    }
  }

  private def batchOf(i: Long): Int = i.toInt + warmBatches

  def op(i: Long): Unit = Trace.span("streaming", "CorpusIngest.batch") {
    input.addData(gen.batch(batchOf(i)))
    query.processAllAvailable()
  }

  /** Accepted documents never share an md5 (over the whole store), and
    * each accepted signature's md5 is its text's. */
  override def check(i: Long): Option[String] = {
    val b = batchOf(i)
    val rows = spark.read.parquet(dir.resolve("sig").toString)
      .select($"doc_id", $"__md5").as[(Long, String)].collect()
    val texts = gen.batch(b).toMap
    val lo = b.toLong * BatchDocs
    val mine = rows.filter { case (id, _) => id > lo && id <= lo + BatchDocs }
    accepted(b) = mine.map(_._1).toSet
    if (Trace.on) {
      val files = Workload.treeFiles(dir.resolve("sig")).filter(_.toString.endsWith(".parquet"))
      state(i) = (files.size.toLong, files.map(Files.size).sum)
    }
    val dupMd5 = rows.groupBy(_._2).collect { case (m, rs) if rs.length > 1 => m }
    val badMd5 = mine.collect {
      case (id, m) if graft.sources.Store.md5Hex(texts(id).getBytes("UTF-8")) != m => id
    }
    if (dupMd5.nonEmpty) Some(s"batch $b: ${dupMd5.size} md5s accepted twice")
    else if (badMd5.nonEmpty) Some(s"batch $b: signature md5 differs from text for ${badMd5.head}")
    else None
  }

  override def layerMetrics(traced: Seq[Long]): (Map[String, Double], Seq[String]) = {
    val n = traced.size.toDouble
    val prog = traced.map(i => Option(progress.get(batchOf(i).toLong)))
    val errors =
      if (prog.exists(_.isEmpty)) Seq(s"no progress event for ${prog.count(_.isEmpty)} traced batches")
      else Nil
    val p = prog.flatten
    val acc = traced.map(i => accepted.get(batchOf(i)).map(_.size).getOrElse(0)).sum / n
    (Map(
      "streaming.add_batch_s" -> p.map(_._2).sum / 1000.0 / n,
      "streaming.wal_commit_s" -> p.map(_._3).sum / 1000.0 / n,
      "streaming.commit_offsets_s" -> p.map(_._4).sum / 1000.0 / n,
      "streaming.docs_in" -> BatchDocs.toDouble,
      // rows the plan pulled from the source: above docs_in when the
      // batch is recomputed for each consumer
      "streaming.source_rows_read" -> p.map(_._1).sum / n,
      "streaming.docs_accepted" -> acc,
      "streaming.accept_ratio" -> acc / BatchDocs,
      "streaming.state_files" -> traced.flatMap(state.get).map(_._1).sum / n,
      "streaming.state_bytes" -> traced.flatMap(state.get).map(_._2).sum / n,
    ), errors)
  }

  override def close(): Unit = {
    if (query != null) query.stop()
    spark.streams.removeListener(listener)
  }
}
