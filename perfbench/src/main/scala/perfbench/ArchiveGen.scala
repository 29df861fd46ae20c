package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{DayOfWeek, Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.{Naming, Store}

/** The archive workload's generator parameters (listed in README.md).
  *
  * Sizes and cadence follow the published feeds. CAIDA's RouteViews
  * prefix-to-AS datasets (IPv4 `routeviews-prefix2as`, IPv6
  * `routeviews6-prefix2as`, each announced through `pfx2as-creation.log`)
  * add one gzip file a day per protocol; in early 2020 their directory
  * listings show IPv4 files of about 2.5 MB and IPv6 files of about
  * 0.6 MB. MaxMind releases GeoLite2 weekly, on Tuesdays, and the
  * GeoLite2-City tar.gz is about 28 MB. These are approximate figures
  * from the public listings and documentation, not measured here (the
  * benchmark runs offline); each file's size is drawn within
  * [[SizeJitter]] of them. */
object ArchiveGen {
  /** Days archived before the first op. A deployed archive holds years;
    * store listing walks the whole store, so op time grows with history,
    * and 8 days keep one op near 2 s on a 4-core box. */
  val HistoryDays = 8
  /** A Friday: the history then spans a Tuesday release and a month start. */
  val FirstDay: LocalDate = LocalDate.of(2020, 1, 24)
  val ManifestFeeds: Seq[String] = Seq("RouteViewIPv4", "RouteViewIPv6")
  /** Nominal pfx2as payload size of each manifest feed. */
  val PayloadBytes: Seq[Int] = Seq(2560 * 1024, 640 * 1024)
  val MaxmindBytes: Int = 28 * 1024 * 1024
  val SizeJitter = 0.1
  val MaxmindRelease: DayOfWeek = DayOfWeek.TUESDAY

  val Maxmind = "Maxmind"
  val MaxmindFile = "GeoLite2-City.tar.gz"

  /** An object the store holds: its size and MD5. */
  final case class Obj(size: Long, md5: String)
}

/** Seeded inputs of the archive workload and the store state they imply.
  *
  * Each simulated day, every manifest feed publishes one new file
  * (seqnum, timestamp and a `YYYY/MM/` path, as the RouteViews creation
  * log does), and the Maxmind fixed file changes content on release days
  * only, so most daily Maxmind fetches duplicate an object already stored
  * in the same month and are deleted. Bytes and sizes are drawn from the
  * seed; everything is a pure function of (seed, day), so the expected
  * state after any day can be recomputed without replaying the daemon. */
final class ArchiveGen(seed: Long) {
  import ArchiveGen._

  def date(day: Int): LocalDate = FirstDay.plusDays(day.toLong)
  def instant(day: Int): Instant = date(day).atTime(12, 0).toInstant(ZoneOffset.UTC)

  private def rng(tags: Long*): SplittableRandom =
    new SplittableRandom(tags.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, t) =>
      (h ^ t) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL))

  private def bytes(r: SplittableRandom, nominal: Int): Array[Byte] = {
    val n = (nominal * (1 - SizeJitter + 2 * SizeJitter * r.nextDouble())).toInt
    val b = new Array[Byte](n); r.nextBytes(b); b
  }

  def seqnum(day: Int): Int = 1000 + day

  /** Manifest-relative path of a feed's file of a day. */
  def path(feed: Int, day: Int): String = {
    val d = date(day)
    f"${d.getYear}%04d/${d.getMonthValue}%02d/routeviews-rv${feed * 4 + 2}-" +
      f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d-1200.pfx2as.gz"
  }

  def payload(feed: Int, day: Int): Array[Byte] = bytes(rng(1, feed, day), PayloadBytes(feed))

  def manifest(feed: Int, throughDay: Int): String = {
    val rows = (0 to throughDay).map(d => s"${seqnum(d)}\t${instant(d).getEpochSecond}\t${path(feed, d)}")
    ("# <sequence-number> <unix-timestamp> <path>" +: rows).mkString("", "\n", "\n")
  }

  /** Maxmind content version on a day: the release days so far. */
  def maxmindVersion(day: Int): Int =
    (1 to day).count(d => date(d).getDayOfWeek == MaxmindRelease)

  @volatile private var lastMaxmind: (Int, Array[Byte]) = (-1, null)
  /** The content of a Maxmind version; the latest one is kept, as the
    * origin serves it every day. */
  def maxmindPayload(version: Int): Array[Byte] = {
    val (v, b) = lastMaxmind
    if (v == version) b
    else { val fresh = bytes(rng(3, version), MaxmindBytes); lastMaxmind = (version, fresh); fresh }
  }

  def maxmindName(day: Int): String = Naming.fixedName(
    s"$Maxmind/" + Naming.datePrefix(instant(day)), Naming.timestampPrefix(instant(day)),
    MaxmindFile)

  /** A Maxmind fetch is kept iff no earlier day of the same month stored
    * the same content: the first day of the run or of a month, or a
    * release day. */
  def maxmindKept(day: Int): Boolean =
    day == 0 || maxmindVersion(day) != maxmindVersion(day - 1) ||
      date(day).getMonthValue != date(day - 1).getMonthValue

  def archiveName(feed: Int, day: Int): String = s"${ManifestFeeds(feed)}/${path(feed, day)}"
  def currentName(feed: Int): String = s"${ManifestFeeds(feed)}/current/routeview.pfx2as.gz"
  def maxmindCurrent: String = s"$Maxmind/current/$MaxmindFile"
  def watermarkName(feed: Int): String = s"_meta/watermark/${ManifestFeeds(feed)}"

  /** Every object the store must hold once days `0..throughDay` are
    * archived, with a function that makes its content. */
  private def objects(throughDay: Int): Seq[(String, String, () => Array[Byte])] = {
    val feeds = ManifestFeeds.indices.flatMap { f =>
      (0 to throughDay).map(d => (archiveName(f, d), s"p$f-$d", () => payload(f, d))) ++ Seq(
        (currentName(f), s"p$f-$throughDay", () => payload(f, throughDay)),
        (watermarkName(f), s"w${seqnum(throughDay)}",
          () => seqnum(throughDay).toString.getBytes(UTF_8)))
    }
    val v = maxmindVersion(throughDay)
    val mm = (0 to throughDay).filter(maxmindKept).map { d =>
      val dv = maxmindVersion(d)
      (maxmindName(d), s"m$dv", () => maxmindPayload(dv))
    }
    feeds ++ mm :+ ((maxmindCurrent, s"m$v", () => maxmindPayload(v)))
  }

  private val digests = TrieMap.empty[String, Obj]
  /** Every object the store must hold after `throughDay`, by size and MD5. */
  def expected(throughDay: Int): Map[String, Obj] =
    objects(throughDay).map { case (name, key, content) =>
      name -> digests.getOrElseUpdate(key, {
        val b = content(); Obj(b.length.toLong, Store.md5Hex(b)) })
    }.toMap

  /** Files fetched, kept and deleted on one daemon day. */
  def dayOutcome(day: Int): (Int, Int, Int) = {
    val fetched = ManifestFeeds.size + 1
    val deleted = if (maxmindKept(day)) 0 else 1
    (fetched, fetched - deleted, deleted)
  }

  /** Write the archive history of days `0..lastDay` through `store.write`,
    * as the daemon would have left it, and save the watermarks. */
  def seedHistory(store: Store, lastDay: Int): Unit =
    objects(lastDay).foreach { case (name, _, content) => store.write(name, content()) }
}

/** The feeds' origin: an in-process JDK `HttpServer` that serves each
  * manifest through the current simulated day, the archived files, and
  * the day's Maxmind content. Two handler threads. */
final class FeedServer(gen: ArchiveGen) {
  import ArchiveGen._
  @volatile var day: Int = 0
  val requests = new AtomicLong()
  val bytesOut = new AtomicLong()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2))

  private def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    requests.incrementAndGet()
    bytesOut.addAndGet(body.length.toLong)
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  ManifestFeeds.zipWithIndex.foreach { case (feed, f) =>
    server.createContext(s"/$feed/", ex => {
      val rel = ex.getRequestURI.getPath.stripPrefix(s"/$feed/")
      if (rel == "pfx2as-creation.log") reply(ex, 200, gen.manifest(f, day).getBytes(UTF_8))
      else (0 to day).find(d => gen.path(f, d) == rel) match {
        case Some(d) => reply(ex, 200, gen.payload(f, d))
        case None => reply(ex, 404, Array.emptyByteArray)
      }
    })
  }
  server.createContext(s"/$Maxmind/download", ex =>
    reply(ex, 200, gen.maxmindPayload(gen.maxmindVersion(day))))
  server.start()

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** The deployed three-feed daemon configuration, pointed at this server. */
  def feedSpec: String =
    (ManifestFeeds.map(f => s"manifest|$f|$base/$f/pfx2as-creation.log") :+
      s"fixed|$Maxmind|$MaxmindFile|$base/$Maxmind/download?suffix=tar.gz")
      .mkString(";")

  def stop(): Unit = {
    server.stop(0)
    server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
  }
}
