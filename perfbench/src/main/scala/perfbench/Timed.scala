package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.sources.{HttpFetcher, ObjectMeta, Store}

/** Counts recorded at layer boundaries while tracing is on, summed over
  * the traced window. JVM-global because the wrappers below are
  * serialized into Spark task closures and run on task threads. */
object Counters {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  def add(name: String, n: Long): Unit =
    if (Trace.on) m.computeIfAbsent(name, _ => new LongAdder).add(n)
  def get(name: String): Long = Option(m.get(name)).map(_.sum).getOrElse(0L)
}

/** Delegating timer around the `Store` trait (the `sources` layer). */
final class TimedStore(inner: Store) extends Store {
  private def t[A](name: String)(body: => A): A = Trace.span("sources", name)(body)

  def list(prefix: String): Seq[ObjectMeta] = t("store.list") {
    val r = inner.list(prefix)
    Counters.add("store_list_calls", 1)
    Counters.add("store_list_objects", r.size)
    r
  }
  def read(name: String): Array[Byte] = t("store.read")(inner.read(name))
  def write(name: String, content: Array[Byte]): Unit =
    t("store.write")(inner.write(name, content))
  override def writeStream(name: String, in: java.io.InputStream): (Long, String) =
    t("store.write")(inner.writeStream(name, in))
  def copy(src: String, dst: String): Unit = t("store.copy")(inner.copy(src, dst))
  def delete(name: String): Unit = t("store.delete") {
    inner.delete(name)
    Counters.add("store_deletes", 1)
  }
}

/** Delegating timer around `HttpFetcher` (the `Fetcher` trait's production
  * implementation). `Downloader.runOnce` takes the concrete class, so
  * this extends it; every entry point the daemon uses is overridden to
  * delegate to `inner`. */
final class TimedFetcher(inner: HttpFetcher)
    extends HttpFetcher(inner.basicAuthUser, inner.basicAuthPass, inner.attemptTimeout) {
  override def fetch(url: String): Array[Byte] = Trace.span("sources", "fetch") {
    val b = inner.fetch(url)
    Counters.add("fetch_calls", 1)
    Counters.add("fetch_bytes", b.length)
    b
  }
  override def fetchTo(url: String, store: Store, name: String): (Long, String) =
    Trace.span("sources", "fetch") {
      val r = inner.fetchTo(url, store, name)
      Counters.add("fetch_calls", 1)
      Counters.add("fetch_bytes", r._1)
      r
    }
  override def fetchString(url: String): String =
    Trace.span("sources", "manifest.fetch")(inner.fetchString(url))
}
