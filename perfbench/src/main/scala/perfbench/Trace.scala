package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch nanoseconds
  * (driver spans from `System.nanoTime` rebased once, Spark job spans from
  * the listener's millisecond stamps), so both kinds share one clock.
  * `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      op: Long, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Off by default: the end-to-end run measures
  * with it off, and a separate traced window turns it on.
  *
  * A span opened on a thread with no open span of its own (a Spark task
  * thread running a fetch, say) takes the innermost span open on the op's
  * driver thread as its parent: ops run one at a time, so that is the
  * call that caused it. */
object Trace {
  @volatile var on: Boolean = false
  /** The op in flight; -1 between ops (set-up, warm-up, checks). */
  @volatile var op: Long = -1L

  private val epochOffset: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset
  def fromMillis(ms: Long): Long = ms * 1000000L

  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var driverTop: Long = 0L
  @volatile private var driverThread: Thread = null

  /** Mark the calling thread as the one that issues ops. */
  def driver(): Unit = driverThread = Thread.currentThread()

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val stack = open.get()
      val parent = stack.headOption.getOrElse(driverTop)
      val id = ids.incrementAndGet()
      val isDriver = Thread.currentThread() eq driverThread
      open.set(id :: stack)
      if (isDriver) driverTop = id
      val op0 = op
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, layer, name, op0, t0, now()))
        open.set(stack)
        if (isDriver) driverTop = stack.headOption.getOrElse(0L)
      }
    }

  /** Record an interval timed elsewhere (a Spark job); its parent is
    * found later by interval, see `Report.parentJobs`. */
  def record(layer: String, name: String, op: Long, start: Long, end: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), 0L, layer, name, op, start, end))

  def snapshot: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def clear(): Unit = spans.clear()

  /** Total length of the union of `[start, end)` intervals, each clipped
    * to `[lo, hi)`. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long = Long.MinValue,
                  hi: Long = Long.MaxValue): Long = {
    val clipped = intervals.map { case (s, e) => (s max lo, e min hi) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover. Children that overlap each other
    * (parallel tasks) count once; a child that outlives its parent counts
    * only inside the parent's interval. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = unionLength(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per layer. */
  def selfByLayer(all: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(all)
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}
