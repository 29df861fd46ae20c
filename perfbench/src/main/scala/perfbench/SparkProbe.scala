package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-engine counts for one op. */
final class EngineStats {
  var jobs = 0L
  var constructJobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var planMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Observes the engine beneath the layers the benchmark calls: a
  * `SparkListener` for jobs, stages and task metrics, and a
  * `QueryExecutionListener` for the planning tracker's analysis,
  * optimization and planning phases.
  *
  * Attribution: the harness sets the job group `op-<id>` on its driver
  * thread before each op, so its jobs carry their op. Jobs of a streaming
  * query run on the query's own thread under the query's run id as job
  * group; those, and planning phases, go to the op whose wall interval
  * holds their start (ops run one at a time). Listener events arrive
  * asynchronously: call [[stats]] only after the bus has drained. */
final class SparkProbe(spark: SparkSession) {
  private val lock = new Object
  private val perOp = mutable.Map.empty[Long, EngineStats]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val jobOp = mutable.Map.empty[Int, (Long, Long)] // job -> (op, startMs)
  private val opWindows = mutable.ArrayBuffer.empty[(Long, Long, Long)] // op, startMs, endMs

  private def stat(op: Long) = perOp.getOrElseUpdate(op, new EngineStats)

  /** Open and close an op's wall interval, for attributing streaming
    * jobs; an interval is open-ended until its op ends, since events may
    * be delivered while the op still runs. */
  def opStart(op: Long, startMs: Long): Unit =
    lock.synchronized(opWindows += ((op, startMs, Long.MaxValue)))
  def opEnd(op: Long, endMs: Long): Unit = lock.synchronized {
    val k = opWindows.lastIndexWhere(_._1 == op)
    if (k >= 0) opWindows(k) = opWindows(k).copy(_3 = endMs)
  }

  private def opOf(group: String, timeMs: Long): Long =
    if (group != null && group.startsWith("op-")) group.stripPrefix("op-").toLong
    else opWindows.collectFirst {
      case (op, s, e) if timeMs >= s && timeMs <= e => op
    }.getOrElse(-1L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
      val op = opOf(group, e.time)
      if (op >= 0) {
        val s = stat(op)
        s.jobs += 1
        if (props.exists(p => p.getProperty("perfbench.phase") == "construct"))
          s.constructJobs += 1
        s.stages += e.stageIds.size
        e.stageIds.foreach(stageOp(_) = op)
        jobOp(e.jobId) = (op, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobOp.remove(e.jobId).foreach { case (op, startMs) =>
        stat(op).jobIntervals += ((startMs, e.time))
        Trace.record("spark", s"job-${e.jobId}", op,
          Trace.fromMillis(startMs), Trace.fromMillis(e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val s = stat(op)
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.taskNs += m.executorRunTime * 1000000L
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty) lock.synchronized {
        val op = opOf(null, phases.map(_.startTimeMs).min)
        if (op >= 0) stat(op).planMs += phases.map(_.durationMs).sum
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait for the listener bus, then return per-op engine counts. */
  def stats(): Map[Long, EngineStats] = {
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    lock.synchronized(perOp.toMap)
  }
}
