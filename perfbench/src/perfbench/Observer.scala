package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark-side counters at one instant, by name; a difference
  * of two snapshots is the work done between them. Names: jobs, stages,
  * tasks, task_run_ms, gc_ms, shuffle_write_bytes, shuffle_read_bytes,
  * spill_bytes, planning_ms, busy_ms (wall time with a job running),
  * stream_batches, add_batch_ms, trigger_ms, wal_ms. */
final case class Counters(m: Map[String, Long] = Map.empty) {
  def apply(k: String): Long = m.getOrElse(k, 0L)
  def add(kv: (String, Long)*): Counters =
    Counters(kv.foldLeft(m) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) })
  def -(o: Counters): Counters = add(o.m.toSeq.map { case (k, v) => k -> -v }: _*)
}

final case class Window(before: Counters, after: Counters) {
  def counters: Counters = after - before
}

/** Reads Spark's own events through listeners the benchmark registers:
  * jobs, stages and task metrics (SparkListener), planning phases
  * (QueryExecutionListener) and micro-batch durations
  * (StreamingQueryListener). Registered only in traced runs. */
final class Observer(spark: SparkSession) {
  private var c = Counters()
  private var activeJobs = 0
  private var busySince = 0L
  private val taskMs = ArrayBuffer.empty[Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Observer.this.synchronized {
      if (activeJobs == 0) busySince = e.time
      activeJobs += 1
      c = c.add("jobs" -> 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Observer.this.synchronized {
      activeJobs -= 1
      if (activeJobs == 0) c = c.add("busy_ms" -> (e.time - busySince))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Observer.this.synchronized { c = c.add("stages" -> 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Observer.this.synchronized {
      taskMs += e.taskInfo.duration
      c = c.add("tasks" -> 1)
      val m = e.taskMetrics
      if (m != null) c = c.add(
        "task_run_ms" -> m.executorRunTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)
    private def planned(qe: QueryExecution): Unit = Observer.this.synchronized {
      c = c.add("planning_ms" -> qe.tracker.phases.values.map(_.durationMs).sum)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Observer.this.synchronized {
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        c = c.add("stream_batches" -> 1, "add_batch_ms" -> ms("addBatch"),
          "trigger_ms" -> ms("triggerExecution"),
          "wal_ms" -> (ms("walCommit") + ms("commitOffsets")))
      }
  }

  private val heap = new HeapSampler

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    ListenerBusDrain(spark.sparkContext)
    synchronized(c)
  }

  /** Durations (ms) of the tasks that ended within a window. */
  def taskDurations(w: Window): Seq[Long] =
    synchronized(taskMs.slice(w.before("tasks").toInt, w.after("tasks").toInt).toList)

  def heapPeakMb: Double = heap.peakMb

  def close(): Unit = {
    heap.stop()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

/** Samples used heap every 20 ms on a daemon thread; peak in MB. */
final class HeapSampler {
  @volatile private var running = true
  @volatile private var peak = 0L
  private val bean = java.lang.management.ManagementFactory.getMemoryMXBean
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, bean.getHeapMemoryUsage.getUsed)
      Thread.sleep(20)
    }
  }, "perfbench-heap")
  thread.setDaemon(true)
  thread.start()

  def peakMb: Double = peak / 1048576.0
  def stop(): Unit = { running = false; thread.join() }
}
