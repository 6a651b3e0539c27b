package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the seed, the measuring
  * window, the output checks and the metrics the run reports. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: java.nio.file.Path) {
  val spans = new Spans(traced)
  val observer: Option[Observer] = if (traced) Some(new Observer(spark)) else None

  private val started = System.nanoTime()

  /** Progress line on stderr, stamped with the seconds since the start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Named figures of the workload, printed above the result line. */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** One output check; a false condition or an exception is a failure. */
  def check(what: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch { case e: Throwable =>
      System.err.println(s"[perfbench] check '$what' threw: $e"); false }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  /** One operation of the workload; an exception counts it as failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch { case e: Throwable =>
      failed += 1
      System.err.println(s"[perfbench] $what failed: $e")
      None
    }
  }

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
  def figure(name: String, value: Double, unit: String): Unit = figures(name) = (value, unit)

  /** Counters of `observer` before and after `body`; zero when untraced. */
  def observed[T](body: => T): (T, Window) = observer match {
    case None => (body, Window(Counters(), Counters()))
    case Some(o) =>
      val before = o.snapshot()
      val r = body
      (r, Window(before, o.snapshot()))
  }

  /** Closed loop with one client: calls `step` until `seconds` have passed
    * and at least `minSamples` steps ran. Each step returns the wall time
    * (ms) of the operation it timed, leaving its input preparation and
    * output checks out of the sample. */
  def closedLoop(seconds: Double, minSamples: Int)(step: Int => Double): Vector[Double] = {
    val out = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minSamples) {
      out += step(i)
      i += 1
    }
    out.result()
  }

  /** Wall time of `body` in ms, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** The spark.* layer metrics of a measured loop, per operation. */
  def sparkLayer(c: Counters, ops: Int, wallMs: Double): Unit = {
    val n = math.max(ops, 1).toDouble
    layer("spark.planning_ms", c("planning_ms") / n, "ms")
    layer("spark.jobs", c("jobs") / n, "count")
    layer("spark.stages", c("stages") / n, "count")
    layer("spark.tasks", c("tasks") / n, "count")
    layer("spark.idle_ms", (wallMs - c("busy_ms")) / n, "ms")
    layer("spark.shuffle_write_bytes", c("shuffle_write_bytes") / n, "B")
    layer("spark.shuffle_read_bytes", c("shuffle_read_bytes") / n, "B")
    layer("spark.spill_bytes", c("spill_bytes") / n, "B")
    layer("spark.gc_ms", c("gc_ms") / n, "ms")
    layer("jvm.heap_peak_mb", observer.map(_.heapPeakMb).getOrElse(0.0), "MB")
  }

  /** Reports the operation latencies of the measured loop: median and
    * the highest percentile with at least ten samples beyond it. */
  def latencies(samplesMs: Vector[Double]): Unit = {
    log("loop latencies (ms): " + samplesMs.map(x => f"$x%.0f").mkString(" "))
    e2e("op_p50_ms", Stats.median(samplesMs), "ms")
    val (pct, v) = Stats.tail(samplesMs)
    e2e("op_tail_ms", v, "ms")
    figure("op_samples", samplesMs.size, "count")
    figure("op_tail_percentile", pct, "pct")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (p, value): the highest whole percentile p whose nearest-rank value
    * has at least ten samples above it in rank; with ten samples or fewer
    * no percentile qualifies and the maximum is returned as p100. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (100, s.lastOption.getOrElse(Double.NaN))
    else {
      val p = (100 * (n - 10)) / n
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, s(rank - 1))
    }
  }
}
