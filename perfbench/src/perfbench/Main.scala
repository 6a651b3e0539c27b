package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by perfbench/run.py:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        [--spans FILE] [--data DIR] [--expect FILE]
  *
  * Prints the run's named figures and metrics, then one JSON line with
  * every measured metric (`metrics`) and the check tally. */
object Main {
  def main(args: Array[String]): Unit = {
    def parse(as: List[String]): Map[String, String] = as match {
      case Nil => Map.empty
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k.drop(2) -> v)
      case other => sys.error(s"cannot parse arguments: ${other.mkString(" ")}")
    }
    val opt = parse(args.toList)
    def need(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val work = Paths.get(need("work")).toAbsolutePath
    val spark = session(work)
    val run = new Run(spark, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", work)
    try {
      run.log("session up")
      selfTest(run)
      run.log("self-test done")
      workload match {
        case "ann" => Ann.run(run)
        case "pipeline" => Pipeline.run(run, Paths.get(need("data")), Paths.get(need("expect")))
        case other => sys.error(s"unknown workload $other")
      }
    } catch { case e: Throwable =>
      run.attempted += 1
      run.failed += 1
      System.err.println(s"[perfbench] workload $workload aborted: $e")
      e.printStackTrace()
    }
    run.observer.foreach(_.close())
    opt.get("spans").foreach(p => run.spans.write(Paths.get(p)))
    report(run)
    spark.stop()
    run.log("stopped")
  }

  private def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The generator self-test: one seed reproduces identical vectors (on
    * the driver and in executors), and another seed changes them. */
  private def selfTest(r: Run): Unit = {
    val ids = Seq(0L, 1L, 99999L, Inputs.IngestBase, Inputs.QueryBase + 7)
    val a = Inputs(r.seed)
    r.check("one seed reproduces identical vectors")(
      ids.forall(id => a.vector(id).sameElements(Inputs(r.seed).vector(id))))
    r.check("another seed changes the vectors")(
      ids.forall(id => !a.vector(id).sameElements(Inputs(r.seed + 1).vector(id))))
    val fromExecutors = a.frame(r.spark, 0, 64, 4).collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).toArray).toMap
    r.check("executors generate the driver's vectors")(
      (0L until 64L).forall(id => fromExecutors(id).sameElements(a.vector(id))))
  }

  private def report(r: Run): Unit = {
    def line(kind: String, m: collection.Map[String, (Double, String)]): Unit =
      m.foreach { case (n, (v, u)) => println(f"$kind%-8s $n%-32s $v%.6g $u") }
    line("figure", r.figures)
    line("e2e", r.endToEnd)
    line("layer", r.perLayer)
    val opsFailed = if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted
    println(f"e2e      ops_failed                       $opsFailed%.6g failed/attempted")
    val metrics = (if (r.traced) r.perLayer else r.endToEnd).map { case (n, (v, u)) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }
    println(s"""{"correct":${r.failed == 0 && r.attempted > 0},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":{${metrics.mkString(",")}}}""")
  }
}
