package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{IndexParams, LsmVectorIndex, ShardGraphCache, SubIndexGraph, VectorIndex}
import graft.operators.RecallEval
import graft.plans.KnnJoinPlan

/** ann: writes beside reads, then kernel-bound reads, on the same index
  * layers. Set-up builds a dehnsw index over 20k vectors and runs the
  * write path: four LsmVectorIndex ingest rounds of 1,500 vectors, each
  * followed by 100-query probes, then compaction, save, load and one cold
  * probe and warm probes of the loaded index. The measured loop probes the
  * loaded index with fresh 1,000-query batches. */
object Ann {
  val Shards = 4
  val K = 10
  val Width = 64
  val Params = IndexParams(minimumConnect = 8)
  val RecallQueries = 1000
  /** Lowest recall@10 a working index reaches on this corpus at Width. */
  val RecallFloor = 0.8
  val Corpus = 20000
  val Batch = 1000
  val WarmBatches = 10
  val Rounds = 4
  val IngestBatch = 1500
  val ProbeQueries = 100
  val ProbesPerRound = 6
  val ColdQueries = 1000

  def queryFrame(r: Run, batch: Array[(Long, Array[Float])]): DataFrame =
    r.spark.createDataFrame(batch.toSeq).toDF("query_id", "embedding")

  /** Probe result rows (query_id, rank, neighbor_id, distance). */
  def collect(df: DataFrame): Array[(Long, Int, Long, Double)] =
    df.select(col("query_id").cast("long"), col("rank").cast("int"),
      col("neighbor_id").cast("long"), col("distance").cast("double"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  /** Every query got exactly ranks 1..K. */
  def kRowsPerQuery(rows: Array[(Long, Int, Long, Double)], queries: Int): Boolean =
    rows.length == queries * K &&
      rows.groupBy(_._1).size == queries &&
      rows.groupBy(_._1).values.forall(_.map(_._2).sorted.sameElements(1 to K))

  /** Brute-force top-K over `corpus` (KnnJoinPlan.knnFused), distances
    * rounded to 6 places like the repo's recall gates. */
  def groundTruth(queries: DataFrame, corpus: DataFrame): DataFrame =
    KnnJoinPlan.knnFused(queries, corpus, K)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("distance"), 6).as("distance"))
      .cache()

  /** Tie-tolerant recall@K (the RecallEval rule) of a probe against
    * ground truth. */
  def recall(probe: DataFrame, gt: DataFrame, queries: Int): Double = {
    val res = probe.withColumn("distance", round(col("distance"), 6))
    RecallEval.recallByQuery(res, gt, K).agg(sum(col("hits"))).head.getLong(0) /
      (queries.toDouble * K)
  }

  /** Kernel layer: single-threaded direct calls on the resident shard
    * graphs of `idx` under each graph's lock, plus inserts into a fresh
    * graph, reading the public distEvals counter around both. */
  def kernelLayer(r: Run, idx: VectorIndex, in: Inputs, queryFrom: Long): Unit = {
    val qs = in.local(queryFrom, queryFrom + 200).map(_._2)
    var ns = 0L
    var evals = 0L
    for (s <- 0 until idx.numShards) {
      val g = ShardGraphCache.peek(idx.indexId, s)
      r.check(s"shard $s graph resident for the kernel layer")(g != null)
      if (g != null) g.synchronized {
        val e0 = g.distEvals
        val t0 = System.nanoTime()
        r.spans("kernel.queryTopK") { qs.foreach(q => g.queryTopK(q, K, Width)) }
        ns += System.nanoTime() - t0
        evals += g.distEvals - e0
      }
    }
    r.layer("kernel.query_us", ns / 1e3 / qs.length, "us")
    r.layer("kernel.dist_evals_per_query", evals.toDouble / qs.length, "count")

    val n = 5000
    val vs = in.local(Inputs.CorpusBase, Inputs.CorpusBase + n)
    val g = new SubIndexGraph(Params, n)
    val t0 = System.nanoTime()
    r.spans("kernel.insert") { vs.foreach { case (id, v) => g.insert(id, v) } }
    r.layer("kernel.insert_us", (System.nanoTime() - t0) / 1e3 / n, "us")
    r.layer("kernel.dist_evals_per_insert", g.distEvals.toDouble / n, "count")
  }

  /** Shards of `idx` whose graph is not resident in this JVM. */
  def notResident(idx: VectorIndex): Int =
    (0 until idx.numShards).count(s => ShardGraphCache.peek(idx.indexId, s) == null)

  /** index.build_task_* from the task durations of a build window. */
  def buildTasks(r: Run, w: Window): Unit =
    r.observer.foreach { o =>
      val ds = o.taskDurations(w)
      r.layer("index.build_task_max_ms", if (ds.isEmpty) 0 else ds.max.toDouble, "ms")
      r.layer("index.build_task_mean_ms", if (ds.isEmpty) 0 else ds.sum.toDouble / ds.size, "ms")
    }

  /** index.* probe metrics from the summed counters of `probes` probes. */
  def probeLayer(r: Run, c: Counters, probes: Int, wallMs: Double): Unit = {
    val n = math.max(probes, 1).toDouble
    r.layer("index.driver_ms", (wallMs - c("busy_ms")) / n, "ms")
    r.layer("index.jobs_per_probe", c("jobs") / n, "count")
    r.layer("index.tasks_per_probe", c("tasks") / n, "count")
    r.layer("index.task_ms", c("task_run_ms") / n, "ms")
    r.layer("index.merge_shuffle_bytes", c("shuffle_write_bytes") / n, "B")
  }

  def run(r: Run): Unit = {
    val in = Inputs(r.seed)
    val spark = r.spark
    // query ids: the recall sample, then every probe in order
    var nextQuery = Inputs.QueryBase + RecallQueries
    def queries(n: Int): DataFrame = {
      val q = queryFrame(r, in.local(nextQuery, nextQuery + n))
      nextQuery += n
      q
    }
    // set-up time: the timed steps below, without the output checks
    var setupMs = 0.0
    def setup[T](body: => T): (T, Double) = {
      val (v, ms) = r.timed(body)
      setupMs += ms
      (v, ms)
    }

    val ((corpus, batches), _) = setup {
      val corpus = in.frame(spark, Inputs.CorpusBase, Inputs.CorpusBase + Corpus, Shards).cache()
      corpus.count()
      val batches = (0 until Rounds).map { i =>
        val from = Inputs.IngestBase + i.toLong * IngestBatch
        in.frame(spark, from, from + IngestBatch, 1).cache()
      }
      batches.foreach(_.count())
      (corpus, batches)
    }
    val ((idx, buildMs), w) = r.observed {
      setup { r.spans("index.build") { VectorIndex.build(corpus, Params, Shards).optimize() } }
    }
    buildTasks(r, w)
    r.figure("build_vps", Corpus / (buildMs / 1e3), "vectors/s")
    r.log("build done")

    // the write path: ingest rounds with probes between them
    var lsm = LsmVectorIndex(idx, compactThreshold = Long.MaxValue)
    var ingestMs = 0.0
    var members = 0
    val mixed = Vector.newBuilder[Double]
    for (round <- 0 until Rounds) {
      ingestMs += setup {
        r.op(s"ingest round $round") {
          lsm = r.spans("lsm.ingest", round) { lsm.ingest(batches(round)) }
        }
      }._2
      mixed ++= r.closedLoop(0, minSamples = ProbesPerRound) { _ =>
        val q = queries(ProbeQueries)
        members += 1 + lsm.generations.size
        val (rows, ms) = setup {
          r.op("mixed probe") {
            r.spans("lsm.query", round) { collect(lsm.query(q, K, Width)) }
          }
        }
        rows.foreach(rs => r.check("mixed probe: k rows per query")(kRowsPerQuery(rs, ProbeQueries)))
        ms
      }
    }
    val mixedMs = mixed.result()
    r.figure("ingest_vps", Rounds * IngestBatch / (ingestMs / 1e3), "vectors/s")
    r.figure("mixed_probe_p50_ms", Stats.median(mixedMs), "ms")
    val (mixedPct, mixedTail) = Stats.tail(mixedMs)
    r.figure("mixed_probe_tail_ms", mixedTail, "ms")
    r.figure("mixed_probe_tail_percentile", mixedPct, "pct")
    r.log(s"ingest rounds done: ${mixedMs.size} probes")

    val ((compacted, compactMs), cw) = r.observed {
      setup { r.spans("lsm.compact") { lsm.compact() } }
    }
    r.figure("compact_s", compactMs / 1e3, "s")
    r.check(s"compacted index holds ${Corpus + Rounds * IngestBatch} vectors")(
      compacted.vectorCount == Corpus + Rounds * IngestBatch)
    r.log("compaction done")

    // brute force over the corpus plus every ingested vector, outside the
    // timing; its first ProbeQueries queries also check the exact probe
    val all = batches.foldLeft(corpus)(_ union _)
    val sampleQ = queryFrame(r, in.local(Inputs.QueryBase, Inputs.QueryBase + RecallQueries))
    val gt = groundTruth(sampleQ, all)
    val exactQ = queryFrame(r, in.local(Inputs.QueryBase, Inputs.QueryBase + ProbeQueries))
    val exact = collect(compacted.query(exactQ, K, 0)).sortBy(t => (t._1, t._2))
    val brute = collect(gt.filter(col("query_id") < Inputs.QueryBase + ProbeQueries))
      .sortBy(t => (t._1, t._2))
    r.check("exact probe after compaction equals brute force")(
      exact.map(t => (t._1, t._2, t._3, math.rint(t._4 * 1e6))).sameElements(
        brute.map(t => (t._1, t._2, t._3, math.rint(t._4 * 1e6)))))
    r.log("exact check done")

    val snapshot = r.work.resolve("ann-snapshot").toString
    val (_, saveMs) = setup { r.spans("store.save") { compacted.base.save(snapshot) } }
    r.figure("save_s", saveMs / 1e3, "s")
    val (rowBytes, sidecarBytes) = snapshotBytes(java.nio.file.Paths.get(snapshot))
    r.figure("bytes_per_vector", (rowBytes + sidecarBytes).toDouble / compacted.vectorCount, "B")
    val (loaded, loadMs) = setup { r.spans("store.load") { VectorIndex.load(spark, snapshot) } }
    val coldQ = queries(ColdQueries)
    val rehydrations = notResident(loaded)
    val (cold, coldMs) = setup { r.spans("index.query.cold") { collect(loaded.query(coldQ, K, Width)) } }
    r.figure("cold_probe_s", coldMs / 1e3, "s")
    // probe latency still falls over the first probes of the loaded index
    // as the JIT compiles the driver-side probe path
    setup { (0 until WarmBatches).foreach(_ => collect(loaded.query(queries(Batch), K, Width))) }
    r.e2e("setup_s", setupMs / 1e3, "s")
    r.check("cold probe: k rows per query")(kRowsPerQuery(cold, ColdQueries))
    val before = collect(compacted.base.query(coldQ, K, Width))
    r.check("loaded index answers identically to the index before save")(
      cold.sortBy(t => (t._1, t._2)).sameElements(before.sortBy(t => (t._1, t._2))))
    val rec = recall(loaded.query(sampleQ, K, Width), gt, RecallQueries)
    r.figure("recall_at_10", rec, "fraction")
    r.check(s"recall@10 $rec >= $RecallFloor")(rec >= RecallFloor)
    if (r.traced) {
      r.layer("index.rehydrations", rehydrations, "count")
      // the same probe again, now with every graph resident
      val (_, warmMs) = r.timed { collect(loaded.query(coldQ, K, Width)) }
      r.layer("index.rehydrate_ms", coldMs - warmMs, "ms")
    }
    r.log("set-up done: save, load, cold probe and recall")

    val (samples, sw) = r.observed {
      r.closedLoop(r.seconds, minSamples = 25) { b =>
        val q = queries(Batch)
        val (rows, ms) = r.timed {
          r.op("probe batch") {
            r.spans("index.query", b) { collect(loaded.query(q, K, Width)) }
          }
        }
        rows.foreach(rs => r.check(s"batch $b: k rows per query")(kRowsPerQuery(rs, Batch)))
        ms
      }
    }
    r.log(s"serve loop done: ${samples.size} probes")
    r.latencies(samples)
    r.figure("serve_qps", samples.size * Batch / (samples.sum / 1e3), "queries/s")

    if (r.traced) {
      probeLayer(r, sw.counters, samples.size, samples.sum)
      r.sparkLayer(sw.counters, samples.size, samples.sum)
      kernelLayer(r, loaded, in, Inputs.QueryBase)
      r.layer("lsm.ingest_ms", ingestMs / Rounds, "ms")
      r.layer("lsm.members", members.toDouble / mixedMs.size, "count")
      // a shard the fold appended to is rebuilt whole; the others are kept
      val kept = lsm.base.meta.map(m => m.sub_index_id -> m.n_vectors).toMap
      r.layer("lsm.compact_rows_rebuilt", compacted.base.meta
        .filter(m => !kept.get(m.sub_index_id).contains(m.n_vectors))
        .map(_.n_vectors).sum.toDouble, "count")
      r.layer("lsm.compact_jobs", cw.counters("jobs").toDouble, "count")
      r.layer("store.save_ms", saveMs, "ms")
      r.layer("store.load_ms", loadMs, "ms")
      r.layer("store.bytes_rows", rowBytes.toDouble, "B")
      r.layer("store.bytes_sidecars", sidecarBytes.toDouble, "B")
    }
  }

  /** (parquet row bytes, every other file's bytes) of a saved index. */
  private def snapshotBytes(dir: java.nio.file.Path): (Long, Long) = {
    val files = java.nio.file.Files.walk(dir)
    try {
      val sizes = files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (p.getFileName.toString.endsWith(".parquet"), java.nio.file.Files.size(p)))
        .toSeq
      (sizes.filter(_._1).map(_._2).sum, sizes.filterNot(_._1).map(_._2).sum)
    } finally files.close()
  }
}
