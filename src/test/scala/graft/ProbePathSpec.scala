package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, LsmVectorIndex, VectorIndex}
import graft.operators.TopK

/** The probe's routing and final merge: a driver-local batch is probed in
  * one Spark job, other frames keep count-based routing, and the shard
  * top-k merge returns exactly what the SQL top-k aggregate returns. */
class ProbePathSpec extends AnyFunSuite with SparkSuite {

  private lazy val index = VectorIndex.build(
    Tables.embeddings(spark, sfDir).filter(col("vec_id") >= 50)
      .select(col("vec_id").as("id"), col("embedding")),
    IndexParams(minimumConnect = 8), numShards = 4).optimize()

  /** 20 queries as a driver-local frame (its optimized plan is a
    * LocalRelation). */
  private lazy val localQueries: DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir).filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .toDF("query_id", "embedding")
  }

  /** The same 20 query vectors behind a spark.range scan — not local. */
  private lazy val rangeQueries: DataFrame = {
    val vecs = localQueries.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val bc = spark.sparkContext.broadcast(vecs)
    val lookup = udf((id: Long) => bc.value(id))
    spark.range(20).select(col("id").as("query_id"), lookup(col("id")).as("embedding"))
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select(col("query_id"), col("rank"), col("neighbor_id"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** Result of `body` and the Spark jobs it ran, counted by job group so
    * jobs of concurrently running suites never count. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"probe-path-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "probe path spec")
    try {
      val v = body
      GraftSqlBridge.drainListenerBus(spark)
      (v, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The driverless probe zips the query shuffle onto the shard layout;
    * the broadcast probe has no zip in its lineage. */
  private def driverless(df: DataFrame): Boolean =
    df.rdd.toDebugString.contains("ZippedPartitionsRDD2")

  test("merge parity: mergeShardTopK returns TopK.topKMerge's rows and schema") {
    val k = 5
    val shards = 4
    val widths = 3
    val r = new scala.util.Random(17)
    // per (query, shard): 0..k+2 candidates on a coarse distance grid, so
    // equal distances straddle shards and the k cut; shard 3 stays empty.
    // Query ids are the multi-width probe's synthetic q * widths + wi.
    val perShard = Array.tabulate(shards) { s =>
      if (s == 3) Seq.empty[(Long, VectorIndex.ShardTopK)]
      else for {
        q <- 0 until 6
        wi <- 0 until widths
        n = r.nextInt(k + 3)
        if n > 0 || s == 0
      } yield {
        val top = Array.tabulate(n)(j => (r.nextInt(4) * 0.25, (s + shards * j).toLong))
          .sortBy(identity).take(k)
        ((q * widths + wi).toLong, (top.map(_._1), top.map(_._2)))
      }
    }
    assert(perShard.flatten.exists(_._2._1.length < k), "no shard returned fewer than k")
    val candidates = spark.sparkContext.parallelize(0 until shards, shards)
      .flatMap(s => perShard(s))
    val flat = {
      import spark.implicits._
      perShard.toSeq.flatten.flatMap { case (q, (ds, ids)) =>
        ds.indices.map(i => (q, ds(i), ids(i)))
      }.toDF("query_id", "distance", "neighbor_id")
    }
    val merged = VectorIndex.mergeShardTopK(spark, candidates, k, shards)
    val reference = TopK.topKMerge(flat, k)
    assert(merged.schema === reference.schema)
    val got = rows(merged)
    assert(got === rows(reference))
    // the grid really produced ties across shards inside the kept top-k
    assert(got.groupBy(t => (t._1, t._4)).values
      .exists(g => g.map(_._3 % shards).distinct.size > 1), "no cross-shard tie kept")
  }

  test("a driver-local batch is probed in exactly one Spark job, and query() runs none") {
    rows(index.query(localQueries, 10, 64)) // every shard graph resident
    val (probe, planJobs) = jobsOf(index.query(localQueries, 10, 64))
    assert(planJobs === 0, "query() of a driver-local frame ran a job")
    val (_, jobs) = jobsOf(rows(probe))
    assert(jobs === 1)
    assert(!driverless(probe))
  }

  test("routing: a non-local frame within maxBatch is broadcast, a bigger one is driverless") {
    for (sw <- Seq(0, 64)) {
      val viaLocal = rows(index.query(localQueries, 10, sw))
      val small = index.query(rangeQueries, 10, sw, maxBatch = 20)
      assert(!driverless(small), s"sw=$sw: 20 rows within maxBatch=20 left the broadcast path")
      assert(rows(small) === viaLocal, s"sw=$sw")
      val big = index.query(rangeQueries, 10, sw, maxBatch = 2)
      assert(driverless(big), s"sw=$sw: 20 rows over maxBatch=2 stayed on the broadcast path")
      assert(rows(big) === viaLocal, s"sw=$sw")
      val bigLocal = index.query(localQueries, 10, sw, maxBatch = 2)
      assert(driverless(bigLocal), s"sw=$sw: a local frame over maxBatch was broadcast")
      assert(rows(bigLocal) === viaLocal, s"sw=$sw")
    }
  }

  test("a batch over maxBatch broadcast in chunks merges to the one-chunk result") {
    val batch = localQueries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val whole = rows(index.queryBatch(batch, 10, 64))
    assert(rows(index.queryBatch(batch, 10, 64, maxBatch = 7)) === whole)
    val lsm = LsmVectorIndex(index, compactThreshold = 1000000)
      .ingest(Tables.embeddings(spark, sfDir).filter(col("vec_id") >= 20 && col("vec_id") < 50)
        .select(col("vec_id").as("id"), col("embedding")))
    assert(rows(lsm.queryBatch(batch, 10, 0, maxBatch = 7)) === rows(lsm.queryBatch(batch, 10, 0)))
  }
}
