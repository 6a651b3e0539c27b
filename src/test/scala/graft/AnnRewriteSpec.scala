package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.index.{IndexParams, VectorIndex}
import graft.plans.{AnnTopKRewrite, IndexCatalog}
import org.apache.spark.sql.graft.GraftSqlBridge

class AnnRewriteSpec extends AnyFunSuite with SparkSuite {

  private lazy val corpus = Tables.embeddings(spark, sfDir)
    .filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding"))
  private lazy val index = VectorIndex.build(corpus,
    IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2), numShards = 4)

  private def installed(): Unit = {
    GraftSqlBridge.addOptimizerRule(spark, AnnTopKRewrite)
    IndexCatalog.clear()
    IndexCatalog.register(index, corpus)
  }

  /** The optimized plan scans an index probe's top-k merge. */
  private def probesIndex(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case e: org.apache.spark.sql.execution.ExternalRDD[_]
          if e.rdd.name == VectorIndex.ProbeMergeName => e
    }.nonEmpty

  private def qvec: Array[Float] = Tables.embeddings(spark, sfDir)
    .filter(col("vec_id") === 0).select(col("embedding"))
    .head.getSeq[Float](0).toArray

  private def topKPlan(k: Int) = {
    val d = VectorFunctions.squaredL2(col("embedding"), lit(qvec))
    corpus
      .select(col("id").as("neighbor_id"), d.as("distance"))
      .orderBy(col("distance"), col("neighbor_id"))
      .limit(k)
  }

  test("ORDER BY vec_l2sq LIMIT k is rewritten to an index probe (exact, same rows)") {
    installed()
    val df = topKPlan(10)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("MapPartitions") || optimized.contains("SerializeFromObject"),
      s"probe not spliced in:\n$optimized")
    // bit-identical to the un-rewritten sort plan (exact-mode probe)
    IndexCatalog.clear()
    val expected = topKPlan(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    installed()
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got === expected)
    assert(got.length === 10)
  }

  test("rewrite keeps result order and exprIds under an outer projection") {
    installed()
    val outer = topKPlan(5)
      .withColumn("distance", round(col("distance"), 6))
      .withColumn("flag", lit(1))
    // the outer projection is pushed below the limit by the optimizer —
    // the rewrite must still fire through that shape
    assert(probesIndex(outer))
    val rows = outer.collect()
    assert(rows.length === 5)
    // ascending distances — the trailing sort preserved the contract
    val ds = rows.map(_.getDouble(1))
    assert(ds.sameElements(ds.sorted))
  }

  test("a live LSM generation state serves the SQL rewrite through the same seam") {
    import graft.index.LsmVectorIndex
    GraftSqlBridge.addOptimizerRule(spark, AnnTopKRewrite)
    val emb = Tables.embeddings(spark, sfDir)
    val baseCorpus = emb.filter(col("vec_id") >= 10 && col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding"))
    val lsm = LsmVectorIndex(
      VectorIndex.build(baseCorpus,
        IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2), numShards = 4),
      compactThreshold = 1000000)
      .ingest(emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
        .select(col("vec_id").as("id"), col("embedding")))
    // the registered corpus is the union the LSM state currently covers
    val fullCorpus = emb.filter(col("vec_id") >= 10 && col("vec_id") < 400)
      .select(col("vec_id").as("id"), col("embedding"))
    IndexCatalog.clear()
    IndexCatalog.register(lsm, fullCorpus)
    def plan(k: Int) = fullCorpus
      .select(col("id").as("neighbor_id"),
        VectorFunctions.squaredL2(col("embedding"), lit(qvec)).as("distance"))
      .orderBy(col("distance"), col("neighbor_id"))
      .limit(k)
    val df = plan(10)
    assert(probesIndex(df),
      s"LSM probe not spliced in:\n${df.queryExecution.optimizedPlan.toString.take(2000)}")
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    IndexCatalog.clear()
    val expected = plan(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got === expected)
    IndexCatalog.clear()
    installed() // restore the shared registration for later tests
  }

  test("residual filters route to the fused pre-filtered top-k (v24 composition)") {
    installed()
    def filteredPlan() = corpus.filter(col("id") % 3 === 0)
      .select(col("id").as("neighbor_id"),
        VectorFunctions.squaredL2(col("embedding"), lit(qvec)).as("distance"))
      .orderBy(col("distance"), col("neighbor_id"))
      .limit(10)
    val df = filteredPlan()
    val p = df.queryExecution.optimizedPlan.toString
    // the substitution is the fused exact operator over the filtered
    // subtree — NOT the prebuilt-index probe (post-filtering k probe rows
    // could under-deliver) and NOT the full Sort
    assert(p.contains("KnnCandidates"), s"fused operator not spliced in:\n${p.take(2000)}")
    assert(p.contains("topk_by_distance"), s"merge aggregate missing:\n${p.take(2000)}")
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.forall(_._1 % 3 == 0), "residual predicate must apply under the search")
    assert(got.length === 10)
    // bit-identical to the un-rewritten sort plan
    IndexCatalog.clear()
    val expected = filteredPlan().collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got === expected)
    installed()

    // joining extra columns in is a different subtree — out of scope for
    // the residual match (documents the boundary: only added FILTER
    // conjuncts over the registered plan are recognized)
    val emb = Tables.embeddings(spark, sfDir)
    val byLabel = corpus
      .join(emb.select(col("vec_id").as("id"), col("label")), Seq("id"))
      .filter(col("label") === 3)
    assert(!byLabel
      .select(col("id").as("neighbor_id"),
        VectorFunctions.squaredL2(col("embedding"), lit(qvec)).as("distance"))
      .orderBy(col("distance"), col("neighbor_id")).limit(10)
      .queryExecution.optimizedPlan.toString.contains("KnnCandidates"))
  }

  test("no rewrite for a normalizeForCosine index: raw L2 ordering must survive") {
    // regression: a cosine-normalized index probes in the normalized-L2²
    // domain — substituting it for a RAW squaredL2 ORDER BY would return
    // cosine-ranked rows with rescaled distances. The rewrite must refuse.
    GraftSqlBridge.addOptimizerRule(spark, AnnTopKRewrite)
    IndexCatalog.clear()
    val cosIdx = VectorIndex.build(corpus,
      IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2,
        normalizeForCosine = true), numShards = 2)
    IndexCatalog.register(cosIdx, corpus)
    try {
      val df = topKPlan(10)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("MapPartitions") && !optimized.contains("SerializeFromObject"),
        s"rewrite spliced a normalized probe into a raw L2 query:\n$optimized")
      // and the results are the true raw-L2 top-10
      IndexCatalog.clear()
      val expected = topKPlan(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      IndexCatalog.register(cosIdx, corpus)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got === expected)
    } finally IndexCatalog.clear()
  }

  test("no rewrite for unregistered corpus or other sort keys") {
    installed()
    // descending order — not a kNN shape
    val desc = corpus
      .select(col("id").as("neighbor_id"),
        VectorFunctions.squaredL2(col("embedding"), lit(qvec)).as("distance"))
      .orderBy(col("distance").desc)
      .limit(10)
    assert(!probesIndex(desc))

    // unregistered catalog: neither the probe nor the fused path fires
    IndexCatalog.clear()
    assert(!probesIndex(topKPlan(10)))
    val filtered = corpus.filter(col("id") % 3 === 0)
      .select(col("id").as("neighbor_id"),
        VectorFunctions.squaredL2(col("embedding"), lit(qvec)).as("distance"))
      .orderBy(col("distance"), col("neighbor_id"))
      .limit(10)
    assert(!filtered.queryExecution.optimizedPlan.toString.contains("KnnCandidates"))
  }

  test("rewrite fires through SQL text (temp view + registered function)") {
    installed()
    GraftSqlBridge.registerFunction(spark, "vec_l2sq",
      es => graft.functions.SquaredL2Distance(es(0), es(1)))
    corpus.createOrReplaceTempView("rw_corpus")
    val lit64 = qvec.map(v => s"CAST($v AS FLOAT)").mkString("array(", ", ", ")")
    val df = spark.sql(s"""
      SELECT id AS neighbor_id, vec_l2sq(embedding, $lit64) AS distance
      FROM rw_corpus ORDER BY distance, neighbor_id LIMIT 10""")
    assert(probesIndex(df),
      "SQL-text plan over the registered corpus view must rewrite to the probe")
    val viaSql = df.collect().map(_.getLong(0))
    val viaApi = topKPlan(10).collect().map(_.getLong(0))
    assert(viaSql.sameElements(viaApi))
  }

  test("rank-equivalent cosine serving: ids-only ORDER BY vec_cos_dist rewrites, distance-projecting does not") {
    GraftSqlBridge.addOptimizerRule(spark, AnnTopKRewrite)
    IndexCatalog.clear()
    val cosIdx = VectorIndex.build(corpus,
      IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2,
        normalizeForCosine = true), numShards = 2)
    IndexCatalog.register(cosIdx, corpus)
    try {
      def cosPlan() = corpus
        .select(col("id").as("neighbor_id"),
          VectorFunctions.cosineDistance(col("embedding"), lit(qvec)).as("distance"))
        .orderBy(col("distance"), col("neighbor_id"))
        .limit(10)
      // ids-only shape: the fused exact cosine top-k replaces the sort
      val idsOnly = cosPlan().select(col("neighbor_id"))
      val p = idsOnly.queryExecution.optimizedPlan.toString
      assert(p.contains("KnnCandidates"), s"fused cosine top-k not spliced in:\n${p.take(2000)}")
      // exact rows: equal to the un-rewritten sort plan's ids
      IndexCatalog.clear()
      val expected = cosPlan().select(col("neighbor_id")).collect().map(_.getLong(0))
      IndexCatalog.register(cosIdx, corpus)
      assert(idsOnly.collect().map(_.getLong(0)) === expected)
      // distance-projecting shape must survive un-rewritten (the
      // transformed index cannot produce the true cosine distances)
      val withDist = cosPlan()
      val p2 = withDist.queryExecution.optimizedPlan.toString
      assert(!p2.contains("KnnCandidates"),
        s"rewrite exposed transformed-domain distances:\n${p2.take(2000)}")
    } finally IndexCatalog.clear()
  }

  test("metric-aware catalog: L2 and cosine indexes over one corpus each serve their own metric") {
    GraftSqlBridge.addOptimizerRule(spark, AnnTopKRewrite)
    IndexCatalog.clear()
    val cosIdx = VectorIndex.build(corpus,
      IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2,
        normalizeForCosine = true), numShards = 2)
    // registration order adversarial: the cosine index FIRST — the raw-L2
    // query must still find the bit-exact L2 server behind it
    IndexCatalog.register(cosIdx, corpus)
    IndexCatalog.register(index, corpus)
    try {
      val l2 = topKPlan(10)
      assert(probesIndex(l2),
        "raw-L2 query must be served by the L2 index despite the cosine registration")
      IndexCatalog.clear()
      val expected = topKPlan(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      IndexCatalog.register(cosIdx, corpus)
      IndexCatalog.register(index, corpus)
      assert(l2.collect().map(r => (r.getLong(0), r.getDouble(1))) === expected)
      val cosIds = corpus
        .select(col("id").as("neighbor_id"),
          VectorFunctions.cosineDistance(col("embedding"), lit(qvec)).as("d"))
        .orderBy(col("d"), col("neighbor_id")).limit(10)
        .select(col("neighbor_id"))
      assert(cosIds.queryExecution.optimizedPlan.toString.contains("KnnCandidates"),
        "cosine query must be served rank-equivalently by the cosine index")
    } finally IndexCatalog.clear()
  }

  test("searchWidth > 0 opts into the ANN beam through the same SQL shape") {
    installed()
    spark.conf.set("spark.graft.ann.searchWidth", "8")
    try {
      val ann = topKPlan(10).collect()
      assert(ann.length === 10)
      val annIds = ann.map(_.getLong(0)).toSet
      val exact = index.query(
        Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
          .select(lit(0L).as("query_id"), col("embedding")),
        k = 10, searchWidth = 8)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      assert(annIds === exact, "rewritten ANN probe must equal the direct probe")
    } finally spark.conf.set("spark.graft.ann.searchWidth", "0")
  }
}
