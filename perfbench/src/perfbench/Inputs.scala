package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded vector corpus: a Gaussian mixture with a low intrinsic
  * dimension, like real embeddings. 64 cluster centres live in a 16-d
  * latent space; a point is its centre plus latent spread, projected to
  * 128-d by one fixed random matrix, plus small isotropic noise. (Isotropic
  * 128-d clusters give the dehnsw graph no structure to exploit: recall@10
  * stays under 0.5 at any width.)
  *
  * Every vector is a pure function of (seed, id), so executors generate
  * their own rows and the id ranges below never overlap: the same seed
  * always gives the same corpus, queries and ingest batches. */
final case class Inputs(seed: Long) {
  import Inputs._

  private val (centres, projection) = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    (Array.fill(Clusters, Latent)(gauss(r)),
     Array.fill(Latent, Dim)(gauss(r) / math.sqrt(Latent)))
  }

  def vector(id: Long): Array[Float] = {
    val r = new SplittableRandom(mix(seed, id))
    val c = centres(r.nextInt(Clusters))
    val z = Array.tabulate(Latent)(j => c(j) + Spread * gauss(r))
    val out = new Array[Float](Dim)
    var d = 0
    while (d < Dim) {
      var s = 0.0
      var j = 0
      while (j < Latent) { s += z(j) * projection(j)(d); j += 1 }
      out(d) = (s + Noise * gauss(r)).toFloat
      d += 1
    }
    out
  }

  /** Rows (id, embedding) for ids [from, until), generated in executors. */
  def frame(spark: SparkSession, from: Long, until: Long, partitions: Int,
      idCol: String = "id"): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(from, until, 1, partitions).as[Long].rdd
      .mapPartitions(_.map(id => (id, self.vector(id))))
      .toDF(idCol, "embedding")
  }

  /** The same rows built on the driver (query batches, kernel samples). */
  def local(from: Long, until: Long): Array[(Long, Array[Float])] =
    (from until until).map(id => (id, vector(id))).toArray
}

object Inputs {
  val Dim = 128
  val Latent = 16
  val Clusters = 64
  val Spread = 0.35
  val Noise = 0.01

  // disjoint id ranges: corpus, ingest batches, queries
  val CorpusBase = 0L
  val IngestBase = 1000000000L
  val QueryBase = 2000000000L

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; 1 - u keeps the log argument in (0, 1]
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
