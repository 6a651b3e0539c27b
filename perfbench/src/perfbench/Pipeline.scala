package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Queries, SparkEntry}

/** pipeline: the SparkEntry.queries surface on fixed tables. Set-up runs
  * Queries.prepareShared and two warm passes; the loop then repeats passes
  * over a fixed slice of SparkEntry.queries, in name order, one query at
  * a time; one pass is one operation, so every query of the slice counts
  * in each sample. Every result's row count and order-independent hash
  * must match the expectation recorded for the fixed tables. */
object Pipeline {
  /** The cheapest query of each family at the smallest tables, with a
    * true streaming query for the s* family and the dehnsw probe for v*
    * (a pass over every query takes minutes, far beyond one run). */
  val Slice: Seq[String] = Seq(
    "b3_asof_join", "d2_ngram_jaccard", "m2_frames", "p3_profile", "q3_topk_orders",
    "s4_stream_dedup", "t1_langid", "v8_ann_probe")

  /** Passes before the loop: per-query times still fall over the first
    * two as the JIT compiles the planner and operator code. */
  val WarmPasses = 2
  /** Passes in the loop, at least. */
  val MinPasses = 5

  def run(r: Run, data: Path, expectFile: Path): Unit = {
    val spark = r.spark
    val dir = data.toAbsolutePath.toString
    val queries = SparkEntry.queries
    Slice.foreach(n => r.check(s"query $n is declared")(queries.contains(n)))
    val expected = readExpect(expectFile)

    /** Runs one query; returns its wall time (ms) and checks its output. */
    def execute(name: String, pass: Long): Double = {
      val (got, ms) = r.timed {
        r.op(name) {
          r.spans(s"queries.$name", pass) { digest(queries(name)(spark, dir)) }
        }
      }
      got.foreach { d =>
        val want = expected.getOrElse(name, null)
        r.check(s"$name: (rows, hash) $d, expected $want")(want == d)
      }
      ms
    }
    /** One pass over the slice: per-query wall times (ms) by name. */
    def pass(id: Long): Map[String, Double] =
      r.spans("pipeline.pass", id) { Slice.map(n => n -> execute(n, id)).toMap }

    val ((), setupMs) = r.timed {
      val (_, prepMs) = r.timed { r.spans("queries.prepareShared") { Queries.prepareShared(spark, dir) } }
      r.layer("queries.prepare_s", prepMs / 1e3, "s")
      (1 to WarmPasses).foreach(i => pass(-i))
    }
    r.e2e("setup_s", setupMs / 1e3, "s")

    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val (_, w) = r.observed {
      val t0 = System.nanoTime()
      while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < r.seconds)
        passes += pass(passes.size)
    }

    def perPass(family: String): Seq[Double] =
      passes.toSeq.map(_.filter(_._1.startsWith(family)).values.sum)
    r.log("per-query median (ms): " +
      Slice.map(n => f"$n ${Stats.median(passes.toSeq.map(_(n)))}%.0f").mkString(" "))
    r.latencies(perPass("").toVector)
    r.figure("stream_s", Stats.median(perPass("s")) / 1e3, "s")

    if (r.traced) {
      val c = w.counters
      val n = passes.size.toDouble
      r.sparkLayer(c, passes.size, perPass("").sum)
      r.layer("streaming.batches", c("stream_batches") / n, "count")
      r.layer("streaming.add_batch_ms", c("add_batch_ms") / n, "ms")
      r.layer("streaming.engine_ms", (c("trigger_ms") - c("add_batch_ms")) / n, "ms")
      r.layer("streaming.wal_ms", c("wal_ms") / n, "ms")
      Slice.map(_.take(1)).distinct.foreach(f =>
        r.layer(s"queries.${f}_s", Stats.median(perPass(f)) / 1e3, "s"))
    }
  }

  /** (rows, order-independent hash): the sum over rows of each row's JSON
    * text hashed to 31 bits, so row order does not matter and duplicate
    * rows still count. */
  private def digest(df: DataFrame): (Long, Long) = {
    val row = df.select(pmod(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*))),
        lit(Int.MaxValue.toLong)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head
    (row.getLong(0), row.getLong(1))
  }

  private def readExpect(f: Path): Map[String, (Long, Long)] =
    Files.readAllLines(f).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, hash.toLong)
    }.toMap
}
