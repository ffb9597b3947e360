package graftbench

import graft.functions.{BloomExpressions, SetExpressions, VectorExpressions}
import graft.pipeline.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probes of the traced run, outside the timed passes.
  *
  * Kernel probes: ns per row of each graft column function over cached
  * arrays derived from row ids, net of an aggregate over the same input
  * columns (array decoding from the cache costs more than most kernels).
  * Funnel probe: the near-dup dedup stages of p11 run one at a time on the
  * workload's documents — candidates, verified pairs, clusters, survivors. */
object Probes {
  private val Rows = 250000L
  private val Reps = 5

  def run(spark: SparkSession, data: String, cores: Int): Map[String, Double] =
    kernels(spark, cores) ++ funnel(spark, data)

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  /** Fastest of `Reps` runs of an aggregate that needs every row of `c`:
    * the least-disturbed run, as usual for a kernel timing. */
  private def evalMs(df: DataFrame, c: Column): Double =
    (1 to Reps).map(_ => timeMs(df.agg(sum(c.cast("double"))).collect())).min

  private def kernels(spark: SparkSession, cores: Int): Map[String, Double] = {
    // sorted distinct id sets over a small universe, so pairs overlap
    def idSet(salt: Int): Column =
      array_sort(array_distinct(transform(sequence(lit(1), lit(48)),
        i => pmod(xxhash64(col("id"), i, lit(salt)), lit(256L)))))
    def vec(salt: Int): Column =
      transform(sequence(lit(1), lit(64)),
        i => ((pmod(xxhash64(col("id"), i, lit(salt)), lit(2001L)) - 1000) / 1000.0).cast("float"))
    val numBits = 1L << 16
    val bloomWords = (0 until (numBits / 64).toInt).map(i => (i.toLong * 0x9E3779B97F4A7C15L) ^ (i.toLong << 7))
    val df = spark.range(0, Rows, 1, cores)
      .select(col("id"), idSet(1).as("a"), idSet(2).as("b"), vec(3).as("u"), vec(4).as("v"),
        pmod(xxhash64(col("id"), lit(5)), lit(numBits)).as("h1"),
        pmod(xxhash64(col("id"), lit(6)), lit(numBits)).as("h2"))
      .cache()
    df.count()
    // each kernel's cost net of an aggregate over the same input columns
    val sets = evalMs(df, size(col("a")) + size(col("b")))
    val vecs = evalMs(df, size(col("u")) + size(col("v")))
    val hashes = evalMs(df, col("h1") + col("h2"))
    def net(ms: Double, base: Double): Double = math.max(0.0, ms - base) * 1e6 / Rows
    val centroids = Array.tabulate(16, 64)((i, j) => math.sin(i * 64 + j + 1.0) / 8)
    val bloom = typedLit(bloomWords.toArray)
    val out = Map(
      "functions.jaccard_ns" -> net(evalMs(df, SetExpressions.jaccardSorted(spark, col("a"), col("b"))), sets),
      "functions.containment_ns" -> net(evalMs(df, SetExpressions.containmentSorted(spark, col("a"), col("b"))), sets),
      "functions.cosine_ns" -> net(evalMs(df, VectorExpressions.cosine(spark, col("u"), col("v"))), vecs),
      "functions.bloom_ns" -> net(evalMs(df,
        BloomExpressions.mightContain(spark, bloom, col("h1"), col("h2"), numBits, 4).cast("int")), hashes),
      "functions.nearest_centroid_ns" -> net(evalMs(
        Similarity.clusterAssign(df.select(col("id").as("vec_id"), col("u").as("embedding")), centroids),
        col("cell")), vecs),
      "functions.scan_ns" -> vecs * 1e6 / Rows)
    df.unpersist()
    out
  }

  /** p11's near-dup dedup (default minhash banding, Jaccard 0.6), one
    * stage at a time. */
  private def funnel(spark: SparkSession, data: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val n = docs.count().toDouble
    val cands = Dedup.minhashCandidates(docs)
    val nCands = cands.count().toDouble
    val verified = Dedup.jaccardVerify(cands, docs, threshold = 0.6)
    val nVerified = verified.count().toDouble
    val comps = Dedup.components(verified.select("id_a", "id_b"))
    val clustered = comps.count().toDouble
    val clusters = comps.select("component").distinct().count().toDouble
    // every unclustered document survives, plus one per cluster
    val survivors = n - clustered + clusters
    Map(
      "pipeline.dedup_candidates" -> nCands,
      "pipeline.dedup_verified" -> nVerified,
      "pipeline.dedup_clusters" -> clusters,
      "pipeline.dedup_verify_yield" -> (if (nCands > 0) nVerified / nCands else 0.0),
      "pipeline.dedup_survivor_frac" -> survivors / n)
  }
}
