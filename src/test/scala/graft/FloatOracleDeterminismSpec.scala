package graft

import graft.operators.{Dedup, IvfIndex, IvfPqIndex, PqIndex, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Round-6 verdict item 1: float-kernel queries must hash identically no
 * matter how the session that produced them was partitioned.
 *
 * Two independent guarantees are asserted:
 *
 *  1. TRAINING IS ORDER-INDEPENDENT. `IvfIndex.train` / `PqIndex.train`
 *     sum each dimension as DECIMAL (exact, associative), so models built
 *     from the same corpus under different partition counts — the stand-in
 *     for "three different sessions at cpus∈{4,8,32}", since one JVM holds
 *     one local[N] master — are equal bit-for-bit. Under the old double
 *     `avg` the centroids differed at the ulp per partitioning, which made
 *     every oracle literal generated from them a per-session lottery.
 *
 *  2. QUANTIZED OUTPUTS ABSORB ULP NOISE. Every score a float query emits,
 *     ranks by, or thresholds on is rounded (9 decimals; 6 for DECIMAL(18,6)
 *     sums). Perturbing a model literal by one ulp — the magnitude of a
 *     legitimate cross-engine accumulation difference — must leave the
 *     collected query outputs unchanged.
 */
class FloatOracleDeterminismSpec extends AnyFunSuite with SparkTestBase {

  // NOTE: shares the suite-wide session (stopping a getOrCreate'd session
  // here would kill it for every later suite). Different partition counts
  // stand in for different sessions via repartition(n) below.
  private def emb: DataFrame = Tables.load(spark, sf001, "embeddings")

  /** Deterministic canonical form of a result for cross-model equality. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("IVF training is partition-order independent (cpus 4/8/32 stand-in)") {
    val models = Seq(4, 8, 32).map(n =>
      IvfIndex.train(emb.repartition(n), nlist = 8, iters = 2))
    assert(models.map(_.centroids).distinct.size == 1,
      "centroids must be bit-identical across partitionings")
  }

  test("PQ training is partition-order independent") {
    val books = Seq(4, 8, 32).map(n =>
      PqIndex.train(emb.repartition(n), dim = 64, m = 8, k = 16, iters = 2))
    assert(books.map(_.books).distinct.size == 1,
      "codebooks must be bit-identical across partitionings")
  }

  test("float-query outputs hash-equal across differently partitioned sessions") {
    val results = Seq(4, 8, 32).map { n =>
      val corpus = emb.repartition(n)
      val model = IvfIndex.train(corpus, nlist = 8, iters = 2)
      Seq(
        canon(IvfIndex.clusterProfiles(corpus, model)),
        canon(IvfIndex.outliers(corpus, model, minCos = 0.25)
          .select("vec_id", "cell", "centroid_cos")),
        canon(IvfIndex.search(IvfIndex.FloatCodec, IvfIndex.assign(corpus, model),
          corpus.filter(col("vec_id") < 5), model, k = 20, nprobe = 2)))
    }
    assert(results.distinct.size == 1,
      "cluster profiles / outliers / search must be identical per partitioning")
  }

  test("quantization absorbs double-ulp kernel divergence") {
    // The oracle replays model literals EXACTLY (Double.toString round-
    // trips), so the only legitimate cross-engine difference is the
    // accumulation order of the kernel itself — a DOUBLE-ulp (~1e-16
    // relative) wiggle on the final score. round(x, 9) / round(x, 6) must
    // map x, nextUp(x) and nextDown(x) to the same quantum for every raw
    // cosine the queries actually produce.
    val model = IvfIndex.train(emb, nlist = 8, iters = 2)
    def r(v: Double, scale: Int): Double =
      BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    val raw = IvfIndex.clusterAssign(emb, model)
      .select(col("_centroid_cos_raw")).collect().map(_.getDouble(0))
    assert(raw.nonEmpty)
    Seq(9, 6).foreach { scale =>
      raw.foreach { v =>
        assert(r(v, scale) == r(Math.nextUp(v), scale) &&
          r(v, scale) == r(Math.nextDown(v), scale),
          s"$v straddles a scale-$scale rounding boundary within 1 ulp")
      }
    }
  }

  test("ANN / near-dup / ADC scores are quantized to 9 decimals") {
    def allAtScale(df: DataFrame, c: String, scale: Int): Unit =
      df.select(col(c)).collect().foreach { r =>
        val v = r.getDouble(0)
        val q = BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
        assert(v == q, s"$c=$v is not quantized at scale $scale")
      }
    val queries = emb.filter(col("vec_id") < 3)
    allAtScale(Similarity.bruteForceTopK(emb, queries, 5), "cosine", 9)
    allAtScale(Dedup.embeddingNearDup(emb, planes = 6, threshold = 0.1),
      "cosine", 9)
    val pq = PqIndex.train(emb, iters = 1)
    allAtScale(PqIndex.searchAdc(PqIndex.encode(emb, pq), queries, pq, 5),
      "adc_score", 9)
  }
}
