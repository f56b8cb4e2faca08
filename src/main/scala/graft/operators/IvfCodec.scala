package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * What one IVF cell layout stores per vector and how its first pass
 * scores a probe — the part that differs between the float, bq and pq
 * layouts. Everything else is one body in [[IvfIndex]], generic over the
 * codec: the cell-partitioned slice layout (write, append, rebuild), the
 * stamp guard, the probe join with its dynamic partition pruning, the
 * probe curve, and the ranked tail. The split mirrors the separation of
 * index layout from compressed representation in "Highly Efficient
 * String Similarity Search and Join over Compressed Indexes" (ICDE 2022)
 * and REPOSE (ICDE 2021).
 */
trait IvfCodec[M] {

  /** The `--layout` value of the service CLI and the persisted
    * `layout.kind` marker. */
  def name: String

  /** True when the layout keeps the float vectors: its first pass is
    * already the exact cosine, and a rebuild retrains from the layout's
    * own contents. Code layouts need the float corpus for both. */
  def storesVectors: Boolean

  /** The coarse quantizer that assigns cells. */
  def coarse(m: M): IvfIndex.Model

  /** The layout stamp ([[IvfIndex.ModelFpFile]]) of a model. */
  def fingerprint(m: M): String

  def train(corpus: DataFrame, nlist: Int, iters: Int,
      stratifiedSeeds: Boolean = false): M

  /** The rows one slice persists: `vec_id`, `cell` and the payload the
    * first pass scores. */
  def encode(corpus: DataFrame, m: M): DataFrame

  /** Query side of the probe join: one row per (query, probed cell) with
    * `query_id`, `cell` and the columns [[score]] reads. */
  def probe(queries: DataFrame, m: M, nprobe: Int): DataFrame

  /** Name of the first-pass score column; higher ranks first. */
  def scoreName: String

  /** First-pass score of a stored row against its probed query. */
  def score(m: M): Column

  /** Model persistence under a model directory (float-bit exact, so the
    * loaded model carries the saved fingerprint). */
  def save(spark: SparkSession, m: M, dir: String): Unit
  def load(spark: SparkSession, dir: String): M
}

object IvfCodec {

  /** The service CLI's layouts by `--layout` name. */
  val byName: Map[String, IvfCodec[_]] =
    Seq(IvfIndex.FloatCodec, IvfBqIndex.Codec, IvfPqIndex.GlobalCodec)
      .map(c => c.name -> c).toMap
}
