package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Persistence for the engine's learned artifacts — BPE merge tables and
 * PCA models — as plain parquet under a model directory: train once on
 * the cluster, ship the artifact, load it anywhere (including a job that
 * never sees the training corpus). The schemas stay trivially
 * inspectable (`merges`: rank/lhs/rhs/count rows; `pca`: tagged
 * (kind, component, dim, value) rows). The IVF layout models persist
 * through their [[IvfCodec]] (`save`/`load`) on the centroid and
 * codebook rows defined here.
 *
 * Writes go through a temp-dir rename via the normal parquet committer
 * (job-level atomicity on a local/HDFS-like FS, same guarantee every
 * other store in the engine relies on).
 */
object ModelStore {

  def saveBpeMerges(spark: SparkSession, merges: Seq[BpeTrainer.Merge],
      path: String): Unit = {
    import spark.implicits._
    merges.toDF().write.mode("overwrite").parquet(s"$path/merges")
  }

  def loadBpeMerges(spark: SparkSession, path: String): Seq[BpeTrainer.Merge] = {
    spark.read.parquet(s"$path/merges")
      .orderBy("rank").collect()
      .map(r => BpeTrainer.Merge(r.getAs[Int]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("count")))
      .toSeq
  }

  def savePcaModel(spark: SparkSession, m: EmbeddingPca.Model, path: String): Unit = {
    import spark.implicits._
    val d = m.mean.length
    val rows =
      m.mean.zipWithIndex.map { case (v, i) => ("mean", -1, i, v) } ++
      m.eigenvalues.zipWithIndex.map { case (v, k) => ("eigenvalue", k, -1, v) } ++
      (for (k <- m.components.indices; i <- 0 until d)
        yield ("component", k, i, m.components(k)(i))) ++
      Seq(("trace", -1, -1, m.covTrace))
    rows.toSeq.toDF("kind", "component", "dim", "value")
      .write.mode("overwrite").parquet(s"$path/pca")
  }

  /** Centroid-matrix rows (cell, dim, value) — FLOAT-BIT EXACT through
    * parquet's float32 physical type, so a loaded model's fingerprint
    * equals the saved one's and the layout stamp
    * ([[IvfIndex.requireModelMatches]]) survives the round-trip: this is
    * what lets separate CLI PROCESSES share one index safely — every
    * invocation re-loads the artifact, and a stale artifact fails the
    * stamp loudly exactly like a stale in-memory model. */
  private[operators] def saveCentroids(spark: SparkSession,
      centroids: Seq[Seq[Float]], dir: String): Unit = {
    import spark.implicits._
    val rows = for (c <- centroids.indices; d <- centroids(c).indices)
      yield (c, d, centroids(c)(d))
    rows.toDF("cell", "dim", "value").write.mode("overwrite").parquet(dir)
  }

  private[operators] def loadCentroids(spark: SparkSession, dir: String): Seq[Seq[Float]] =
    spark.read.parquet(dir).collect()
      .groupBy(_.getAs[Int]("cell")).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Float]("value")).toSeq
      }

  /** Product codebooks as (sub, code, dim, value) float rows plus a
    * one-row (dim, m) meta — every shape parameter of
    * [[PqIndex.Codebooks]] is explicit, so the loaded books frame the
    * same fingerprint ([[IvfPqIndex.Model.fingerprint]] hashes the shape
    * before the float stream). */
  def savePqCodebooks(spark: SparkSession, cb: PqIndex.Codebooks,
      dir: String): Unit = {
    import spark.implicits._
    val rows = for {
      s <- cb.books.indices; j <- cb.books(s).indices
      d <- cb.books(s)(j).indices
    } yield (s, j, d, cb.books(s)(j)(d))
    rows.toDF("sub", "code", "dim", "value")
      .write.mode("overwrite").parquet(s"$dir/books")
    Seq((cb.dim, cb.m)).toDF("dim", "m")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadPqCodebooks(spark: SparkSession, dir: String): PqIndex.Codebooks = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val rows = spark.read.parquet(s"$dir/books").collect()
    val books = rows.groupBy(_.getAs[Int]("sub")).toSeq.sortBy(_._1)
      .map { case (_, subRows) =>
        subRows.groupBy(_.getAs[Int]("code")).toSeq.sortBy(_._1)
          .map { case (_, cw) =>
            cw.sortBy(_.getAs[Int]("dim")).map(_.getAs[Float]("value")).toSeq
          }
      }
    PqIndex.Codebooks(meta.getAs[Int]("dim"), meta.getAs[Int]("m"), books)
  }

  /** OPQ model: the orthonormal rotation rows plus the codebooks trained
    * in the rotated space — float-bit exact like every save here. */
  def saveOpqModel(spark: SparkSession, m: OpqIndex.Model,
      path: String): Unit = {
    saveCentroids(spark, m.rotation.map(_.toSeq).toSeq, s"$path/opq/rotation")
    savePqCodebooks(spark, m.pq, s"$path/opq")
  }

  def loadOpqModel(spark: SparkSession, path: String): OpqIndex.Model =
    OpqIndex.Model(
      loadCentroids(spark, s"$path/opq/rotation").map(_.toArray).toArray,
      loadPqCodebooks(spark, s"$path/opq"))

  /** Corpus-identity WITNESS: the five lowest-`vec_id` (id, embedding)
    * rows of the build/retrain corpus, persisted beside the model. The
    * layout stamp binds index ↔ model, but nothing bound index ↔
    * `--corpus`: the code layouts store CODES only, so serve/rebuild
    * rerank and retrain against whatever float table the flag names,
    * and a WRONG table with the same schema produced silently wrong
    * answers — the one unguarded silent-wrongness path left in the
    * service CLI after round 18's stamps. The witness is the binding:
    * KB-sized, written once per build/retrain, shipped with the
    * artifact like the serving decision. */
  def saveCorpusWitness(spark: SparkSession, corpus: org.apache.spark.sql.DataFrame,
      path: String): Unit =
    corpus.select("vec_id", "embedding").orderBy("vec_id").limit(5)
      .write.mode("overwrite").parquet(s"$path/witness")

  /** Require that `corpus` reproduces the witness rows saved by
    * [[saveCorpusWitness]] FLOAT-BIT exactly — a ≤5-id pushed-down point
    * lookup (row-group pruned; O(1) at any corpus size), paid once per
    * CLI invocation before any index data is touched. A different
    * table, a perturbed rewrite, or a corpus missing the witness ids
    * dies loudly; an ingest-GROWN superset — the intended workflow —
    * passes, because the build-time rows ride along unchanged. An
    * artifact without a witness (pre-round-18) is tolerated, like the
    * absent `layout.kind` marker. */
  def requireCorpusWitness(spark: SparkSession,
      corpus: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/witness")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    val expect = rows(spark.read.parquet(dir.toString))
    val got = rows(corpus.filter(
      col("vec_id").isin(expect.keySet.toSeq: _*)))
    val bad = expect.keySet.toSeq.sorted
      .filter(id => !got.get(id).contains(expect(id)))
    if (bad.nonEmpty) throw new IllegalStateException(
      s"corpus witness mismatch under $path: --corpus does not reproduce " +
        s"the model's witness rows (vec_id ${bad.mkString(", ")} missing " +
        "or not float-bit equal) — the index was built/retrained from a " +
        "different table; pass that corpus (a superset grown by ingest " +
        "passes)")
  }

  /** The index's MEASURED serving decision persisted next to its model
    * — (nprobe, target) one-row parquet: a fresh CLI process cannot
    * re-derive the curve it never measured, so the build/rebuild that
    * DID measure it ships the decision with the artifact and `serve`
    * defaults to it (the engine-wide "no unmeasured serving probe"
    * doctrine, across processes). */
  def saveServingProbe(spark: SparkSession, nprobe: Int, targetMicro: Long,
      path: String): Unit = {
    import spark.implicits._
    Seq((nprobe, targetMicro)).toDF("nprobe", "target_micro")
      .write.mode("overwrite").parquet(s"$path/serving")
  }

  def loadServingProbe(spark: SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/serving")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(p.toString).head().getAs[Int]("nprobe"))
  }

  def loadPcaModel(spark: SparkSession, path: String): EmbeddingPca.Model = {
    val rows = spark.read.parquet(s"$path/pca").collect()
    def of(kind: String) = rows.filter(_.getAs[String]("kind") == kind)
    val mean = of("mean").sortBy(_.getAs[Int]("dim"))
      .map(_.getAs[Double]("value"))
    val evals = of("eigenvalue").sortBy(_.getAs[Int]("component"))
      .map(_.getAs[Double]("value"))
    val d = mean.length
    val comps = of("component")
      .groupBy(_.getAs[Int]("component")).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        val arr = new Array[Double](d)
        rs.foreach(r => arr(r.getAs[Int]("dim")) = r.getAs[Double]("value"))
        arr
      }.toArray
    val trace = of("trace").head.getAs[Double]("value")
    EmbeddingPca.Model(mean, evals, comps, trace)
  }
}
