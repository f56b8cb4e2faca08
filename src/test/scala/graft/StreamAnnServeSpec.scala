package graft

import graft.operators.IvfIndex
import graft.sources.Tables
import graft.streaming.{StreamAnnServe, VectorIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The serving half of the live vector service: streamed query batches
  * answer exactly like the batch probe, appended vectors become visible
  * to LATER query batches with no coordination, and a replayed result
  * batch cannot double-write. */
class StreamAnnServeSpec extends AnyFunSuite with SparkTestBase {

  private def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
    (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
      r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet

  test("streamed query batches ≡ batch probe; replay is a no-op; ingest is visible") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_serve").toString
    val (idx, out, ckpt) = (s"$base/idx", s"$base/out", s"$base/ckpt")
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, model, idx)

    // queries staged as TWO files → two micro-batches through the stream
    val staging = s"$base/queries"
    val queries = emb.filter(col("vec_id") < 4)
    queries.filter(col("vec_id") < 2).coalesce(1).write.parquet(s"$staging/b1")
    queries.filter(col("vec_id") >= 2).coalesce(1).write.parquet(s"$staging/b2")
    val stream = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(staging)
    val q = StreamAnnServe.start(stream, IvfIndex.FloatCodec, model, idx, out, ckpt,
      k = 10, nprobe = 3)
    try q.processAllAvailable() finally q.stop()

    val served = StreamAnnServe.results(spark, out).drop("batch_id")
    val batch = IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, idx, queries, model, k = 10, nprobe = 3)
    assert(keyed(served) == keyed(batch),
      "streamed serving must answer exactly like the batch probe")

    // at-least-once replay of an already-committed result batch: no-op
    StreamAnnServe.serveBatch(spark, IvfIndex.FloatCodec, model, idx,
      out, k = 10, nprobe = 3)(
      queries.filter(col("vec_id") < 2), 0L)
    assert(keyed(StreamAnnServe.results(spark, out).drop("batch_id")) == keyed(batch))

    // freshness: ingest an exact duplicate of query 0's vector (new id),
    // then serve a LATER batch of the same query — the duplicate must
    // surface at rank 1 (cosine 1.0) without any restart or re-plan hook
    val dup = queries.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    VectorIngest.start(
      { val s = s"$base/dupstage"; dup.coalesce(1).write.parquet(s)
        spark.readStream.schema(dup.schema).parquet(s) },
      IvfIndex.FloatCodec, model, idx, s"$base/dupckpt") match {
      case iq => try iq.processAllAvailable() finally iq.stop()
    }
    StreamAnnServe.serveBatch(spark, IvfIndex.FloatCodec, model, idx,
      out, k = 10, nprobe = 3)(
      queries.filter(col("vec_id") === 0L), 99L)
    val late = StreamAnnServe.results(spark, out)
      .filter(col("batch_id") === 99L && col("rank") === 1L).head()
    assert(late.getAs[Long]("vec_id") == 1000000L,
      s"appended duplicate must top the later batch: $late")
    assert(math.abs(late.getAs[Double]("cosine") - 1.0) < 1e-9)

    // output compaction: the answer slices fold into ONE base generation
    // with results() content identical — the slice count (and every
    // later listing) is bounded no matter how many batches were served
    val before = keyed(StreamAnnServe.results(spark, out).drop("batch_id"))
    StreamAnnServe.compact(spark, out)
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("delta="))
      .map(_.getName).toSeq
    assert(dirs.length == 1 && dirs.head.startsWith("delta=base@"),
      s"compaction must leave one base generation, got $dirs")
    assert(keyed(StreamAnnServe.results(spark, out).drop("batch_id")) == before)

    // guarded: an answer slice landing after the fold's snapshot aborts
    // loudly — nothing folded, nothing swept (the engine-wide rule)
    import graft.streaming.DeltaLayout
    StreamAnnServe.serveBatch(spark, IvfIndex.FloatCodec, model, idx,
      out, k = 10, nprobe = 3)(
      queries.filter(col("vec_id") === 1L), 100L)
    val snap = DeltaLayout.liveDirs(spark, out) // base + b100
    StreamAnnServe.serveBatch(spark, IvfIndex.FloatCodec, model, idx,
      out, k = 10, nprobe = 3)(
      queries.filter(col("vec_id") === 2L), 101L)
    val e = intercept[IllegalStateException](
      DeltaLayout.compactConcatFrom(spark, out, snap))
    assert(e.getMessage.contains("output compact raced a concurrent writer"))
    assert(new java.io.File(s"$out/delta=b100").exists() &&
      new java.io.File(s"$out/delta=b101").exists())
    // quiesced: the next compact folds both late slices
    StreamAnnServe.compact(spark, out)
    assert(StreamAnnServe.results(spark, out)
      .filter(col("batch_id").isin(100L, 101L)).count() == 20)
  }

  test("compact policy: healthy root untouched, sprawling root folds, evidence rides along") {
    import graft.streaming.DeltaLayout
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cpol").toString
    (0 until 3).foreach { i =>
      DeltaLayout.writeSlice(Seq((i.toLong, i.toLong)).toDF("k", "v"),
        root, s"delta=b$i")
    }
    def names() = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq.sorted

    // 3 slices at budget 3: healthy — the policy does not fire and the
    // maintenance entry must NOT touch the root (no fold, no GC pass)
    val healthy = DeltaLayout.compactPolicy(spark, root, maxSlices = 3)
    assert(healthy.nBatchSlices == 3 && !healthy.compact &&
      healthy.nQuarantined == 0)
    val before = names()
    assert(!DeltaLayout.compactConcatIfNeeded(spark, root, maxSlices = 3))
    assert(names() == before, "a healthy root must be left untouched")

    // a 4th slice crosses the budget: fires, folds to one base, and the
    // rows survive the fold intact
    DeltaLayout.writeSlice(Seq((3L, 3L)).toDF("k", "v"), root, "delta=b3")
    assert(DeltaLayout.compactPolicy(spark, root, maxSlices = 3).compact)
    assert(DeltaLayout.compactConcatIfNeeded(spark, root, maxSlices = 3))
    assert(names() == Seq("delta=base@3"))
    assert(spark.read.parquet(s"$root/delta=base@3").count() == 4)
    val after = DeltaLayout.compactPolicy(spark, root, maxSlices = 3)
    assert(after.nBatchSlices == 0 && !after.compact)

    // quarantined evidence is surfaced by the same policy read
    DeltaLayout.writeMarker(spark,
      s"$root/delta=b9${DeltaLayout.QuarantineSuffix}/_stub", "x")
    assert(DeltaLayout.compactPolicy(spark, root, maxSlices = 3)
      .nQuarantined == 1)
  }
}
