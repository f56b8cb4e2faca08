package graft

import graft.operators.{IvfBqIndex, IvfIndex, IvfPqIndex, PqIndex}
import graft.sources.Tables
import graft.streaming.{DeltaLayout, StreamAnnServe, VectorIngest, VectorService}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The model/layout fingerprint stamp and the coordinated rebuild: a
  * stale model fails LOUDLY after a rebuild (search and append, float
  * and composed index), legacy layouts stay readable, and the drained
  * swap loses no vectors while the restarted streams carry the new
  * model. */
class VectorServiceSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = Tables.load(spark, sf001, "embeddings")

  test("stale model fails loudly after rebuild; fresh model and legacy layouts pass") {
    val a = IvfIndex.train(emb, nlist = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_fp").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, a, dir)
    val q = emb.filter(col("vec_id") < 2)
    // pre-rebuild: the stamped fingerprint matches the builder's model
    assert(IvfIndex.layoutFingerprint(spark, dir).contains(a.fingerprint))
    assert(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, q, a, k = 5, nprobe = 2).count() == 10)

    // rebuild on a skewed superset → centroids move, fingerprint changes
    IvfIndex.appendToIndex(IvfIndex.FloatCodec,
      emb.select((col("vec_id") + 5000L).as("vec_id"), col("embedding"),
        col("label")), a, dir)
    val b = IvfIndex.rebuildIndex(IvfIndex.FloatCodec, spark, dir, nlist = 8, iters = 2)
    assert(b.fingerprint != a.fingerprint)
    assert(IvfIndex.layoutFingerprint(spark, dir).contains(b.fingerprint))

    // stale model: search AND append both fail loudly, naming the stamp
    val eSearch = intercept[IllegalStateException](
      IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, q, a, k = 5, nprobe = 2))
    assert(eSearch.getMessage.contains("fingerprint mismatch"))
    val eAppend = intercept[IllegalStateException](
      IvfIndex.appendToIndex(IvfIndex.FloatCodec, emb.limit(1), a, dir))
    assert(eAppend.getMessage.contains("fingerprint mismatch"))
    // the model the rebuild returned serves normally
    assert(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, q, b, k = 5, nprobe = 2).count() == 10)

    // legacy layout (no stamp — pre-round-15 index): check is skipped
    val base = IvfIndex.layoutFingerprint(spark, dir)
    val fs = DeltaLayout.fileSystem(spark, dir)
    val baseDir = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(p => p.getName.startsWith("delta=base")).get
    assert(fs.delete(new org.apache.hadoop.fs.Path(baseDir, IvfIndex.ModelFpFile), false))
    assert(IvfIndex.layoutFingerprint(spark, dir).isEmpty && base.nonEmpty)
    assert(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, q, a, k = 5, nprobe = 2).count() == 10)
  }

  test("composed IVF-PQ stamp covers both stages") {
    val coarse = IvfIndex.train(emb, nlist = 8, iters = 2)
    val pq = PqIndex.train(emb, dim = 64, m = 8, k = 16, iters = 2)
    val m1 = IvfPqIndex.Model(coarse, pq)
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_pq").toString
    IvfIndex.writeIndex(IvfPqIndex.GlobalCodec, emb, m1, dir)
    val q = emb.filter(col("vec_id") < 2)
    assert(IvfIndex.searchIndex(IvfPqIndex.GlobalCodec, spark, dir, q, m1,
      k = 5, nprobe = 8, rerank = Some(IvfIndex.Rerank(emb, 20))).count() == 10)
    // same coarse stage, different CODEBOOKS → different stamp → loud
    val pq2 = PqIndex.train(emb.filter(col("vec_id") % 2 === 0),
      dim = 64, m = 8, k = 16, iters = 2)
    val m2 = IvfPqIndex.Model(coarse, pq2)
    assert(m2.fingerprint != m1.fingerprint)
    val e = intercept[IllegalStateException](
      IvfIndex.searchIndex(IvfPqIndex.GlobalCodec, spark, dir, q, m2, k = 5,
        nprobe = 8, rerank = Some(IvfIndex.Rerank(emb, 20))).count())
    assert(e.getMessage.contains("fingerprint mismatch"))
  }

  test("rebuild policy: skew and occupancy alarms fire independently; ladder matches scaledNlist") {
    import spark.implicits._
    def assigned(cells: Int*) = cells.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("vec_id", "cell")
    // balanced, under-occupied: neither alarm → no rebuild
    val bal = VectorService.rebuildPolicy(
      assigned(0, 0, 1, 1, 2, 2, 3, 3), "bal").head()
    assert(!bal.getAs[Boolean]("skew_exceeded") &&
      !bal.getAs[Boolean]("occupancy_exceeded") &&
      !bal.getAs[Boolean]("rebuild"))
    // a mega-cell: skew 10·3/12 = 2.5 > 2 → rebuild via the skew alarm
    val sk = VectorService.rebuildPolicy(
      assigned(Seq.fill(10)(0) ++ Seq(1, 2): _*), "sk").head()
    assert(sk.getAs[Long]("skew_micro") == 2500000L)
    assert(sk.getAs[Boolean]("skew_exceeded") &&
      !sk.getAs[Boolean]("occupancy_exceeded") &&
      sk.getAs[Boolean]("rebuild"))
    // perfectly balanced but OVER-OCCUPIED cells (mean 3 > targetCell 2):
    // rebuild via the capacity alarm alone
    val oc = VectorService.rebuildPolicy(
      assigned(0, 0, 0, 1, 1, 1), "oc", targetCell = 2L).head()
    assert(oc.getAs[Boolean]("occupancy_exceeded") &&
      !oc.getAs[Boolean]("skew_exceeded") &&
      oc.getAs[Boolean]("rebuild"))
    // the next_nlist CASE ladder is EXACTLY scaledNlist's doubling walk
    for (n <- Seq(1L, 2048L, 2049L, 99999L, 1048576L, 10000000000L))
      assert(spark.sql(
        s"SELECT ${VectorService.nlistLadderSql(n.toString)} AS nl")
        .head().getLong(0) == IvfIndex.scaledNlist(n).toLong,
        s"ladder diverges from scaledNlist at n=$n")
    // …and at a non-default targetCell (the under-laddered row's)
    for (n <- Seq(256L, 257L, 500L, 99999L))
      assert(spark.sql(
        s"SELECT ${VectorService.nlistLadderSql(n.toString,
          VectorService.UnderladderedTargetCell)} AS nl")
        .head().getLong(0) ==
        IvfIndex.scaledNlist(n, VectorService.UnderladderedTargetCell).toLong)

    // the q_service_policy artifact: pack must not fire, drifted fires
    // through SKEW, and the under-laddered row fires through CAPACITY
    // alone with next_nlist stepping ABOVE the layout's cell count
    val rows = VectorService.servicePolicyQuery(spark, sf001).collect()
      .map(r => r.getAs[String]("index_name") -> r).toMap
    assert(!rows("pack").getAs[Boolean]("rebuild"))
    assert(rows("drifted").getAs[Boolean]("skew_exceeded") &&
      rows("drifted").getAs[Boolean]("rebuild"))
    val ul = rows("underladdered")
    assert(ul.getAs[Boolean]("occupancy_exceeded") &&
      !ul.getAs[Boolean]("skew_exceeded") && ul.getAs[Boolean]("rebuild"),
      s"capacity alarm must fire alone on the under-laddered row: $ul")
    assert(ul.getAs[Long]("next_nlist") > ul.getAs[Long]("n_cells"),
      s"the ladder must step UP past the under-laddered layout: $ul")
  }

  test("maintainIfNeeded: healthy index untouched; drifted index swapped at the policy's next_nlist") {
    val a = IvfIndex.train(emb, nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_maint").toString
    val dir = s"$base/idx"
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, a, dir)
    def policy() = VectorService.rebuildPolicyFromCounts(
      IvfIndex.cellStats(spark, dir).withColumnRenamed("n_vectors", "n"),
      dir).head()

    // first maintenance cycle: whatever the tiny fixture's health is,
    // maintainIfNeeded must AGREE with the policy row — swap iff it
    // fires, leave the stamp byte-identical iff it does not
    val stamp0 = IvfIndex.layoutFingerprint(spark, dir)
    val first = VectorService.maintainIfNeeded(spark, dir, Seq.empty)
    val current = first.getOrElse(a)
    if (first.isEmpty)
      assert(IvfIndex.layoutFingerprint(spark, dir) == stamp0,
        "a no-op maintenance cycle must not touch the layout")
    else
      assert(IvfIndex.layoutFingerprint(spark, dir)
        .contains(current.fingerprint))
    // steady state: a second cycle right after is ALWAYS a no-op for
    // the skew alarm (the stratified reseed repairs balance)
    assert(!policy().getAs[Boolean]("skew_exceeded"))

    // force drift: clone the largest cell 4x (the capstone construction)
    val assigned = IvfIndex.assign(emb, current)
    val donorCell = assigned.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell").asc)
      .limit(1).head().getAs[Int]("cell")
    IvfIndex.RebuildDeltaOffsets.foreach { off =>
      IvfIndex.appendToIndex(IvfIndex.FloatCodec,
        assigned.filter(col("cell") === donorCell)
          .select((col("vec_id") + off).as("vec_id"), col("embedding")),
        current, dir)
    }
    val nTotal = IvfIndex.cellStats(spark, dir)
      .agg(sum(col("n_vectors"))).head().getLong(0)
    val decision = policy()
    assert(decision.getAs[Boolean]("rebuild"),
      "the 4x donor clone must trip the skew alarm")
    val swapped = VectorService.maintainIfNeeded(spark, dir, Seq.empty)
    assert(swapped.nonEmpty, "a firing policy must trigger the swap")
    // swapped at the policy's own next_nlist; nothing lost; stamp flipped
    assert(swapped.get.nlist == decision.getAs[Long]("next_nlist").toInt)
    assert(IvfIndex.layoutFingerprint(spark, dir)
      .contains(swapped.get.fingerprint))
    assert(IvfIndex.readIndex(spark, dir).count() == nTotal)
    // post-repair: the skew alarm is cleared (stratified reseed)
    assert(!policy().getAs[Boolean]("skew_exceeded"))
  }

  test("rebuild guards against its TRAINING-time snapshot: a slice landing after it aborts loudly, nothing lost") {
    val a = IvfIndex.train(emb, nlist = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_rebuild_race").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") % 2 === 0), a, dir)
    // the rebuild fixes its input HERE (rebuildIndex's pre-training
    // snapshot); a slice appended at any later point — i.e. during the
    // long training window — must abort the commit, not be counted into
    // the fold generation while absent from the staged base (the
    // round-16 guards compared against a post-training listing, which
    // silently folded exactly this interleaving)
    val snapshot = IvfIndex.liveSliceDirs(spark, dir)
    IvfIndex.appendToIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding", "label"), a, dir, batchId = 0L)
    val e = intercept[IllegalStateException] {
      IvfIndex.commitRebuild(spark, dir,
        IvfIndex.assign(emb.filter(col("vec_id") % 2 === 0), a),
        Some(a.fingerprint), snapshot)
    }
    assert(e.getMessage.contains("raced a concurrent writer"))
    // aborted cleanly: old stamp live, staging discarded, EVERY vector
    // — including the concurrent slice's — still readable
    assert(IvfIndex.layoutFingerprint(spark, dir).contains(a.fingerprint))
    assert(!new java.io.File(s"$dir/compact.staging").exists())
    assert(IvfIndex.readIndex(spark, dir).count() == emb.count())
    // after the writer quiesces, the rebuild goes through and folds all
    val b = IvfIndex.rebuildIndex(IvfIndex.FloatCodec, spark, dir, nlist = 4, iters = 1)
    assert(IvfIndex.layoutFingerprint(spark, dir).contains(b.fingerprint))
    assert(IvfIndex.readIndex(spark, dir).count() == emb.count())
  }

  test("append racing a rebuild self-heals: slice rolled back, loud throw, reads stay clean") {
    val a = IvfIndex.train(emb, nlist = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_append_race").toString
    IvfIndex.writeIndex(IvfBqIndex.Codec, emb, a, dir)
    // flip the layout under the appender's feet (the race's timing: its
    // entry check passed against model a, the rebuild committed before
    // its slice verified) — then drive the verified append with the OLD
    // fingerprint, as the shared helper sees it mid-race
    val b = IvfIndex.rebuildIndex(IvfBqIndex.Codec, spark, dir, nlist = 4,
      iters = 1, corpus = Some(emb))
    assert(IvfIndex.layoutFingerprint(spark, dir)
      .contains(IvfBqIndex.Codec.fingerprint(b)))
    val e = intercept[IllegalStateException] {
      IvfIndex.appendSliceVerified(IvfIndex.assign(emb.limit(2), a),
        dir, batchId = 99L, IvfBqIndex.Codec.fingerprint(a))
    }
    assert(e.getMessage.contains("append raced a rebuild"))
    // self-healed: the orphan is GONE (not left for readers to trip on)
    assert(!new java.io.File(s"$dir/delta=b99").exists())
    assert(IvfIndex.readIndex(spark, dir).count() == emb.count())
  }

  test("composed BQ layout: coordinated swap drains ingest, rebuilds the code layout, stale model rejected") {
    val a = IvfIndex.train(emb, nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_bq_svc").toString
    val dir = s"$base/bq"
    IvfIndex.writeIndex(IvfBqIndex.Codec, emb.filter(col("vec_id") % 2 === 0), a, dir)

    // live ingest of the odd half INTO THE CODE LAYOUT (sign codes are
    // assigned and encoded per batch — the bq flavor of VectorIngest)
    val staging = s"$base/stage"
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$staging/b1")
    val ingest = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
      .parquet(staging)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        IvfIndex.appendToIndex(IvfBqIndex.Codec, b, a, dir))
      .start()
    ingest.processAllAvailable()
    assert(IvfIndex.readIndex(spark, dir).count() == emb.count())

    // the swap, PARAMETERIZED over the layout kind: same drain/stop
    // coordination, the code layout's own rebuild (coarse retrain only —
    // the sign encode is training-free)
    val b = VectorService.coordinatedSwap(Seq(ingest))(
      IvfIndex.rebuildIndex(IvfBqIndex.Codec, spark, dir, nlist = 8,
        iters = 2, corpus = Some(emb)))
    assert(IvfIndex.layoutFingerprint(spark, dir)
      .contains(IvfBqIndex.Codec.fingerprint(b)))
    // drained swap loses nothing
    assert(IvfIndex.readIndex(spark, dir).count() == emb.count())

    // stale coarse model: search AND append rejected loudly post-rebuild
    val q = emb.filter(col("vec_id") < 2)
    val eSearch = intercept[IllegalStateException](
      IvfIndex.searchIndex(IvfBqIndex.Codec, spark, dir, q, a, k = 5,
        nprobe = 2, rerank = Some(IvfIndex.Rerank(emb, 10))))
    assert(eSearch.getMessage.contains("fingerprint mismatch"))
    val eAppend = intercept[IllegalStateException](
      IvfIndex.appendToIndex(IvfBqIndex.Codec, emb.limit(1), a, dir))
    assert(eAppend.getMessage.contains("fingerprint mismatch"))
    // the rebuilt model serves the rebuilt layout
    assert(IvfIndex.searchIndex(IvfBqIndex.Codec, spark, dir, q, b,
      k = 5, nprobe = 8, rerank = Some(IvfIndex.Rerank(emb, 20))).count() == 10)
  }

  test("coordinated rebuild: drained swap loses nothing; restarted streams carry the new model") {
    val a = IvfIndex.train(emb, nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_svc").toString
    val (idx, out) = (s"$base/idx", s"$base/out")
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") % 2 === 0), a, idx)

    // live ingest of the odd half, file-per-batch
    val staging = s"$base/stage"
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$staging/b1")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
      .parquet(staging)
    val ingest = VectorIngest.start(stream, IvfIndex.FloatCodec, a, idx, s"$base/ckpt")
    ingest.processAllAvailable()

    // the swap: drain, stop, rebuild — nothing queued is lost
    val b = VectorService.coordinatedRebuild(spark, idx, nlist = 8,
      streams = Seq(ingest), iters = 2)
    assert(b.fingerprint != a.fingerprint)
    assert(IvfIndex.cellStats(spark, idx)
      .agg(sum(col("n_vectors"))).head().getLong(0) == emb.count())

    // restarted serving carries the NEW model and answers exactly like a
    // from-scratch probe; the stale model is rejected loudly
    val queries = emb.filter(col("vec_id") < 2)
    StreamAnnServe.serveBatch(spark, IvfIndex.FloatCodec, b, idx,
      out, k = 5, nprobe = 2)(queries, 0L)
    assert(StreamAnnServe.results(spark, out).count() == 10)
    val e = intercept[IllegalStateException](
      StreamAnnServe.serveBatch(spark, IvfIndex.FloatCodec, a, idx,
        out, k = 5, nprobe = 2)(queries, 1L))
    assert(e.getMessage.contains("fingerprint mismatch"))

    // restarted ingest on the SAME checkpoint continues above the folded
    // generation with the new model
    emb.filter(col("vec_id") % 2 === 1)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"), col("label"))
      .coalesce(1).write.parquet(s"$staging/b2")
    val resumed = VectorIngest.start(
      spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
        .parquet(staging),
      IvfIndex.FloatCodec, b, idx, s"$base/ckpt")
    try resumed.processAllAvailable() finally resumed.stop()
    assert(IvfIndex.cellStats(spark, idx)
      .agg(sum(col("n_vectors"))).head().getLong(0)
      == emb.count() + emb.filter(col("vec_id") % 2 === 1).count())
  }

  test("fresh-checkpoint ingest claims fresh slice ids: new batches are never dropped as replays") {
    // the r17 advisory: structured streaming numbers every checkpoint's
    // batches from 0, so a FRESH checkpoint on an index that already has
    // slices re-addressed delta=b0 — writeSlice treated the genuinely new
    // batch as a replay no-op (silent drop), and post-rebuild the id
    // could land ≤ the folded generation (invisible, then GC'd). The
    // persisted slice-id offset closes both.
    val a = IvfIndex.train(emb, nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_ingoff").toString
    val idx = s"$base/idx"
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") < 300), a, idx)
    def total() = IvfIndex.cellStats(spark, idx)
      .agg(sum(col("n_vectors"))).head().getLong(0)
    val n0 = total()

    def ingest(srcDir: String, ckpt: String): Unit = {
      val q = VectorIngest.start(
        spark.readStream.schema(emb.schema).parquet(srcDir), IvfIndex.FloatCodec, a, idx,
        ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
    }
    // first stream, fresh checkpoint on a base-only index → offset 0 → b0
    val d1 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    d1.write.parquet(s"$base/d1"); ingest(s"$base/d1", s"$base/ckpt1")
    assert(total() == n0 + d1.count())
    assert(new java.io.File(s"$idx/delta=b0").exists())

    // SECOND stream with a brand-new checkpoint: its batch 0 must not
    // alias the live delta=b0 — offset claims the next free id
    val d2 = emb.filter(col("vec_id") >= 400)
    d2.write.parquet(s"$base/d2"); ingest(s"$base/d2", s"$base/ckpt2")
    assert(total() == n0 + d1.count() + d2.count(),
      "a fresh checkpoint's first batch was dropped as a replay")
    assert(new java.io.File(s"$idx/delta=b1").exists())
    // the offset is PERSISTED in the checkpoint: re-running the same
    // checkpoint replays nothing (exactly-once addressing survives)
    ingest(s"$base/d2", s"$base/ckpt2")
    assert(total() == n0 + d1.count() + d2.count())

    // post-rebuild: the fold commits base@1; a fresh checkpoint must land
    // ABOVE the folded generation (b0 would be invisible + GC-bait)
    val b = IvfIndex.rebuildIndex(IvfIndex.FloatCodec, spark, idx, nlist = 8, iters = 2)
    val nAll = total()
    val d3 = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 7000L).as("vec_id"), col("embedding"), col("label"))
    d3.write.parquet(s"$base/d3")
    val q3 = VectorIngest.start(
      spark.readStream.schema(emb.schema).parquet(s"$base/d3"), IvfIndex.FloatCodec, b, idx,
      s"$base/ckpt3", trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q3.awaitTermination() finally q3.stop()
    assert(total() == nAll + d3.count(),
      "a post-rebuild fresh checkpoint landed beneath the folded generation")
    assert(new java.io.File(s"$idx/delta=b2").exists())
  }
}
