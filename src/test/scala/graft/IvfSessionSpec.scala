package graft

import graft.operators.{IvfIndex, Similarity}
import graft.sources.Tables
import graft.streaming.Sessionize
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfSessionSpec extends AnyFunSuite with SparkTestBase {

  test("scaled nlist/nprobe ladder: constant cell occupancy, sqrt probes, fixture pins") {
    // occupancy bound: the chosen nlist keeps n <= targetCell * nlist
    // wherever the ladder can (below the max clamp)
    Seq(1L, 500L, 2000L, 20000L, 60000L, 1000000L).foreach { n =>
      val nl = IvfIndex.scaledNlist(n)
      if (nl < 4096) assert(n <= 256L * nl, s"n=$n nlist=$nl breaks occupancy")
      assert(nl >= 8 && nl <= 4096 && Integer.bitCount(nl) == 1)
    }
    // fixture pins — the verify-scale corpora keep the round-13 model
    // shape (oracle continuity), the scaled decades grow it
    assert(IvfIndex.scaledNlist(500L) == 8)     // sf0.001 / sf0.01
    assert(IvfIndex.scaledNlist(2000L) == 8)    // sf0.1
    assert(IvfIndex.scaledNlist(20000L) == 128) // sf1
    assert(IvfIndex.scaledNlist(60000L) == 256) // sf3
    // monotone in n
    val ns = Seq(100L, 1000L, 5000L, 20000L, 80000L, 400000L)
    assert(ns.map(IvfIndex.scaledNlist(_)) == ns.map(IvfIndex.scaledNlist(_)).sorted)
    // probes: floor(sqrt(nlist)) with a floor of 2 — 2 at the verify
    // scales (bit-identical to the fixed-parameter era), sublinear after
    assert(IvfIndex.scaledNprobe(8) == 2)
    assert(IvfIndex.scaledNprobe(128) == 11)
    assert(IvfIndex.scaledNprobe(256) == 16)
    assert(IvfIndex.scaledNprobe(4096) == 64)
  }

  test("filtered IVF search: hits share the query's label; full probe == exact filtered top-k") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val hits = IvfIndex.ivfFilteredQuery(spark, sf001).collect()
    assert(hits.nonEmpty)
    hits.foreach { r =>
      assert(labels(r.getAs[Long]("vec_id")) == labels(r.getAs[Long]("query_id")),
        "a pre-filtered hit must share the query's label")
    }
    // nprobe = nlist removes the probe cut: must equal the exact
    // pre-filtered top-k (same pred, same tiebreaks)
    val model = IvfIndex.train(emb, nlist = 4, iters = 1)
    val queries = emb.filter(col("vec_id") < 3)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rank"))).toSet
    val full = key(IvfIndex.search(IvfIndex.FloatCodec, IvfIndex.assign(emb, model),
      queries, model, k = 10, nprobe = 4,
      pred = col("label") === col("query_label")))
    val exact = key(graft.operators.Similarity.filteredTopK(emb, queries,
      col("label") === col("query_label"), k = 10))
    assert(full == exact, "full-probe filtered search must equal exact filtered top-k")

    // the 100 TB claims hold THROUGH the filter: the persisted-layout plan
    // keeps dynamic partition pruning on cell (only probed directories
    // open) and pushes the corpus-side label conjunct into the scan
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_filt").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, model, dir)
    val plan = IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, queries, model,
        k = 10, nprobe = 2, pred = col("label") === col("query_label"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected DPP partition filter in the filtered plan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(label)") ||
      plan.contains("IsNotNull(label)"),
      s"expected the label conjunct pushed into the pruned scan:\n$plan")
  }

  test("probe curve: candidates and recall monotone in nprobe; full probe is exact") {
    val rows = IvfIndex.probeCurveQuery(spark, sf001).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_matches"), r.getAs[Long]("recall_micro")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == IvfIndex.probeLadder(8).map(_.toLong))
    rows.sliding(2).foreach {
      case Array((_, c1, m1, _), (_, c2, m2, _)) =>
        assert(c2 >= c1, "probing more cells cannot score fewer candidates")
        assert(m2 >= m1, "probing more cells cannot lower recall")
      case _ =>
    }
    // nprobe = nlist probes everything: the search IS the exact baseline
    assert(rows.last._4 == 1000000L,
      s"full probe must hit recall 1.0, got ${rows.last}")
  }

  test("IVF: training is deterministic and assignment covers all vectors") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val m1 = IvfIndex.train(emb, nlist = 8, iters = 2)
    val m2 = IvfIndex.train(emb, nlist = 8, iters = 2)
    assert(m1.centroids == m2.centroids)
    assert(m1.nlist == 8)
    val assigned = IvfIndex.assign(emb, m1)
    assert(assigned.count() == emb.count())
    assert(assigned.filter(col("cell") < 0 || col("cell") >= 8).count() == 0)
  }

  test("IVF search: scores are exact cosines; nprobe=nlist recovers brute force") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 4, iters = 2)
    val assigned = IvfIndex.assign(emb, model)
    val queries = emb.filter(col("vec_id") < 3)

    val exact = Similarity.bruteForceTopK(emb, queries, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("cosine"))
      .toMap
    // full probe == exact top-k
    val full = IvfIndex.search(IvfIndex.FloatCodec, assigned, queries, model, k = 10, nprobe = 4).collect()
    assert(full.length == 30)
    full.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      assert(exact.contains(key), s"ivf full-probe returned non-topk pair $key")
      assert(math.abs(exact(key) - r.getAs[Double]("cosine")) < 1e-9)
    }
    // partial probe: a subset of cells, still k results per query, exact scores
    val partial = IvfIndex.search(IvfIndex.FloatCodec, assigned, queries, model, k = 10, nprobe = 2)
      .collect()
    assert(partial.nonEmpty)
    partial.foreach { r =>
      exact.get((r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
        .foreach(c => assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9))
    }
  }

  test("IVF persisted index: cell-partitioned layout, search prunes partitions") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, model, dir)
    // physical layout: one directory per cell inside the base slice
    val cellDirs = new java.io.File(s"$dir/delta=base").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 8)

    val queries = emb.filter(col("vec_id") < 3)
    val viaIndex = IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, queries, model, k = 10, nprobe = 2)
    // dynamic partition pruning: unprobed cell directories are never read
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"expected DPP partition filter in:\n$plan")
    // identical results to the in-memory assignment path
    val direct = IvfIndex.search(IvfIndex.FloatCodec, IvfIndex.assign(emb, model), queries, model, k = 10, nprobe = 2)
    val ix = viaIndex.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
    val dx = direct.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
    assert(ix == dx)
  }

  test("IVF append maintenance: delta routed into existing cells, search sees it") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, iters = 2)
    val old = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, old, model, dir)
    def leaves() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(_.getAbsolutePath).toSet
    }
    val filesBefore = leaves()
    IvfIndex.appendToIndex(IvfIndex.FloatCodec, delta, model, dir)
    // append lands as a NEW slice, never rewriting the old files
    val filesAfter = leaves()
    assert(filesBefore.subsetOf(filesAfter) && filesAfter.size > filesBefore.size)
    assert(new java.io.File(s"$dir/delta=b0").isDirectory,
      "batch append must land as a batch-id-addressed slice")
    // the maintained index answers exactly like a from-scratch build
    val queries = emb.filter(col("vec_id") < 3)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivf_fresh").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, model, fresh)
    assert(keyed(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, queries, model, k = 10, nprobe = 3))
      == keyed(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, fresh, queries, model, k = 10, nprobe = 3)))
  }

  test("streaming vector ingest: micro-batches append into the live IVF index") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, iters = 2)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_stream").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, base, model, dir)
    // stage the delta as TWO files → two micro-batches through the stream
    val staging = java.nio.file.Files.createTempDirectory("graft_ivf_staging").toString
    emb.filter(col("vec_id") % 4 === 1).coalesce(1).write.parquet(s"$staging/b1")
    emb.filter(col("vec_id") % 4 === 3).coalesce(1).write.parquet(s"$staging/b2")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_ckpt").toString
    val stream = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(staging)
    val q = graft.streaming.VectorIngest.start(stream, IvfIndex.FloatCodec, model, dir,
      ckpt)
    try q.processAllAvailable() finally q.stop()
    // every vector landed exactly once; footer stats see the appends
    assert(IvfIndex.cellStats(spark, dir)
      .agg(sum(col("n_vectors"))).head().getLong(0) == emb.count())
    // the streamed index answers exactly like a from-scratch build
    val queries = emb.filter(col("vec_id") < 3)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivf_sfresh").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, model, fresh)
    assert(keyed(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, queries, model, k = 10, nprobe = 3))
      == keyed(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, fresh, queries, model, k = 10, nprobe = 3)))
  }

  test("IVF drift: skewed appends flag the report, rebuild restores balance") {
    import org.apache.spark.sql.DataFrame
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, model, dir)

    // footer stats agree with the data before anything drifts
    val stats0 = IvfIndex.cellStats(spark, dir)
    assert(stats0.agg(sum(col("n_vectors"))).head().getLong(0) == emb.count())
    val report0 = IvfIndex.driftReport(spark, dir, maxSkew = 3.0).head()

    // a skewed delta: 4 extra copies of ONE cell's entire (diverse)
    // population — they all route back into that cell under the frozen
    // model, quintupling it (new ids so nothing collides)
    val donorCell = IvfIndex.assign(emb, model)
      .groupBy("cell").count().orderBy(col("count").desc).head().getAs[Int]("cell")
    val donors = IvfIndex.assign(emb, model)
      .filter(col("cell") === donorCell).select("vec_id", "embedding")
    val delta: DataFrame = (1 to 4).map(c =>
        donors.select((col("vec_id") + lit(100000L * c)).as("vec_id"),
          col("embedding")))
      .reduce(_ unionByName _)
    val copies = delta.count()
    IvfIndex.appendToIndex(IvfIndex.FloatCodec, delta, model, dir)

    val report1 = IvfIndex.driftReport(spark, dir, maxSkew = 3.0).head()
    assert(report1.getAs[Boolean]("drifted"),
      s"skewed append must trip the drift alarm: $report1")
    assert(report1.getAs[Double]("skew") > report0.getAs[Double]("skew"))

    // rebuild: retrains on base+delta, rewrites the layout, returns the
    // new model; the mega-cell splits so skew drops back under the alarm
    val rebuilt = IvfIndex.rebuildIndex(IvfIndex.FloatCodec, spark, dir, nlist = 8, iters = 2)
    val report2 = IvfIndex.driftReport(spark, dir, maxSkew = 3.0).head()
    assert(!report2.getAs[Boolean]("drifted"),
      s"rebuild must restore balance: $report2")
    assert(IvfIndex.cellStats(spark, dir).agg(sum(col("n_vectors")))
      .head().getLong(0) == emb.count() + copies)

    // and the rebuilt index still answers exactly: full probe == brute
    // force over the union corpus
    val union = emb.select("vec_id", "embedding").unionByName(delta)
    val queries = emb.filter(col("vec_id") < 3)
    def keyed2(df: DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet
    assert(
      keyed2(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, queries, rebuilt, k = 10, nprobe = 8))
        == keyed2(Similarity.bruteForceTopK(union, queries, k = 10)))
  }

  test("rebuild is crash-atomic: a kill at EITHER step leaves a readable index") {
    import graft.streaming.DeltaLayout
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_crash").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, model, dir)
    IvfIndex.appendToIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") < 7)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")), model, dir)
    val before = IvfIndex.cellStats(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = before.values.sum

    // crash window A: the retrained layout is fully staged but the commit
    // rename never ran — the old live set must be what readers see
    val fs = DeltaLayout.fileSystem(spark, dir)
    import org.apache.hadoop.fs.Path
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(s"$dir/delta=base"),
      fs, new Path(s"$dir/${DeltaLayout.Staging}"),
      false, spark.sessionState.newHadoopConf())
    assert(IvfIndex.cellStats(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == before,
      "a staged-but-uncommitted rebuild must be invisible")
    assert(IvfIndex.readIndex(spark, dir).count() == total)

    // resuming the rebuild from that crash state succeeds (stale staging
    // is cleared, the fold commits atomically, folded slices are GC'd)
    val rebuilt = IvfIndex.rebuildIndex(IvfIndex.FloatCodec, spark, dir, nlist = 4, iters = 1)
    assert(IvfIndex.readIndex(spark, dir).count() == total)

    // crash window B: fold committed, GC never ran — the new generation
    // wins liveDirs and the stale slices are ignored (copy one back in)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(DeltaLayout.liveDirs(spark, dir).head),
      fs, new Path(s"$dir/delta=b0"),
      false, spark.sessionState.newHadoopConf())
    assert(new java.io.File(s"$dir/delta=b0").isDirectory)
    // b0 is BELOW the committed generation → folded → not live
    assert(IvfIndex.readIndex(spark, dir).count() == total,
      "slices at or below the committed generation must stay folded")
    // and searches through the recovered index still answer
    assert(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, dir, emb.filter(col("vec_id") < 2),
      rebuilt, k = 5, nprobe = 4).count() > 0)
  }

  test("vector ingest is exactly-once: a replayed batch appends nothing") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_once").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") % 2 === 0), model, dir)
    val delta = emb.filter(col("vec_id") % 2 =!= 0)
      .select("vec_id", "embedding")
    def pops() = IvfIndex.cellStats(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    assert(IvfIndex.appendToIndex(IvfIndex.FloatCodec, delta, model, dir, batchId = 0L),
      "first delivery of batch 0 must append")
    val after = pops()
    // the foreachBatch replay scenario: same batch id re-delivered after
    // a crash before the checkpoint commit — the slice already exists,
    // so the replay writes NOTHING and populations are unchanged
    assert(!IvfIndex.appendToIndex(IvfIndex.FloatCodec, delta, model, dir, batchId = 0L),
      "replay of batch 0 must be a no-op")
    assert(pops() == after, "a replayed batch must not change populations")
    // a NEW batch id still appends
    assert(IvfIndex.appendToIndex(IvfIndex.FloatCodec, delta.limit(3)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding")),
      model, dir, batchId = 1L))
    assert(pops().values.sum == after.values.sum + 3)
  }

  test("sessionize batch: contiguous per-user coverage, gap invariant") {
    val sessions = Sessionize.sessionQuery(spark, sf001)
    val events = Tables.load(spark, sf001, "events")
    // every event lands in exactly one session
    val total = sessions.agg(sum("n_events")).collect().head.getLong(0)
    assert(total == events.count())
    // session bounds are ordered and sessions of one user don't overlap
    val rows = sessions.orderBy("user_id", "session_start_ms").collect()
    rows.foreach(r => assert(
      r.getAs[Long]("session_start_ms") <= r.getAs[Long]("session_end_ms")))
    rows.grouped(2).foreach {
      case Array(a, b) if a.getAs[Long]("user_id") == b.getAs[Long]("user_id") =>
        assert(b.getAs[Long]("session_start_ms") - a.getAs[Long]("session_end_ms")
          > Sessionize.gapMs(30))
      case _ =>
    }
    // error counts add up
    val errs = sessions.agg(sum("n_errors")).collect().head.getLong(0)
    assert(errs == events.filter(col("event_type") === "error").count())
  }

  test("sessionize: hot user with 1e5 events folds in constant memory") {
    import spark.implicits._
    // one user, 100k events 1s apart, a >gap jump every 10k events -> 10 sessions
    val hot = spark.range(100000).select(
        lit(7L).as("user_id"),
        (col("id") * 1000L + expr("id div 10000") * (3L * 3600L * 1000L)).as("ts_ms"),
        when(expr("id % 100 = 0"), "error").otherwise("view").as("event_type"),
        lit(1.0).as("value"))
      .as[Sessionize.Event]
    val sessions = Sessionize.sessionizeBatch(hot, gapMinutes = 30).collect()
    assert(sessions.length == 10)
    assert(sessions.map(_.n_events).sum == 100000L)
    assert(sessions.map(_.n_errors).sum == 1000L)
    assert(sessions.forall(s => s.session_end_ms - s.session_start_ms == 9999L * 1000L))
  }

  test("sessionize streaming: closed sessions match the batch twin") {
    import spark.implicits._
    val schema = Tables.eventsRawSchema(spark, sf001)
    val stream = Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sf001))
      .select(
        col("user_id"),
        expr("unix_micros(ts) div 1000").as("ts_ms"),
        col("event_type"), col("value"))
      .as[Sessionize.Event]
    // AvailableNow drains the input then terminates — processAllAvailable
    // never returns here because processing-time timeouts keep scheduling
    // no-data micro-batches
    val q = Sessionize.sessions(stream, gapMinutes = 30,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(300000), "stream did not terminate in 5 min")
    finally q.stop()

    val streamed = spark.table("sessions_stream")
      .select("user_id", "session_start_ms", "session_end_ms", "n_events", "n_errors")
    val batch = Sessionize.sessionQuery(spark, sf001)
    // the stream never flushes each user's trailing open session (no timeout
    // fires under processAllAvailable), so streamed == batch minus the last
    // session per user
    val missing = batch.exceptAll(streamed)
    val lastPerUser = batch.groupBy("user_id")
      .agg(max("session_start_ms").as("session_start_ms"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(missing.join(lastPerUser, Seq("user_id", "session_start_ms"), "left_anti")
      .count() == 0)
  }

  test("transformWithState sessionize == legacy streaming operator == batch twin") {
    val tws = graft.streaming.TwsSessionize.runOnce(spark, sf001)
      .select("user_id", "session_start_ms", "session_end_ms", "n_events", "n_errors")
    assert(tws.count() > 0)
    val batch = Sessionize.sessionQuery(spark, sf001)
    // same closed-session contract as the legacy operator: everything the
    // stream emits is a batch session, and the only batch sessions it may
    // miss are each user's trailing open one (never flushed on a drain)
    val missing = batch.exceptAll(tws)
    val lastPerUser = batch.groupBy("user_id")
      .agg(max("session_start_ms").as("session_start_ms"))
    assert(tws.exceptAll(batch).count() == 0,
      "new-API stream emitted a session the batch twin does not have")
    assert(missing.join(lastPerUser, Seq("user_id", "session_start_ms"), "left_anti")
      .count() == 0)
  }

  test("cluster assignment: argmax cell, own-centroid cosine, outlier split") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 4, iters = 1)
    val assigned = IvfIndex.clusterAssign(emb, model)
    // profiles account for every vector exactly once
    val profiles = IvfIndex.clusterProfiles(emb, model)
    assert(profiles.agg(sum("n_vectors")).head().getLong(0) == emb.count())
    // outliers are exactly the below-threshold slice
    val theta = 0.25
    val out = IvfIndex.outliers(emb, model, theta)
    assert(out.collect().forall(_.getAs[Double]("centroid_cos") < theta))
    assert(out.count() +
      assigned.filter(round(col("_centroid_cos_raw"), 9) >= theta).count() ==
        emb.count())
    // the assigned cell is the dot-product argmax against the centroids
    val row = assigned.orderBy("vec_id").limit(1).head()
    val v = row.getAs[scala.collection.Seq[Float]]("embedding")
    val dots = model.centroids.map(c =>
      c.zip(v).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y })
    assert(row.getAs[Int]("cell") == dots.indexOf(dots.max))
  }

  test("append slices are fingerprint-stamped; an orphaned slice fails reads loudly") {
    import graft.streaming.DeltaLayout
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_orphan").toString
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") % 2 === 0), model, dir)
    IvfIndex.appendToIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") % 2 =!= 0)
      .select("vec_id", "embedding"), model, dir, batchId = 0L)
    // the slice carries the WRITER's model fingerprint, atomic with its
    // rename — the durable half of the append/rebuild race closure
    assert(DeltaLayout.readMarker(spark,
      s"$dir/delta=b0/${IvfIndex.ModelFpFile}").contains(model.fingerprint))
    assert(IvfIndex.readIndex(spark, dir).count() == emb.count())

    // simulate the race's survivor: a slice whose stamp disagrees with
    // the live base (an append assigned by a model a rebuild replaced) —
    // every read must fail loudly instead of serving wrong cells
    DeltaLayout.writeMarker(spark,
      s"$dir/delta=b0/${IvfIndex.ModelFpFile}", "deadbeef" * 8)
    val e = intercept[IllegalStateException] {
      IvfIndex.readIndex(spark, dir).count()
    }
    assert(e.getMessage.contains("orphaned append slice"))
    // restore the true stamp: reads recover
    DeltaLayout.writeMarker(spark,
      s"$dir/delta=b0/${IvfIndex.ModelFpFile}", model.fingerprint)
    assert(IvfIndex.readIndex(spark, dir).count() == emb.count())
  }

  test("servingDecision: autotuned choice, heuristic fallback, 2x-heuristic cap") {
    import spark.implicits._
    def curve(rows: (Long, Long, Long, Long)*) =
      rows.toSeq.toDF("nprobe", "n_candidates", "n_matches", "recall_micro")
    // nlist=64 -> heuristic 8, cap 16
    val nlist = 64
    // cheapest qualifying step wins (4 meets 0.9 before 8 does)
    assert(IvfIndex.servingDecision(curve(
      (2L, 100L, 50L, 500000L), (4L, 200L, 95L, 950000L),
      (8L, 400L, 100L, 1000000L)), nlist) == 4)
    // decision-change -> probe-change: degrade step 4 below target and
    // the served probe moves with the autotuned choice
    assert(IvfIndex.servingDecision(curve(
      (2L, 100L, 50L, 500000L), (4L, 200L, 80L, 800000L),
      (8L, 400L, 100L, 1000000L)), nlist) == 8)
    // no step qualifies -> heuristic fallback (never the deepest step:
    // serving near nlist would reopen the linear path)
    assert(IvfIndex.servingDecision(curve(
      (2L, 100L, 10L, 100000L), (64L, 6400L, 80L, 800000L)), nlist) == 8)
    // a qualifying step beyond 2x heuristic is capped to the band
    assert(IvfIndex.servingDecision(curve(
      (2L, 100L, 10L, 100000L), (32L, 3200L, 95L, 950000L)), nlist) == 16)
  }

  test("ServingProbe: per-index target moves the decision; memoized; oracle omits on ambiguity") {
    import graft.operators.ServingProbe
    import spark.implicits._
    def curve(rows: (Long, Long, Long, Long)*) =
      rows.toSeq.toDF("nprobe", "n_candidates", "n_matches", "recall_micro")
    val c = curve((2L, 100L, 80L, 800000L), (4L, 200L, 95L, 950000L),
      (8L, 400L, 100L, 1000000L))
    val nlist = 64
    // default target 0.9 → cheapest qualifying step 4; a per-index
    // target of 0.75 moves the SAME root's decision to step 2 — the
    // knob deployments trade probe cost against leg recall with
    assert(ServingProbe.decide("spec:a", nlist)(c) == 4)
    assert(ServingProbe.decide("spec:a", nlist, targetMicro = 750000L)(c) == 2)
    // memoized per (root, target): the curve thunk must NOT re-run
    assert(ServingProbe.decide("spec:a", nlist)(sys.error("re-ran")) == 4)
    // oracle replay contract: several decisions under a prefix →
    // ambiguous → None (caller omits the oracle, rows-only) — never a
    // silent heuristic while the engine served autotuned probes
    assert(ServingProbe.oracleProbe("spec:a", heuristic = 8).isEmpty)
    // never-served prefix → the heuristic (engine and oracle agree)
    assert(ServingProbe.oracleProbe("spec:never", 8).contains(8))
    // exactly one decision → exactly it
    assert(ServingProbe.decide("spec:b", nlist)(c) == 4)
    assert(ServingProbe.oracleProbe("spec:b", 8).contains(4))
  }

  test("ServingProbe.oracleProbe: key-boundary matching and distinct-decision dedupe") {
    import graft.operators.ServingProbe
    import spark.implicits._
    def curve(rows: (Long, Long, Long, Long)*) =
      rows.toSeq.toDF("nprobe", "n_candidates", "n_matches", "recall_micro")
    val nlist = 64
    val c4 = curve((4L, 200L, 95L, 950000L))
    val c8 = curve((8L, 400L, 95L, 950000L))
    // prefix-colliding ROOTS: "/idx" is a proper prefix of "/idx2" — the
    // r17 startsWith matching counted both decisions and degraded the
    // "/idx" oracle to rows-only; boundary matching keeps them independent
    assert(ServingProbe.decide("pfx:/idx", nlist)(c4) == 4)
    assert(ServingProbe.decide("pfx:/idx2", nlist)(c8) == 8)
    assert(ServingProbe.oracleProbe("pfx:/idx", heuristic = 2).contains(4))
    assert(ServingProbe.oracleProbe("pfx:/idx2", heuristic = 2).contains(8))
    // one root, two targets landing on the SAME nprobe: distinct
    // decisions collapse to one — the replay is unambiguous, not None
    assert(ServingProbe.decide("pfx:same", nlist)(c4) == 4)
    assert(ServingProbe.decide("pfx:same", nlist, targetMicro = 750000L)(c4) == 4)
    assert(ServingProbe.oracleProbe("pfx:same", heuristic = 2).contains(4))
    // the category prefix ("pfx:") still matches every root under the
    // kind — here two distinct values → ambiguous → None
    assert(ServingProbe.oracleProbe("pfx:", heuristic = 2).isEmpty)
  }

  test("IvfPq fingerprint frames codebook shape: same float stream, different (m,k) differ") {
    import graft.operators.{IvfPqIndex, PqIndex}
    val coarse = IvfIndex.Model(Seq(Seq(1f, 0f), Seq(0f, 1f)))
    // identical flat float stream [1,2,3,4]; shapes (m=1,k=1,subDim=4)
    // vs (m=2,k=1,subDim=2) change what a stored code MEANS
    val a = IvfPqIndex.Model(coarse,
      PqIndex.Codebooks(4, 1, Seq(Seq(Seq(1f, 2f, 3f, 4f)))))
    val b = IvfPqIndex.Model(coarse,
      PqIndex.Codebooks(4, 2, Seq(Seq(Seq(1f, 2f)), Seq(Seq(3f, 4f)))))
    assert(a.fingerprint != b.fingerprint)
    // and the stamp is still deterministic
    assert(a.fingerprint == IvfPqIndex.Model(coarse,
      PqIndex.Codebooks(4, 1, Seq(Seq(Seq(1f, 2f, 3f, 4f))))).fingerprint)
  }
}
