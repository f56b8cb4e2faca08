package graft

import graft.cli.{Args, CopyRowMain, CorpusCleanMain, CorruptRowsMain, ImportTsvMain, VectorServiceMain}
import graft.model.CellTable
import graft.sources.Catalog
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** D1/D2/M6/K1/S5 — the reference's CLI surface against a temp warehouse. */
class CliSpec extends AnyFunSuite with SparkTestBase {

  // fresh warehouse per run — append-mode tests must not see older runs
  sys.props("graft.warehouse") =
    java.nio.file.Files.createTempDirectory("graft_wh").toString

  private def ex(body: => Any): Int =
    try { body; -1 } catch { case e: Args.CliExit => e.code }

  test("VectorService CLI: build → status → ingest → serve → rebuild; stale artifact rejected") {
    import graft.operators.{IvfIndex, ModelStore}
    val base = java.nio.file.Files.createTempDirectory("graft_vsvc_cli").toString
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding")
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$base/corpus")
    emb.filter(col("vec_id") % 2 === 1).write.parquet(s"$base/delta")
    emb.filter(col("vec_id") < 2).write.parquet(s"$base/queries")
    val (idx, model) = (s"$base/idx", s"$base/model")
    def go(args: String*) = VectorServiceMain.run(spark, args.toArray)

    val b = go("--action", "build", "--indexDir", idx, "--modelDir", model,
      "--input", s"$base/corpus", "--iters", "1")
    assert(b("N_VECTORS").toLong == emb.filter(col("vec_id") % 2 === 0).count())
    // the build MEASURES its serving decision and ships it with the
    // artifact — bounded to the 2x-heuristic band like every serving
    // probe in the engine — and a later serve PROCESS defaults to it
    val nlistBuilt = b("NLIST").toInt
    assert(b("SERVING_NPROBE").toInt >= 1 &&
      b("SERVING_NPROBE").toInt <= 2 * IvfIndex.scaledNprobe(nlistBuilt))
    assert(ModelStore.loadServingProbe(spark, model)
      .contains(b("SERVING_NPROBE").toInt))

    // status is footer-only and internally consistent: the decision IS
    // the disjunction of its alarms, next_nlist follows the ladder
    val st = go("--action", "status", "--indexDir", idx, "--modelDir", model)
    assert(st("REBUILD").toBoolean ==
      (st("SKEW_EXCEEDED").toBoolean || st("OCCUPANCY_EXCEEDED").toBoolean))
    assert(st("NEXT_NLIST").toLong ==
      IvfIndex.scaledNlist(st("N_TOTAL").toLong).toLong)

    // ingest drains the delta exactly-once; a re-invocation on the SAME
    // checkpoint finds nothing new and appends nothing
    val ing = go("--action", "ingest", "--indexDir", idx, "--modelDir", model,
      "--input", s"$base/delta", "--checkpoint", s"$base/ckpt1")
    assert(ing("N_TOTAL").toLong == emb.count())
    val ing2 = go("--action", "ingest", "--indexDir", idx, "--modelDir", model,
      "--input", s"$base/delta", "--checkpoint", s"$base/ckpt1")
    assert(ing2("N_TOTAL").toLong == emb.count())

    val sv = go("--action", "serve", "--indexDir", idx, "--modelDir", model,
      "--input", s"$base/queries", "--out", s"$base/out",
      "--checkpoint", s"$base/ckpt2", "--k", "5", "--nprobe", "2")
    assert(sv("N_ANSWERS").toLong == 10)

    // rebuild retrains + swaps + saves the new artifact; the OLD artifact
    // (a stale process's memory) fails the stamp loudly
    val stale = IvfIndex.FloatCodec.load(spark, model)
    assert(stale.fingerprint == b("FINGERPRINT"))
    val rb = go("--action", "rebuild", "--indexDir", idx, "--modelDir", model,
      "--iters", "1")
    assert(rb("REBUILT") == "true" && rb("FINGERPRINT") != b("FINGERPRINT"))
    // the rebuilt layout re-measures and re-ships its serving decision
    assert(ModelStore.loadServingProbe(spark, model)
      .contains(rb("SERVING_NPROBE").toInt))
    val e = intercept[IllegalStateException](IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, idx,
      emb.filter(col("vec_id") < 2), stale, k = 5, nprobe = 2))
    assert(e.getMessage.contains("fingerprint mismatch"))
    // the re-loaded (rebuilt) artifact serves on the new generation
    val sv2 = go("--action", "serve", "--indexDir", idx, "--modelDir", model,
      "--input", s"$base/queries", "--out", s"$base/out2",
      "--checkpoint", s"$base/ckpt3", "--k", "5")
    assert(sv2("N_ANSWERS").toLong == 10)
    // a SECOND serve process into the SAME output root with a fresh
    // checkpoint: its answers must land (fresh slice id), not be dropped
    // as a replay of the first process's delta=b0 (the ingest advisory,
    // output flavor)
    val sv3 = go("--action", "serve", "--indexDir", idx, "--modelDir", model,
      "--input", s"$base/queries", "--out", s"$base/out2",
      "--checkpoint", s"$base/ckpt4", "--k", "5")
    assert(sv3("N_ANSWERS").toLong == 20,
      "a fresh-checkpoint serve into a populated root dropped its answers")

    // status surfaces the output root's fold policy + quarantine count;
    // the compact action folds only when the policy fires
    val st2 = go("--action", "status", "--indexDir", idx, "--modelDir", model,
      "--out", s"$base/out2", "--maxSlices", "8")
    assert(st2("QUARANTINED") == "0")
    assert(st2("OUT_SLICES").toLong == 2 && st2("OUT_COMPACT") == "false")
    val cNo = go("--action", "compact", "--indexDir", idx, "--modelDir", model,
      "--out", s"$base/out2", "--maxSlices", "8")
    assert(cNo("COMPACTED") == "false" && cNo("N_SLICES_AFTER").toLong == 2)
    val cYes = go("--action", "compact", "--indexDir", idx, "--modelDir", model,
      "--out", s"$base/out2", "--maxSlices", "1")
    assert(cYes("COMPACTED") == "true" && cYes("N_SLICES_BEFORE").toLong == 2 &&
      cYes("N_SLICES_AFTER").toLong == 0)
    assert(graft.streaming.StreamAnnServe.results(spark, s"$base/out2")
      .count() == 20, "the fold must preserve every served answer")

    // DR loop: snapshot the index, restore to a new root, and the
    // restored index serves with the SAME persisted artifact (the
    // _model.fp stamp travels, so requireModelMatches stays green)
    val sn = go("--action", "snapshot", "--indexDir", idx, "--modelDir", model,
      "--snapshotDir", s"$base/snap")
    assert(sn("N_FILES_COPIED").toLong == sn("N_FILES_TOTAL").toLong)
    go("--action", "restore", "--indexDir", s"$base/idxRestored",
      "--modelDir", model, "--snapshotDir", s"$base/snap")
    val sv4 = go("--action", "serve", "--indexDir", s"$base/idxRestored",
      "--modelDir", model, "--input", s"$base/queries",
      "--out", s"$base/out3", "--checkpoint", s"$base/ckpt5", "--k", "5")
    assert(sv4("N_ANSWERS").toLong == 10)

    // flag surface (the D1 parser contract): unknown flag, missing
    // mandatory, unknown action — all usage + exit 1
    assert(ex(go("--action", "status", "--indexDir", idx,
      "--modelDir", model, "--bogus", "1")) == 1)
    assert(ex(go("--action", "build", "--indexDir", idx)) == 1)
    assert(ex(go("--action", "nope", "--indexDir", idx,
      "--modelDir", model)) == 1)
  }

  test("VectorService CLI: composed bq and pq layout loops; wrong --layout and stale artifact rejected") {
    import graft.operators.{IvfBqIndex, IvfCodec, IvfIndex, IvfPqIndex, ModelStore}
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding")
    def go(args: String*) = VectorServiceMain.run(spark, args.toArray)

    // the same loop for each code layout; `other` is a wrong --layout
    def loop[M](codec: IvfCodec[M], other: String): Unit = {
      val layout = codec.name
      val base = java.nio.file.Files.createTempDirectory(s"graft_vsvc_$layout").toString
      emb.write.parquet(s"$base/corpus") // the floats serve/rebuild rerank from
      emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$base/init")
      emb.filter(col("vec_id") % 2 === 1).write.parquet(s"$base/delta")
      emb.filter(col("vec_id") < 2).write.parquet(s"$base/queries")
      val (idx, model) = (s"$base/idx", s"$base/model")

      // build persists the COMPOSED artifact + a measured serving decision
      val b = go("--action", "build", "--layout", layout, "--indexDir", idx,
        "--modelDir", model, "--input", s"$base/init", "--iters", "1")
      assert(b("LAYOUT") == layout)
      assert(ModelStore.loadServingProbe(spark, model)
        .contains(b("SERVING_NPROBE").toInt))
      assert(codec.fingerprint(codec.load(spark, model)) == b("FINGERPRINT"))

      // the artifact knows its kind: driving it as float (or the other
      // code layout) dies at the flag tier, before any index data is touched
      assert(ex(go("--action", "ingest", "--indexDir", idx, "--modelDir", model,
        "--input", s"$base/delta", "--checkpoint", s"$base/ckptX")) == 1)
      assert(ex(go("--action", "rebuild", "--layout", other, "--indexDir", idx,
        "--modelDir", model, "--corpus", s"$base/corpus")) == 1)

      // exactly-once composed ingest, re-invocation appends nothing
      val ing = go("--action", "ingest", "--layout", layout, "--indexDir", idx,
        "--modelDir", model, "--input", s"$base/delta",
        "--checkpoint", s"$base/ckpt1")
      assert(ing("N_TOTAL").toLong == emb.count())
      val ing2 = go("--action", "ingest", "--layout", layout, "--indexDir", idx,
        "--modelDir", model, "--input", s"$base/delta",
        "--checkpoint", s"$base/ckpt1")
      assert(ing2("N_TOTAL").toLong == emb.count())

      // status is layout-agnostic (code slices share the cell rules)
      val st = go("--action", "status", "--indexDir", idx, "--modelDir", model)
      assert(st("N_TOTAL").toLong == emb.count() && st("QUARANTINED") == "0")

      // serve reranks from --corpus; answers land as output slices
      val sv = go("--action", "serve", "--layout", layout, "--indexDir", idx,
        "--modelDir", model, "--input", s"$base/queries",
        "--corpus", s"$base/corpus", "--out", s"$base/out",
        "--checkpoint", s"$base/ckpt2", "--k", "5")
      assert(sv("N_ANSWERS").toLong == 10)

      // rebuild retrains from --corpus and swaps; the old composed
      // artifact fails the stamp loudly
      val stale = codec.load(spark, model)
      val rb = go("--action", "rebuild", "--layout", layout, "--indexDir", idx,
        "--modelDir", model, "--corpus", s"$base/corpus", "--iters", "1")
      assert(rb("REBUILT") == "true" && rb("FINGERPRINT") != b("FINGERPRINT"))
      val e = intercept[IllegalStateException](
        IvfIndex.searchIndex(codec, spark, idx, emb.filter(col("vec_id") < 2),
          stale, k = 5, nprobe = 2, rerank = Some(IvfIndex.Rerank(emb, 20)))
          .count())
      assert(e.getMessage.contains("fingerprint mismatch"))
      // the re-loaded (rebuilt) artifact serves on the new generation
      val sv2 = go("--action", "serve", "--layout", layout, "--indexDir", idx,
        "--modelDir", model, "--input", s"$base/queries",
        "--corpus", s"$base/corpus", "--out", s"$base/out2",
        "--checkpoint", s"$base/ckpt3", "--k", "5")
      assert(sv2("N_ANSWERS").toLong == 10)
    }

    loop(IvfBqIndex.Codec, other = "pq")
    loop(IvfPqIndex.GlobalCodec, other = "bq")
  }

  test("VectorService CLI: --corpus is witness-bound — a wrong table dies before touching the index") {
    import graft.operators.ModelStore
    val base = java.nio.file.Files.createTempDirectory("graft_vsvc_wit").toString
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding")
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$base/init")
    emb.filter(col("vec_id") < 2).write.parquet(s"$base/queries")
    // same ids, same schema, perturbed float values — the sharpest wrong
    // corpus: before the witness, this served silently wrong reranks
    emb.withColumn("embedding",
        expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))"))
      .write.parquet(s"$base/wrong")
    emb.write.parquet(s"$base/corpus") // the TRUE table (superset of init)
    val (idx, model) = (s"$base/idx", s"$base/model")
    def go(args: String*) = VectorServiceMain.run(spark, args.toArray)

    go("--action", "build", "--layout", "bq", "--indexDir", idx,
      "--modelDir", model, "--input", s"$base/init", "--iters", "1")
    val e = intercept[IllegalStateException](
      go("--action", "serve", "--layout", "bq", "--indexDir", idx,
        "--modelDir", model, "--input", s"$base/queries",
        "--corpus", s"$base/wrong", "--out", s"$base/out",
        "--checkpoint", s"$base/ckpt1", "--k", "5"))
    assert(e.getMessage.contains("corpus witness mismatch"))
    // ...and a rebuild against the wrong table dies BEFORE retraining:
    // the artifact's fingerprint is unchanged afterwards
    val bq = graft.operators.IvfBqIndex.Codec
    val fpBefore = bq.fingerprint(bq.load(spark, model))
    val e2 = intercept[IllegalStateException](
      go("--action", "rebuild", "--layout", "bq", "--indexDir", idx,
        "--modelDir", model, "--corpus", s"$base/wrong", "--iters", "1"))
    assert(e2.getMessage.contains("corpus witness mismatch"))
    assert(bq.fingerprint(bq.load(spark, model)) == fpBefore)
    // the true corpus — an ingest-grown SUPERSET of the build input —
    // passes the witness and serves
    val sv = go("--action", "serve", "--layout", "bq", "--indexDir", idx,
      "--modelDir", model, "--input", s"$base/queries",
      "--corpus", s"$base/corpus", "--out", s"$base/out2",
      "--checkpoint", s"$base/ckpt2", "--k", "5")
    assert(sv("N_ANSWERS").toLong == 10)
  }

  test("catalog parses ns:table, ns.table, and bare identifiers") {
    assert(Catalog.parse("prod:customers") == Catalog.Ident("prod", "customers"))
    assert(Catalog.parse("prod.customers") == Catalog.Ident("prod", "customers"))
    assert(Catalog.parse("customers") == Catalog.Ident("default", "customers"))
    intercept[IllegalArgumentException](Catalog.parse(":x"))
    intercept[IllegalArgumentException](Catalog.parse(""))
  }

  test("CopyRow CLI: end-to-end copy with ts override between warehouse tables") {
    val cells = CellTable.fromTable(spark, sf001, "customer")
    Catalog.save(cells, "test:src_copy", SaveMode.Overwrite)
    val copied = CopyRowMain.run(spark, Array(
      "--sourceTable", "test:src_copy",
      "--destTable", "test:dst_copy",
      "--rowKeyByteString", "\\x00\\x00\\x00\\x00\\x00\\x00\\x00*",
      "--override", "true",
      "--timestampToUse", "4242"))
    assert(copied > 0)
    val dest = Catalog.load(spark, "test:dst_copy")
    assert(dest.count() == copied)
    assert(dest.filter(col("ts") =!= 4242L).count() == 0)
    // append semantics (K1): second run doubles the destination
    CopyRowMain.run(spark, Array(
      "--sourceTable", "test:src_copy", "--destTable", "test:dst_copy",
      "--rowKeyByteString", "\\x00\\x00\\x00\\x00\\x00\\x00\\x00*",
      "--override", "true", "--timestampToUse", "4243"))
    assert(Catalog.load(spark, "test:dst_copy").count() == copied * 2)
  }

  test("CopyRow CLI: --timestampToUse defaults to wall clock (reference CopyRow.java:64)") {
    val cells = CellTable.fromTable(spark, sf001, "region")
    Catalog.save(cells, "test:src_now", SaveMode.Overwrite)
    val before = System.currentTimeMillis()
    val copied = CopyRowMain.run(spark, Array(
      "--sourceTable", "test:src_now",
      "--destTable", "test:dst_now",
      "--rowKeyByteString", "\\x00\\x00\\x00\\x00\\x00\\x00\\x00\\x02",
      "--override", "true"))
    val after = System.currentTimeMillis()
    assert(copied > 0)
    val ts = Catalog.load(spark, "test:dst_now")
      .select(col("ts")).distinct().collect().map(_.getLong(0))
    assert(ts.length == 1 && ts.head >= before && ts.head <= after)
  }

  test("CopyRow CLI: D1 validation — unknown flag, odd arity, missing mandatory") {
    assert(ex(CopyRowMain.run(spark, Array("--bogus", "1"))) == 1)
    assert(ex(CopyRowMain.run(spark, Array("--sourceTable"))) == 1)
    assert(ex(CopyRowMain.run(spark, Array("--sourceTable", "t"))) == 1)
    assert(ex(CopyRowMain.run(spark, Array(
      "--sourceTable", "test:no_such", "--destTable", "d",
      "--rowKeyByteString", "k"))) == 1)
  }

  test("CorruptRows CLI: counters + TSV against a poisoned table") {
    val base = CellTable.fromTable(spark, sf001, "nation")
    // poison 3 rows' values with a leading NUL (the default sentinel)
    val poisoned = base.withColumn("value",
      when(col("rowKey") === CellTable.bigEndianKey(lit(3)) ||
           col("rowKey") === CellTable.bigEndianKey(lit(7)) ||
           col("rowKey") === CellTable.bigEndianKey(lit(11)),
        concat(lit(Array[Byte](0)), col("value"))).otherwise(col("value")))
    Catalog.save(poisoned, "test:probe_me", SaveMode.Overwrite)

    val out = java.nio.file.Files.createTempDirectory("graft_cli").toString + "/corrupt"
    val c = CorruptRowsMain.run(spark, Array(
      "--table", "test:probe_me", "--output", out))
    assert(c.total == 25 && c.failed == 3 && c.success == 22)

    val lines = spark.read.text(out).collect().map(_.getString(0)).sorted
    assert(lines.length == 3)
    assert(lines.forall(_.contains("\tCorruptCellException, message: ")))
    assert(lines.head.startsWith("\\x00\\x00\\x00\\x00\\x00\\x00\\x00\\x03\t"))
  }

  test("CorruptRows CLI: custom corrupt expression") {
    val base = CellTable.fromTable(spark, sf001, "region")
    Catalog.save(base, "test:probe_expr", SaveMode.Overwrite)
    val out = java.nio.file.Files.createTempDirectory("graft_cli").toString + "/c2"
    val c = CorruptRowsMain.run(spark, Array(
      "--table", "test:probe_expr", "--output", out,
      "--corruptExpr", "cast(rowKey as string) is not null and ts < 0"))
    assert(c.total == 5 && c.failed == 0 && c.success == 5)
  }

  test("CorpusClean CLI: fixture corpus cleans end to end; eval set tightens it") {
    val base = java.nio.file.Files.createTempDirectory("graft_cli_clean").toString
    val n = CorpusCleanMain.run(spark, Array(
      "--input", s"$sf001/documents.parquet", "--output", s"$base/out1"))
    assert(n > 0 && n <= 500, s"cleaned count out of range: $n")

    // using the corpus itself as the eval set: every surviving doc shares
    // its own 13-grams with "eval", so decontamination empties the output
    val n2 = CorpusCleanMain.run(spark, Array(
      "--input", s"$sf001/documents.parquet", "--output", s"$base/out2",
      "--evalSet", s"$sf001/documents.parquet"))
    assert(n2 < n, s"self-eval decontamination must shrink output: $n2 vs $n")

    intercept[Args.CliExit](CorpusCleanMain.run(spark, Array("--bogus", "x")))
    intercept[Args.CliExit](CorpusCleanMain.run(spark, Array("--input", "only")))
  }

  test("Search CLI: build + ranked tfidf/bm25 queries over the index store") {
    import graft.cli.SearchMain
    val dir = java.nio.file.Files.createTempDirectory("graft_search_cli").toString + "/idx"
    val corpus =
      java.nio.file.Files.createTempDirectory("graft_search_corpus").toString + "/docs"
    import spark.implicits._
    Seq((0L, "apple banana apple"), (1L, "banana cherry"), (2L, "apple cherry cherry"))
      .toDF("doc_id", "text").write.parquet(corpus)
    val hits = SearchMain.run(spark, Array(
      "--indexDir", dir, "--build", corpus,
      "--terms", "apple,banana", "--k", "2"))
    assert(hits.length == 2 && hits.map(_.rank) == Seq(1L, 2L))
    // doc0 carries apple tf=2 AND banana → must rank first
    assert(hits.head.doc_id == 0L)
    // the built index serves a second invocation without --build, bm25 mode
    val bm = SearchMain.run(spark, Array(
      "--indexDir", dir, "--terms", "cherry", "--mode", "bm25", "--k", "3"))
    assert(bm.nonEmpty && bm.head.doc_id == 2L) // tf=2, shorter of none — top hit
    // phrase mode: --terms is the exact sequence; only doc0 has
    // "apple banana" adjacent in order
    val ph = SearchMain.run(spark, Array(
      "--indexDir", dir, "--terms", "apple,banana", "--mode", "phrase"))
    assert(ph.map(h => h.doc_id -> h.score) == Seq(0L -> 1L))
    // D1 validation: unknown mode and empty terms die with usage
    intercept[graft.cli.Args.CliExit](
      SearchMain.run(spark, Array("--indexDir", dir, "--terms", "x", "--mode", "zz")))
    intercept[graft.cli.Args.CliExit](
      SearchMain.run(spark, Array("--indexDir", dir, "--terms", "")))
  }

  test("IndexDoctor CLI: footer-only drift report, rebuild repairs a skewed index") {
    import graft.cli.IndexDoctorMain
    import graft.operators.IvfIndex
    import graft.sources.Tables
    val emb = Tables.load(spark, sf001, "embeddings")
    val model = IvfIndex.train(emb, nlist = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_doctor").toString + "/idx"
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb, model, dir)
    val healthy = IndexDoctorMain.run(spark,
      Array("--indexDir", dir, "--maxSkew", "50.0"))
    assert(healthy.nCells == 4 && !healthy.drifted && !healthy.rebuilt)
    // skew the index: re-append ONE cell's own vectors five times over
    val cell0 = IvfIndex.assign(emb, model)
      .filter(col("cell") === 0).select("vec_id", "embedding")
    (1 to 5).foreach(_ => IvfIndex.appendToIndex(IvfIndex.FloatCodec, cell0, model, dir))
    val sick = IndexDoctorMain.run(spark,
      Array("--indexDir", dir, "--maxSkew", "1.5"))
    assert(sick.drifted, s"expected drift at skew ${sick.skew}")
    val repaired = IndexDoctorMain.run(spark,
      Array("--indexDir", dir, "--maxSkew", "1.5", "--rebuild", "true", "--nlist", "4"))
    assert(repaired.rebuilt)
    // post-rebuild the report is clean again at the same gate
    val after = IndexDoctorMain.run(spark, Array("--indexDir", dir, "--maxSkew", "1.5"))
    assert(!after.drifted, s"rebuild should rebalance, skew ${after.skew}")
    // D1 validation: unknown flag dies with usage
    intercept[graft.cli.Args.CliExit](
      IndexDoctorMain.run(spark, Array("--indexDir", dir, "--bogus", "1")))
  }

  test("ImportTsv CLI: TSV lines become cells; bad lines abort or skip by flag") {
    val base = java.nio.file.Files.createTempDirectory("graft_importtsv").toString
    val tsv = java.nio.file.Paths.get(base, "in.tsv")
    java.nio.file.Files.writeString(tsv,
      "\\x00\\x00\\x00\\x00\\x00\\x00\\x00A\tAlice\t100\n" +
      "\\x00\\x00\\x00\\x00\\x00\\x00\\x00B\tBob\t200\n" +
      "malformed-line-without-tabs\n")
    // default --skipBadLines false: malformed input aborts before writing
    intercept[IllegalArgumentException](ImportTsvMain.run(spark, Array(
      "--input", tsv.toString, "--output", s"$base/store",
      "--columns", "HBASE_ROW_KEY,c_name,c_score", "--family", "f")))
    // with the flag: two rows × two qualifiers land, bad line counted
    val res = ImportTsvMain.run(spark, Array(
      "--input", tsv.toString, "--output", s"$base/store",
      "--columns", "HBASE_ROW_KEY,c_name,c_score", "--family", "f",
      "--timestampToUse", "1700000000000", "--buckets", "2",
      "--skipBadLines", "true"))
    assert(res.cells == 4 && res.badLines == 1)
    val store = spark.read.format("cellstore").load(s"$base/store")
    val got = store.collect().map { r =>
      (new String(r.getAs[Array[Byte]]("rowKey")).last,
        new String(r.getAs[Array[Byte]]("qualifier")),
        new String(r.getAs[Array[Byte]]("value")))
    }.toSet
    assert(got == Set(('A', "c_name", "Alice"), ('A', "c_score", "100"),
      ('B', "c_name", "Bob"), ('B', "c_score", "200")))
    // D1 validation: HBASE_ROW_KEY required in the column map
    intercept[Args.CliExit](ImportTsvMain.run(spark, Array(
      "--input", tsv.toString, "--output", s"$base/s2",
      "--columns", "c_name,c_score", "--family", "f")))
  }

  test("Export CLI: shard + manifest, re-verify mode, validation exits") {
    import graft.cli.ExportMain
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_exp_cli").toString
    (0 until 30).map(i => (i.toLong, s"cli doc $i body"))
      .toDF("doc_id", "text").write.parquet(s"$base/corpus")
    val rows = ExportMain.run(spark, Array(
      "--outDir", s"$base/out", "--corpus", s"$base/corpus", "--shards", "4"))
    assert(rows.length == 4 && rows.forall(_.ok))
    assert(rows.map(_.nDocs).sum == 30L)
    // verify-only mode re-reads the export
    val again = ExportMain.run(spark, Array(
      "--outDir", s"$base/out", "--verify", "true"))
    assert(again == rows)
    intercept[Args.CliExit](ExportMain.run(spark, Array("--outDir", s"$base/out")))
    intercept[Args.CliExit](ExportMain.run(spark, Array(
      "--outDir", s"$base/out", "--corpus", s"$base/corpus", "--shards", "0")))
    intercept[Args.CliExit](ExportMain.run(spark, Array("--bogus", "x")))
  }

  test("AnalyzeMain: column stats TSV, stats-driven join explain, validation exits") {
    import graft.cli.AnalyzeMain
    val (stats, noJoin) = AnalyzeMain.run(spark, Array(
      "--table", s"$sf001/nation.parquet", "--columns", "n_nationkey,n_name"))
    assert(noJoin.isEmpty)
    val byCol = stats.map(s => s.col -> s).toMap
    assert(byCol("n_nationkey").nRows == 25L && byCol("n_nationkey").ndv == 25L)
    assert(byCol("n_name").nNulls == 0L)
    // join explain: 1500-customer table joined to the 25-row nation —
    // the stats must choose the broadcast and say so
    val (_, explained) = AnalyzeMain.run(spark, Array(
      "--table", s"$sf001/customer.parquet", "--columns", "c_custkey",
      "--joinTable", s"$sf001/nation.parquet",
      "--joinKeys", "c_nationkey,n_nationkey"))
    assert(explained.exists(_.contains("BROADCAST right")), explained)
    intercept[Args.CliExit](AnalyzeMain.run(spark, Array(
      "--table", s"$sf001/nation.parquet", "--columns", "not_a_column")))
    intercept[Args.CliExit](AnalyzeMain.run(spark, Array(
      "--table", s"$sf001/nation.parquet", "--columns", "n_name",
      "--joinTable", s"$sf001/region.parquet", "--joinKeys", "onlyone")))
    intercept[Args.CliExit](AnalyzeMain.run(spark, Array("--columns", "x")))
  }

  test("DsirMain: top-k target-like docs as TSV, parquet out, validation exits") {
    import graft.cli.DsirMain
    val rows = DsirMain.run(spark, Array(
      "--corpus", s"$sf001/documents.parquet", "--target", "src0",
      "--topK", "7"))
    assert(rows.length == 7)
    // descending weight with doc_id tiebreak — the selectTopK contract
    assert(rows.map(r => (-r._3, r._1)) == rows.map(r => (-r._3, r._1)).sorted)
    val out = java.nio.file.Files.createTempDirectory("graft-dsir").toString + "/sel"
    DsirMain.run(spark, Array(
      "--corpus", s"$sf001/documents.parquet", "--target", "src0",
      "--topK", "7", "--out", out))
    assert(spark.read.parquet(out).count() == 7L)
    intercept[Args.CliExit](DsirMain.run(spark, Array(
      "--corpus", s"$sf001/documents.parquet", "--target", "no_such_source")))
    intercept[Args.CliExit](DsirMain.run(spark, Array(
      "--corpus", s"$sf001/documents.parquet", "--target", "src0",
      "--topK", "0")))
    intercept[Args.CliExit](DsirMain.run(spark, Array(
      "--corpus", s"$sf001/documents.parquet")))
    intercept[Args.CliExit](DsirMain.run(spark, Array(
      "--corpus", s"$sf001/documents.parquet", "--target", "src0",
      "--bogus", "x")))
  }
  test("GraphMain: rank, communities, and next-item modes; validation exits") {
    import graft.cli.GraphMain
    val ev = s"$sf001/events.parquet"
    val rank = GraphMain.run(spark, Array("--events", ev, "--mode", "rank"))
    assert(rank.nonEmpty && rank.forall(_.split("\t").length == 2))
    // rank output is ordered: descending rank units with node tiebreak
    val units = rank.map(_.split("\t")(1).toLong)
    assert(units == units.sorted.reverse)
    val comm = GraphMain.run(spark,
      Array("--events", ev, "--mode", "communities", "--rounds", "2"))
    assert(comm.length == rank.length, "one community row per node")
    val out = java.nio.file.Files.createTempDirectory("graft-graph").toString + "/nx"
    val next = GraphMain.run(spark,
      Array("--events", ev, "--mode", "next", "--out", out))
    assert(next.forall(_.split("\t").length == 5))
    assert(spark.read.parquet(out).count() == next.length.toLong)
    intercept[Args.CliExit](GraphMain.run(spark,
      Array("--events", ev, "--mode", "bogus")))
    intercept[Args.CliExit](GraphMain.run(spark,
      Array("--events", ev, "--mode", "rank", "--iters", "0")))
    intercept[Args.CliExit](GraphMain.run(spark, Array("--mode", "rank")))
    intercept[Args.CliExit](GraphMain.run(spark,
      Array("--events", ev, "--mode", "rank", "--bogus", "1")))
  }

  test("MobMain: compact + reclaim + stats over a purged mob store") {
    import graft.cli.MobMain
    import graft.model.CellTable
    import graft.operators.MobStore
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mob_cli").toString
    val rows = Seq((1L, "P" * 400), (2L, "Q" * 400), (3L, "tiny"))
    val cells = CellTable.toCells(rows.toDF("id", "payload"),
      Seq("id"), "blobs", lit(CellTable.BaseTs))
    MobStore.writeMob(cells, dir, threshold = 300)
    // purge subject 1, then drive the maintenance through the CLI
    CellTable.withDeleteMarkers(
        cells.filter(CellTable.keyToLong(col("rowKey")) === 1L),
        lit(true), lit(CellTable.BaseTs + 10))
      .filter(col("cellType") === "Delete")
      .write.format("cellstore").mode("append")
      .option("numRegions", "8").save(s"$dir/main")
    MobMain.run(spark, Array("--dir", dir,
      "--compact", "true", "--reclaim", "true", "--stats", "true"))
    assert(spark.read.parquet(s"$dir/mob").count() == 1)
    val s = MobStore.mobStats(spark, dir).collect().head
    assert(s.getAs[Long]("n_blobs") == 1L && s.getAs[Long]("n_refs") == 1L)
    intercept[Args.CliExit](MobMain.run(spark, Array("--dir", dir)))
    intercept[Args.CliExit](MobMain.run(spark, Array(
      "--dir", dir, "--stats", "true", "--maxVersions", "0")))
    intercept[Args.CliExit](MobMain.run(spark, Array("--bogus", "x")))
  }
}
