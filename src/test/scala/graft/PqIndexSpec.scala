package graft

import graft.operators.ann.{Ann, PqIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-PQ-index theorems:
  *
  *  1. incremental == full: encoding a batch against STORED codebooks is
  *     bitwise the rows a full re-encode of (corpus ∪ batch) produces for
  *     those vectors — PQ encoding is a pure per-vector function of
  *     (embedding, codebooks), so splitting the corpus across build +
  *     append changes nothing.
  *  2. persisted search == in-memory search: ADC top-k against the
  *     reloaded (codebooks, codes) equals [[Ann.pqTopKOf]] bit-for-bit at
  *     identical geometry — parquet roundtrips floats exactly and the
  *     scaled-integer ADC sums are partition-order independent.
  *  3. append is O(batch) and immutable: an append adds exactly one new
  *     leaf, never touches existing leaves, and bumps the manifest
  *     version by one.
  */
class PqIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("pq-index-spec").toString

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))

  test("incremental encode equals full re-encode") {
    val all = emb.cache()
    val corpus = all.filter(col("vec_id") % 3 =!= 0)
    val batch = all.filter(col("vec_id") % 3 === 0)
    val dir = tmpDir()
    PqIndex.build(corpus, dir)
    PqIndex.append(spark, dir, batch)
    // full one-shot build at identical geometry, seeded from the SAME
    // corpus sample: codebooks are a function of the training set, so the
    // theorem compares batch codes against a re-encode of the whole set
    // with the STORED books — not a retrain
    val stored = PqIndex.codes(spark, dir)
    val fullReencode = PqIndex.encodeBatch(spark, dir, all)
    assert(stored.count() == all.count() * 4) // m=4 rows per vector
    val diff = stored.except(fullReencode).count() +
      fullReencode.except(stored).count()
    assert(diff == 0, "stored (build+append) codes != full re-encode")
  }

  test("persisted ADC search equals the in-memory lane bit-for-bit") {
    val corpus = Tables.spread(emb).cache()
    val dir = tmpDir()
    PqIndex.build(corpus, dir, refineIters = 1)
    val queries = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val persisted = PqIndex.topKAgainst(spark, dir, queries, corpus)
      .collect().map(_.toSeq)
    val inMemory = Ann.pqTopKOf(corpus, refineIters = 1)
      .collect().map(_.toSeq)
    assert(persisted.toSeq == inMemory.toSeq)
  }

  test("append adds one immutable leaf and bumps the manifest version") {
    val all = emb.cache()
    val dir = tmpDir()
    val m0 = PqIndex.build(all.filter(col("vec_id") < 30), dir)
    assert(m0.version == 1L && m0.codeLeaves.size == 1)
    val before = PqIndex.codes(spark, dir).count()
    val m1 = PqIndex.append(spark, dir,
      all.filter(col("vec_id") >= 30 && col("vec_id") < 40))
    assert(m1.version == 2L && m1.codeLeaves.size == 2)
    assert(m1.codeLeaves.head == m0.codeLeaves.head) // old leaf untouched
    val after = PqIndex.codes(spark, dir).count()
    assert(after == before + 10 * 4) // m=4 code rows per appended vector
    // reload from disk agrees with what append returned
    assert(PqIndex.readMeta(dir) == m1)
  }

  test("manifest commits are exclusive — two appenders racing a version have one winner") {
    val all = emb.cache()
    val dir = tmpDir()
    PqIndex.build(all.filter(col("vec_id") < 30), dir)
    // appender A commits version 2
    val mA = PqIndex.append(spark, dir,
      all.filter(col("vec_id") >= 30 && col("vec_id") < 35))
    assert(mA.version == 2L)
    // appender B read the index BEFORE A committed (stale meta at v1) and
    // now races the SAME version — its commit must lose, publishing
    // nothing, and A's manifest must be untouched
    val committed = graft.operators.store.IndexManifest.readMeta(dir).get
    val stale = committed.copy(leaves = mA.codeLeaves.init :+ "codes-v00000099")
    val e = intercept[IllegalStateException] {
      graft.operators.store.IndexManifest.commit(dir, stale)
    }
    assert(e.getMessage.contains("lost index-manifest commit race"))
    assert(PqIndex.readMeta(dir) == mA,
      "the loser's attempt must not perturb the committed manifest")
    // the documented retry path: re-read the CURRENT meta, append again
    val mB = PqIndex.append(spark, dir,
      all.filter(col("vec_id") >= 35 && col("vec_id") < 40))
    assert(mB.version == 3L && mB.codeLeaves.startsWith(mA.codeLeaves))
  }

  test("append sweeps dead leaves but never in-flight ones") {
    val all = emb.cache()
    val dir = tmpDir()
    PqIndex.build(all.filter(col("vec_id") < 30), dir)
    val (fs, _) = graft.sources.cdc.WalSegments.fsFor(dir)
    // leaves are `leaf=<tag>` partition dirs nested under each cell of
    // the shared codes table — plant residue in that layout
    def leafDir(tag: String) =
      new org.apache.hadoop.fs.Path(dir, s"codes/cell=0/leaf=$tag")
    // dead residue: an unreferenced leaf AT a claimed version (its commit
    // provably lost) — must be swept by the next append
    fs.mkdirs(leafDir("corpus")) // no version prefix (legacy): untouched
    val dead = leafDir("v00000000-dead")
    fs.mkdirs(dead)
    // in-flight: a leaf ABOVE the committed version (a concurrent
    // appender mid-commit) — must be left alone
    val inflight = leafDir("v00000077-x")
    fs.mkdirs(inflight)
    PqIndex.append(spark, dir, all.filter(col("vec_id") >= 30 && col("vec_id") < 35))
    assert(!fs.exists(dead), "dead leaf at a claimed version must be swept")
    assert(fs.exists(inflight), "leaf above the committed version must survive")
    assert(fs.exists(leafDir("corpus")),
      "version-prefix-less (legacy) directories are never touched")
    // and readers never see ANY of the residue: codes() restricts to
    // committed leaves via the manifest's leaf partition filter
    assert(PqIndex.codes(spark, dir).count() == 35 * 4)
  }

  test("ann08: IVF+PQ search through the persisted index finds every planted copy") {
    val out = PqIndex.selfRecallIvfPersisted(spark, sf, nQueries = 16).collect()
    assert(out.length == 16)
    assert(out.forall(r =>
      r.getLong(1) == r.getLong(0) + 100000L && r.getDouble(2) == 1.0),
      s"planted relation violated: ${out.take(5).toSeq}")
  }

  test("topKIvfAgainstAt: the snapshot search sees past codes and past tombstones") {
    import spark.implicits._
    val base = Tables.spread(emb).cache()
    val dir = tmpDir()
    // v1: corpus only; v2: planted exact copies appended; v3: vec 0's
    // copy tombstoned — the snapshot lanes must disagree exactly there
    PqIndex.build(base, dir, m = 4, ksub = 16, dim = 64, refineIters = 1)
    val v1 = PqIndex.readMeta(dir).version
    val copies = base.filter($"vec_id" < 4L)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    PqIndex.append(spark, dir, copies, tag = Some("inc1"))
    val v2 = PqIndex.readMeta(dir).version
    PqIndex.delete(spark, dir, Seq(Tuple1(100000L)).toDF("vec_id"),
      tag = Some("t0"))
    val queries = base.filter($"vec_id" < 4L)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val all = base.unionByName(copies)
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = df
      .filter($"rnk" === 1).select($"query_id", $"vec_id")
      .as[(Long, Long)].collect().toMap
    // as of v1 the copies are not yet indexed: no sim-1.0 twin exists
    val atV1 = top1(PqIndex.topKIvfAgainstAt(spark, dir, queries, all, v1,
      nprobe = 2, k = 1, rerank = 1024))
    assert(atV1.values.forall(_ < 100000L),
      s"v1 predates the copies — none may surface: $atV1")
    // as of v2 every copy is indexed and none is deleted yet
    val atV2 = top1(PqIndex.topKIvfAgainstAt(spark, dir, queries, all, v2,
      nprobe = 2, k = 1, rerank = 1024))
    assert((0L until 4L).forall(q => atV2(q) == q + 100000L),
      s"v2 must surface every planted twin: $atV2")
    // today vec 0's twin is tombstoned; the others still match
    val now = top1(PqIndex.topKIvfAgainst(spark, dir, queries, all,
      nprobe = 2, k = 1, rerank = 1024))
    assert(now(0L) != 100000L && (1L until 4L).forall(q => now(q) == q + 100000L),
      s"current search must hide the tombstone only: $now")
    // beyond the retained window the read refuses
    val e = intercept[IllegalArgumentException] {
      PqIndex.topKIvfAgainstAt(spark, dir, queries, all, v1 + 1000L,
        nprobe = 2, k = 1, rerank = 4)
    }
    assert(e.getMessage.contains("not retained"))
    base.unpersist()
  }

  test("as-of matrix: the flat and FILTERED lanes answer from the snapshot") {
    import spark.implicits._
    val withLabel = Tables.spread(Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", $"label")).cache()
    val base = withLabel.select($"vec_id", $"embedding")
    val dir = tmpDir()
    PqIndex.build(base, dir, m = 4, ksub = 16, dim = 64, refineIters = 1,
      ncells = 16)
    val v1 = PqIndex.readMeta(dir).version
    val copies = base.filter($"vec_id" < 4L)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    PqIndex.append(spark, dir, copies, tag = Some("inc1"))
    val v2 = PqIndex.readMeta(dir).version
    PqIndex.delete(spark, dir, Seq(Tuple1(100000L)).toDF("vec_id"),
      tag = Some("t0"))
    val all = base.unionByName(copies)
    val queries = base.filter($"vec_id" < 4L)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = df
      .filter($"rnk" === 1).select($"query_id", $"vec_id")
      .as[(Long, Long)].collect().toMap
    // FLAT exhaustive-ADC lane (topKAgainstAt): v1 predates the copies,
    // v2 surfaces every twin, the live lane hides the tombstone only
    val flatV1 = top1(PqIndex.topKAgainstAt(spark, dir, queries, all, v1,
      k = 1, rerank = 1024))
    assert(flatV1.values.forall(_ < 100000L), s"flat v1: $flatV1")
    val flatV2 = top1(PqIndex.topKAgainstAt(spark, dir, queries, all, v2,
      k = 1, rerank = 1024))
    assert((0L until 4L).forall(q => flatV2(q) == q + 100000L),
      s"flat v2: $flatV2")
    val flatNow = top1(PqIndex.topKAgainst(spark, dir, queries, all,
      k = 1, rerank = 1024))
    assert(flatNow(0L) != 100000L &&
      (1L until 4L).forall(q => flatNow(q) == q + 100000L),
      s"flat now: $flatNow")
    // FILTERED lane (topKIvfFilteredAgainstAt): copies inherit their
    // original's label, so the pre-filter passes them and the same
    // three-way contrast holds — the compliance-audit shape
    val labels = withLabel.select($"vec_id", $"label")
      .unionByName(withLabel.filter($"vec_id" < 4L)
        .select(($"vec_id" + 100000L).as("vec_id"), $"label"))
    val fq = withLabel.filter($"vec_id" < 4L)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"label".as("want_label"))
    val filtV1 = top1(PqIndex.topKIvfFilteredAgainstAt(spark, dir, fq,
      labels, all, v1, nprobe = 2, k = 1, rerank = 4096))
    assert(filtV1.values.forall(_ < 100000L), s"filtered v1: $filtV1")
    val filtV2 = top1(PqIndex.topKIvfFilteredAgainstAt(spark, dir, fq,
      labels, all, v2, nprobe = 2, k = 1, rerank = 4096))
    assert((0L until 4L).forall(q => filtV2(q) == q + 100000L),
      s"filtered v2: $filtV2")
    val filtNow = top1(PqIndex.topKIvfFilteredAgainst(spark, dir, fq,
      labels, all, nprobe = 2, k = 1, rerank = 4096))
    assert(filtNow(0L) != 100000L &&
      (1L until 4L).forall(q => filtNow(q) == q + 100000L),
      s"filtered now: $filtNow")
    // both lanes refuse beyond the retained window
    val e1 = intercept[IllegalArgumentException] {
      PqIndex.topKAgainstAt(spark, dir, queries, all, v1 + 1000L, k = 1)
    }
    assert(e1.getMessage.contains("not retained"))
    val e2 = intercept[IllegalArgumentException] {
      PqIndex.topKIvfFilteredAgainstAt(spark, dir, fq, labels, all,
        v1 + 1000L, nprobe = 2, k = 1)
    }
    assert(e2.getMessage.contains("not retained"))
    withLabel.unpersist()
  }

  test("ann08: cell-pruned recall@5 matches exhaustive ADC on real queries") {
    val corpus = Tables.spread(emb).cache()
    val dir = tmpDir()
    PqIndex.build(corpus, dir, refineIters = 1)
    val queries = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val exhaustive = PqIndex.topKAgainst(spark, dir, queries, corpus)
      .select("query_id", "rnk", "vec_id").collect().map(_.toSeq).toSet
    // probing ALL cells must reproduce the exhaustive ADC lane exactly…
    val allCells = PqIndex.topKIvfAgainst(spark, dir, queries, corpus,
      nprobe = 16).select("query_id", "rnk", "vec_id")
      .collect().map(_.toSeq).toSet
    assert(allCells == exhaustive, "nprobe=ncells must equal exhaustive ADC")
    // …and partial probes behave like the standard IVF quality/cost dial.
    // This fixture's embeddings are near-random — cosine neighbors
    // scatter uniformly over cells, so recall@5 ≈ the probed fraction
    // (clustered production data does far better). Assert the dial: at
    // least ~half the probed fraction at each setting, monotone in nprobe
    def recallAt(nprobe: Int): Double = {
      val pruned = PqIndex.topKIvfAgainst(spark, dir, queries, corpus,
        nprobe = nprobe).select("query_id", "rnk", "vec_id")
        .collect().map(_.toSeq).toSet
      (pruned intersect exhaustive).size.toDouble / exhaustive.size
    }
    val r4 = recallAt(4); val r8 = recallAt(8)
    assert(r4 >= 0.5 * 4.0 / 16 && r8 >= 0.5 * 8.0 / 16,
      s"recall@5 below probed-fraction floor: r4=$r4 r8=$r8")
    assert(r8 >= r4, s"recall not monotone in nprobe: r4=$r4 r8=$r8")
  }

  test("ann09: residual IVFADC — incremental residual encode equals full, copies found") {
    val corpus = Tables.spread(emb).cache()
    val dir = tmpDir()
    PqIndex.build(corpus.filter(col("vec_id") % 3 =!= 0), dir, residual = true)
    assert(PqIndex.readMeta(dir).residual, "manifest must record residual mode")
    // incremental == full for RESIDUAL codes too: cell assignment and
    // residual are pure per-vector functions of (embedding, stored
    // coarse), encoding a pure function of (residual, stored codebooks)
    PqIndex.append(spark, dir, corpus.filter(col("vec_id") % 3 === 0))
    val stored = PqIndex.codes(spark, dir)
    val fullReencode = PqIndex.encodeBatch(spark, dir, corpus)
    assert(stored.except(fullReencode).count() +
      fullReencode.except(stored).count() == 0,
      "stored residual codes != full residual re-encode")
    // exhaustive raw ADC refuses a residual index (wrong coding domain)
    val e = intercept[IllegalArgumentException] {
      PqIndex.topKAgainst(spark, dir,
        corpus.limit(1).select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")), corpus)
    }
    assert(e.getMessage.contains("RESIDUAL"))
  }

  test("ann13: compaction preserves the code relation bit-for-bit and readers survive") {
    val all = emb.cache()
    val dir = tmpDir()
    PqIndex.build(all.filter(col("vec_id") % 3 === 0), dir)
    PqIndex.append(spark, dir, all.filter(col("vec_id") % 3 === 1))
    PqIndex.append(spark, dir, all.filter(col("vec_id") % 3 === 2))
    val before = PqIndex.readMeta(dir)
    assert(before.codeLeaves.size == 3)
    // a reader plans its scan against the PRE-compaction manifest
    val preReader = PqIndex.codes(spark, dir)
    val preRows = preReader.collect().map(_.toSeq).toSet
    val after = PqIndex.compact(spark, dir)
    assert(after.version == before.version + 1)
    assert(after.codeLeaves.size == 1)
    // post-compaction relation identical row-for-row
    val postRows = PqIndex.codes(spark, dir).collect().map(_.toSeq).toSet
    assert(postRows == preRows, "compaction changed the code relation")
    // the pre-compaction reader still collects — old leaves are retained
    // by the manifest grace window, not swept at compaction time
    assert(preReader.collect().map(_.toSeq).toSet == preRows)
    // idempotency tag: second compact with the same tag is a no-op
    val dir2 = tmpDir()
    PqIndex.build(all.filter(col("vec_id") % 2 === 0), dir2)
    PqIndex.append(spark, dir2, all.filter(col("vec_id") % 2 === 1))
    val c1 = PqIndex.compact(spark, dir2, tag = Some("nightly-001"))
    val c2 = PqIndex.compact(spark, dir2, tag = Some("nightly-001"))
    assert(c1.version == c2.version, "tagged compaction replay must be a no-op")
    // single-leaf index: compact is a no-op without a new commit
    val c3 = PqIndex.compact(spark, dir2)
    assert(c3.version == c1.version)
  }

  test("syncVectorIndex: replica deletes+truncates tombstone, live unindexed rows append, replay no-ops") {
    import graft.streaming.Materializer
    import spark.implicits._
    val all = Tables.spread(emb).cache()
    val dir = tmpDir()
    // index bootstrapped with a SUBSET of the replica's rows
    PqIndex.build(all.filter(col("vec_id") < 30), dir)
    // the replica: every id inserted (seq = id); ids 10, 11 deleted
    // later; table truncated up to seq 4 (kills ids 0..4)
    val stateDir = "file://" +
      java.nio.file.Files.createTempDirectory("sync_state").toString
    val mspec = Materializer.Spec(
      keyCols = Seq("table_name", "record_id"), buckets = 8)
    val ids = all.select(col("vec_id")).as[Long].collect().toSeq.sorted
    val inserts = ids.map(i => ("v", i, i + 100L, "insert", 0L))
    val deletes = Seq(("v", 10L, 900L, "delete", 0L), ("v", 11L, 901L, "delete", 0L))
    Materializer.applyBatch(spark, stateDir,
      (inserts ++ deletes)
        .toDF("table_name", "record_id", "seq", "op", "val_cents"), mspec)
    Materializer.applyTruncate(stateDir, "v", upToSeq = 104L, mspec)
    val deadExpected = ids.filter(i => i + 100L <= 104L).toSet ++ Set(10L, 11L)
    // sync: dead∩indexed tombstones; alive∖indexed appends
    val (nDel, nAdd) = graft.streaming.Graft.syncVectorIndex(
      spark, stateDir, mspec, "record_id", dir, all, tag = "cycle1")
    val indexedBefore = ids.filter(_ < 30).toSet
    assert(nDel == (deadExpected & indexedBefore).size.toLong,
      s"tombstoned $nDel, expected ${(deadExpected & indexedBefore).size}")
    assert(nAdd == ids.filter(i => i >= 30 && !deadExpected(i)).size.toLong,
      s"appended $nAdd")
    // the searchable set is exactly the replica's live rows ∩ provider
    val tombs = spark.read.parquet(s"$dir/tombs")
      .select(col("vec_id")).as[Long].collect().toSet
    val codes = PqIndex.codes(spark, dir).select(col("vec_id"))
      .distinct().as[Long].collect().toSet
    assert((codes -- tombs) == ids.filterNot(deadExpected).toSet,
      "post-sync searchable ids must equal the replica's live set")
    // replay: same tag commits nothing twice — and the diff itself is
    // EMPTY, because the dead ids already left the searchable set
    // (diffing raw codes instead would re-count them every cycle)
    val vBefore = PqIndex.readMeta(dir).version
    val (d2, a2) = graft.streaming.Graft.syncVectorIndex(
      spark, stateDir, mspec, "record_id", dir, all, tag = "cycle1")
    assert(d2 == 0L && a2 == 0L, s"replay diff drifted: ($d2, $a2)")
    assert(PqIndex.readMeta(dir).version == vBefore,
      "a replayed sync cycle must not commit new versions")
    // a FRESH-tag cycle with no replica changes is also a full no-op:
    // already-tombstoned ids must not be re-tombstoned per cycle
    val (d3, a3) = graft.streaming.Graft.syncVectorIndex(
      spark, stateDir, mspec, "record_id", dir, all, tag = "cycle2")
    assert(d3 == 0L && a3 == 0L, s"steady-state cycle not a no-op: ($d3, $a3)")
    assert(PqIndex.readMeta(dir).version == vBefore,
      "a steady-state sync cycle must not commit new versions")
    all.unpersist(); ()
  }

  test("searchAndAppend: compactEvery folds code leaves mid-loop; matches unchanged") {
    val base = Tables.spread(emb).cache()
    val all = graft.operators.ann.Ann.withExactCopies(base).cache()
    val copies = all.filter(col("vec_id") >= 100000L)
    val tmp = graft.Tables.scratchDir("graft-pq-stream-compact")
    val dir = s"$tmp/index"
    val stageDir = s"$tmp/arrivals"
    val outDir = s"$tmp/matches"
    PqIndex.build(base, dir)
    copies.repartition(4, col("vec_id")).write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val q = graft.GraftSession.withStreamShuffle(spark)(
      graft.streaming.Graft.searchAndAppend(stream, dir, outDir,
        embProvider = all, nprobe = 2, k = 1, rerank = 1024,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        queryName = "graft-saa-compact-spec", compactEvery = 2))
    graft.GraftSession.awaitFinished(q)
    // 4 batches at cadence 2: the last fold is followed by a compaction,
    // so exactly one committed code leaf remains — and the planted
    // relation survived every mid-loop compaction
    assert(PqIndex.readMeta(dir).codeLeaves.size == 1,
      s"cadence must leave one committed leaf: ${PqIndex.readMeta(dir).codeLeaves}")
    val pairs = spark.read.parquet(outDir)
      .filter(col("vec_id") === col("query_id") - 100000L)
      .select(col("query_id")).distinct().count()
    val expected = copies.count()
    assert(pairs == expected,
      s"every arriving copy must find its original: $pairs of $expected")
    base.unpersist(); all.unpersist(); ()
  }

  test("append: a torn TAGGED attempt's residue is dropped on replay — no duplicate rows") {
    import spark.implicits._
    val all = Tables.spread(emb).cache()
    val dir = tmpDir()
    PqIndex.build(all.filter(col("vec_id") < 30), dir)
    val batch = all.filter(col("vec_id") >= 30 && col("vec_id") < 40)
    // commit a tagged append, then simulate "crashed between the leaf
    // write and the manifest commit" by deleting the committing
    // manifest version: the deterministic leaf name's dirs stay behind
    // as residue
    val m = PqIndex.append(spark, dir, batch, tag = Some("b000001"))
    val (fs, _) = graft.sources.cdc.WalSegments.fsFor(dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir,
      f"_manifest-v${m.version}%08d"), false)
    assert(PqIndex.readMeta(dir).version == m.version - 1,
      "fixture must read back the pre-append manifest")
    // the foreachBatch replay: same tag, same deterministic leaf name —
    // the torn attempt's residue must be dropped, not appended into
    PqIndex.append(spark, dir, batch, tag = Some("b000001"))
    val counts = PqIndex.codes(spark, dir)
      .groupBy(col("vec_id")).count()
      .filter(col("count") =!= 4) // m=4 codes per vector, exactly once
      .count()
    assert(counts == 0L,
      "a replayed tagged append must never duplicate a vector's codes")
    val ids = PqIndex.codes(spark, dir).select(col("vec_id")).distinct()
      .as[Long].collect().toSet
    assert(ids == (0L until 40L).toSet, s"post-replay id set: ${ids.size}")
    all.unpersist(); ()
  }

  test("syncVectorIndex: a deleted-then-reinserted replica row becomes searchable again") {
    import graft.streaming.Materializer
    import spark.implicits._
    val all = Tables.spread(emb).cache()
    val dir = tmpDir()
    PqIndex.build(all, dir)
    val stateDir = "file://" +
      java.nio.file.Files.createTempDirectory("sync_resurrect").toString
    val mspec = Materializer.Spec(
      keyCols = Seq("table_name", "record_id"), buckets = 8)
    val ids = all.select(col("vec_id")).as[Long].collect().toSeq.sorted
    Materializer.applyBatch(spark, stateDir,
      ids.map(i => ("v", i, i + 100L, "insert", 0L))
        .toDF("table_name", "record_id", "seq", "op", "val_cents"), mspec)
    // cycle 1: id 7 deleted → tombstoned in the index
    Materializer.applyBatch(spark, stateDir,
      Seq(("v", 7L, 900L, "delete", 0L))
        .toDF("table_name", "record_id", "seq", "op", "val_cents"), mspec)
    val (d1, a1) = graft.streaming.Graft.syncVectorIndex(
      spark, stateDir, mspec, "record_id", dir, all, tag = "c1")
    assert(d1 == 1L && a1 == 0L, s"cycle 1 diff: ($d1, $a1)")
    def searchable(): Set[Long] = {
      val tombs = PqIndex.tombstonedIds(spark, dir)
        .as[Long].collect().toSet
      PqIndex.codes(spark, dir).select(col("vec_id")).distinct()
        .as[Long].collect().toSet -- tombs
    }
    assert(!searchable().contains(7L), "deleted id still searchable")
    // cycle 2: id 7 RE-INSERTED at a later seq — the standing tombstone
    // would hide a plain re-append, so the sync must compact first and
    // the row must come back searchable (the reconcile contract:
    // searchable set == replica live set)
    Materializer.applyBatch(spark, stateDir,
      Seq(("v", 7L, 950L, "insert", 0L))
        .toDF("table_name", "record_id", "seq", "op", "val_cents"), mspec)
    val (d2, a2) = graft.streaming.Graft.syncVectorIndex(
      spark, stateDir, mspec, "record_id", dir, all, tag = "c2")
    assert(d2 == 0L && a2 == 1L, s"cycle 2 diff: ($d2, $a2)")
    assert(searchable() == ids.toSet,
      "re-inserted row must be searchable after the sync cycle")
    // and the search path itself finds it: querying id 7's embedding
    // under a foreign query_id must return vec 7 at sim 1.0 (the
    // planted-copy reasoning — identical embedding, global-max ADC)
    val q = all.filter(col("vec_id") === 7L)
      .select(lit(900007L).as("query_id"), col("embedding").as("q_emb"))
    val hits = PqIndex.topKIvfAgainst(spark, dir, q, all,
        nprobe = 2, k = 1, rerank = 4096)
      .collect().map(r => r.getLong(2))
    assert(hits.toSeq == Seq(7L),
      s"re-inserted vector must be the top hit, got ${hits.toSeq}")
    all.unpersist(); ()
  }

  test("ann15: tombstoned vectors vanish from search; compaction drops them physically") {
    val all = emb.cache()
    val dir = tmpDir()
    PqIndex.build(all, dir)
    val copies = all.filter(col("vec_id") < 8)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    PqIndex.append(spark, dir, copies)
    val queries = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    def top1(): Map[Long, Long] =
      PqIndex.topKIvfAgainst(spark, dir, queries,
        all.unionByName(copies), nprobe = 2, k = 1, rerank = 4096)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // alive: every query finds its planted copy
    assert(top1() == (0L until 8L).map(q => q -> (q + 100000L)).toMap)
    // delete half the copies: those queries must fall back to an organic
    // neighbor (never the tombstoned id); the rest keep their copies
    val dead = copies.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
    val m1 = PqIndex.delete(spark, dir, dead, tag = Some("del-001"))
    assert(m1.tombLeaves.size == 1)
    // idempotent: tag replay is a no-op
    val m2 = PqIndex.delete(spark, dir, dead, tag = Some("del-001"))
    assert(m2.version == m1.version && m2.tombLeaves == m1.tombLeaves)
    val afterDelete = top1()
    (0L until 8L).foreach { q =>
      if (q % 2 == 0) assert(afterDelete(q) != q + 100000L,
        s"tombstoned copy of $q still surfaces")
      else assert(afterDelete(q) == q + 100000L, s"live copy of $q lost")
    }
    // exhaustive-ADC path honours tombstones too (its organic fallbacks
    // legitimately differ from IVF's — global best vs best-in-probed-cells
    // — so assert the tombstone contract, not result equality)
    val adc = PqIndex.topKAgainst(spark, dir, queries,
      all.unionByName(copies), k = 1, rerank = 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0L until 8L).foreach { q =>
      if (q % 2 == 0) assert(adc(q) != q + 100000L,
        s"exhaustive path surfaced the tombstoned copy of $q")
      else assert(adc(q) == q + 100000L)
    }
    // compaction drops tombstoned codes physically and clears the set;
    // search is identical before/after
    val nBefore = PqIndex.codes(spark, dir).count()
    val meta = PqIndex.compact(spark, dir)
    assert(meta.tombLeaves.isEmpty)
    // 4 tombstoned vectors × m=4 code rows each
    assert(PqIndex.codes(spark, dir).count() == nBefore - 16,
      "compaction did not drop the tombstoned codes")
    assert(top1() == afterDelete, "compaction changed search results")
  }

  test("ann14: the label pre-filter bites — wrong-label vectors never surface") {
    import graft.operators.ann.PqIndex
    val withLabel = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).cache()
    val base = withLabel.select(col("vec_id"), col("embedding"))
    val dir = tmpDir()
    PqIndex.build(base, dir)
    val labels = withLabel.select(col("vec_id"), col("label"))
    // query with a label OTHER than the queried vector's own: its exact
    // self (sim 1.0 via vec_id != query_id exclusion doesn't apply — the
    // vector IS in the index) and every same-label neighbor must be
    // filtered out; everything returned carries the demanded label
    val nLabels = withLabel.agg(max(col("label"))).collect()(0).getInt(0) + 1
    val queries = withLabel.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        ((col("label") + 1) % nLabels).as("want_label"))
    val out = PqIndex.topKIvfFilteredAgainst(spark, dir, queries, labels,
      base, nprobe = 16, k = 5, rerank = 4096)
    val labelOf = labels.select(col("vec_id").as("matched_id"), col("label"))
    val joined = out.join(labelOf, col("vec_id") === col("matched_id"))
      .select(col("want_label"), col("label")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"filtered search returned label ${r.getInt(1)} for want ${r.getInt(0)}"))
  }

  test("ann17: the label pre-filter bites on the RESIDUAL (IVFADC) branch too") {
    import graft.operators.ann.PqIndex
    val withLabel = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).cache()
    val base = withLabel.select(col("vec_id"), col("embedding"))
    val dir = tmpDir()
    PqIndex.build(base, dir, residual = true)
    assert(PqIndex.readMeta(dir).residual, "fixture must be an IVFADC index")
    val labels = withLabel.select(col("vec_id"), col("label"))
    val nLabels = withLabel.agg(max(col("label"))).collect()(0).getInt(0) + 1
    val queries = withLabel.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        ((col("label") + 1) % nLabels).as("want_label"))
    val out = PqIndex.topKIvfFilteredAgainst(spark, dir, queries, labels,
      base, nprobe = 16, k = 5, rerank = 4096)
    val labelOf = labels.select(col("vec_id").as("matched_id"), col("label"))
    val joined = out.join(labelOf, col("vec_id") === col("matched_id"))
      .select(col("want_label"), col("label")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"residual filtered search returned label ${r.getInt(1)} for " +
        s"want ${r.getInt(0)}"))
  }

  test("ann06 self-recall through the persisted index is the planting relation") {
    val out = PqIndex.selfRecallPersisted(spark, sf).collect()
    val n = emb.count()
    assert(out.length == n)
    assert(out.forall(r =>
      r.getLong(1) == r.getLong(0) + 100000L && r.getDouble(2) == 1.0))
  }

  test("ann27: drift degrades the frozen-codebook shortlist, retrain restores it, as-of pins geometry") {
    // TRUE recall@1 vs in-plan brute force over the drifted domain —
    // the ann26 discipline on the vector-quantization axis. The floor
    // (75%) sits between the two measured bands (38/64 frozen vs 60/64
    // retrained at sf0.001; 31 vs 59 at sf0.01); the as-of identity is
    // exact.
    val (pre, post, asofMismatch) = PqIndex.retrainRecallStats(spark, sf)
    info(s"frozen-codebook hits: $pre / 64, retrained: $post / 64")
    assert(pre * 100L < 75L * 64L,
      s"drift must pull frozen-codebook recall below the floor: $pre/64")
    assert(post * 100L >= 75L * 64L,
      s"retrain must restore recall above the floor: $post/64")
    assert(asofMismatch == 0L,
      s"as-of search must reproduce the pre-retrain answer row-for-row " +
        s"($asofMismatch mismatched rows)")
  }

  test("retrain: geometry swaps atomically; erased tags retire into donetags; replayed folds no-op") {
    import spark.implicits._
    val dir = tmpDir()
    val base = emb
    PqIndex.build(base, dir)
    val wave = base.select((col("vec_id") + 400000L).as("vec_id"),
      col("embedding"))
    PqIndex.append(spark, dir, wave, Some("wave-1"))
    PqIndex.delete(spark, dir,
      spark.range(400000L, 400010L).select($"id".as("vec_id")),
      Some("kill-1"))
    val pre = PqIndex.readMeta(dir)
    val post = PqIndex.retrain(spark, dir,
      base.unionByName(wave), "rt-1")
    // one replace commit: fresh version-named geometry, ONE leaf, empty
    // tombstones — and the tombstoned ids dropped out physically
    assert(post.version == pre.version + 1)
    assert(post.codebooksDir != pre.codebooksDir &&
      post.coarseDir != pre.coarseDir)
    assert(post.codeLeaves.size == 1 && post.tombLeaves.isEmpty)
    val liveIds = PqIndex.codes(spark, dir)
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(!(400000L until 400010L).exists(liveIds.contains),
      "tombstoned ids must not survive the retrain re-encode")
    assert(liveIds.contains(400010L) && liveIds.exists(_ < 400000L))
    // geometry dials are the store's contract — content refreshed only
    assert((post.m, post.ksub, post.dim, post.ncells) ==
      ((pre.m, pre.ksub, pre.dim, pre.ncells)))
    // replayed tagged folds no-op although their leaves were erased:
    // the donetags discipline (the KnnGraph rule on the vector store)
    assert(PqIndex.append(spark, dir, wave, Some("wave-1"))
      .version == post.version, "replayed append must no-op via donetags")
    assert(PqIndex.delete(spark, dir,
        spark.range(400000L, 400010L).select($"id".as("vec_id")),
        Some("kill-1"))
      .version == post.version, "replayed delete must no-op via donetags")
    assert(PqIndex.retrain(spark, dir, base, "rt-1")
      .version == post.version, "replayed retrain must no-op on its tag")
    // appends continue against the REFRESHED geometry
    val wave2 = base.select((col("vec_id") + 500000L).as("vec_id"),
      col("embedding"))
    val m2 = PqIndex.append(spark, dir, wave2, Some("wave-2"))
    assert(m2.version == post.version + 1 &&
      m2.codebooksDir == post.codebooksDir)
  }

  test("build and retrain release their training pins: only the artifact read-backs stay cached") {
    val base = Tables.spread(emb).cache()
    base.count()
    val dir = tmpDir()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // the manifest's codebook and coarse dirs are cached read-backs; the
    // training generations behind them must be released after the write
    def artifactsCached(meta: PqIndex.Meta): Boolean =
      Seq(meta.codebooksDir, meta.coarseDir).forall(a =>
        spark.read.parquet(s"$dir/$a").storageLevel.useMemory)
    val beforeBuild = persisted
    val built = PqIndex.build(base, dir, refineIters = 2, coarseRefineIters = 1)
    val afterBuild = persisted
    assert(artifactsCached(built) && (afterBuild -- beforeBuild).size == 2,
      s"build left ${(afterBuild -- beforeBuild).size} RDDs pinned")
    val retrained = PqIndex.retrain(spark, dir, base, "rt-pins",
      refineIters = 2, coarseRefineIters = 1)
    assert(artifactsCached(retrained) && (persisted -- afterBuild).size == 2,
      s"retrain left ${(persisted -- afterBuild).size} RDDs pinned")
    base.unpersist()
  }

  test("retrain evicts superseded artifacts: only what retained manifests name stays cached") {
    import graft.operators.store.IndexManifest
    val base = Tables.spread(emb).cache()
    base.count()
    val dir = tmpDir()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    PqIndex.build(base, dir)
    val retain = 1
    IndexManifest.setRetention(dir, retain)
    (1 to retain + 2).foreach(i => PqIndex.retrain(spark, dir, base, s"rt-$i"))
    val named = IndexManifest.history(dir)
      .flatMap(m => Seq("codebooks", "coarse").flatMap(m.params.get)).toSet
    assert(named.size == 2 * (retain + 1), s"retained artifacts: $named")
    val onDisk = new java.io.File(dir).list().toSeq
      .filter(_.matches("(codebooks|coarse)-v\\d+"))
    assert(onDisk.toSet.size > named.size, s"superseded artifacts on disk: $onDisk")
    val cached = onDisk.filter(a =>
      spark.read.parquet(s"$dir/$a").storageLevel.useMemory).toSet
    assert(cached == named,
      s"cached ${cached.toSeq.sorted}, retained manifests name ${named.toSeq.sorted}")
    assert((persisted -- before).size == named.size,
      s"${(persisted -- before).size} RDDs pinned for ${named.size} retained artifacts")
    base.unpersist()
  }
}
