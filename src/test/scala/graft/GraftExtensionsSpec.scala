package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: every native expression resolves and evaluates from
  * plain SQL through `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // extensions bind at session creation — force a fresh session over the
    // shared SparkContext (suites run sequentially in the forked test JVM).
    // withExtensions, not spark.sql.extensions: the conf is STATIC and read
    // from the SparkContext's conf, which an earlier suite already created.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.timeType.enabled", "true")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  test("native expressions resolve and evaluate from plain SQL") {
    val r = spark.sql("""
      SELECT
        cosine_similarity(array(cast(3.0 as float), cast(4.0 as float)),
                          array(cast(3.0 as float), cast(4.0 as float))) AS cos,
        pg_array_parse('{a,NULL,"x y"}') AS arr,
        simhash64(array(cast(5 as bigint))) AS sh,
        pg_interval_parts('1 day 02:00:00') AS iv,
        cast(pg_timetz('06:30:05+02') as string) AS ttz,
        element_at(map_changed_fields(map('a','1','b','9'), map('a','2','b','9'),
          cast(array() as array<string>)), 'a').new_value AS nv,
        size(minhash_band_buckets(array(cast(7 as bigint)), 64, 16)) AS n_bands,
        size(hyperplane_band_buckets(array(cast(1.0 as float)), 8, 10)) AS n_hp,
        winnow_fingerprints('abcdefghijklmnop', 5, 4).n_kgrams AS n_kg,
        any_changed_key_not_in(map('b', named_struct('old_value','1','new_value','2')),
          array('b')) AS f6_map,
        any_watched_field_changed(map('a','1','b','1'), map('a','2','b','1'),
          cast(array() as array<string>), array('a')) AS f6_fused,
        word_ngrams(' a b  a b c ', 2) AS ngrams,
        count_in_static_set(array('bad','ok','bad','worse'),
          array('bad','worse')) AS n_blocked
    """).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getSeq[String](1) == Seq("a", null, "x y"))
    assert(r.getLong(2) == 5L) // single token: simhash = its own bits
    val iv = r.getStruct(3)
    assert((iv.getInt(0), iv.getInt(1), iv.getLong(2)) == ((0, 1, 7200000000L)))
    assert(r.getString(4) == "04:30:05")
    assert(r.getString(5) == "2")
    assert(r.getInt(6) == 16 && r.getInt(7) == 8)
    assert(r.getInt(8) == 12) // 16 chars, k=5 → 12 k-grams
    assert(!r.getBoolean(9)) // only changed key is unwatched → drop
    assert(!r.getBoolean(10)) // only 'a' changed and 'a' is unwatched → drop
    // distinct, first-occurrence order, whitespace-run/trim tolerant
    assert(r.getSeq[String](11) == Seq("a b", "b a", "b c"))
    assert(r.getInt(12) == 3) // duplicates counted: bad×2 + worse
  }

  test("word_chunks from SQL reproduces TextOps.chunkWindows chunk_text exactly") {
    import graft.operators.text.TextOps
    val sf = "/root/testdata/sf0.001"
    Tables.documents(spark, sf).createOrReplaceTempView("ge_docs")
    val sql = spark.sql("""
      SELECT doc_id, posexplode(word_chunks(text, 64, 16)) AS (chunk_id, chunk_text)
      FROM ge_docs
    """).select("doc_id", "chunk_id", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val api = TextOps.chunkWindows(spark, sf, chunkSize = 64, overlap = 16)
      .select("doc_id", "chunk_id", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(sql.nonEmpty && sql.toSeq == api.toSeq)
  }

  test("zorder_key from SQL reproduces Layout.zOrderKey bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val grid = (0 until 32).flatMap(a => (0 until 32).map(b => (a, b))).toDF("a", "b")
    val viaSql = grid.selectExpr("a", "b", "zorder_key(a, b, 5) AS z")
    val viaCol = grid.select(col("a"), col("b"),
      graft.operators.Layout.zOrderKey(col("a"), col("b"), 5).as("z"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
    // spot-check the Morton identity: a=0b11111, b=0 → odd bit positions
    val z = viaSql.where("a = 31 AND b = 0").collect()(0).getLong(2)
    assert(z == (2L + 8L + 32L + 128L + 512L), s"z=$z")
    // bits must be an INT literal — it shapes the expression
    val e = intercept[Exception](spark.sql("SELECT zorder_key(1, 2, 1 + 2)").collect())
    assert(e.getMessage.contains("INT literal"))
  }

  test("bm25_score from SQL reproduces TextOps.bm25TopK bit-for-bit") {
    import graft.operators.text.TextOps
    import spark.implicits._
    val docs = Seq(
      (1L, "spark joins tables with spark sql join"),
      (2L, "the customer table holds customer rows"),
      (3L, "join the spark cluster"),
      (4L, "nothing relevant here at all"),
      (5L, "spark spark spark join join query")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("ge_bm25_docs")
    // the full retrieval pipeline in PURE SQL through the native kernel:
    // tf/df/corpus stats as SQL aggregates, score = bm25_score summed in
    // query-term order ('spark' then 'join' — addition order is contract)
    val sql = spark.sql("""
      WITH t AS (
        SELECT doc_id, filter(split(trim(text), '\\s+'), x -> x != '') AS toks
        FROM ge_bm25_docs),
      d AS (SELECT doc_id, cast(size(toks) AS bigint) AS dl,
                   cast(size(filter(toks, x -> x = 'spark')) AS bigint) AS tf_spark,
                   cast(size(filter(toks, x -> x = 'join')) AS bigint) AS tf_join
            FROM t),
      stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens,
                       cast(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS bigint) AS df_spark,
                       cast(sum(CASE WHEN tf_join  > 0 THEN 1 ELSE 0 END) AS bigint) AS df_join
                FROM d)
      SELECT doc_id,
        bm25_score(tf_spark, df_spark, dl, n_docs, total_tokens)
          + bm25_score(tf_join, df_join, dl, n_docs, total_tokens) AS score
      FROM d CROSS JOIN stats
      WHERE tf_spark > 0 OR tf_join > 0
      ORDER BY score DESC, doc_id
    """).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val api = TextOps.bm25TopKFor(docs, Seq(1 -> Seq("spark", "join")), k = 5)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(sql.toSeq == api.toSeq, // EXACT double equality — the same IEEE tree
      s"sql=${sql.toSeq} api=${api.toSeq}")
  }

  test("canon_url from SQL reproduces TextOps.canonicalizeUrl exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&z=1&a=2",
      "https://site.org/path/",
      "http://host.net",
      "http://host.net/?utm_campaign=only").toDF("u")
    val viaSql = urls.selectExpr("u", "canon_url(u) AS c")
    val viaCol = urls.select(col("u"),
      graft.operators.text.TextOps.canonicalizeUrl(col("u")).as("c"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
    val got = viaSql.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&z=1&a=2") ==
      "http://example.com/a/b?a=2&z=1")
    // idempotent from SQL too
    val twice = urls.selectExpr("canon_url(canon_url(u)) AS c2")
    assert(twice.exceptAll(viaSql.select(col("c"))).isEmpty)
  }

  test("sketch shape arguments must be INT literals") {
    val ex = intercept[Exception] {
      spark.sql("SELECT minhash_band_buckets(array(cast(1 as bigint)), 1 + 1, 16)")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("INT literal")))
  }

  test("index TVFs resolve through builder-time injection; literal fence holds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ext_tvf").toString
    val docs = (1L to 40L)
      .map(i => (i, s"corpus document number $i with words " + ("x " * 20)))
      .toDF("doc_id", "text")
    graft.operators.dedup.Dedup.dedupIndexAppend(docs, dir, "c1")
    val n = spark.sql(
      s"SELECT count(DISTINCT doc_id) AS n FROM graft_index('$dir', 'sets')")
      .collect()(0).getLong(0)
    assert(n == 40L, s"TVF read through withExtensions must see the fold: $n")
    val meta = spark.sql(s"SELECT * FROM graft_index_meta('$dir')").collect()(0)
    assert(meta.getAs[Long]("version") == 1L &&
      meta.getAs[Int]("n_leaves") == 1 && meta.getAs[Int]("retain") == 8,
      s"catalog row: $meta")
    // beyond the retained window the as-of TVF refuses at plan time
    val ex1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_index_at('$dir', 'sets', 999)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex1).exists(_.contains("not retained")))
    // the path argument shapes the plan — non-literals are refused
    val ex2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_index(concat('a', rand()), 'sets')").collect()
    }
    assert(msgs(ex2).exists(_.contains("STRING literal")))
    // an INT dial handed a BIGINT beyond Int range errs loudly instead
    // of wrapping to garbage (rerank=5e9 must not become a negative int)
    docs.createOrReplaceTempView("ext_ovf_batch")
    val ex3 = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_screen('$dir', 'ext_ovf_batch', 5000000000)")
        .collect()
    }
    assert(msgs(ex3).exists(_.contains("out of INT range")))
    // the history TVF is the time-travel catalog: one row per retained
    // version, each with its snapshot's census
    graft.operators.dedup.Dedup.dedupIndexAppend(
      docs.select($"doc_id" + 1000, $"text")
        .toDF("doc_id", "text"), dir, "c2")
    val hist = spark.sql(
      s"SELECT version, n_leaves FROM graft_index_history('$dir') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(hist == Seq((1L, 1), (2L, 2)), s"history rows: $hist")
  }

  test("graft_state TVFs read the replica current and as-of, dial from the manifest") {
    import spark.implicits._
    import graft.streaming.Materializer
    val stateDir = java.nio.file.Files.createTempDirectory("ext_state").toString
    val spec = Materializer.Spec(
      keyCols = Seq("table_name", "record_id"), buckets = 4)
    def chg(rows: (Long, Long, String)*) = rows
      .map { case (id, seq, op) => ("r", id, seq, op) }
      .toDF("table_name", "record_id", "seq", "op")
    Materializer.applyBatch(spark, stateDir,
      chg((1L to 6L).map(i => (i, i, "insert")): _*), spec)
    val mark = Materializer.readManifest(stateDir).version
    Materializer.applyBatch(spark, stateDir, chg((2L, 100L, "delete")), spec)
    val keys = "table_name,record_id"
    val now = spark.sql(
      s"SELECT record_id FROM graft_state('$stateDir', '$keys')")
      .collect().map(_.getLong(0)).toSet
    assert(now == Set(1L, 3L, 4L, 5L, 6L), s"now rows: $now")
    val asof = spark.sql(
      s"SELECT record_id FROM graft_state_at('$stateDir', '$keys', $mark)")
      .collect().map(_.getLong(0)).toSet
    assert(asof == (1L to 6L).toSet, s"asof rows: $asof")
    // the dial comes from the manifest alone: a trailing bucket
    // argument is refused
    val e = intercept[Exception](spark.sql(
      s"SELECT record_id FROM graft_state('$stateDir', '$keys', 4)"))
    assert(e.getMessage.contains("expects (path, key_cols)"), e.getMessage)
  }

  test("graft_state / graft_state_at analysis and EXPLAIN run no Spark job") {
    import spark.implicits._
    import graft.streaming.Materializer
    val stateDir = java.nio.file.Files.createTempDirectory("ext_state_jobs").toString
    val spec = Materializer.Spec(
      keyCols = Seq("table_name", "record_id"), buckets = 4)
    Materializer.applyBatch(spark, stateDir, (1L to 6L)
      .map(i => ("r", i, i, "insert")).toDF("table_name", "record_id", "seq", "op"),
      spec)
    val mark = Materializer.readManifest(stateDir).version
    val keys = "table_name,record_id"
    // the store's schema is read from its manifest, not inferred from
    // the leaf footers: planning a state read touches no data
    Seq(s"graft_state('$stateDir', '$keys')",
        s"graft_state_at('$stateDir', '$keys', $mark)").foreach { tvf =>
      val (_, analyzed, _) = JobAudit.recorded(spark) {
        spark.sql(s"SELECT * FROM $tvf").schema
      }
      assert(analyzed.isEmpty, s"analyzing $tvf ran ${JobAudit.describe(analyzed)}")
      val (plan, explained, _) = JobAudit.recorded(spark) {
        spark.sql(s"EXPLAIN SELECT * FROM $tvf").collect()
      }
      assert(plan.nonEmpty && explained.isEmpty,
        s"EXPLAIN of $tvf ran ${JobAudit.describe(explained)}")
    }
  }

  test("graft_state names an empty store; graft_state_at plans the SNAPSHOT's bucket dial") {
    import spark.implicits._
    import graft.streaming.Materializer
    val keys = "table_name,record_id"
    val missing =
      java.nio.file.Files.createTempDirectory("ext_state_empty").toString
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_state('$missing', '$keys')")
    }
    assert(e.getMessage.contains("holds no materialized state"),
      s"empty-store error must say so, not blame a missing dial: ${e.getMessage}")
    // rebucket between the mark and now: the as-of read must resolve
    // the PINNED version's dial, not the head's post-rebucket one
    val dir = java.nio.file.Files.createTempDirectory("ext_state_rb").toString
    val spec4 = Materializer.Spec(
      keyCols = Seq("table_name", "record_id"), buckets = 4)
    def chg(rows: (Long, Long, String)*) = rows
      .map { case (id, seq, op) => ("r", id, seq, op) }
      .toDF("table_name", "record_id", "seq", "op")
    Materializer.applyBatch(spark, dir,
      chg((1L to 6L).map(i => (i, i, "insert")): _*), spec4)
    val mark = Materializer.readManifest(dir).version
    Materializer.rebucket(spark, dir, spec4, newBuckets = 8)
    Materializer.applyBatch(spark, dir, chg((7L, 7L, "insert")),
      spec4.copy(buckets = 8))
    val asof = spark.sql(
      s"SELECT record_id FROM graft_state_at('$dir', '$keys', $mark)")
      .collect().map(_.getLong(0)).toSet
    assert(asof == (1L to 6L).toSet, s"as-of across rebucket: $asof")
    val now = spark.sql(
      s"SELECT record_id FROM graft_state('$dir', '$keys')")
      .collect().map(_.getLong(0)).toSet
    assert(now == (1L to 7L).toSet, s"head after rebucket: $now")
  }

  test("graft_screen_at pins the snapshot: later folds invisible, later tombstones still match") {
    import spark.implicits._
    import graft.operators.dedup.Dedup
    import graft.operators.store.IndexManifest
    val dir =
      java.nio.file.Files.createTempDirectory("ext_screen_at").toString
    def mk(ids: Long*) = ids
      .map(i => (i, s"time travel screen doc $i " + ("z " * 10)))
      .toDF("doc_id", "text")
    Dedup.dedupIndexAppend(mk(1L, 2L, 3L), dir, "f1", bid = 1L)   // v1
    val mark = IndexManifest.readMeta(dir).get.version
    Dedup.dedupIndexAppend(mk(4L), dir, "f2", bid = 2L)           // v2
    Dedup.dedupIndexDelete(spark, dir, Seq(2L).toDF("doc_id"),
      "d1", bid = 3L)                                             // v3
    mk(1L, 2L, 3L, 4L).select(($"doc_id" + 100L).as("doc_id"), $"text")
      .createOrReplaceTempView("ext_screen_at_batch")
    def hits(sqlText: String) = spark.sql(sqlText).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val asof = hits(s"SELECT batch_id, corpus_id FROM graft_screen_at(" +
      s"'$dir', 'ext_screen_at_batch', $mark)")
    assert(asof == Set((101L, 1L), (102L, 2L), (103L, 3L)),
      s"as-of lane must answer from the v1 snapshot: $asof")
    val now = hits(s"SELECT batch_id, corpus_id FROM graft_screen(" +
      s"'$dir', 'ext_screen_at_batch')")
    assert(now == Set((101L, 1L), (103L, 3L), (104L, 4L)),
      s"now lane must see the fold and the tombstone: $now")
    // beyond-window asks fail loudly, never silently re-answer
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_screen_at('$dir', " +
        "'ext_screen_at_batch', 999)")
    }
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("graft_topk_at / graft_graph_topk_at / graft_screen_hamming_at pin their snapshots") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.ann.{KnnGraph, PqIndex}
    import graft.operators.multimodal.Multimodal
    import graft.operators.store.IndexManifest
    val base = graft.Tables.spread(
      graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < 60)).cache()
    // vector lane: copy 1001 of vec 1 committed at v1 (the mark), then
    // tombstoned — the as-of search must still answer the copy at 1.0
    val vDir = java.nio.file.Files.createTempDirectory("ext_topk_at").toString
    PqIndex.build(base.unionByName(base.filter(col("vec_id") === 1L)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))), vDir)
    val vMark = IndexManifest.readMeta(vDir).get.version
    PqIndex.delete(spark, vDir, Seq(1001L).toDF("vec_id"))
    base.filter(col("vec_id") === 1L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .createOrReplaceTempView("ext_topk_at_q")
    base.unionByName(base.filter(col("vec_id") === 1L)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")))
      .createOrReplaceTempView("ext_topk_at_emb")
    val vAsof = spark.sql(s"SELECT * FROM graft_topk_at('$vDir', " +
      s"'ext_topk_at_q', 'ext_topk_at_emb', $vMark, 4, 1, 64)").collect()
    assert(vAsof.length == 1 && vAsof.head.getAs[Long]("vec_id") == 1001L &&
      vAsof.head.getAs[Double]("sim") == 1.0, s"as-of topk: ${vAsof.toSeq}")
    val vNow = spark.sql(s"SELECT * FROM graft_topk('$vDir', " +
      "'ext_topk_at_q', 'ext_topk_at_emb', 4, 1, 64)").collect()
    assert(vNow.head.getAs[Long]("vec_id") != 1001L,
      s"now topk must not see the tombstoned copy: ${vNow.toSeq}")
    // graph lane: originals tombstoned after the mark — as-of answers
    // the original, now falls to the +100 twin (both sim 1.0, asc ties)
    val gDir = java.nio.file.Files.createTempDirectory("ext_graph_at")
      .toString + "/graph"
    val twins = (n: Long) => base.filter(col("vec_id") < 2L)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
    val gAll = base.unionByName(twins(100L)).unionByName(twins(200L))
    KnnGraph.build(gAll, gDir, "corpus", nlist = 1)
    val gMark = IndexManifest.readMeta(gDir).get.version
    KnnGraph.delete(spark, gDir, Seq(0L, 1L).toDF("vec_id"), "takedown")
    gAll.createOrReplaceTempView("ext_graph_at_emb")
    twins(200L).select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")).createOrReplaceTempView("ext_graph_at_q")
    twins(200L).select(col("vec_id").as("query_id"), col("vec_id"))
      .createOrReplaceTempView("ext_graph_at_seeds")
    def gTop(sqlText: String) = spark.sql(sqlText).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val gAsof = gTop(s"SELECT * FROM graft_graph_topk_at('$gDir', " +
      s"'ext_graph_at_emb', 'ext_graph_at_q', 'ext_graph_at_seeds', " +
      s"$gMark, 2, 8, 1)")
    assert(gAsof == Set((200L, 0L), (201L, 1L)), s"as-of graph: $gAsof")
    val gNow = gTop(s"SELECT * FROM graft_graph_topk('$gDir', " +
      "'ext_graph_at_emb', 'ext_graph_at_q', 'ext_graph_at_seeds', 2, 8, 1)")
    assert(gNow == Set((200L, 100L), (201L, 101L)),
      s"now graph must fall to the surviving twin: $gNow")
    // Hamming lane: a hash folded after the mark is invisible as-of
    val hDir = java.nio.file.Files.createTempDirectory("ext_ham_at").toString
    def hashed(ids: Long*) = ids
      .map(i => (i, i * 2654435761L % 1000000007L, i * 40503L % 999999937L))
      .toDF("media_id", "ahash_hi", "ahash_lo")
    Multimodal.ahashChunkIndexAppend(hashed(1L, 2L, 3L), hDir, "f1")
    val hMark = IndexManifest.readMeta(hDir).get.version
    Multimodal.ahashChunkIndexAppend(hashed(4L), hDir, "f2")
    hashed(1L, 2L, 3L, 4L)
      .select((col("media_id") + 100L).as("media_id"), col("ahash_hi"),
        col("ahash_lo")).createOrReplaceTempView("ext_ham_at_batch")
    def hHits(sqlText: String) = spark.sql(sqlText).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    val hAsof = hHits(s"SELECT * FROM graft_screen_hamming_at('$hDir', " +
      s"'ext_ham_at_batch', $hMark)")
    assert(hAsof == Set((101L, 1L), (102L, 2L), (103L, 3L)),
      s"as-of hamming: $hAsof")
    val hNow = hHits(s"SELECT * FROM graft_screen_hamming('$hDir', " +
      "'ext_ham_at_batch')")
    assert(hNow == Set((101L, 1L), (102L, 2L), (103L, 3L), (104L, 4L)),
      s"now hamming: $hNow")
    base.unpersist()
  }

  test("graft_screen from SQL is the Scala screen; graft_stores catalogs the root") {
    import spark.implicits._
    import graft.operators.dedup.Dedup
    val root = graft.Tables.scratchDir("ext_search")
    val dir = s"$root/neardup"
    val docs = (1L to 6L)
      .map(i => (i, s"graft extension screen document $i " + ("w " * 10)))
      .toDF("doc_id", "text")
    Dedup.dedupIndexAppend(docs, dir, "corpus")
    val batch = docs.select(($"doc_id" + 100L).as("doc_id"), $"text")
    batch.createOrReplaceTempView("ext_search_batch")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaSql = asSet(spark.sql(
      s"SELECT * FROM graft_screen('$dir', 'ext_search_batch')"))
    val viaApi = asSet(Dedup.screenAgainstIndex(spark, dir, batch))
    assert(viaSql == viaApi && viaSql.nonEmpty,
      s"SQL screen must equal the Scala screen: $viaSql vs $viaApi")
    assert((1L to 6L).forall(i => viaSql.contains((i + 100L, i, 1.0))),
      s"planted copies must collide at jaccard 1.0: $viaSql")
    // a missing input view names itself in the error
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_screen('$dir', 'no_such_view')")
    }
    assert(e.getMessage.contains("no_such_view"), e.getMessage)
    // the fleet catalog: the dedup store AND a CDC state store beside
    // it — every persisted-store family is discoverable from one call
    graft.streaming.Materializer.applyBatch(spark, s"$root/replica",
      Seq(("r", 1L, 1L, "insert")).toDF("table_name", "record_id",
        "seq", "op"),
      graft.streaming.Materializer.Spec(
        keyCols = Seq("table_name", "record_id"), buckets = 4))
    val cat = spark.sql(s"SELECT * FROM graft_stores('$root')")
      .collect().sortBy(_.getAs[String]("store"))
    assert(cat.length == 2, s"both stores under the root: ${cat.toSeq}")
    val r = cat.head
    assert(r.getAs[String]("store") == "neardup" &&
      r.getAs[String]("family") == "dedup" &&
      r.getAs[Long]("version") == 1L && r.getAs[Int]("n_leaves") == 1 &&
      r.getAs[Int]("n_tombs") == 0 && r.getAs[Int]("retain") == 8,
      s"catalog row: $r")
    val st = cat(1)
    assert(st.getAs[String]("store") == "replica" &&
      st.getAs[String]("family") == "state" &&
      st.getAs[Long]("version") == 1L && st.getAs[Int]("groups") == 4 &&
      st.getAs[Int]("retain") == 8, s"state catalog row: $st")
  }

  test("maintenance TVFs: graft_set_retention dials, graft_export clones, receipts and refusals are loud") {
    import spark.implicits._
    import graft.operators.dedup.Dedup
    import graft.operators.store.IndexManifest
    val root = graft.Tables.scratchDir("ext_maint")
    val dir = s"$root/idx"
    val docs = (1L to 6L)
      .map(i => (i, s"graft maintenance tvf document $i " + ("w " * 10)))
      .toDF("doc_id", "text")
    Dedup.dedupIndexAppend(docs.filter($"doc_id" <= 3L), dir, "f1",
      bid = 1L)                                                 // v1
    Dedup.dedupIndexAppend(docs.filter($"doc_id" > 3L), dir, "f2",
      bid = 2L)                                                 // v2
    // EXPORT v1 from SQL — the receipt is the CLONE's catalog row, and
    // the clone is standalone (its own screen serves the v1 corpus)
    val exp = spark.sql(
      s"SELECT * FROM graft_export('$dir', 1, '$root/clone')").collect()(0)
    assert(exp.getAs[Long]("version") == 1L &&
      exp.getAs[Int]("n_leaves") == 1, s"export receipt: $exp")
    val batch = docs.select(($"doc_id" + 100L).as("doc_id"), $"text")
    batch.createOrReplaceTempView("ext_maint_batch")
    val hits = spark.sql(
      s"SELECT * FROM graft_screen('$root/clone', 'ext_maint_batch')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == (1L to 3L).map(i => (i + 100L, i)).toSet,
      s"the v1 clone must screen exactly the v1 fold: $hits")
    // re-running a completed export refuses loudly (never merges)
    val eDup = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_export('$dir', 1, '$root/clone')")
        .collect()
    }
    assert(eDup.getMessage.contains("refuses"), eDup.getMessage)
    // DIAL from SQL — the receipt carries the post-dial window and the
    // manifest agrees
    val dial = spark.sql(
      s"SELECT * FROM graft_set_retention('$dir', 3)").collect()(0)
    assert(dial.getAs[Int]("retain") == 3 &&
      dial.getAs[Long]("version") == 3L, s"dial receipt: $dial")
    assert(IndexManifest.retentionWindow(dir) == 3)
    // refusals keep the Scala contracts' voices
    val eBad = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_set_retention('$dir', 0)").collect()
    }
    assert(eBad.getMessage.contains("retain must be >= 1"), eBad.getMessage)
    val eVer = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_export('$dir', 99, '$root/c2')")
        .collect()
    }
    assert(eVer.getMessage.contains("not retained"), eVer.getMessage)
    // COMPACT from SQL: the family dispatches off the store's relation
    // dir (this is a dedup store — `bands`); two committed leaves fold
    // to one, the screen is identical, and the tag is idempotent
    val preScreen = spark.sql(
      s"SELECT * FROM graft_screen('$dir', 'ext_maint_batch')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val comp = spark.sql(
      s"SELECT * FROM graft_compact('$dir', 'fold-1')").collect()(0)
    assert(comp.getAs[Int]("n_leaves") == 1, s"compact receipt: $comp")
    val postScreen = spark.sql(
      s"SELECT * FROM graft_screen('$dir', 'ext_maint_batch')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postScreen == preScreen,
      s"compaction must be screen-identical: $postScreen vs $preScreen")
    val vAfter = comp.getAs[Long]("version")
    val replay = spark.sql(
      s"SELECT * FROM graft_compact('$dir', 'fold-1')").collect()(0)
    assert(replay.getAs[Long]("version") == vAfter,
      "a replayed compaction tag must no-op")
    // a directory holding no recognizable store family refuses loudly
    val eFam = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_compact('$root', 'f')").collect()
    }
    assert(eFam.getMessage.contains("exactly one store family"),
      eFam.getMessage)
  }

  test("concurrently degrades to in-thread under the SessionCatalog lock " +
      "(the plan-time-effect TVF deadlock)") {
    // the maintenance TVFs act INSIDE SessionCatalog.lookupFunction —
    // i.e. with the catalog monitor held. concurrently() must detect
    // that and run its thunks in-thread: spawned workers would block on
    // the same monitor the moment they analyze a plan, while this
    // thread waits on their futures (the measured hang). Simulate the
    // analyzer's locking discipline directly: if the guard regresses,
    // the spawned thunk's spark.sql analysis deadlocks and the suite's
    // timeout fails this test.
    val catalog = spark.sessionState.catalog
    @volatile var out: Seq[Int] = Seq.empty
    val runner = new Thread(() => {
      // getActiveSession is thread-local — set it as the analyzer
      // thread would have it
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      out = catalog.synchronized {
        graft.GraftSession.concurrently(Seq(
          () => spark.sql("SELECT 1 AS a").collect()(0).getInt(0),
          () => spark.sql("SELECT 2 AS a").collect()(0).getInt(0)))
      }
    })
    runner.setDaemon(true)
    runner.start()
    runner.join(120000)
    assert(!runner.isAlive,
      "deadlock: concurrently spawned workers under the catalog lock")
    assert(out == Seq(1, 2))
  }
}
