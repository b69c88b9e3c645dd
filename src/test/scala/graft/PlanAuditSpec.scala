package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make these
  * operators scale are asserted, not just eyeballed — a future edit that
  * reintroduces a sort-merge join on a broadcastable dim, a JVM row
  * round-trip on a metadata query, or a duplicated candidate subtree
  * fails here before it costs anything at 100 TB.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.timeType.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q03: every dimension join broadcasts; no sort-merge join") {
    val p = plan("q03_revenue_by_nation")
    assert(!p.contains("SortMergeJoin"), "dim join fell back to SMJ")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
  }

  test("q06: filters reach the parquet scan") {
    val p = plan("q06_top_customers")
    assert(p.contains("PushedFilters: [IsNotNull"), "no filters pushed to scan")
  }

  test("mm01: metadata projection has no JVM object round-trip") {
    val p = plan("mm01_media_meta")
    assert(!p.contains("MapPartitions") && !p.contains("DeserializeToObject"),
      "metadata query re-grew an object lane")
  }

  test("ann02: single candidate subtree (no duplicated band join)") {
    val p = plan("ann02_lsh_bucket")
    // one explode per join side = exactly 2 Generate nodes
    assert("Generate ".r.findAllIn(p).size == 2,
      "candidate subplan duplicated (union-of-swap regression)")
  }

  test("dd03: band shuffle carries ids+buckets only, not shingle arrays") {
    val p = plan("dd03_minhash_lsh")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exchanges.contains("sh#"),
      s"shingle array column rides a shuffle:\n$exchanges")
  }

  test("dd02: prefix-blocking shuffle carries ids only, not word-set arrays") {
    val p = plan("dd02_ngram_jaccard")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning(prefix"))
      .mkString("\n")
    assert(exchanges.nonEmpty, "expected a prefix-keyed exchange")
    assert(!exchanges.contains("ws#"),
      s"word-set array rides the prefix shuffle:\n$exchanges")
  }

  test("ann01/dd05: cosine verify stage is the native expression, not interpreted folds") {
    Seq("ann01_brute_topk", "dd05_cosine_neardup").foreach { q =>
      val p = plan(q)
      assert(p.contains("cosine_similarity"), s"$q: native cosine missing")
      assert(!p.contains("aggregate(zip_with"),
        s"$q: interpreted higher-order cosine crept back in")
    }
  }

  test("ann04: cell assignment shuffles ids only; codebook joins broadcast") {
    val p = plan("ann04_ivf_topk")
    assert(!p.contains("SortMergeJoin"), "codebook/candidate join fell back to SMJ")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exchanges.contains("embedding#"),
      s"embedding array rides a shuffle:\n$exchanges")
  }

  test("ann04: codebook training runs once — cache-pinned, bounded corpus scans") {
    val lp = SparkEntry.queries("ann04_ivf_topk")(spark, sf)
      .queryExecution.optimizedPlan
    // the trained codebook must enter the query as a pinned cached
    // relation, not an inlined training subtree duplicated under each
    // broadcast consumer — InMemoryRelation is a LEAF of the logical plan,
    // so a programmatic traversal counts only the query's own scans
    val caches = lp.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.nonEmpty,
      "trained codebook is not cache-pinned — training subtree inlined")
    // the query proper references emb 4× (cell assignment, probe ranking,
    // query re-attach, candidate re-attach), each a 2-branch planted-copy
    // union = 8 scan leaves. The kmeans training pass adds 3 more refs —
    // if those appear here, the cache pin regressed.
    val scans = lp.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size <= 8,
      s"embeddings scanned ${scans.size} times — training subtree re-inlined?")
  }

  test("ann05: collision exchange carries ids+codes only; codebooks broadcast; training pinned") {
    val df = SparkEntry.queries("ann05_pq_recall")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the corpus×corpus collision join on pq_code is CORRECTLY a shuffled
    // join (neither side broadcastable at scale — the banded-join
    // discipline); any OTHER SMJ means a codebook or id re-attach join
    // lost its broadcast
    val smjKeys = p.linesIterator.filter(_.contains("SortMergeJoin"))
      .filterNot(_.contains("pq_code#")).mkString("\n")
    assert(smjKeys.isEmpty, s"non-collision join fell back to SMJ:\n$smjKeys")
    // the compressed index IS the shuffle payload: no embedding array may
    // ride a hash exchange (embeddings re-attach by id post-collision,
    // which the planner serves from the cache-pinned corpus, not a shuffle)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exchanges.contains("embedding#"),
      s"embedding array rides a shuffle:\n$exchanges")
    // per-subspace Lloyd training + the corpus must be cache-pinned (the
    // ann04 discipline: one execution per generation, zero-job constructor)
    val caches = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.nonEmpty, "PQ codebooks/corpus not cache-pinned")
  }

  test("dd10/mm05: dedup shuffles carry ids+fingerprints only — text/blobs stay put") {
    Seq("dd10_split_leakage" -> "text#", "mm05_blob_dedup" -> "blob#").foreach {
      case (q, payload) =>
        val p = plan(q)
        val exchanges = p.linesIterator
          .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
        assert(exchanges.nonEmpty, s"$q: expected a fingerprint-keyed exchange")
        assert(!exchanges.contains(payload),
          s"$q: payload column rides a shuffle:\n$exchanges")
    }
  }

  test("dd10 persist mode: one corpus scan through a cache-pinned projection, same answer") {
    import graft.operators.dedup.Dedup
    val persisted = Dedup.splitLeakage(spark, sf, persistProjection = true)
    try {
      val lp = persisted.queryExecution.optimizedPlan
      val caches = lp.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(caches.nonEmpty, "persist mode did not pin the projection")
      // default mode scans the corpus twice (2 union branches × 2 lanes =
      // 4 leaves); the pin must collapse the query's own leaves to the
      // cached projection's single subtree (2 union branches, 1 reference)
      val scans = lp.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      assert(scans.isEmpty,
        s"corpus still scanned ${scans.size}× outside the pinned projection")
      val inCache = caches.head.cachedPlan.collectLeaves()
      assert(inCache.size <= 2,
        s"pinned projection itself should be one union read: ${inCache.size}")
      // both modes return the identical relation
      val a = Dedup.splitLeakage(spark, sf).collect().map(_.toSeq).toSeq
      val b = persisted.collect().map(_.toSeq).toSeq
      assert(a == b, "persist mode changed the answer")
    } finally spark.catalog.clearCache() // the pin lives on the inner projection
  }

  test("cdc06: the update diff runs as the native expression, not interpreted lambdas") {
    val p = plan("cdc06_diff")
    assert(p.contains("map_changed_fields"), "native diff expression missing")
    assert(!p.contains("map_zip_with"), "interpreted diff lambda crept back in")
  }

  test("cdc07: F6 decides from (op, old, new) — no diff map, no interpreted lambda") {
    val p = plan("cdc07_unwatched_fields")
    assert(p.contains("any_watched_field_changed"), "fused F6 expression missing")
    assert(!p.contains("map_filter"), "interpreted map_filter crept back in")
    assert(!p.contains("map_changed_fields"),
      "diff map materialized for a filter-only pipeline")
  }

  test("dd06: one shared fp exchange feeds both join sides and the per-doc counts") {
    val df = SparkEntry.queries("dd06_winnow_pairs")(spark, sf)
    df.collect() // AQE finalizes (and can only reuse stages) on execution
    val whole = df.queryExecution.executedPlan.toString
    val finalPlan = whole.split("== Initial Plan ==")(0)
    // a-side, b-side and the nFps lane all read the ONE repartition(fp)
    // stage → ≥2 ReusedExchange; the expensive winnowing fingerprint pass
    // runs at most twice (shared candidate stage + the df-cap lane), and
    // the `total` count lane is column-pruned to a zero-column scan
    assert("ReusedExchange".r.findAllIn(finalPlan).size >= 2,
      s"fp repartition stage not shared:\n$finalPlan")
    val textScans = finalPlan.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("text#"))
    assert(textScans == 1,
      s"fingerprinting recomputed per consumer ($textScans text scans):\n$finalPlan")
    assert(finalPlan.contains("ReadSchema: struct<>"),
      "total-count lane no longer column-pruned")
  }

  test("tp03: both prefix-sum lanes share one tokenize+shuffle stage") {
    val df = SparkEntry.queries("tp03_seq_packing")(spark, sf)
    df.collect() // AQE finalizes (and can only reuse stages) on execution
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the bucket-prefix lane must read the doc lane's hashpartitioning
    // (bucket) exchange, not re-scan: exactly one text scan + a
    // ReusedExchange (guarded by the explicit no-op isNotNull(bucket) —
    // the inferred-constraint divergence pitfall)
    assert(finalPlan.contains("ReusedExchange"),
      s"bucket exchange not shared:\n$finalPlan")
    val textScans = finalPlan.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("text#"))
    assert(textScans == 1,
      s"tokenization recomputed per lane ($textScans text scans)")
  }

  test("dd02: df-cap and blocking lanes share one tokenization pass") {
    val df = SparkEntry.queries("dd02_ngram_jaccard")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val textScans = finalPlan.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("text#"))
    // shared (prefix, doc_id) stage + the deliberate ws re-attach scan —
    // payloads stay off the blocking shuffle, so 2 is the floor
    assert(textScans <= 2,
      s"tokenization recomputed per consumer ($textScans text scans)")
  }

  test("cdc24: the delta aggregation is one map-side-combined shuffle of narrow rows") {
    val df = SparkEntry.queries("cdc24_delta_agg")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // explode → partial HashAggregate → ONE hash exchange on the group key
    // → final HashAggregate (the orderBy's range exchange is presentation)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"delta agg should shuffle once:\n$p")
    assert(p.contains("partial_sum"), "map-side combine missing")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    // the shuffle carries (table_name, k_bucket) + two partial sums — the
    // change payloads (records, props) must never ride it
    assert(!exchanges.contains("props#") && !exchanges.contains("record"),
      s"payload rides the delta-agg shuffle:\n$exchanges")
  }

  test("dd12: gram counts map-side combine; no payload or window on the gram key") {
    val df = SparkEntry.queries("dd12_span_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("partial_count"), "gram count lost its map-side combine")
    assert(p.contains("LeftSemi"), "dup-gram screen is not a semi join")
    // the only Window is the per-doc island scan — a Window on the gram
    // key would ship every copy of a hot span to one task
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id#")),
      s"window not keyed on doc_id:\n${windows.mkString("\n")}")
    assert(!windows.exists(_.contains("gh#")), "window keyed on the gram hash")
    // shuffles carry (doc_id, s, gh) / partial counts — never text or the
    // token array
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    // match the payload columns PRECISELY (`text#NN` / the token array
    // `t#NN`): a bare "t#" substring would also hit benign aliases that
    // merely end in 't' (count#NN, cnt#NN) and break across Spark versions
    val payload = """(?<![A-Za-z0-9_])(text|t)#\d+""".r
    assert(payload.findFirstIn(exchanges).isEmpty,
      s"corpus payload rides a dd12 shuffle:\n$exchanges")
  }

  test("pq index search: broadcast codebooks/tables, codes-only ADC shuffle, id-join rerank") {
    import graft.operators.ann.PqIndex
    import org.apache.spark.sql.functions.col
    val corpus = Tables.spread(Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))).cache()
    val dir = java.nio.file.Files.createTempDirectory("pq-audit").toString
    PqIndex.build(corpus, dir)
    val queries = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val df = PqIndex.topKAgainst(spark, dir, queries, corpus)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the m*ksub codebook-derived lookup tables and the query side ride
    // broadcasts — the stored code relation itself is never re-shuffled
    // wholesale with embeddings aboard
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "codebook tables / query side lost their broadcasts")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    val payload = """(?<![A-Za-z0-9_])(embedding|q_emb|cent_emb)#\d+""".r
    assert(payload.findFirstIn(exchanges).isEmpty,
      s"embedding payload rides an ADC shuffle:\n$exchanges")
    // ADC scores partial-aggregate before the (query_id, vec_id) exchange
    assert(p.contains("partial_sum"), "ADC sum lost its map-side combine")
  }

  test("txt15: the quality battery is a pure narrow projection — zero exchanges") {
    val df = SparkEntry.queries("txt15_gopher_rules")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // scan → project → (presentation sort); NO aggregation, NO shuffle
    // beyond the ORDER BY's range partitioning at the presentation edge
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row quality battery grew a hash shuffle:\n$p")
    assert(!p.contains("HashAggregate"), "per-row battery grew an aggregation")
  }

  test("mm09: the aHash bucket count shuffles 16-byte keys, never pixels") {
    val df = SparkEntry.queries("mm09_image_ahash")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("partial_count"), "bucket count lost its map-side combine")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    // only (ahash_hi, ahash_lo[, media_id]) may ride a shuffle
    val allowed = """(ahash_hi|ahash_lo|media_id|count|bucket_size)"""
    val cols = s"""(?<![A-Za-z0-9_])(?!$allowed)[a-z_]+#\\d+""".r
    assert(cols.findFirstIn(exchanges).isEmpty,
      s"unexpected column rides the mm09 shuffle:\n$exchanges")
  }

  test("tp11: masks stay relational — no lambda re-substitution into inferred filters") {
    val df = SparkEntry.queries("tp11_packed_masks")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the regression this guards: an array-lambda mask column consumed by
    // a downstream explode makes Catalyst substitute the WHOLE lambda
    // into an inferred non-empty filter, where element_at(tokens(...), i)
    // re-derives the tokenization per probed element — O(tokens²)
    // interpreted work (measured ~15 s at sf0.1 vs ~1 s relational)
    assert(!p.contains("element_at(filter(split"),
      "quadratic lambda substitution returned to the tp11 mask lane")
    assert(p.contains("RLIKE"), "mask probe missing") // codegen'd, per-token-row
  }

  test("txt14: one corpus tf aggregation; broadcast stats; top-k group limits") {
    val df = SparkEntry.queries("txt14_bm25")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // per-doc tf: map-side-combined conditional sums, ONE corpus-keyed
    // aggregation exchange (plus window/presentation exchanges)
    assert(p.contains("partial_sum"), "tf aggregation lost map-side combine")
    val docExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(doc_id#"))
      .toSeq
    assert(docExchanges.count(!_.contains("ReusedExchange")) == 1,
      s"expected exactly one doc-keyed aggregation exchange:\n$p")
    // the df lane consumes the SAME tf stage (AQE reuse), so the corpus
    // is tokenized and aggregated once for both the per-doc tf rows and
    // the global document frequencies
    assert(docExchanges.exists(_.contains("ReusedExchange")),
      s"df lane re-aggregated the corpus instead of reusing the tf stage:\n$p")
    // df/corpus stats are one-row broadcast sides, never a cartesian
    assert(!p.contains("CartesianProduct"), "stats side fell to cartesian")
    // both ranking windows carry partial+final WindowGroupLimit: per-task
    // top-k runs BEFORE each shuffle, so no task ever sorts a full
    // partition of scored docs
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4,
      s"top-k group-limit pushdown missing:\n$p")
    // all three queries score in one unpivot pass: token explode + struct
    // explode = exactly 2 Generate nodes (a per-query subtree would be 4+)
    assert("Generate ".r.findAllIn(p).size == 2,
      "per-query score subtrees duplicated")
  }

  test("dd14: codebook broadcasts; pairing keys on cell — no cartesian; training pinned") {
    val df = SparkEntry.queries("dd14_semdedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the quadratic danger is a cartesian pairing — the join MUST key on
    // the cluster id so candidates form only within a cell's partitions
    assert(!p.contains("CartesianProduct"),
      "within-cluster pairing degenerated to a cartesian product")
    assert(p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("cell#")),
      s"pair join not keyed on cell:\n$p")
    // centroid codebook (nlist rows) enters via broadcast, and the Lloyd
    // training subtree is cache-pinned, not re-inlined per consumer
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroid codebook join not broadcast")
    val caches = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.nonEmpty, "centroid training not cache-pinned")
  }

  test("mm10 screen: hash-leaf scan is partition-pruned to the batch's groups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("audit_mm10").toString
    val corpus = (1L to 200L).map(i => (i, i * 7L, i * 13L))
      .toDF("media_id", "ahash_hi", "ahash_lo")
    graft.operators.multimodal.Multimodal.ahashIndexAppend(corpus, dir, "corpus")
    val batch = Seq((9001L, 7L, 13L)).toDF("media_id", "ahash_hi", "ahash_lo")
    val screened = graft.operators.multimodal.Multimodal
      .screenAhash(spark, dir, batch)
    screened.collect()
    val p = screened.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l =>
      l.contains("hashes") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered hashes scan in plan:\n$p"))
    // a 1-row batch touches exactly 1 of the 32 hash groups — the
    // pruning predicate collapses to a single equality (an INSET/IN list
    // would appear for multi-group batches)
    val pruned = "hgrp#\\d+ (?:=|INSET|IN)".r.findFirstIn(scanLine)
    assert(pruned.isDefined,
      s"hashes scan not pruned by batch groups: $scanLine")
  }

  test("dd15: candidate join carries (shingle, id) only; payload sets re-attach by id") {
    val p = plan("dd15_containment")
    assert(!p.contains("CartesianProduct"), "containment join went cartesian")
    // no shuffle may carry the shingle-set arrays — the candidate and
    // signature exchanges move (tk, id, df) rows only; ws re-attaches
    // via the id-keyed verification join after the pair distinct
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exchanges.contains("ws#"),
      s"shingle-set arrays ride a shuffle:\n$exchanges")
  }

  test("dd13 screen: band-leaf scan is partition-pruned to the batch's hash groups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("audit_dd13").toString
    // a many-doc corpus spread across the hash groups…
    val corpus = (1L to 200L).map(i => (i, s"corpus document number $i with words " + ("x " * 20)))
      .toDF("doc_id", "text")
    graft.operators.dedup.Dedup.dedupIndexAppend(corpus, dir, "corpus")
    // …screened by a ONE-doc batch: its 16 band keys touch ≤16 of the 32
    // groups, so the stored-band scan must read a strict partition subset
    val batch = Seq((9001L, "corpus document number 3 with words " + ("x " * 20)))
      .toDF("doc_id", "text")
    val screened = graft.operators.dedup.Dedup
      .screenAgainstIndex(spark, dir, batch)
    screened.collect()
    val p = screened.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l =>
      l.contains("bands") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered bands scan in plan:\n$p"))
    // PartitionFilters carry BOTH prunes: the committed-leaf restriction
    // (the manifest's leaf list — crash residue and retired compaction
    // leftovers are invisible) and the batch's group INSET — a strict
    // subset: a 1-doc batch emits 16 band keys, so ≤16 of the 32 groups
    // are read
    assert(scanLine.contains("leaf#"),
      s"bands scan not restricted to committed leaves: $scanLine")
    val inset = "bgrp#\\d+ INSET ([0-9, .]+)".r
      .findFirstMatchIn(scanLine).map(_.group(1))
      .getOrElse(fail(s"bands scan not pruned by batch groups: $scanLine"))
    assert(inset.split(",").length <= 16,
      s"prune list not batch-sized: $inset")
  }

  test("dd23 as-of screen: the band scan prunes to the SNAPSHOT's leaves, not today's") {
    import spark.implicits._
    import graft.operators.store.IndexManifest
    val dir = java.nio.file.Files.createTempDirectory("audit_dd23").toString
    val mk = (lo: Long, hi: Long) => (lo to hi)
      .map(i => (i, s"corpus document number $i with words " + ("x " * 20)))
      .toDF("doc_id", "text")
    graft.operators.dedup.Dedup.dedupIndexAppend(mk(1L, 100L), dir, "c1")
    val v1 = IndexManifest.readMeta(dir).get.version
    graft.operators.dedup.Dedup.dedupIndexAppend(mk(101L, 200L), dir, "c2")
    val batch = Seq((9001L, "corpus document number 3 with words " + ("x " * 20)))
      .toDF("doc_id", "text")
    val asof = graft.operators.dedup.Dedup
      .screenAgainstIndexAt(spark, dir, batch, v1)
    asof.collect()
    val p = asof.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l =>
      l.contains("bands") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered bands scan in plan:\n$p"))
    // the scan's leaf restriction names ONLY the v1 leaf — the later c2
    // leaf never enters the plan, so time travel is a partition prune,
    // not a post-filter over today's files
    assert(scanLine.contains("v00000001-c1"),
      s"as-of scan must pin the v1 leaf: $scanLine")
    assert(!scanLine.contains("c2"),
      s"as-of scan must not see the later leaf: $scanLine")
  }

  test("sql01 index TVF: the pure-SQL read is the same leaf-pruned parquet scan") {
    import spark.implicits._
    import graft.operators.store.IndexManifest
    graft.GraftExtensions.registerIndexTableFunctions(spark)
    val dir = java.nio.file.Files.createTempDirectory("audit_sql01").toString
    val mk = (lo: Long, hi: Long) => (lo to hi)
      .map(i => (i, s"corpus document number $i with words " + ("x " * 20)))
      .toDF("doc_id", "text")
    graft.operators.dedup.Dedup.dedupIndexAppend(mk(1L, 100L), dir, "c1")
    val v1 = IndexManifest.readMeta(dir).get.version
    graft.operators.dedup.Dedup.dedupIndexAppend(mk(101L, 200L), dir, "c2")
    // committed read: a plain partition-filtered parquet scan — the TVF
    // adds a leaf pinning, never a new reader; downstream SQL filters
    // push into the SAME scan
    val now = spark.sql(
      s"SELECT doc_id FROM graft_index('$dir', 'bands') WHERE doc_id = 7")
    now.collect()
    val pNow = now.queryExecution.executedPlan.toString
    val nowScan = pNow.linesIterator.find(l =>
      l.contains("bands") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered bands scan in plan:\n$pNow"))
    assert(nowScan.contains("leaf#"),
      s"TVF read not restricted to committed leaves: $nowScan")
    assert(pNow.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]")
      || pNow.contains("EqualTo(doc_id,7)"),
      s"SQL predicate must push into the TVF's parquet scan:\n$pNow")
    // as-of read: the scan pins the SNAPSHOT's leaf — the later c2 leaf
    // never enters the plan (the dd23 rule, now from pure SQL)
    val asof = spark.sql(
      s"SELECT * FROM graft_index_at('$dir', 'bands', $v1)")
    asof.collect()
    val pAsof = asof.queryExecution.executedPlan.toString
    val asofScan = pAsof.linesIterator.find(l =>
      l.contains("bands") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered bands scan in plan:\n$pAsof"))
    assert(asofScan.contains("v00000001-c1") && !asofScan.contains("c2"),
      s"as-of TVF must pin the v1 leaf only: $asofScan")
  }

  test("sql03/sql04 search TVFs: the SQL plan carries the Scala calls' group/cell prunes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    graft.GraftExtensions.registerIndexTableFunctions(spark)
    // graft_screen: batch-group INSET + committed-leaf restriction — the
    // TVF plans Dedup.screenAgainstIndex itself, so the SQL lane keeps
    // the scan batch-sized, never corpus-sized
    val dir = java.nio.file.Files.createTempDirectory("audit_sql03").toString
    val corpus = (1L to 200L)
      .map(i => (i, s"corpus document number $i with words " + ("x " * 20)))
      .toDF("doc_id", "text")
    graft.operators.dedup.Dedup.dedupIndexAppend(corpus, dir, "corpus")
    Seq((9001L, "corpus document number 3 with words " + ("x " * 20)))
      .toDF("doc_id", "text").createOrReplaceTempView("audit_sql03_batch")
    val screened = spark.sql(
      s"SELECT * FROM graft_screen('$dir', 'audit_sql03_batch')")
    screened.collect()
    val p = screened.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l =>
      l.contains("bands") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered bands scan in SQL screen plan:\n$p"))
    assert(scanLine.contains("leaf#"),
      s"SQL screen not leaf-restricted: $scanLine")
    val inset = "bgrp#\\d+ INSET ([0-9, .]+)".r
      .findFirstMatchIn(scanLine).map(_.group(1))
      .getOrElse(fail(s"SQL screen not group-pruned: $scanLine"))
    assert(inset.split(",").length <= 16,
      s"prune list not batch-sized: $inset")
    // graft_topk: the probed-cell prune on the codes scan, from SQL
    val vdir = java.nio.file.Files.createTempDirectory("audit_sql04").toString
    val emb = Tables.spread(Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))).cache()
    graft.operators.ann.PqIndex.build(emb, vdir, ncells = 16)
    emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .createOrReplaceTempView("audit_sql04_q")
    emb.createOrReplaceTempView("audit_sql04_emb")
    val searched = spark.sql(s"SELECT * FROM graft_topk('$vdir', " +
      "'audit_sql04_q', 'audit_sql04_emb', 2, 5, 32)")
    searched.collect()
    val p2 = searched.queryExecution.executedPlan.toString
    val scan2 = p2.linesIterator.find(l =>
      l.contains("/codes") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered codes scan in SQL topk plan:\n$p2"))
    val cells = "cell#\\d+(?: IN | INSET )\\(?([^\\]]*?)\\)?[,\\]]".r
      .findFirstMatchIn(scan2).map(_.group(1))
      .getOrElse(fail(s"SQL topk not cell-pruned: $scan2"))
    assert(cells.split(",").length <= 4,
      s"prune list not probe-sized: $cells")
    emb.unpersist()
  }

  test("mm16/mm17 Hamming screen: chunk scan pruned to batch groups AND committed leaves") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.multimodal.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("audit_mm16").toString
    val corpus = (1L to 200L).map(i => (i, i * 7L % 97L, i * 13L % 89L))
      .toDF("media_id", "ahash_hi", "ahash_lo")
    Multimodal.ahashChunkIndexAppend(corpus, dir, "corpus")
    val batch = Seq((9001L, 7L, 13L)).toDF("media_id", "ahash_hi", "ahash_lo")
    val screened = Multimodal.screenAhashHamming(spark, dir, batch)
    screened.collect()
    val p = screened.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l =>
      l.contains("chunks") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered chunks scan in plan:\n$p"))
    assert(scanLine.contains("leaf#"),
      s"chunks scan not restricted to committed leaves: $scanLine")
    // a 1-image batch emits 4 chunk keys → ≤4 of the 32 groups read
    val inset = "cgrp#\\d+ (?:INSET|IN) \\(?([0-9, .]+)".r
      .findFirstMatchIn(scanLine).map(_.group(1))
      .getOrElse(fail(s"chunks scan not pruned by batch groups: $scanLine"))
    assert(inset.split(",").length <= 4,
      s"prune list not batch-sized: $inset")
  }

  test("ann18/ann19 graph ops: no cartesian products, ids-only expansion joins") {
    import org.apache.spark.sql.functions.col
    import graft.operators.ann.Ann
    val corpus = Tables.spread(Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))).cache()
    val graph = Ann.knnGraphOf(corpus)
    // the search ranks rows it already collected on the driver, so its
    // own plan is a LocalRelation; the per-hop building block is what
    // scans the graph — audit one hop over the graph pinned as the ann18
    // lane pins it
    val pinned = graph.select(col("vec_id"), col("nbr_id")).cache()
    val hop = Ann.hopExpansion(pinned, Seq(0L, 1L), None)
    hop.collect()
    val p1 = hop.queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct"),
      s"graph search hops must never go quadratic:\n${p1.take(2000)}")
    assert(exchangesOf(hop).isEmpty,
      s"a hop is one scan of the pinned graph, never an exchange:\n${p1.take(2000)}")
    pinned.unpersist()
    val refined = Ann.nnDescentRound(graph, corpus, k = 3)
    refined.collect()
    val p2 = refined.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct"),
      s"NN-descent must never go quadratic:\n${p2.take(2000)}")
    corpus.unpersist(); ()
  }

  test("ann20/ann22 persisted graph: committed-leaf prune, no cartesian, no exchange, IN-filtered tombstone read") {
    import org.apache.spark.sql.functions.col
    import graft.operators.ann.{Ann, KnnGraph}
    import graft.operators.store.IndexManifest
    import spark.implicits._
    val corpus = Tables.spread(Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))).cache()
    val dir = java.nio.file.Files.createTempDirectory("audit_ann20").toString
    KnnGraph.build(corpus, dir, "corpus")
    KnnGraph.delete(spark, dir, Seq(Tuple1(1L)).toDF("vec_id"), "t0")
    val queries = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val seeds = queries.select(col("query_id"), col("query_id").as("vec_id"))
    val (searched, _, execs) = recorded {
      val s = KnnGraph.searchTopK(spark, dir, corpus, queries, seeds,
        hops = 2, beam = 4, k = 3)
      s.collect()
      s
    }
    val p = searched.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"persisted graph search must never go quadratic:\n${p.take(2000)}")
    // the tombstone exclusion is ONE read of the tombstone leaves,
    // filtered to the scored ids (bounded by the result, not by deletes
    // since compaction), with no exchange: no broadcast, no shuffle
    val tombReads = execs.filter(e => scansOf(e.sparkPlanInfo)
      .exists(_.metadata.get("Location").exists(_.contains("/tombs"))))
    assert(tombReads.size == 1,
      s"want one tombstone read per search, got ${tombReads.size}")
    val tp = tombReads.head.physicalPlanDescription
    assert("vec_id#\\d+L? (?:INSET|IN) ".r.findFirstIn(tp).isDefined,
      s"tombstone read not filtered to the scored ids:\n$tp")
    assert(!nodesOf(tombReads.head.sparkPlanInfo).exists(_.nodeName.contains("Exchange")),
      s"tombstone read must not exchange:\n$tp")
    // the search keeps its frontier on the driver: each hop's edge read
    // is one scan STATICALLY pruned to the frontier's groups — the pin
    // below audits that per-hop building block's plan directly: a hop
    // reads the frontier's groups of the committed store, never the
    // store, and never joins or exchanges.
    val meta = IndexManifest.readMeta(dir).get
    val edges = IndexManifest.committedOnly(
        spark.read.parquet(s"$dir/edges"), meta.leaves)
      .select(col("ggrp"), col("vec_id"), col("nbr_id"))
    val hop = Ann.hopExpansion(edges, Seq(0L, 5L, 7L), Some(meta.groups))
    hop.collect()
    val hp = hop.queryExecution.executedPlan.toString
    assert(!hp.contains("CartesianProduct"),
      s"hop expansion must never go quadratic:\n${hp.take(2000)}")
    assert(exchangesOf(hop).isEmpty && !hp.contains("Join"),
      s"hop expansion is one scan, no join and no exchange:\n${hp.take(2000)}")
    val scanLine = hp.linesIterator.find(l =>
      l.contains("/edges") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered edges scan in hop plan:\n$hp"))
    assert(scanLine.contains("leaf#"),
      s"edges scan not restricted to committed leaves: $scanLine")
    val inset = "ggrp#\\d+ (?:INSET|IN) \\(?([0-9, .]+)".r
      .findFirstMatchIn(scanLine).map(_.group(1))
      .getOrElse(fail(s"edges scan not pruned by frontier groups: $scanLine"))
    assert(inset.split(",").length <= 3,
      s"prune list not frontier-sized: $inset")
    // EQUIVALENCE gate: the search must return exactly the rows of a
    // plain-Scala greedy beam search written from the graphSearchTopK
    // contract, run over the same store's collected edges and
    // embeddings — with fewer seeds than the beam, and with more
    val adj = edges.select(col("vec_id"), col("nbr_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupMap(_._1)(_._2)
    val embs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val hubs = KnnGraph.hubIds(spark, dir, 6).collect().map(_.getLong(0))
    val wideSeeds = queries.select(col("query_id")).crossJoin(
      hubs.toSeq.toDF("vec_id"))
    for ((sd, beam) <- Seq((seeds, 4), (wideSeeds, 2))) {
      val got = KnnGraph.searchTopK(spark, dir, corpus, queries, sd,
          hops = 2, beam = beam, k = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      val want = referenceBeamSearch(adj, embs,
        sd.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
        hops = 2, beam = beam, k = 3, exclude = Set(1L))
      assert(got.nonEmpty && got == want,
        s"search at beam $beam differs from the reference:\n$got\n$want")
    }
    corpus.unpersist(); ()
  }

  /** Greedy beam search in plain Scala, from [[graft.operators.ann.Ann.graphSearchTopK]]'s
    * contract: hop 1 expands every distinct seed; after each expansion
    * the frontier is the `beam` best scored visited vertices (sim desc,
    * vec_id asc); the result is the top `k` scored visited vertices,
    * the query and `exclude` removed first. A query's embedding is its
    * own corpus row. Returns (query_id, rnk, vec_id, sim rounded to 4).
    */
  private def referenceBeamSearch(adj: Map[Long, Array[Long]],
      emb: Map[Long, Array[Float]], seeds: Seq[(Long, Long)], hops: Int,
      beam: Int, k: Int, exclude: Set[Long]): Seq[(Long, Int, Long, Double)] = {
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i =>
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def best(q: Long, vs: Set[Long], n: Int): Seq[(Long, Double)] =
      vs.toSeq.flatMap(v => emb.get(v).map(e => v -> cosine(emb(q), e)))
        .sortWith { (a, b) =>
          val c = java.lang.Double.compare(a._2, b._2)
          if (c != 0) c > 0 else a._1 < b._1
        }.take(n)
    seeds.distinct.groupMap(_._1)(_._2).toSeq.sortBy(_._1).flatMap {
      case (q, entry) =>
        var visited = entry.toSet
        var frontier = visited
        (1 to hops).foreach { _ =>
          visited ++= frontier.flatMap(adj.getOrElse(_, Array.empty[Long]))
          frontier = best(q, visited, beam).map(_._1).toSet
        }
        best(q, visited.filter(v => v != q && !exclude(v)), k)
          .zipWithIndex.map { case ((v, sim), i) =>
            (q, i + 1, v, BigDecimal(sim)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
    }
  }

  /** A persisted graph store holding exactly `edges` (one leaf). */
  private def handBuiltGraph(dir: String, edges: Seq[(Long, Long)]): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import graft.operators.store.IndexManifest
    import spark.implicits._
    val leaf = IndexManifest.leafName(1L, "hand")
    edges.toDF("vec_id", "nbr_id")
      .withColumn("rank", lit(1)).withColumn("mutual", lit(false))
      .withColumn("ggrp", pmod(xxhash64(col("vec_id")), lit(4L)).cast("int"))
      .withColumn("leaf", lit(leaf))
      .write.partitionBy("ggrp", "leaf").parquet(s"$dir/edges")
    IndexManifest.commit(dir, IndexManifest.Meta(1L, 4, Seq(leaf), Nil))
  }

  /** A unit vector at `deg` degrees in the first plane of 4 dimensions. */
  private def at(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
  }

  test("graph search contract: hop 1 expands every seed, even past the beam") {
    import graft.operators.ann.KnnGraph
    import spark.implicits._
    // seeds 1..6 score 0.98 down to 0.17 against the query; the only edge
    // to the exact answer (7) leaves the LOWEST-scoring seed, 6
    val dir = java.nio.file.Files.createTempDirectory("audit_seeds").toString
    handBuiltGraph(dir, Seq((1L, 2L), (2L, 3L), (6L, 7L)))
    val emb = (Seq(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0,
      5L -> 50.0, 6L -> 80.0, 7L -> 0.0).map { case (v, d) => (v, at(d)) })
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, at(0.0))).toDF("query_id", "q_emb")
    val seeds = (1L to 6L).map(v => (100L, v)).toDF("query_id", "vec_id")
    val top = KnnGraph.searchTopK(spark, dir, emb, queries, seeds,
        hops = 1, beam = 2, k = 1)
      .collect().map(_.getLong(2)).toSeq
    assert(top == Seq(7L),
      s"6 seeds at beam 2: the answer behind the weakest seed was lost: $top")
  }

  test("graph search contract: a seed with no embedding row still routes") {
    import graft.operators.ann.KnnGraph
    import spark.implicits._
    // seed 8 has edges but no embedding: it cannot be scored or returned,
    // yet hop 1 must still expand it and reach 9
    val dir = java.nio.file.Files.createTempDirectory("audit_noemb").toString
    handBuiltGraph(dir, Seq((8L, 9L)))
    val emb = Seq((9L, at(10.0))).toDF("vec_id", "embedding")
    val queries = Seq((100L, at(0.0))).toDF("query_id", "q_emb")
    val seeds = Seq((100L, 8L)).toDF("query_id", "vec_id")
    val found = KnnGraph.searchTopK(spark, dir, emb, queries, seeds,
        hops = 1, beam = 8, k = 5)
      .collect().map(_.getLong(2)).toSeq
    assert(found == Seq(9L),
      s"the unscored seed must route to its neighbour and not surface: $found")
  }

  test("ann24 loop increment: hub seeds broadcast, committed-leaf prune, no cartesian") {
    import org.apache.spark.sql.functions.col
    import graft.operators.ann.KnnGraph
    val corpus = Tables.spread(Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))).cache()
    val dir = java.nio.file.Files.createTempDirectory("audit_ann24").toString
    KnnGraph.build(corpus, dir, "corpus")
    val batch = corpus.filter(col("vec_id") < 2)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val found = KnnGraph.searchForLink(spark, dir,
      corpus.unionByName(batch), batch, nSeeds = 4, hops = 2, beam = 4,
      k = 2)
    found.collect()
    val p = found.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"the loop increment must never go quadratic:\n${p.take(2000)}")
    // the committed-leaf prune and the frontier-group static prune of
    // the increment search's per-hop edge scans are pinned by the
    // hopExpansion audit in the ann20/ann22 test (shared building block),
    // its job budget by the test below; the hub seeds are paired with the
    // batch on the driver and the ranking runs there too, so the
    // returned relation is the collected, ranked rows
    assert(found.queryExecution.analyzed.toString.contains("LocalRelation"),
      s"the increment search must rank from collected rows:\n${p.take(2000)}")
    corpus.unpersist(); ()
  }

  test("ann24 loop increment: one search is 1 + 2·hops jobs, none of them shuffles") {
    import org.apache.spark.sql.functions.col
    import graft.operators.ann.KnnGraph
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).cache()
    corpus.count()
    val dir = java.nio.file.Files.createTempDirectory("audit_budget").toString
    KnnGraph.build(corpus, dir, "corpus") // commits the hub pool too
    val batch = corpus.filter(col("vec_id") < 8)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val hops = 2
    val (found, jobs, _) = recorded {
      KnnGraph.searchForLink(spark, dir, corpus.unionByName(batch), batch,
        nSeeds = 4, hops = hops, beam = 4, k = 2)
    }
    assert(found.count() == 8L * 2, "every query finds k neighbours")
    // the batch read once, then per hop one edge read and one embedding
    // read: the seed pairing, the dedup, the seen filter, the scoring and
    // the ranking are driver work, not jobs
    assert(jobs.size <= 1 + 2 * hops,
      s"search ran ${jobs.size} jobs, budget ${1 + 2 * hops}: " +
        jobs.map(_.stageInfos.map(_.name).mkString("+")).mkString("; "))
    // a job's stages are its ShuffleMapStages plus its one ResultStage
    val shuffling = jobs.filter(_.stageInfos.size > 1)
    assert(shuffling.isEmpty, "the search must not shuffle: " +
      shuffling.map(_.stageInfos.map(_.name).mkString("+")).mkString("; "))
    corpus.unpersist(); ()
  }

  test("graph store groups: the driver's groupOf equals Spark's pmod(xxhash64(vec_id), n)") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import graft.operators.ann.Ann
    import spark.implicits._
    // a mismatch would prune a hop's scan to the wrong groups and drop
    // edges silently, so the driver hash is pinned to the store's
    val ids = Seq(Long.MinValue, -1L << 40, -65537L, -1L, 0L, 1L, 2L, 41L,
      99999L, 100000L, 200063L, 1L << 33, Long.MaxValue - 1, Long.MaxValue)
    for (n <- Seq(1, 4, 32)) {
      val spark0 = ids.toDF("vec_id")
        .select(col("vec_id"),
          pmod(xxhash64(col("vec_id")), lit(n.toLong)).cast("int"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      ids.foreach { id =>
        assert(Ann.groupOf(id, n) == spark0(id),
          s"vec_id $id at dial $n: driver ${Ann.groupOf(id, n)}, Spark ${spark0(id)}")
      }
    }
  }

  test("ann20 lane releases its pins: no persisted RDD outlives the query") {
    import graft.operators.ann.KnnGraph
    val before = spark.sparkContext.getPersistentRDDs.size
    val rows = KnnGraph.persistedSearchSelfRecall(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      s"the lane left ${spark.sparkContext.getPersistentRDDs.size - before} " +
        "persisted RDDs behind")
  }

  test("ann19 lane releases its pins: no persisted RDD outlives the query") {
    import graft.operators.ann.Ann
    val before = spark.sparkContext.getPersistentRDDs.size
    val rows = Ann.nnDescentSelfRecall(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      s"the lane left ${spark.sparkContext.getPersistentRDDs.size - before} " +
        "persisted RDDs behind")
  }

  test("ann08 IVF search: codes scan reads only the probed cells' partitions") {
    import org.apache.spark.sql.functions.col
    val corpus = Tables.spread(Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))).cache()
    val dir = java.nio.file.Files.createTempDirectory("audit_ann08").toString
    graft.operators.ann.PqIndex.build(corpus, dir, ncells = 16)
    val queries = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val searched = graft.operators.ann.PqIndex
      .topKIvfAgainst(spark, dir, queries, corpus, nprobe = 2)
    searched.collect()
    val p = searched.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l =>
      l.contains("/codes") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partition-filtered codes scan in plan:\n$p"))
    // 2 queries × 2 probes = ≤4 of 16 cells read
    val cells = "cell#\\d+(?: IN | INSET )\\(?([^\\]]*?)\\)?[,\\]]".r
      .findFirstMatchIn(scanLine).map(_.group(1))
      .getOrElse(fail(s"codes scan not pruned by probed cells: $scanLine"))
    assert(cells.split(",").length <= 4,
      s"prune list not probe-sized: $cells")
  }

  test("mm11: the audio fingerprint shuffles 16-byte keys, never PCM") {
    val df = SparkEntry.queries("mm11_audio_fp")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("partial_count"), "bucket count lost its map-side combine")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    val allowed = """(afp_hi|afp_lo|media_id|count|bucket_size)"""
    val cols = s"""(?<![A-Za-z0-9_])(?!$allowed)[a-z_]+#\\d+""".r
    assert(cols.findFirstIn(exchanges).isEmpty,
      s"unexpected column rides the mm11 shuffle:\n$exchanges")
  }

  test("ann11: legs broadcast their query side; fusion never cartesians; group limits hold") {
    val df = SparkEntry.queries("ann11_hybrid_rrf")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"hybrid fusion cartesianed:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "dense-leg query side must broadcast")
    // every ranking window (two leg cuts + the fusion cut) carries a
    // WindowGroupLimit so only per-group top rows survive the shuffle
    assert("WindowGroupLimit".r.findAllIn(p).size >= 3,
      s"a ranking window lost its group limit:\n$p")
  }

  test("tp13: cutoffs come from the bounded cell histogram, not a per-doc sort") {
    val df = SparkEntry.queries("tp13_ppl_buckets")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the histogram is a map-side-combined groupBy on the grid cell
    assert(p.contains("partial_count"), "cell histogram lost its map-side combine")
    // exactly ONE window runs in the whole plan — the running sum over
    // ≤65536 cells; a second would mean a per-doc ranking crept back in
    assert("Window".r.findAllIn(p).size -
      "WindowGroupLimit".r.findAllIn(p).size == 1,
      s"unexpected extra window (per-doc sort regression):\n$p")
    // both scalar sides (N and the two cutoffs) broadcast to the docs
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2,
      "cutoff scalars must broadcast, not shuffle the corpus")
  }

  test("pipe05: the layout audit is one map-side-combined agg — no joins at all") {
    val df = SparkEntry.queries("pipe05_zorder_layout")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"pipe05 grew a join:\n$p")
    assert(p.contains("partial_count"), "pid stats lost their map-side combine")
    // z/pid are literal-folded integer arithmetic inside codegen
    assert(p.contains("*(1)"), "layout projection fell out of codegen")
  }

  test("txt18: sketch exchanges carry 16-byte (source, hash) rows, never shingles") {
    val df = SparkEntry.queries("txt18_kmv_distinct")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exchanges.contains("sh#"),
      s"shingle strings ride a sketch shuffle:\n$exchanges")
    // both rank filters keep their partial/final group-limit pairs — the
    // two-stage bottom-k never sorts a source's full distinct set
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4,
      "bottom-k lost its group-limit pushdown")
  }

  test("txt19: canonicalization happens before the shuffle — raw URLs never move") {
    val df = SparkEntry.queries("txt19_url_canon")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("MapPartitions") && !p.contains("DeserializeToObject"),
      "URL canonicalization fell out of the expression lane")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exchanges.contains("raw_url#"),
      s"raw URL strings ride the dedup shuffle:\n$exchanges")
  }

  test("dd17: weight shuffles carry fingerprints, never document text") {
    val df = SparkEntry.queries("dd17_soft_dedup")(spark, sf)
    df.collect()
    val exchanges = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!exchanges.contains("text#"),
      s"document text rides a soft-dedup shuffle:\n$exchanges")
  }

  test("mm13: frame hashes are the only thing that moves — pixels stay in-task") {
    val df = SparkEntry.queries("mm13_video_fp")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // exactly two codec lanes (one per join side); a third means the
    // render+decode started running per downstream consumer
    assert("MapPartitions".r.findAllIn(p).size == 2,
      "frame render/decode lane duplicated")
    val moved = p.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
      .mkString("\n")
    assert(!moved.contains("text#") && !moved.contains("png"),
      s"blob-bearing column rides an exchange:\n$moved")
  }

  test("txt20: the sketch lane shuffles bounded counter keys; top-k keeps group limits") {
    val df = SparkEntry.queries("txt20_cms_heavy")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the counter aggregation is map-side combined (≤ 2w rows per task
    // reach its exchange) — a missing partial agg would ship every gram
    // occurrence to the counter reducers
    assert(p.contains("partial_count"),
      "counter lane lost its partial aggregation")
    val counterExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("r#") &&
        !l.contains("sh#"))
    assert(counterExchange, s"no shingle-free counter exchange found:\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "top-k lost its group-limit pushdown")
    assert(!p.contains("CartesianProduct"), "counter join-back cartesianed")
    // ONE corpus tokenization: the counter lanes derive from the exact
    // aggregate, and AQE reuses its gram exchange — a regression back
    // to the occurrence-stream sketch lane (the r15 double-scan) shows
    // up as a second parquet scan here
    assert(p.contains("ReusedExchange"),
      "counter lanes must reuse the gram aggregation exchange")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"txt20 must tokenize the corpus exactly once:\n$p")
  }

  test("pipe06: one expression-lane plan — no object round-trip, no cartesian") {
    val df = SparkEntry.queries("pipe06_crawl_account")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("MapPartitions") && !p.contains("DeserializeToObject"),
      "crawl accounting fell out of the expression lane")
    assert(!p.contains("CartesianProduct"), "a pipeline stage cartesianed")
  }

  test("dd18: the verify join is equi-keyed on the block hash, never cartesian") {
    val df = SparkEntry.queries("dd18_edit_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"edit-dedup candidate join degenerated:\n$p")
    // the quadratic term is bounded by block geometry: the pair join keys
    // on the 32-byte blk hash (equi-join), and levenshtein runs only on
    // the joined candidates — never in a pre-join projection
    assert(p.contains("blk#") && p.contains("levenshtein"),
      "blocking key or verify stage missing from the plan")
  }

  test("tp15: one bounded aggregation, broadcast global ceiling, no wide shuffle") {
    val df = SparkEntry.queries("tp15_length_buckets")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "bucket aggregation lost its map-side combine")
    assert(p.contains("BroadcastExchange"),
      "global ceiling stopped being a broadcast scalar")
    assert(!p.contains("SortMergeJoin"),
      s"tp15 grew a wide join:\n$p")
  }

  test("txt22: HLL exchanges carry hashes, never shingles; registers aggregate map-side") {
    val df = SparkEntry.queries("txt22_hll")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exchanges.contains("sh#"),
      s"shingle strings ride an HLL shuffle:\n$exchanges")
    assert(p.contains("partial_max") || p.contains("max"),
      "register max lost its partial aggregation")
  }

  test("cdc27: alignment is three broadcast scalars on cdc23's one-shuffle shape") {
    val df = SparkEntry.queries("cdc27_txn_snapshot")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a scalar cut joined wide:\n$p")
    assert(p.contains("max_by") || p.contains("partial_max_by"),
      "state pick lost its map-side max_by combine")
    assert(!p.contains("Window"), "cdc27 grew a window")
  }

  test("txt23: ingestion accounting is one scan + one map-side-combined rollup") {
    val df = SparkEntry.queries("txt23_jsonl_ingest")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("JsonScan") || p.contains("json"),
      "ingestion stopped reading through the JSON source")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-source rollup lost its map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"accounting grew a join/window:\n$p")
  }

  test("txt24: one corpus scan (AQE reuses the counter stage); narrow read; no cartesian") {
    val df = SparkEntry.queries("txt24_len_quantiles")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the quantile-bound branch must REUSE the (source, bucket) counter
    // aggregation — statically the subtree is duplicated, and without AQE
    // stage reuse the corpus would be scanned and tokenized TWICE
    assert(p.contains("ReusedExchange"),
      s"quantile branch re-scanned the corpus instead of reusing the counter stage:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one corpus scan in the final plan:\n$p")
    // narrow scan: only (text, source) leave the parquet reader
    assert(p.contains("ReadSchema: struct<text:string,source:string>"),
      "scan read more than the two live columns")
    // counters are map-side combined; the bound side enters via broadcast
    assert(p.contains("partial_count"), "counter aggregation lost map-side combine")
    assert(p.contains("BroadcastExchange") && !p.contains("CartesianProduct"),
      s"per-source bounds must broadcast-join back:\n$p")
  }

  test("tp16: one narrow scan, map-side-combined masses, one-row broadcast total") {
    val df = SparkEntry.queries("tp16_budget_plan")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"budget plan must scan the corpus exactly once:\n$p")
    assert(p.contains("ReadSchema: struct<text:string,source:string>"),
      "scan read more than the two live columns")
    assert(p.contains("partial_sum"), "token masses lost map-side combine")
    assert(p.contains("BroadcastExchange") && !p.contains("SortMergeJoin"),
      s"the budget total must enter as a one-row broadcast:\n$p")
  }

  test("whole-stage codegen covers the scan pipelines of every analytics query") {
    Seq("q01_pricing_summary", "q04_forecast_revenue", "txt01_token_stats")
      .foreach { q =>
        val df = SparkEntry.queries(q)(spark, sf)
        df.collect() // AQE only materializes the final plan on execution
        // `*(n)` prefixes mark WholeStageCodegen stages in the plan rendering
        assert(df.queryExecution.executedPlan.toString.contains("*(1)"),
          s"$q lost codegen")
      }
  }

  test("replica path job budget: sink and applyBatch run 2 jobs, a state read builds in 0 and collects in 1") {
    import graft.streaming.Materializer
    import JobAudit.{describe, outsideExecution}
    // a foreachBatch frame belongs to the stream's session, where
    // adaptive execution is off: every exchange is a stage of its job,
    // not a map-stage job of its own — the jobs below are counted there
    val stream = spark.newSession()
    stream.conf.set("spark.sql.adaptive.enabled", "false")
    import stream.implicits._
    val spec = Materializer.Spec(keyCols = Seq("table_name", "record_id"),
      buckets = 4)
    def chg(seq: Long, op: String = "update") = (0L until 40L)
      .map(i => ("user", i, seq, op, i * seq))
      .toDF("table_name", "record_id", "seq", "op", "val_cents")
    val dir = java.nio.file.Files.createTempDirectory("audit_replica").toString
    Materializer.applyBatch(stream, dir, chg(1L, "insert"), spec)
    // a job outside any SQL execution is one launched while a frame is
    // BUILT — a parquet schema-inference or file-listing job
    def budget(what: String, jobs: Seq[org.apache.spark.scheduler.SparkListenerJobStart],
        want: Int): Unit = {
      val (n, built) = (jobs.size, jobs.count(outsideExecution))
      assert(n == want && built == 0,
        s"$what: want $want jobs, none outside an execution; got $n: ${describe(jobs)}")
    }
    // every touched bucket already holds a leaf: the merge reads them
    val (_, applyJobs, _) = recorded {
      Materializer.applyBatch(stream, dir, chg(2L), spec)
    }
    budget("applyBatch (bucket collect + merge write)", applyJobs, 2)
    // the reader's path: building the frame runs nothing, collecting it
    // is one scan
    val (state, buildJobs, _) = recorded {
      Materializer.currentState(spark, dir, spec)
        .filter($"record_id" === 7L)
    }
    budget("building currentState", buildJobs, 0)
    val (rows, readJobs, _) = recorded(state.collect())
    budget("collecting currentState", readJobs, 1)
    assert(rows.length == 1)
    // the sink: its first call acquires the store; the audited batch
    // carries a truncate row too — one census collect serves both
    val sink = Materializer.sink(dir, spec)
    sink(chg(3L), 0L)
    val withTruncate = chg(4L).unionByName(
      Seq(("todo", 0L, 4L, "truncate", 0L))
        .toDF("table_name", "record_id", "seq", "op", "val_cents"))
    val (_, sinkJobs, _) = recorded(sink(withTruncate, 1L))
    budget("sink (census collect + merge write)", sinkJobs, 2)
    assert(Materializer.readManifest(dir).truncates == Map("todo" -> 4L))
    assert(Materializer.currentState(spark, dir, spec)
      .filter($"seq" === 4L).count() == 40L)
  }

  /** The exchanges of a collected query's final physical plan (through
    * adaptive query stages, not into cached relations).
    */
  private def exchangesOf(df: org.apache.spark.sql.DataFrame) = {
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    H.collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
  }

  private def nodesOf(p: org.apache.spark.sql.execution.SparkPlanInfo)
      : Seq[org.apache.spark.sql.execution.SparkPlanInfo] =
    p +: p.children.toSeq.flatMap(nodesOf)

  private def scansOf(p: org.apache.spark.sql.execution.SparkPlanInfo) =
    nodesOf(p).filter(_.nodeName.startsWith("Scan"))

  private def recorded[T](body: => T) = JobAudit.recorded(spark)(body)
}
