package graft.operators.dedup

import graft.operators.store.{IndexManifest, LeafStore}
import graft.Tables
import graft.operators.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication family for training-data pipelines.
  *
  * Scale design: every variant is candidate-generation-by-key (hash, LSH
  * band, simhash chunk, prefix) followed by an equi-JOIN on that key — the
  * only shuffles are on the candidate keys, never an O(n²) cross join. At
  * 100 TB the band/bucket cardinality keeps per-key groups tiny (LSH theory)
  * so the join stays balanced; AQE skew-join covers pathological buckets.
  */
object Dedup {

  /** Exact dedup by content fingerprint: canonical id = min doc_id per
    * normalized-text hash; singletons map to themselves.
    *
    * The canonical map is a map-side-combined `groupBy(fp)` joined back to
    * the fingerprint rows — NOT `min/count over Window.partitionBy(fp)`:
    * window aggregation does no partial aggregation, so a hot fingerprint
    * (dup storms are exactly what dedup meets at 100 TB) ships every copy
    * to one task. The groupBy emits one row per distinct fp out of each map
    * partition, and the join-back is AQE-skew-splittable (a window exchange
    * is not).
    */
  def exact(spark: SparkSession, d: String): DataFrame = {
    // text.isNotNull up front: a null text has no content fingerprint, and
    // making the drop explicit (pushed to the parquet scan) beats inheriting
    // it accidentally from the join's derived isnotnull(fp) — which would
    // also re-evaluate the md5 inside the filter. `spread` parallelizes the
    // normalize+md5 pass (compute-bound) across cores; the repartition
    // exchange below it is identical on both join lanes, so ReuseExchange
    // shuffles the text exactly once. At 100 TB spread is a no-op and the
    // two lanes re-scan the corpus; if that second scan matters, persist
    // the narrow (doc_id, fp) projection — it is ~40 bytes/row.
    val fp = Tables.spread(Tables.documents(spark, d)
        .select(col("doc_id"), col("text")).filter(col("text").isNotNull))
      .select(col("doc_id"), md5(TextOps.normalized(col("text"))).as("fp"))
    val canon = fp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    fp.join(canon, Seq("fp"))
      .select(col("doc_id"), col("canonical_id"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Streaming exact dedup — the ingest-time variant of [[exact]]: documents
    * arrive as a stream (Spark's file source here; any stream source in
    * production) and the canonical-id map is maintained as a streaming
    * aggregation keyed by content fingerprint, so duplicates are collapsed
    * AS THEY LAND instead of by a later batch sweep. Complete output mode
    * is correct for the bounded driver check; an unbounded production
    * ingest bounds state with `withWatermark` +
    * `dropDuplicatesWithinWatermark` — dedup within the retention horizon,
    * state evicted past it (spec: "streaming dedup horizon").
    *
    * Scale shape: one map-side-combined groupBy on the 32-byte fingerprint
    * — the same single-shuffle discipline as the batch lane; state is one
    * row per DISTINCT document, not per document.
    */
  def exactStreamingCounts(spark: SparkSession, d: String): DataFrame = {
    val path = docsStreamDir(d) // file source needs a directory
    val schema = spark.read.parquet(path).schema
    val fp = spark.readStream.schema(schema).parquet(path)
      .filter(col("text").isNotNull) // same explicit null-text drop as [[exact]]
      .select(col("doc_id"), md5(TextOps.normalized(col("text"))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
    val qname = s"graft_dd07_${streamDedupCount.incrementAndGet()}"
    val q = graft.GraftSession.withStreamShuffle(spark)(
      fp.writeStream.format("memory").queryName(qname)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start())
    graft.GraftSession.awaitFinished(q)
    spark.table(qname).orderBy(col("canonical_id"))
  }

  private val streamDedupCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Spark's file-stream source wants a directory; the testdata table is a
    * single parquet file — stage it behind a symlink once per (JVM, sf).
    * Harness scaffolding, not operator cost (a production ingest dir IS a
    * directory of arriving files).
    */
  private def docsStreamDir(d: String): String = streamDedupCount.synchronized {
    import java.nio.file.{Files, LinkOption, Paths}
    val sfName = Paths.get(d).getFileName.toString
    val dir = Paths.get(sys.props("java.io.tmpdir"), "graft_docs", sfName)
    val link = dir.resolve("documents-000.parquet")
    val target = Paths.get(d, "documents.parquet")
    // NOFOLLOW: a dangling link from a prior run reads as "absent" through
    // the link, then createSymbolicLink throws; also re-point when the sf
    // basename collides across different parent dirs
    if (Files.exists(link, LinkOption.NOFOLLOW_LINKS)) {
      if (Files.readSymbolicLink(link) != target) {
        Files.delete(link)
        Files.createSymbolicLink(link, target)
      }
    } else {
      Files.createDirectories(dir)
      Files.createSymbolicLink(link, target)
    }
    dir.toString
  }

  /** Shared column: doc_id + distinct 3-word shingles + their 64-bit hashes.
    * Shingling + hashing is compute-bound, so the scan is spread first
    * (no-op at scale — see [[Tables.spread]]).
    *
    * Shingling runs as the native codegen'd `word_ngrams` expression
    * (bit-identical to the staged tokens/lambda pipeline it replaces —
    * property-tested in TrainPrepSpec): one JIT'd pass per row instead of
    * O(n·k) interpreted higher-order dispatches, and cheap enough that the
    * `size(...) ≥ 1` guard (same row set as the former `size(toks) >= 3`)
    * costs one native call when pushdown duplicates it.
    */
  private def shingled(spark: SparkSession, d: String): DataFrame =
    shingledOf(Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text"))))

  private[graft] def shingledOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.plans.SketchCols.wordNGrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) >= 1)
      .withColumn("shh", transform(col("sh"), s => xxhash64(s)))

  /** Exact Jaccard from a pre-computed intersection size (stage `inter` as
    * its own projection — see [[minHashLsh]] — so the `array_intersect`
    * over the large shingle arrays is evaluated exactly once per pair;
    * CollapseProject keeps a non-cheap multi-referenced alias staged).
    */
  def jaccardFromInter(inter: Column, a: Column, b: Column): Column =
    inter.cast("double") / (size(a) + size(b) - inter)

  /** MinHash + LSH banding near-dup pairs.
    *
    * numHashes=64 MinHash values per doc (min over shingle hashes re-keyed
    * with xxhash64(h, i)); 16 bands × 4 rows; candidate pairs = docs sharing
    * any band bucket (equi-join on (band, bucket)); verified with exact
    * shingle Jaccard ≥ threshold. S-curve: P(candidate) = 1-(1-j^4)^16 →
    * ~0.97 at j=0.8, ~0.03 at j=0.3.
    *
    * Scale shape: the signature is a single native-expression pass
    * ([[graft.plans.SketchUtil.minHashBandBuckets]]); the band explode and
    * self-join carry ONLY (band, bucket, doc_id) — never the shingle
    * arrays — so shuffle volume is O(bands · 24 bytes · docs). Distinct
    * candidate pairs are materialized first, then each side's shingle set
    * is fetched exactly once for the exact-Jaccard verification joins
    * (two hash joins on doc_id; AQE broadcasts the pair side when small).
    */
  def minHashLsh(spark: SparkSession, d: String,
                 numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.8): DataFrame =
    minHashLshOf(shingled(spark, d), numHashes, bands, threshold)

  /** Core of [[minHashLsh]] over any pre-shingled (doc_id, sh, shh) frame
    * (see [[shingledOf]]) — reused by [[minHashSelfRecall]].
    */
  private def minHashLshOf(sh: DataFrame, numHashes: Int, bands: Int,
                           threshold: Double): DataFrame = {

    val banded = sh.select(
      col("doc_id"),
      posexplode(graft.plans.SketchCols.minHashBandBuckets(col("shh"), numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    val sets = sh.select(col("doc_id"), col("sh"))
    pairs
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jac", jaccardFromInter(col("inter"), col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** dd03's driver-checked shape: [[minHashLsh]] over the corpus plus an
    * EXACT text copy of every document at `doc_id + 100000`, reporting the
    * planted pairs found. Identical text ⇒ identical shingle set ⇒
    * identical MinHash signature ⇒ the copy shares its original's bucket
    * in EVERY band — candidacy is guaranteed, not probabilistic — and the
    * exact-Jaccard verify stage scores the pair 1.0 ≥ any threshold. The
    * planted relation (`id_b = id_a + 100000`) is therefore provably the
    * full output, which an engine with no MinHash at all re-derives from
    * the planting formula — the DuckDB oracle — while the whole
    * signature → band join → verify pipeline still executes: a banding or
    * bucketing bug surfaces as missing rows. Organic near-dup pairs
    * (probabilistic recall by LSH design) are excluded by the relation
    * filter; probabilistic recall itself is spec-tested in sbt
    * (OperatorsSpec "minhash LSH").
    */
  def minHashSelfRecall(spark: SparkSession, d: String,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val docs = base.union(
      base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    minHashLshOf(shingledOf(docs), numHashes, bands, threshold)
      .filter(col("id_b") === col("id_a") + 100000L)
      .orderBy(col("id_a"))
  }

  /** Banded MinHash index of a corpus: (band, bucket, doc_id) — the
    * PERSISTABLE dedup index an incremental pipeline keeps beside the
    * corpus (bands × ~24 bytes per doc; parquet/anything keyed by
    * (band, bucket) at scale). Building it is the only full-corpus pass
    * the incremental lane ever needs, and it happens once, offline.
    */
  def minHashBandIndex(docs: DataFrame, numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    shingledOf(docs).select(col("doc_id"),
      posexplode(graft.plans.SketchCols.minHashBandBuckets(
        col("shh"), numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .select(col("band"), col("bucket"), col("doc_id"))

  /** dd11 — INCREMENTAL near-dup screening: dedup an ARRIVING batch
    * against an already-indexed corpus without re-processing the corpus —
    * the production shape at 100 TB, where re-shingling the whole corpus
    * per crawl increment is the cost being designed away. Only the batch
    * is shingled and signed; candidates are batch×index bucket collisions
    * (equi-join on (band, bucket) — the index side is pre-keyed, so the
    * shuffle carries the batch's bands only); exact-Jaccard verification
    * re-attaches shingle sets for COLLIDING ids alone. Here the corpus
    * sets are recomputed in-plan (bounded harness); a production pipeline
    * persists (doc_id, sh) beside the index and this stage becomes an
    * id-keyed lookup. Batch-internal duplicates are intentionally NOT
    * paired (the index covers the corpus only) — run [[exact]]/
    * [[minHashLsh]] within the batch for that, or fold the batch into the
    * index afterwards (the index is an append-only union of band rows).
    */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val index = minHashBandIndex(corpus, numHashes, bands)
    val bsh = shingledOf(batch)
    val cand = bsh.select(col("doc_id").as("batch_id"),
        posexplode(graft.plans.SketchCols.minHashBandBuckets(
          col("shh"), numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .join(index, Seq("band", "bucket"))
      .select(col("batch_id"), col("doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(bsh.select(col("doc_id").as("batch_id"), col("sh").as("sh_b")),
        Seq("batch_id"))
      .join(shingledOf(corpus).select(col("doc_id").as("corpus_id"),
        col("sh").as("sh_c")), Seq("corpus_id"))
      .withColumn("inter", size(array_intersect(col("sh_b"), col("sh_c"))))
      .withColumn("jac", jaccardFromInter(col("inter"), col("sh_b"), col("sh_c")))
      .filter(col("jac") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("jac"), 4).as("jaccard"))
  }

  /** dd11's driver-checked shape: the corpus is the index side; the
    * arriving batch is an exact copy of every document at
    * `doc_id + 100000` (a full re-crawl — the worst-case duplicate
    * storm). Identical text ⇒ identical signature ⇒ every batch doc
    * collides with its original in EVERY band and verifies at Jaccard
    * 1.0, so the planting relation is provably the output restricted to
    * it (the dd03 device); organic batch×corpus near-dup pairs are
    * excluded by the relation filter and stay spec-tested.
    */
  def incrementalSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val batch = base.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    incrementalNearDups(base, batch)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
      .orderBy(col("batch_id"))
  }

  // ---- dd13: the dedup index as a STREAMING artifact ----

  /** Persist one batch's dedup-index rows: the (band, bucket, doc_id)
    * band relation AND the (doc_id, sh) shingle sets — the "persist the
    * sets beside the index" production shape [[incrementalNearDups]]'s
    * scaladoc prescribes, so candidate verification is an id-keyed
    * lookup, never a corpus re-shingle.
    *
    * The store is a [[LeafStore]] family (`dedup`): `bands/bgrp=<g>/`
    * and `sets/sgrp=<g>/` leaves, the group a hash range of the lookup
    * key, so a screening batch PRUNES its scan to its touched groups.
    * What the dedup store adds is its BID ORDER: every row carries the
    * fold's bid, a tombstone kills only strictly older folds, and
    * compaction keeps each doc's newest surviving fold.
    */
  /** DEFAULT hash-range partition count for the persisted index leaves.
    * Small enough that a screening batch's touched-group list is
    * driver-side METADATA (≤ groups ints — the Materializer's
    * affected-bucket discipline), large enough that a small batch's
    * scan prunes most of the stored relation's partitions. The dial is
    * a BUILD parameter now: the first append records it in the index
    * manifest, later appends and screens read it back, a mismatched
    * append is refused (the Materializer's nbuckets rule — a mismatched
    * writer would scatter keys across wrong groups and silently fork
    * the index), and [[regroupDedupIndex]] re-keys the store offline
    * when the fleet outgrows the count.
    */
  val DefaultIndexGroups = 32

  // INT group keys: the stored group columns are declared IntegerType, so
  // probing with int literals keeps the pruning predicate cast-free (a
  // long-vs-int mismatch can defeat PartitionFilters)
  private def bandGroup(groups: Int): Column =
    pmod(xxhash64(col("band"), col("bucket")), lit(groups.toLong)).cast("int")

  private def setGroup(c: Column, groups: Int): Column =
    pmod(xxhash64(c), lit(groups.toLong)).cast("int")

  private val Sets = LeafStore.Rel("sets", StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sh", ArrayType(StringType)),
      StructField("bid", LongType), StructField("sgrp", IntegerType),
      StructField("leaf", StringType))),
    Some("sgrp" -> (groups => setGroup(col("doc_id"), groups))))

  private val Bands = LeafStore.Rel("bands", StructType(Seq(
      StructField("band", IntegerType), StructField("bucket", LongType),
      StructField("doc_id", LongType), StructField("bid", LongType),
      StructField("bgrp", IntegerType), StructField("leaf", StringType))),
    Some("bgrp" -> bandGroup))

  /** The dedup store: set and band relations written together under one
    * tag per fold, plus bid-ordered tombstones (doc_id, bid).
    */
  private[graft] val Store = LeafStore.Family("dedup", Seq(Sets, Bands),
    LeafStore.Rel("tombs", StructType(Seq(
      StructField("doc_id", LongType), StructField("bid", LongType),
      StructField("leaf", StringType)))),
    DefaultIndexGroups)

  /** @param bid the append's position in the fold order (the facade
    *            passes the foreachBatch batch id; -1 = "the bootstrap,
    *            before every delete"). Tombstones kill only rows with a
    *            STRICTLY SMALLER bid, so a re-crawled doc_id revives:
    *            delete at bid 3, re-append at bid 5 → alive again.
    * @param groups hash-range partition count — recorded in the index
    *            manifest on the FIRST append; later appends must pass
    *            the same count (or read it back via the manifest) and
    *            a mismatch throws rather than scattering keys across
    *            wrong groups.
    */
  def dedupIndexAppend(docs: DataFrame, indexDir: String, leaf: String,
      numHashes: Int = 64, bands: Int = 16, bid: Long = -1L,
      groups: Int = DefaultIndexGroups): Unit =
    dedupIndexAppendCore(docs, None, indexDir, leaf, numHashes, bands, bid,
      groups)

  /** [[dedupIndexAppend]] over a PRE-SHINGLED frame (the crawl loop's
    * one-shingle-pass-per-batch device, see
    * [[screenAgainstIndexShingled]]); the caller owns its persistence.
    */
  private[graft] def dedupIndexAppendShingled(bsh: DataFrame,
      indexDir: String, leaf: String, numHashes: Int = 64, bands: Int = 16,
      bid: Long = -1L, groups: Int = DefaultIndexGroups): Unit =
    dedupIndexAppendCore(bsh.sparkSession.emptyDataFrame, Some(bsh),
      indexDir, leaf, numHashes, bands, bid, groups)

  private def dedupIndexAppendCore(docs: DataFrame,
      preShingled: Option[DataFrame], indexDir: String, leaf: String,
      numHashes: Int, bands: Int, bid: Long,
      groups: Int): Unit = {
    // a pre-shingled frame is pinned by its caller; otherwise pin the
    // pass here for the two relation writes, which consume it together
    val sh = preShingled.getOrElse(shingledOf(docs).cache())
    try LeafStore.append(indexDir, Store, leaf, groups, Seq(
        Sets -> sh.select(col("doc_id"), col("sh"), lit(bid).as("bid")),
        Bands -> sh.select(col("doc_id"),
            posexplode(graft.plans.SketchCols.minHashBandBuckets(
              col("shh"), numHashes, bands)))
          .select(col("pos").as("band"), col("col").as("bucket"),
            col("doc_id"), lit(bid).as("bid"))))
    finally { if (preShingled.isEmpty) sh.unpersist(); () }
  }

  /** TOMBSTONE deletes for the persisted dedup index — the CDC-sync
    * delete path (ann15's device on the band/set store): a replicated
    * document's DELETE (or an update that re-crawls its content) must
    * leave the index without rewriting any committed band/set leaf, so
    * deletes commit as immutable id-leaves (`tombs/leaf=<tag>`, parquet
    * of `doc_id`) under the same tag-idempotent fold discipline as
    * appends. A tombstone is ORDERED by its `bid`: it kills only rows
    * folded at a strictly smaller bid, so a later re-crawl of the same
    * doc_id revives it (the Materializer's max-seq discipline on the
    * index axis; the default `bid = Long.MaxValue` kills everything
    * folded so far — the one-shot batch semantics). [[screenAgainstIndex]]
    * applies the tombstone order BEFORE set verification — dead content
    * can neither match nor consume verify work — and
    * [[compactDedupIndex]] drops dead and superseded rows physically.
    * Tombstone leaves are RETAINED across compaction (they are the
    * replay guard: a re-delivered delete batch must stay a no-op), so
    * the relation is bounded by total deletes;
    * [[clearDedupTombstones]] clears it at the consumer-ack retention
    * floor once the replay horizon passes.
    */
  def dedupIndexDelete(spark: SparkSession, indexDir: String,
      ids: DataFrame, leaf: String, bid: Long = Long.MaxValue): Unit =
    LeafStore.tombstone(indexDir, Store, leaf,
      ids.select(col("doc_id"), lit(bid).as("bid")))

  /** Clear tombstones at or below the retention floor — the promised
    * consumer-ack device ([[graft.streaming.Graft.compactState]] /
    * `WalSegments.expireConsumed` on the index axis): once the delivery
    * pipeline's committed position passes `floorBid`, no delete batch
    * at or below it can ever replay, so its tombstone is dead weight.
    * A tombstone leaf carries ONE bid (each [[dedupIndexDelete]] stamps
    * its whole batch), so clearing is a MANIFEST-ONLY commit — tomb
    * leaves whose bid ≤ floor leave the manifest's tomb list; their
    * directories follow via the retained-manifest sweep. A delete
    * replayed at or below the floor after clearing is OUT OF HORIZON by
    * contract (the same contract WAL segment expiry has): call this
    * only with the slowest consumer's committed floor.
    *
    * SAFE IN ANY ORDER: a tombstone still BITING — killing at least one
    * committed index row ([[compactDedupIndex]] hasn't dropped the dead
    * fold physically yet) — is never cleared regardless of the floor,
    * because clearing it would resurrect the dead rows at the next
    * screen. The biting check is one ids+bids aggregation over the
    * committed band relation (the compaction cost class — this is a
    * maintenance op). Production cadence: compact, then clear; the
    * guard makes a misordered call a no-op instead of a corruption.
    * Returns the number of tombstone leaves cleared.
    */
  def clearDedupTombstones(spark: SparkSession, indexDir: String,
      floorBid: Long): Int = {
    val meta = IndexManifest.readMeta(indexDir).getOrElse(return 0)
    if (meta.tombs.isEmpty) return 0
    val tombRows = LeafStore.read(spark, indexDir, Store.tombs, meta)
    // one bid per tomb leaf: the per-leaf max IS the leaf's bid
    val leafBids = tombRows
      .groupBy(col("leaf")).agg(max(col("bid")).as("bid"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val belowFloor = meta.tombs.filter(l =>
      leafBids.get(l).exists(_ <= floorBid))
    if (belowFloor.isEmpty) return 0
    // biting check: a candidate leaf whose tombstones still kill a
    // committed row (a band row of the doc at a strictly smaller bid)
    // must stay — clearing it would resurrect the dead fold
    val candidates = tombRows.filter(col("leaf").isin(belowFloor: _*))
      .select(col("doc_id"), col("bid").as("tomb_bid"), col("leaf"))
    val liveRows = LeafStore.read(spark, indexDir, Bands, meta)
      .select(col("doc_id"), col("bid"))
    val biting = candidates
      .join(liveRows, Seq("doc_id"))
      .filter(col("bid") < col("tomb_bid"))
      .select(col("leaf")).distinct()
      .collect().map(_.getString(0)).toSet
    val cleared = belowFloor.filterNot(biting)
    if (cleared.isEmpty) return 0
    LeafStore.clearTombs(indexDir, Store, meta, cleared.toSet)
    cleared.size
  }

  /** Per-doc tombstone watermark (doc_id, tomb_bid) as `meta` committed
    * it — None when nothing was ever deleted (the common crawl case —
    * zero cost on the screen path). Cleared tombstones are invisible the
    * moment the clearing manifest commits.
    */
  private def tombstonesSnapshot(spark: SparkSession, indexDir: String,
      meta: IndexManifest.Meta): Option[DataFrame] =
    LeafStore.tombRows(spark, indexDir, Store, meta).map(
      _.groupBy(col("doc_id")).agg(max(col("bid")).as("tomb_bid")))

  /** COMPACT the dedup index's per-batch leaves into one leaf per
    * relation — the small-file maintenance pass the crawl loop needs
    * (ann13's `PqIndex.compact` for the band/set store): after N
    * micro-batches every group partition holds N tiny leaf files, and
    * the screen's pruned scan pays N listings + opens per touched
    * group. Row content is copied verbatim (each doc lives in exactly
    * one leaf, so the union has no duplicates) — screening against the
    * compacted index is IDENTICAL row-for-row. Online-safe and
    * replayable as every [[LeafStore.rewrite]] is. Tombstone leaves are
    * RETAINED (the replay guard: a re-delivered delete batch must no-op
    * on its tag); [[clearDedupTombstones]] expires them at the
    * consumer-ack floor.
    */
  def compactDedupIndex(spark: SparkSession, indexDir: String,
      tag: String): Unit =
    LeafStore.rewrite(indexDir, Store, tag, meta => {
      // DEAD rows (tombstoned at a bid above theirs) and SUPERSEDED
      // generations (a newer fold of the same doc exists) both leave
      // PHYSICALLY here: only each doc's newest fold survives — and only
      // if no tombstone outranks it. Both reductions are ids+bids only.
      // Bids are PRESERVED so retained tombstones keep ranking below
      // survivors.
      val tombs = tombstonesSnapshot(spark, indexDir, meta)
      def survivors(rel: LeafStore.Rel): DataFrame = {
        val df = LeafStore.read(spark, indexDir, rel, meta)
        val newest = df.groupBy(col("doc_id")).agg(max(col("bid")).as("mbid"))
        val alive = tombs.fold(newest)(t =>
          newest.join(broadcast(t), Seq("doc_id"), "left")
            .filter(col("tomb_bid").isNull || col("mbid") >= col("tomb_bid"))
            .select(col("doc_id"), col("mbid")))
        df.join(alive, df("doc_id") === alive("doc_id") &&
            df("bid") === alive("mbid"), "left_semi")
      }
      Seq(Sets -> survivors(Sets), Bands -> survivors(Bands))
    }, clearTombs = false)

  /** Committed leaf count per relation — the leaf census
    * [[compactDedupIndex]]'s harness gates (4 appends in, 1 referenced
    * out). Manifest-backed: superseded directories retained for the
    * read grace window don't count (they are no longer part of the
    * store, merely not yet collected).
    */
  def indexLeafCount(spark: SparkSession, indexDir: String): Int =
    LeafStore.leafCount(indexDir)

  /** Re-key the WHOLE index into `newGroups` hash-range partitions —
    * the maintenance move for when the fleet outgrows the group dial
    * (the dial caps scan pruning at 1/groups of the index; a huge index
    * wants more groups). Like [[graft.streaming.Materializer.rebucket]]
    * this cannot be incremental — changing the count moves every row's
    * group — so it is one full read → one shuffle on the new group key
    * → one new leaf per relation → one manifest commit recording the
    * new count; afterwards appends with the old count are refused.
    * Readers planned against retained manifests keep the old-group
    * leaves until the grace window retires them; screens resolve
    * (groups, leaves) from ONE manifest so no reader ever mixes dials.
    * Tombstones ride along unchanged (they carry no group key). Screen
    * output is IDENTICAL row-for-row — only the partition geometry
    * moves.
    */
  def regroupDedupIndex(spark: SparkSession, indexDir: String,
      newGroups: Int, tag: String): Unit = {
    require(newGroups > 0, "newGroups must be positive")
    LeafStore.rewrite(indexDir, Store, tag,
      meta => Store.rels.map(rel => rel -> LeafStore.read(spark, indexDir, rel, meta)),
      clearTombs = false, groups = Some(newGroups))
  }

  /** dd19's driver-checked shape — dd11's planting theorem THROUGH
    * [[compactDedupIndex]]: the corpus folds into the index as FOUR
    * separate leaves (the post-crawl small-file state), compaction
    * rewrites them to one leaf per relation, and the screen then runs
    * against the compacted store — every copy still pairs with its
    * original at Jaccard 1.0 (rows copied verbatim), and the leaf
    * census before/after rides the gated relation (the ann13 device).
    */
  def compactedSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val tmp = graft.Tables.scratchDir("graft_dd19")
    val indexDir = s"$tmp/index"
    (0 until 4).foreach { i =>
      dedupIndexAppend(base.filter(col("doc_id") % 4 === i), indexDir,
        s"inc$i")
    }
    val before = indexLeafCount(spark, indexDir)
    compactDedupIndex(spark, indexDir, "compact0")
    val after = indexLeafCount(spark, indexDir)
    val batch = base.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    screenAgainstIndex(spark, indexDir, batch)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"),
        lit(before).as("n_leaves_before"), lit(after).as("n_leaves_after"))
      .orderBy(col("batch_id"))
  }

  /** dd20's driver-checked shape — DELETES through the dedup index:
    * dd11's planting theorem with a CDC delete wave in the middle. The
    * corpus folds into the index, every `doc_id % 9 == 0` document is
    * tombstoned ([[dedupIndexDelete]] — the replica dropped those rows),
    * and the arriving exact copies are screened: a copy of a SURVIVING
    * doc provably pairs with its original at Jaccard 1.0, a copy of a
    * DELETED doc provably matches NOTHING (its only guaranteed collision
    * is tombstoned; the anti-join runs before verification). The oracle
    * is the planting formula restricted to survivors — a screen that
    * ignores tombstones surfaces the deleted pairs and breaks the hash;
    * then compaction drops the tombstoned rows physically (tombstone
    * leaves are retained as the replay guard) and the re-screen is
    * row-identical (the census rides the relation).
    */
  def deletedSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val tmp = graft.Tables.scratchDir("graft_dd20")
    val indexDir = s"$tmp/index"
    dedupIndexAppend(base, indexDir, "corpus")
    dedupIndexDelete(spark, indexDir,
      base.filter(col("doc_id") % 9 === 0).select(col("doc_id")), "del0")
    val batch = base.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    // the pre-compaction screen stays LAZY across the compaction — the
    // manifest discipline retains every leaf its planned-against
    // manifest references for the read grace window, so executing this
    // scan AFTER the compaction commit still finds its files (the
    // reader-across-commits guarantee; a manifest-free store would have
    // needed a defensive materialization here)
    val screened = screenAgainstIndex(spark, indexDir, batch)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
    // physical drop: compaction folds live rows only; the post-
    // compaction screen must be row-identical to the tombstone-filtered
    // one (both ride the gate via the n_lanes census)
    compactDedupIndex(spark, indexDir, "compact0")
    val after = screenAgainstIndex(spark, indexDir, batch)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
    screened.unionByName(after)
      .groupBy(col("batch_id"), col("corpus_id"), col("jaccard"))
      .agg(count(lit(1)).as("n_lanes")) // 2 ⇔ pre- and post-compaction agree
      .orderBy(col("batch_id"))
  }

  /** dd23's driver-checked shape — TIME TRAVEL on the dedup index (the
    * Materializer `currentStateAt` device, extended to the index
    * stores): fold the even docs (version 1), then the odd docs
    * (version 2), then tombstone every `% 4 == 0` doc (version 3), and
    * screen copies of EVERYTHING twice. The `asof` lane runs
    * [[screenAgainstIndexAt]] pinned to version 1: it must match
    * exactly the even docs — the odd docs are invisible (not yet
    * folded) and the `% 4` docs STILL match (not yet deleted; the
    * tombstone set resolves from the same snapshot as the leaves). The
    * `now` lane runs the current screen: every doc except the `% 4`
    * dead. Both relations are re-derivable from the planting formulas
    * alone; a time travel that read today's tombs, today's leaves, or
    * a swept file breaks its lane.
    */
  def timeTravelSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val tmp = graft.Tables.scratchDir("graft_dd23")
    val indexDir = s"$tmp/index"
    dedupIndexAppend(base.filter(col("doc_id") % 2 === 0), indexDir, "c1",
      bid = 0L)
    val v1 = IndexManifest.readMeta(indexDir).get.version
    dedupIndexAppend(base.filter(col("doc_id") % 2 === 1), indexDir, "c2",
      bid = 1L)
    dedupIndexDelete(spark, indexDir,
      base.filter(col("doc_id") % 4 === 0).select(col("doc_id")), "del0",
      bid = 2L)
    val batch = base.select((col("doc_id") + 100000L).as("doc_id"),
      col("text"))
    val asof = screenAgainstIndexAt(spark, indexDir, batch, v1)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
      .withColumn("lane", lit("asof"))
    val now = screenAgainstIndex(spark, indexDir, batch)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
      .withColumn("lane", lit("now"))
    asof.unionByName(now)
      .select(col("lane"), col("batch_id"), col("corpus_id"),
        col("jaccard"))
      .orderBy(col("lane"), col("batch_id"))
  }

  /** Screen an arriving batch against the PERSISTED index (every
    * committed leaf): candidates are (band, bucket) equi-collisions —
    * the shuffle carries the BATCH's band rows only, the index side is
    * pre-keyed storage — and verification re-attaches the STORED shingle
    * sets for colliding ids alone. Only the batch is ever shingled.
    *
    * PARTITION-PRUNED: leaves are hash-range partitioned by their lookup
    * key ([[dedupIndexAppend]]), and the screen first collects the
    * batch's touched band-group list (≤ `IndexGroups` ints — metadata,
    * one O(batch) pass) and reads only those partitions of the band
    * leaves (`PartitionFilters` in the scan, plan-audited). The stored
    * side of the candidate join therefore scales with the batch's key
    * coverage, not the corpus — the property that was previously true of
    * the SHUFFLE but not the SCAN. The set lookup joins on
    * (sgrp, corpus_id) so the set-leaf scan is partition-prunable by
    * Spark's dynamic partition pruning from the candidate side.
    */
  def screenAgainstIndex(spark: SparkSession, indexDir: String,
      batch: DataFrame, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame =
    screenSnapshot(spark, indexDir, LeafStore.head(indexDir, Store), batch,
      numHashes, bands, threshold)

  /** [[screenAgainstIndex]] over a PRE-SHINGLED batch frame (the
    * [[shingledOf]] shape) — the crawl loop computes one pinned shingle
    * frame per micro-batch and feeds it to the screen AND the fold, so
    * the batch is tokenized+minhashed once per batch, not four times
    * (3 screen consumers + the append's own pass). The caller owns the
    * frame's persistence lifecycle.
    */
  private[graft] def screenAgainstIndexShingled(spark: SparkSession,
      indexDir: String, bsh: DataFrame, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8): DataFrame =
    screenSnapshot(spark, indexDir, LeafStore.head(indexDir, Store),
      batch = bsh.sparkSession.emptyDataFrame, numHashes, bands, threshold,
      preShingled = Some(bsh))

  /** TIME-TRAVEL screen — [[screenAgainstIndex]] against the exact
    * snapshot a PAST manifest version committed (the Materializer
    * `currentStateAt` device on the dedup index): leaf lists, the group
    * dial, AND the tombstone set all resolve from that version, so the
    * result is what the screen returned when that commit was current —
    * a doc appended later is invisible, a doc deleted later still
    * matches. The reach is the retention window
    * ([[graft.operators.store.IndexManifest.RetainedManifests]]
    * versions — retained manifests keep their leaves on disk, which is
    * the same rule that makes compaction online-safe); asking beyond it
    * throws instead of silently answering from a different snapshot.
    * Reproducibility is the training-data audit's core move: "which
    * corpus members did this batch collide with AS OF the crawl's
    * nightly mark" must be re-derivable after the index moved on.
    */
  def screenAgainstIndexAt(spark: SparkSession, indexDir: String,
      batch: DataFrame, asOfVersion: Long, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8): DataFrame =
    screenSnapshot(spark, indexDir, LeafStore.at(indexDir, asOfVersion),
      batch, numHashes, bands, threshold)

  private def screenSnapshot(spark: SparkSession, indexDir: String,
      meta: IndexManifest.Meta,
      batch: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, preShingled: Option[DataFrame] = None): DataFrame = {
    // resolve ONE manifest for the whole screen: leaf lists and the
    // group dial come from the same committed version, so the scan is a
    // consistent snapshot even while appends/compactions keep landing
    // (retained manifests keep their leaves on disk for the grace
    // window — this plan stays executable across later commits)
    val ngroups = meta.groups
    // ONE shingle pass for the whole screen: the frame feeds the
    // touched-group collect below, the candidate band join AND the
    // verify-stage set attach — unpinned, the batch tokenized+minhashed
    // three times per screen (guide §1.2). The screen already submits a
    // job at construction (the group collect), so the persist
    // materializes there. Lifecycle: [[graft.GraftSession.pinBounded]]
    // — the serving path (graft_screen TVFs, screenAgainstIndex) can't
    // see its caller's terminal action, so the pin is bounded-FIFO
    // instead of leaked-until-clearCache; the crawl loop passes its
    // OWN per-batch pinned frame via `preShingled` + releases it.
    val bsh = preShingled.getOrElse(
      graft.GraftSession.pinBounded(shingledOf(batch)))
    def batchBands = bsh.select(col("doc_id").as("batch_id"),
        posexplode(graft.plans.SketchCols.minHashBandBuckets(
          col("shh"), numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val groups = batchBands.select(bandGroup(ngroups).as("bgrp")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    val index = LeafStore.read(spark, indexDir, Bands, meta)
      .filter(col("bgrp").isin(groups: _*))
      .select(col("band"), col("bucket"), col("doc_id"))
    val sets = LeafStore.read(spark, indexDir, Sets, meta)
    val cand = batchBands
      .join(index, Seq("band", "bucket"))
      .select(col("batch_id"), col("doc_id").as("corpus_id"))
      .distinct()
    val scored = cand
      .join(bsh.select(col("doc_id").as("batch_id"), col("sh").as("sh_b")),
        Seq("batch_id"))
      .withColumn("sgrp", setGroup(col("corpus_id"), ngroups))
      .join(sets.select(col("sgrp"), col("doc_id").as("corpus_id"),
        col("sh").as("sh_c"), col("bid").as("set_bid")), Seq("sgrp", "corpus_id"))
      .withColumn("inter", size(array_intersect(col("sh_b"), col("sh_c"))))
      .withColumn("jac", jaccardFromInter(col("inter"), col("sh_b"), col("sh_c")))
      // a re-crawled doc has one set row per generation: score each
      // in-place (no array ever rides this exchange), then keep the
      // NEWEST generation's score — the index represents current content.
      // max(set_bid) is the doc's GLOBAL newest fold bid (every
      // generation's set rows share the doc's sgrp, so the set join sees
      // them all) — the liveness watermark the tombstone order compares
      // against. Deciding liveness from the max bid over COLLIDING band
      // rows instead would conflate "which generation collided" with "is
      // the doc alive": a doc tombstoned at bid 3 and re-folded at bid 5
      // whose bid-5 bands miss (LSH) but bid-0 bands hit would read dead.
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(max_by(col("jac"), col("set_bid")).as("jac"),
        max(col("set_bid")).as("newest_bid"))
    // tombstone order: a tombstone kills folds at a STRICTLY smaller bid
    // than its own, so a doc whose newest fold outranks the tombstone
    // revives. Broadcast: the tombstone relation is bounded by deletes.
    // Tombs resolve from the SAME snapshot as the leaves (time travel
    // sees the past tombstone set, not today's).
    tombstonesSnapshot(spark, indexDir, meta).fold(scored)(t =>
      scored.join(broadcast(t.withColumnRenamed("doc_id", "corpus_id")),
          Seq("corpus_id"), "left")
        .filter(col("tomb_bid").isNull || col("newest_bid") >= col("tomb_bid")))
      .filter(col("jac") >= threshold)
      .select(col("batch_id"), col("corpus_id"),
        round(col("jac"), 4).as("jaccard"))
  }

  /** dd13 — the CRAWL loop as a STREAM: arriving document batches are
    * screened against the persisted index, then folded INTO it, inside
    * one Structured Streaming query — dd11's incremental screen made
    * continuous (dd11 proves one increment; this proves the loop: later
    * batches collide against earlier batches' index rows too, and the
    * index on disk grows by one leaf pair per micro-batch). The planted
    * relation is dd11's: every arriving doc is an exact copy of a corpus
    * doc, so the screen provably pairs it with its original at Jaccard
    * 1.0 regardless of batch boundaries; organic matches are excluded by
    * the relation filter.
    *
    * Scale shape per batch: shingle the BATCH only; one (band, bucket)
    * equi-join against stored band leaves; stored-set lookup for
    * colliding ids; one O(batch) leaf append. Cost per batch is
    * independent of corpus size — the property that makes a continuous
    * crawl affordable at 100 TB.
    */
  def streamingIncrementalSelfRecall(spark: SparkSession, d: String,
      nBatches: Int = 4): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val tmp = graft.Tables.scratchDir("graft_dd13")
    val indexDir = s"$tmp/index"
    val stageDir = s"$tmp/arrivals"
    val outDir = s"$tmp/pairs"
    // the one-off index bootstrap is metered separately from the
    // steady-state increments (bench reports both, bootstrap_sec vs
    // per_increment_sec — the scale claim rests on the latter)
    graft.streaming.Graft.CrawlMetrics.timed("graft-screen-and-fold-bootstrap") {
      dedupIndexAppend(base, indexDir, "corpus")
    }
    base.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .repartition(nBatches, col("doc_id"))
      .write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    // the loop itself is the ONE-CALL facade — this lane driver-gates it
    val q = graft.GraftSession.withStreamShuffle(spark)(
      graft.streaming.Graft.screenAndFold(stream, indexDir, outDir,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    graft.GraftSession.awaitFinished(q)
    spark.read.parquet(outDir)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
      .orderBy(col("batch_id"))
  }

  /** The index's LIVE doc_ids — every doc with at least one committed
    * fold whose newest bid outranks any tombstone (the searchable set,
    * what [[screenAgainstIndex]] can match). One ids+bids aggregation
    * over the committed sets relation plus the broadcast tombstone
    * watermark — the reconcile-job shape
    * ([[graft.streaming.Graft.syncDedupIndex]] diffs against this, the
    * [[graft.operators.ann.PqIndex.tombstonedIds]] rationale on the
    * text side).
    */
  def indexedLiveIds(spark: SparkSession, indexDir: String): DataFrame = {
    val meta = LeafStore.head(indexDir, Store)
    val newest = LeafStore.read(spark, indexDir, Sets, meta)
      .groupBy(col("doc_id")).agg(max(col("bid")).as("newest_bid"))
    tombstonesSnapshot(spark, indexDir, meta).fold(newest)(t =>
      newest.join(broadcast(t), Seq("doc_id"), "left")
        .filter(col("tomb_bid").isNull || col("newest_bid") >= col("tomb_bid")))
      .select(col("doc_id"))
  }

  /** MERGE several dedup indexes into one — the scale-out BUILD path: a
    * 100 TB corpus builds its band/set index as N shards in parallel
    * (each shard a [[dedupIndexAppend]] over its slice, no coordination),
    * then one merge folds the shards' committed rows into the
    * destination as a single manifest-committed leaf. Band/set rows are
    * pure functions of (document, numHashes, bands) — only the GROUP
    * key depends on the dial — so merged rows are BIT-IDENTICAL to a
    * single-build index's (group keys are recomputed against the
    * destination's dial, which also lets shards with different dials
    * merge). Tombstones ride along with their bids (a delete known to
    * any shard stays a delete), one tomb leaf per (source, bid)
    * ([[LeafStore.merge]]).
    */
  def mergeDedupIndexes(spark: SparkSession, srcDirs: Seq[String],
      destDir: String, tag: String,
      groups: Int = DefaultIndexGroups): Unit =
    // tombstones keep the ONE-BID-PER-LEAF invariant across the merge
    // ([[clearDedupTombstones]]'s per-leaf floor compare depends on it —
    // a mixed-bid leaf is only clearable once its MAX bid passes the
    // floor, retaining the rest indefinitely): one destination tomb leaf
    // per (source, distinct bid). Bids are compared as ONE space —
    // sources whose doc_id sets overlap must share a bid space (the
    // facade's monotone-bid contract), else a doc alive in its own shard
    // could read dead under another shard's higher tombstone.
    LeafStore.merge(spark, srcDirs, destDir, Store, tag, groups,
      splitTombs = t => t.select(col("bid")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
        .map(b => t.filter(col("bid") === b)))

  /** dd22's driver-checked shape — the planting theorem through the
    * SHARDED build: the corpus splits across TWO shard indexes (built
    * independently, as a parallel fleet would), [[mergeDedupIndexes]]
    * folds both into a fresh destination, and the screen then runs
    * against the merged store. Band/set rows are pure per-document
    * functions, so the merged index is provably row-identical to a
    * single build — every exact copy pairs with its original at
    * Jaccard 1.0 whichever shard held it; the shard census rides the
    * gated relation.
    */
  def shardMergedSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val tmp = graft.Tables.scratchDir("graft_dd22")
    (0 until 2).foreach { i =>
      dedupIndexAppend(base.filter(col("doc_id") % 2 === i),
        s"$tmp/shard$i", "corpus")
    }
    mergeDedupIndexes(spark, Seq(s"$tmp/shard0", s"$tmp/shard1"),
      s"$tmp/merged", "merge0")
    val batch = base.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    screenAgainstIndex(spark, s"$tmp/merged", batch)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
      .withColumn("n_shards", lit(2))
      .orderBy(col("batch_id"))
  }

  /** dd21 — dd13's crawl loop WITH the in-stream compaction cadence
    * (`compactEvery = 2`): the facade compacts the index every second
    * micro-batch WHILE the loop runs — the maintenance move a
    * production crawl needs to keep its directory bounded without
    * stopping, possible only because compaction is online-safe under
    * the index manifest (screens planned against earlier manifests keep
    * their files through the grace window). The gated relation is
    * dd13's planted theorem — every arriving copy pairs with its
    * original at Jaccard 1.0 regardless of batch boundaries OR of
    * compactions landing between them — plus the final leaf census:
    * with 4 batches and a cadence of 2, the last fold (bid 3) is
    * followed by a compaction, so exactly ONE committed leaf remains
    * (a cadence that silently stopped compacting, or a compaction that
    * lost rows, both break the gate).
    */
  def streamingCompactingSelfRecall(spark: SparkSession, d: String,
      nBatches: Int = 4): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val tmp = graft.Tables.scratchDir("graft_dd21")
    val indexDir = s"$tmp/index"
    val stageDir = s"$tmp/arrivals"
    val outDir = s"$tmp/pairs"
    graft.streaming.Graft.CrawlMetrics.timed(
        "graft-screen-fold-compact-bootstrap") {
      dedupIndexAppend(base, indexDir, "corpus")
    }
    base.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .repartition(nBatches, col("doc_id"))
      .write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val q = graft.GraftSession.withStreamShuffle(spark)(
      graft.streaming.Graft.screenAndFold(stream, indexDir, outDir,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        queryName = "graft-screen-fold-compact", compactEvery = 2))
    graft.GraftSession.awaitFinished(q)
    val leavesFinal = indexLeafCount(spark, indexDir)
    spark.read.parquet(outDir)
      .filter(col("corpus_id") === col("batch_id") - 100000L)
      .withColumn("n_leaves_final", lit(leavesFinal))
      .orderBy(col("batch_id"))
  }

  /** SimHash (64-bit) per doc + near-dup pairs at Hamming ≤ maxHamming,
    * candidates via 4×16-bit chunk equality (pigeonhole: hamming ≤ 3 ⇒ at
    * least one chunk identical) — again an equi-join, no cross product.
    */
  def simHashPairs(spark: SparkSession, d: String, maxHamming: Int = 3): DataFrame =
    simHashPairsOf(Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text"))), maxHamming)

  /** Core of [[simHashPairs]] over any (doc_id, text) frame — reused by
    * [[simHashSelfRecall]].
    */
  private def simHashPairsOf(in: DataFrame, maxHamming: Int): DataFrame = {
    val docs = in
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("th", transform(col("toks"), t => xxhash64(t)))
      .filter(size(col("th")) > 0)

    // bit j vote = Σ tokens (+1 if bit set else -1); simhash bit j = vote>0.
    // Native single-pass expression (graft.plans.SketchUtil.simHash64): the
    // SQL-lambda equivalent costs O(64·tokens) interpreted eval dispatches.
    val sim = docs
      .withColumn("simhash", graft.plans.SketchCols.simHash64(col("th")))
      .select(col("doc_id"), col("simhash"))

    val chunked = sim.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")

    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** dd04's driver-checked shape — the [[minHashSelfRecall]] device on the
    * SimHash lane: an exact text copy hashes to the SAME 64-bit SimHash
    * (identical token multiset ⇒ identical bit votes), so all four 16-bit
    * chunks collide, the pigeonhole join surfaces the pair with certainty,
    * and Hamming distance is exactly 0. Output = the planted relation,
    * re-derivable by the DuckDB oracle from the planting formula alone.
    */
  def simHashSelfRecall(spark: SparkSession, d: String,
      maxHamming: Int = 3): DataFrame = {
    val base = Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text")))
    val docs = base.union(
      base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    simHashPairsOf(docs, maxHamming)
      .filter(col("id_b") === col("id_a") + 100000L)
      .orderBy(col("id_a"))
  }

  /** N-gram Jaccard dedup with deterministic prefix blocking (first 3
    * tokens) — the SQL-oracle-friendly variant: candidates share a prefix
    * key, similarity is exact word-set Jaccard.
    *
    * Scale shape (the dd03/dd06 discipline applied here too):
    *  - the prefix self-join carries ONLY (prefix, doc_id) — word-set
    *    arrays re-attach per side after the pair list exists, so payloads
    *    never ride the (skewable) blocking-key shuffle;
    *  - a common prefix is a natural skew key ("the quick brown" at corpus
    *    scale ⇒ df² pairs from one key), so prefixes with document
    *    frequency above `maxDfFrac` of the corpus are dropped — an
    *    over-shared prefix carries no dedup signal, same reasoning as
    *    dd06's stop-fingerprint cap (the cap is mirrored in the DuckDB
    *    oracle, so dd02 stays hash-verified end-to-end).
    */
  def ngramJaccardPairs(spark: SparkSession, d: String, threshold: Double = 0.5,
      maxDfFrac: Double = 0.01): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("prefix", concat_ws(" ",
        element_at(col("toks"), 1), element_at(col("toks"), 2), element_at(col("toks"), 3)))
      .withColumn("ws", array_distinct(col("toks")))
      .select(col("doc_id"), col("prefix"), col("ws"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    // df per prefix via map-side-combined groupBy (one row per distinct
    // prefix leaves each map partition) — a window count would ship every
    // row of a hot prefix to one task before the cap could drop it. The
    // surviving prefixes semi-join back onto the ids-only lane (broadcast
    // when small, AQE-skew-splittable otherwise).
    // one shared exchange for the df-cap lane AND the blocking lane, keyed
    // on the unique (prefix, doc_id) pair (uniform under prefix skew; both
    // columns pinned by the partitioning so column pruning cannot diverge
    // the two consumers' subtrees) — tokenization+prefixing computes once,
    // AQE reuses the stage. The ws re-attach lane stays a separate scan on
    // purpose: sharing it would push the word-set arrays through this
    // shuffle, and payloads never ride the blocking exchange.
    val keyed0 = docs.select(col("prefix"), col("doc_id"))
      .repartition(col("prefix"), col("doc_id"))
    val okPrefixes = keyed0.groupBy(col("prefix")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") <= greatest(lit(2.0), lit(maxDfFrac) * col("n_docs")))
      .select(col("prefix"))
    val keyed = keyed0 // ids-only lane; INNER join: see winnowPairs — a
      .join(okPrefixes, Seq("prefix")) // semi join would be pushed below
                                       // the shared exchange, unsharing it
    val pairs = keyed.select(col("prefix"), col("doc_id").as("id_a"))
      .join(keyed.select(col("prefix"), col("doc_id").as("id_b")), Seq("prefix"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val sets = docs.select(col("doc_id"), col("ws"))
    pairs
      .join(sets.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ws_a"), col("ws_b"))))
      .withColumn("uni", size(col("ws_a")) + size(col("ws_b")) - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Winnowing-fingerprint near-dup pairs (MOSS-style): two documents are
    * near-dups when the smaller one shares ≥ `minOverlap` of its winnowing
    * fingerprints (graft.operators.text.TextOps rolling-hash lane) with the
    * other — a containment fraction, robust to the corpus-wide common
    * 5-grams that make any absolute shared-count threshold degenerate to
    * all-pairs. Unlike minhash/simhash this blocker is fully deterministic
    * and engine-portable, so the driver hash-verifies the pairs end-to-end.
    * Scale shape: explode fingerprints → equi-join on fingerprint → count
    * per pair — ids+fingerprint+one int in the shuffle, never documents.
    *
    * Stop-fingerprint removal is load-bearing at scale: on a
    * shared-vocabulary corpus a single ubiquitous fingerprint joins
    * df² pairs (measured: one fp in 53% of sf0.1 docs → 279M join rows).
    * Capping document frequency at `maxDfFrac` of the corpus keeps only
    * discriminative fingerprints — join volume then tracks true
    * correlation (7.5k rows on the same data); the cap's frequency count
    * is itself a map-side-combined groupBy, never a window (see below).
    */
  def winnowPairs(spark: SparkSession, d: String,
      minOverlap: Double = 0.65, maxDfFrac: Double = 0.01): DataFrame = {
    val sets = TextOps.winnowFingerprintSets(Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text"))))
    val total = sets.agg(count(lit(1)).as("n_docs"))
    // ONE explicit exchange right after the compute-bound
    // fingerprint+explode: the df-cap groupBy, the cap semi-join, both
    // sides of the pair self-join, and the per-doc count all consume this
    // same stage, so rolling-hash fingerprinting runs ONCE (AQE stage
    // reuse) instead of once per consumer — without caching anything.
    // Keyed on the UNIQUE (fp, doc_id) pair, not fp alone: this shuffle
    // runs PRE-cap, where the measured 53%-of-docs stop fingerprint would
    // send half the corpus to one fp-keyed partition; the pair key is
    // uniform under any skew. Every fp-keyed exchange downstream is
    // post-cap (balanced by construction), and the `total` lane stays on
    // the raw scan (count only; column pruning drops the fingerprint
    // expression there, leaving a zero-column scan).
    // the explicit isNotNulls (no-ops: ids and fingerprints are non-null)
    // mirror the constraints the downstream joins infer on their own lanes
    // only — without them InferFiltersFromConstraints plants extra scan
    // filters on one consumer's copy, the subtrees stop being identical,
    // and stage reuse silently evaporates
    val exploded = sets.select(col("doc_id"), explode(col("fps")).as("fp"))
      .filter(col("fp").isNotNull && col("doc_id").isNotNull)
      .repartition(col("fp"), col("doc_id"))
    // Both frequency counts are map-side-combined groupBys joined back —
    // never window counts: the measured 53%-of-docs stop fingerprint would
    // ride a window exchange into ONE task (window does no partial agg);
    // the groupBy emits one row per key per map partition and the
    // semi-join back is AQE-skew-splittable.
    val okFps = exploded.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") <= greatest(lit(2.0), lit(maxDfFrac) * col("n_docs")))
      .select(col("fp"))
    // INNER join (not left_semi) against the one-row-per-fp cap list —
    // bit-equivalent here, but PushDownLeftSemiAntiJoin would push a semi
    // join below the shared repartition on this lane only, splitting the
    // two consumers' subtrees and forcing a second fingerprint scan
    val rare = exploded.join(okFps, Seq("fp"))
    // per-doc surviving-fingerprint count: doc_id is near-unique (bounded
    // fps per doc) but the same groupBy+join-back shape keeps the lane
    // partial-agg'd; joined onto the PAIRS (small) rather than carried
    // through the fp self-join, so the candidate shuffle stays (fp, id).
    val nFps = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    val a = rare.select(col("fp"), col("doc_id").as("id_a"))
    val b = rare.select(col("fp"), col("doc_id").as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(nFps.select(col("doc_id").as("id_a"), col("n_fps").as("n_fps_a")), Seq("id_a"))
      .join(nFps.select(col("doc_id").as("id_b"), col("n_fps").as("n_fps_b")), Seq("id_b"))
      .filter(col("n_shared") >= lit(minOverlap) * least(col("n_fps_a"), col("n_fps_b")))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        least(col("n_fps_a"), col("n_fps_b")).as("n_fps_min"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-duplicate pairs: multi-band hyperplane LSH
    * candidates (graft.operators.ann.Ann.lshCandidatePairs) → exact cosine
    * ≥ threshold. The scale path for semantic dedup — no all-pairs stage.
    *
    * The synthetic embeddings are near-random (max pair cosine ≈ 0.4), so
    * a near-dup operator over them alone is trivially empty; like the CDC
    * lane derives its change set from `events`, this derives a corpus with
    * deterministic noisy duplicates (sign-flip-perturbed copies at
    * vec_id + 100000, cosine ≈ 0.9 to their originals) and reports the
    * near-dup pairs found. rows-only driver check: LSH recall is
    * probabilistic by design.
    */
  def cosineNearDups(spark: SparkSession, d: String,
      threshold: Double = 0.5, bands: Int = 8, bits: Int = 10): DataFrame = {
    import graft.operators.ann.Ann
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")))
    val planted = base.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when((col("vec_id") + i) % 21 === 0, -x).otherwise(x)).as("embedding"))
    Ann.lshCandidatePairs(base.union(planted), bands, bits)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Ann.cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** dd05's driver-checked shape — [[cosineNearDups]]' pipeline with EXACT
    * planted copies (graft.operators.ann.Ann.withExactCopies): an
    * identical vector falls on the same side of every hyperplane, so the
    * copy shares its original's bucket in all bands (guaranteed candidate)
    * and exact cosine is 1.0 ≥ any threshold. The planted relation is the
    * provable output — the DuckDB oracle re-derives it from the planting
    * formula — while signatures, the band join, and the fused-cosine
    * verify stage all still execute. The noisy-copy (≈0.9 cosine)
    * probabilistic-recall behavior stays spec-tested in sbt
    * (OperatorsSpec "multi-band LSH").
    */
  def cosineSelfRecall(spark: SparkSession, d: String,
      threshold: Double = 0.5, bands: Int = 8, bits: Int = 10): DataFrame = {
    import graft.operators.ann.Ann
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")))
    Ann.lshCandidatePairs(Ann.withExactCopies(base), bands, bits)
      .filter(col("id_b") === col("id_a") + 100000L)
      .withColumn("sim", Ann.cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy(col("id_a"))
  }

  /** dd09 — the noisy-copy recall row, driver-checkable: runs the FULL
    * [[cosineNearDups]] pipeline over sign-flip-perturbed copies (cosine
    * ≈ 0.9 to their originals — the probabilistic regime dd05's exact
    * copies deliberately avoid) and reduces it to ONE summary row of
    * claims the oracle pins: the planted population size (re-derivable by
    * DuckDB) plus bound checks computed Spark-side — recall ≥ `floorPct`%
    * of planted pairs recovered, and precision ≥ `precFloorPct`% (planted
    * pairs dominate the survivors). Precision is a FLOOR, not
    * zero-false-positives: a handful of organic pairs do clear the 0.5
    * cosine threshold (measured: 1 of ~400 survivors at sf0.001, 12 of
    * ~1300 at sf0.1), and their count grows with corpus size the same way
    * the planted count does, so a 90% floor holds with wide margin at
    * every scale while an exact-zero claim is fixture-luck. The pipeline
    * is deterministic for a fixed fixture, so the claims are stable
    * booleans: if banding, signatures, or the verify stage degrade, a
    * claim flips and the row hash-mismatches — a bounded PASS, the
    * strongest portable check a probabilistic pipeline admits.
    */
  def noisyRecallSummary(spark: SparkSession, d: String,
      threshold: Double = 0.5, bands: Int = 8, bits: Int = 10,
      floorPct: Int = 60, precFloorPct: Int = 90): DataFrame = {
    val pairs = cosineNearDups(spark, d, threshold, bands, bits)
    val total = Tables.embeddings(spark, d).agg(count(lit(1)).as("n_planted"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("id_b") === col("id_a") + 100000L, 1)).as("n_found"))
      .crossJoin(broadcast(total)) // one-row scalar side
      .select(col("n_planted"),
        (col("n_found") * 100 >= col("n_planted") * floorPct)
          .as("recall_floor_met"),
        (col("n_found") * 100 >= col("n_pairs") * precFloorPct)
          .as("precision_floor_met"))
  }

  /** dd14 — SemDeDup (semantic dedup, cluster-then-prune): k-means the
    * embedding space into `nlist` clusters (the offline Lloyd trainer the
    * IVF lane already owns — deterministic hash-ranked init +
    * scaled-integer mean refinement), then compare pairs ONLY within a
    * cluster and keep those above the cosine threshold. This is the
    * Abbas et al. 2023 "SemDeDup" shape, and it is a different scale
    * regime from the LSH lane ([[cosineNearDups]]): LSH bounds candidates
    * by hash collisions (tunable recall), SemDeDup bounds them by cluster
    * geometry — the quadratic term is Σ|cluster|², controlled by scaling
    * nlist with corpus size (√N clusters → expected O(N^1.5/nlist)=O(N)
    * work), and recall within a cluster is EXACT (every within-cluster
    * pair is scored, no banding miss).
    *
    * Scale shape: centroid training is the cached one-pass-per-iteration
    * Lloyd loop (broadcast nlist-row codebook, map-side argmax,
    * scaled-integer means); assignment is one broadcast crossJoin +
    * map-side-combined argmax (one (vec_id, cell) row per vector on the
    * exchange); the pairing join shuffles each embedding ONCE keyed by
    * cell — the |c|² candidate rows are formed post-shuffle inside the
    * joined partitions, scored by the fused cosine immediately, and
    * filtered before anything else moves. A skewed giant cluster is the
    * known failure mode at scale; AQE skew-join splits it, and production
    * deployments additionally cap |cluster| by re-clustering outliers.
    */
  def semDedupPairs(emb: DataFrame, nlist: Int = 16, refineIters: Int = 1,
      threshold: Double = 0.5): DataFrame = {
    import graft.operators.ann.Ann
    val cents = Ann.coarseCentroids(emb, nlist, refineIters)
    val cells = Ann.assignCells(emb, cents)
    val e = emb.join(cells, Seq("vec_id"))
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", Ann.cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** dd14's driver-checked shape — the planted-copy theorem through the
    * cluster-then-prune pipeline: an exact copy has a bitwise-identical
    * embedding, so its similarity to every centroid equals its
    * original's and the deterministic argmax tie-break assigns both to
    * the SAME cluster regardless of where Lloyd moved the centroids —
    * the within-cluster scoring then finds the pair with certainty at
    * cosine exactly 1.0. Training, assignment, the cell-keyed pairing
    * join, and the fused-cosine verify all execute; the relation filter
    * reduces the output to the planting relation DuckDB re-derives.
    */
  def semDedupSelfRecall(spark: SparkSession, d: String, nlist: Int = 16,
      refineIters: Int = 1, threshold: Double = 0.5): DataFrame = {
    import graft.operators.ann.Ann
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")))
    semDedupPairs(Ann.withExactCopies(base), nlist, refineIters, threshold)
      .filter(col("id_b") === col("id_a") + 100000L)
      .orderBy(col("id_a"))
  }

  /** dd15 — set-CONTAINMENT join (the asymmetric dual of dd02's Jaccard):
    * ordered pairs (a, b) where a's distinct-3-shingle set sits mostly INSIDE
    * b's — quotes, partial scrapes, boilerplate inclusion, subsumed
    * duplicates — the relation a symmetric Jaccard structurally misses
    * (a large b deflates the union below any threshold even when a is
    * 100% contained). Candidates come from the prefix-filtering
    * discipline of the set-similarity-join literature (the PPJoin
    * family): global shingle df's order each doc's shingles, a doc's
    * SIGNATURE is its `sigSize` globally-rarest shingles (deterministic
    * (df, shingle) order), and candidates are signature × inverted-index
    * equi-collisions on the shingle; verification re-attaches the stored
    * shingle sets for colliding ids alone.
    *
    * df-cap: shingles above max(2, maxDfFrac·N) df are excluded from
    * BOTH signatures and the inverted index (dd02's hot-key device) — no
    * posting list exceeds the cap, candidate volume is ≤ sigSize·cap per
    * doc, and no boilerplate shingle ever rides a shuffle. A doc whose
    * every shingle is hot gets no signature; the oracle mirrors the
    * candidate rule exactly, so the check stays hash-exact rather than
    * recall-lenient.
    *
    * Scale shape: shingle once into (doc_id, tk); df is a map-side
    * combined agg; the signature window partitions by doc_id (each group
    * = one doc's capped shingle set — never hot); the candidate join
    * carries (tk, id) pairs only; shingle-set payloads re-attach by id
    * after the pair distinct.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
      sigSize: Int = 2, maxDfFrac: Double = 0.01): DataFrame = {
    // the set unit is the DISTINCT 3-shingle (the dedup family's unit),
    // not the word: a natural-language corpus has a heavy-tailed shingle
    // vocabulary (the fixture's WORD vocabulary is 31 tokens, min df 25 —
    // word-level signatures would all be df-capped away), and shingle
    // containment is the substring-inclusion signal quote/scrape
    // detection actually wants
    val k = docs
      .select(col("doc_id"),
        graft.plans.SketchCols.wordNGrams(col("text"), 3).as("ws"))
      .filter(size(col("ws")) >= 1)
    val tok = k.select(col("doc_id"), explode(col("ws")).as("tk"))
    val total = k.agg(count(lit(1)).as("n_docs"))
    val dfs = tok.groupBy(col("tk")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") <= greatest(lit(2.0), lit(maxDfFrac) * col("n_docs")))
      .select(col("tk"), col("df"))
    val capped = tok.join(dfs, Seq("tk"))
    val wSig = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tk"))
    val sig = capped.withColumn("rn", row_number().over(wSig))
      .filter(col("rn") <= sigSize).select(col("tk"), col("doc_id").as("id_a"))
    val inv = capped.select(col("tk"), col("doc_id").as("id_b"))
    val cand = sig.join(inv, Seq("tk"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(k.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), Seq("id_a"))
      .join(k.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ws_a"), col("ws_b"))))
      .withColumn("na", size(col("ws_a")))
      .filter(col("inter").cast("double") / col("na") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("na"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** dd15's driver-checked shape: beside the corpus, plant the PREFIX
    * HALF of every fifth document (its first ⌈n/2⌉ tokens) at doc_id +
    * 100000 — a genuine contained-in relation (the half's distinct
    * shingles are a subset of the original's — a prefix's shingle set is
    * a subset of the full document's), detected at containment
    * 1.0, while the reverse direction (original → its half) scores ≈ 0.5
    * and is correctly excluded by the 0.8 threshold. The whole candidate
    * machinery — df cap, rarest-token signatures, inverted-index
    * collisions, set verification — executes and is mirrored step for
    * step by the DuckDB oracle (dd02's hash-exact discipline; no
    * planted-relation shortcut here, organic containments rank too).
    */
  def containmentSelfRecall(spark: SparkSession, d: String,
      threshold: Double = 0.8, sigSize: Int = 2,
      maxDfFrac: Double = 0.01): DataFrame = {
    val base = Tables.spread(Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull))
    def toks = TextOps.tokens(col("text"))
    val planted = base
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1),
          ((size(toks) + 1) / lit(2)).cast("int"))).as("text"))
    containmentPairs(base.union(planted), threshold, sigSize, maxDfFrac)
  }

  /** dd10 — cross-split leakage: the train→eval contamination check every
    * training pipeline runs after splitting (an eval document whose exact
    * content also sits in train measures memorization, not generalization).
    * Composes the exact-dedup fingerprint ([[exact]]'s md5-of-normalized
    * lane) with the deterministic hash split
    * ([[graft.operators.prep.TrainPrep.hashSplit]]'s bucket formula): for
    * every val/test document, count train documents sharing its
    * fingerprint. Planted exact copies at doc_id + 100000 give the check a
    * non-trivial relation (copy and original land in independent splits),
    * and the whole construction — fingerprints, split buckets, counts — is
    * re-derivable in DuckDB, so the driver hash-verifies it end to end.
    *
    * Scale shape: one map-side-combined `groupBy(fp)` over the train side
    * (one row per distinct fingerprint out of each partition), then an
    * ids+fp-only left join back to the eval side — AQE-skew-splittable,
    * payloads never shuffle. The train/eval lanes carry different pushed
    * filters, so the default is two corpus scans; `persistProjection =
    * true` lazily cache()-pins the ~40-byte (doc_id, fp, split) projection
    * instead, so the corpus (and the md5-of-text work) is scanned ONCE and
    * both lanes read the in-memory projection — the dd01 tradeoff, made a
    * switch. The pin is a lazy `cache()` (never localCheckpoint): query
    * construction stays zero-job, and the relation materializes on first
    * execution (plan-audited: one scan leaf, InMemoryRelation present).
    */
  def splitLeakage(spark: SparkSession, d: String,
      persistProjection: Boolean = false): DataFrame = {
    import graft.operators.prep.TrainPrep
    val docs = Tables.spread(Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull))
    val all = docs.union(docs.select(
      (col("doc_id") + 100000L).as("doc_id"), col("text")))
    val fpRaw = all.select(col("doc_id"),
        md5(TextOps.normalized(col("text"))).as("fp"),
        (TrainPrep.hashBucket16("graft:", col("doc_id")) % 100)
          .cast("int").as("bucket"))
      .withColumn("split", TrainPrep.splitOf(col("bucket")))
    val fp = if (persistProjection) fpRaw.cache() else fpRaw
    val trainCounts = fp.filter(col("split") === "train")
      .groupBy(col("fp")).agg(count(lit(1)).as("n_train_dups"))
    fp.filter(col("split") =!= "train")
      .join(trainCounts, Seq("fp"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_train_dups"), lit(0L)).as("n_train_dups"),
        (coalesce(col("n_train_dups"), lit(0L)) > 0).as("leaked"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup CLUSTERING — the canonical-assignment step after pair
    * finding: connected components over the verified near-dup graph, each
    * vector labeled with its component's min id (the cluster canonical a
    * dedup keep-one policy retains).
    *
    * Components run as min-label propagation: every vertex starts labeled
    * with itself, and each iteration lowers a vertex's label to the min of
    * its neighborhood — the simple half of the large-star/small-star
    * map-reduce CC family. Each iteration is one ids-only shuffle
    * ((id, label) pairs, payloads long gone) and converges in
    * graph-diameter iterations; near-dup graphs are dense clusters of
    * small diameter, so few rounds are needed — and the core
    * ([[minLabelComponents]]) runs a TRUE fixpoint loop with a monotone
    * label-sum convergence witness, stopping as soon as a round changes
    * nothing; `maxIterations` is only the runaway bound.
    *
    * Driver-checked via the planting device one step further: exact
    * copies at +100000 AND +200000 form a provable triangle per original
    * (identical vectors collide pairwise in every band, cosine 1.0), so
    * every component is exactly {x, x+100000, x+200000} with canonical x
    * — the oracle is `vec_id % 100000` over the replicated id set, and a
    * propagation bug (a label that fails to cross the second hop) breaks
    * the hash. Natural pairs cannot merge components here (max natural
    * cosine ≈ 0.4 < threshold); on a corpus where they do, the output is
    * the true merged clustering — exactly the operator's purpose.
    */
  def nearDupComponents(spark: SparkSession, d: String,
      threshold: Double = 0.5, bands: Int = 8, bits: Int = 10,
      maxIterations: Int = 20): DataFrame = {
    import graft.operators.ann.Ann
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")))
    val corpus = base
      .union(base.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      .union(base.select((col("vec_id") + 200000L).as("vec_id"), col("embedding")))
    // symmetric verified edges, ids only from here on
    val edges = Ann.lshCandidatePairs(corpus, bands, bits)
      .withColumn("sim", Ann.cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"))
    val vertices = corpus.select(col("vec_id"))
    minLabelComponents(vertices, edges, maxIterations)
      .orderBy(col("vec_id"))
  }

  /** Min-label propagation core of [[nearDupComponents]]: vertices
    * (vec_id) + symmetric edges (id_a, id_b) → (vec_id, component_id).
    *
    * A genuine fixpoint loop, not a fixed budget: labels only ever
    * decrease, so the round-over-round label SUM is a monotone convergence
    * witness — one cheap aggregate per round, no self-join diffing — and
    * the loop stops as soon as a round changes nothing (≤ graph-diameter
    * rounds), or at `maxIterations` as a runaway bound for adversarial
    * diameters. Edges and each round's labels are locally checkpointed:
    * the expensive candidate subtree executes ONCE (not once per round),
    * the per-round plan stays O(1) deep instead of nesting the whole
    * lineage, and each round is one ids-only shuffle. (Local checkpoints
    * trade executor-loss recovery for speed — an iterative-algorithm
    * standard; a cluster deployment would point `sc.setCheckpointDir` at
    * durable storage and use reliable checkpoints.)
    */
  def minLabelComponents(vertices: DataFrame, edges: DataFrame,
      maxIterations: Int): DataFrame = {
    val e = edges.localCheckpoint()
    var labs = vertices.select(col("vec_id"), col("vec_id").as("label"))
      .localCheckpoint()
    def labelSum(df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.agg(sum(col("label"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0) // empty vertex set sums to null
    }
    var prevSum = labelSum(labs)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val nbrMin = e
        .join(labs.select(col("vec_id").as("id_b"), col("label")), Seq("id_b"))
        .groupBy(col("id_a")).agg(min(col("label")).as("nbr_min"))
        .select(col("id_a").as("vec_id"), col("nbr_min"))
      labs = labs.join(nbrMin, Seq("vec_id"), "left")
        .select(col("vec_id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        .localCheckpoint()
      val s = labelSum(labs)
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    labs.select(col("vec_id"), col("label").as("component_id"))
  }

  /** dd12 — duplicated-span statistics: per document, how many token
    * positions sit inside a `k`-token span that occurs MORE THAN ONCE in
    * the corpus (the repeated-substring measure behind span-level
    * training-data dedup — the reference has no analogue; this is the
    * LLM-pipeline tail). A span is a positional k-token window (every
    * start, NOT the distinct shingle set MinHash uses); its corpus
    * count includes within-document repeats.
    *
    * Exactness device: the covered-position count is the union length of
    * the intervals [s, s+k-1] over a doc's duplicated starts. Because the
    * interval end is monotone in the start, the union length is
    * `Σ min(k, s − prev_s)` over starts in order (first start counts k) —
    * integer arithmetic under one per-doc window, no interval
    * merge loop, identical in SQL.
    *
    * Scale shape: gram rows carry (doc_id, start, md5) only — never text;
    * the corpus count is a map-side-combined `groupBy(gh)` whose join-back
    * is AQE-skew-splittable (the dd01 dup-storm discipline — a
    * `Window.partitionBy(gh)` count would ship every copy of a hot span
    * to one task); the island sum keys on doc_id. The corpus IS tokenized
    * twice (count lane + position lane) — deliberately NOT the dd06
    * shared-exchange device: the count lane's shuffle is gh-only partial
    * counts (tiny), and when the duplicated-gram set broadcasts (the
    * common case — dup spans are the minority) the position lane's gram
    * rows never shuffle AT ALL, so the only full-corpus costs are two
    * scan+tokenize passes. Sharing one exchange would instead push every
    * gram row (≈ one per corpus token) through the wire to save one
    * CPU-bound tokenize — the wrong trade at 100 TB. When the dup set is
    * too large to broadcast, AQE falls back to a shuffled semi join whose
    * rows are the same narrow triple.
    */
  def spanDupStats(spark: SparkSession, d: String, k: Int = 8): DataFrame =
    spanDupStatsFor(Tables.documents(spark, d), k)

  /** [[spanDupStats]] over any (doc_id, text) frame — the spec's plant
    * seam.
    */
  def spanDupStatsFor(documents: DataFrame, k: Int): DataFrame = {
    val docs = documents
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    val withN = docs.select(col("doc_id"), size(col("t")).as("n_tokens"), col("t"))
    val grams = withN.filter(col("n_tokens") >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("n_tokens") - k),
          i => struct(i.as("s"),
            md5(concat_ws(" ", slice(col("t"), i + 1, lit(k)))).as("gh")))).as("g"))
      .select(col("doc_id"), col("g.s").as("s"), col("g.gh").as("gh"))
    val dupGrams = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("gh"))
    val dupStarts = grams.join(dupGrams, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("s"))
    val contribs = dupStarts
      .withColumn("prev", lag(col("s"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("s"))))
      .select(col("doc_id"),
        when(col("prev").isNull, lit(k))
          .otherwise(least(lit(k), col("s") - col("prev"))).as("contrib"))
    val perDoc = contribs.groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("n_dup_tokens"))
    withN.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("n_dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  // ---- dd16: cross-document duplicate-chunk REMOVAL (cleaned corpus) ----

  /** Paragraph-unit exact dedup across the corpus — the MassiveText/C4
    * "remove repeated paragraphs" cleaning step, which differs from dd12
    * (stats only) by PRODUCING the cleaned corpus: documents are split
    * into paragraph units, every unit that exactly repeats an earlier
    * occurrence anywhere in the corpus is dropped (first occurrence in
    * (doc_id, position) order wins), and each document is reassembled
    * from its surviving units. The fixture's documents are single-line,
    * so the unit here is a fixed non-overlapping window of `w` tokens
    * (trailing partial window included); with newline-delimited text the
    * splitter column is the only thing to swap.
    *
    * Scale shape: one scan → window split → explode; first-occurrence
    * arbitration is a `row_number` window PARTITIONED BY THE UNIT HASH —
    * balanced partitions (each hash group is the copy count of one
    * distinct unit; the heaviest group is the corpus's most-repeated
    * boilerplate, which is exactly what AQE skew handling is for) and no
    * global sort; reassembly is one map-side-combined groupBy(doc_id)
    * collecting (pos, unit) structs for an in-memory per-doc sort —
    * bounded by a single document's size, never the corpus. Unit rows
    * carry (hash, doc_id, pos) plus the unit text once; the output rides
    * an md5 so the gate compares the REASSEMBLED text exactly.
    */
  def chunkDedup(spark: SparkSession, d: String, w: Int = 8): DataFrame =
    chunkDedupFor(Tables.spread(
      Tables.documents(spark, d).select(col("doc_id"), col("text"))), w)

  /** [[chunkDedup]] over any (doc_id, text) frame — the spec seam. */
  def chunkDedupFor(documents: DataFrame, w: Int = 8): DataFrame = {
    val units = documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"CAST((size(t) - 1) DIV $w AS INT)")),
          i => concat_ws(" ", slice(col("t"), i * w + 1, lit(w))))))
      .withColumnRenamed("col", "unit")
    val arb = Window.partitionBy(md5(col("unit")))
      .orderBy(col("doc_id"), col("pos"))
    val ranked = units.withColumn("rn", row_number().over(arb))
    val kept = ranked.filter(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("unit"), " "))).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("unit")))),
          s => s.getField("unit")), " ").as("cleaned"))
    units.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dup_chunks"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** dd17 — SOFT dedup: down-weight duplicates instead of dropping them
    * (the sampling-weight alternative to [[exact]]'s removal — e.g. "keep
    * one expected copy per cluster" as used by production LLM-corpus
    * pipelines when exact removal is too blunt: cluster members stay in
    * the corpus, each carrying weight 1/n_copies so the cluster
    * contributes one document's worth of probability mass to the sampler).
    *
    * Weights are INTEGRAL parts-per-million (`1e6 div n_copies`) so no
    * float division enters the cross-engine contract; the per-doc
    * effective token mass is `n_tokens · weight_ppm` (the quantity a
    * token-budgeted sampler actually consumes). Reference semantics:
    * cluster = identical normalized text, the dd01 fingerprint.
    *
    * The fixture corpus has no exact duplicates, so the relation is made
    * non-trivial the mm09 way: every `doc_id % 7 == 0` document plants an
    * identical-text copy at `doc_id + 200000`, every `doc_id % 21 == 0` a
    * second at `doc_id + 400000` — clusters of size 1, 2 and 3, so all
    * three weight levels appear and the oracle re-derives membership from
    * the planting formula.
    *
    * Scale shape: identical to [[exact]] — one map-side-combined
    * `groupBy(fp)` for the cluster sizes (never a window over fp: dup
    * storms ship every copy to one task under window aggregation), joined
    * back on the 32-byte fingerprint; AQE skew-splittable. Everything
    * else is a narrow projection at scan speed.
    */
  def softDedupWeights(spark: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .select(explode(
        when(col("doc_id") % 21 === 0,
          array(col("doc_id"), col("doc_id") + 200000L, col("doc_id") + 400000L))
        .when(col("doc_id") % 7 === 0,
          array(col("doc_id"), col("doc_id") + 200000L))
        .otherwise(array(col("doc_id")))).as("doc_id"), col("text"))
    val fp = Tables.spread(planted)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        md5(TextOps.normalized(col("text"))).as("fp"))
    val sizes = fp.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    fp.join(sizes, Seq("fp"))
      .select(col("doc_id"), col("n_tokens"), col("n_copies"),
        expr("1000000L div n_copies").as("weight_ppm"),
        (col("n_tokens") * expr("1000000L div n_copies")).as("eff_token_ppm"))
      .orderBy(col("doc_id"))
  }

  /** dd18 — bounded EDIT-DISTANCE near-dup: the fuzzy-match family's
    * character-level member (catches OCR noise, typo farms, template
    * fills — edits that shift every downstream shingle, which the
    * set-similarity lanes under-count). Exact all-pairs Levenshtein is
    * O(N²·len²); the production shape is BLOCK-then-verify: documents
    * sharing an identical `prefixLen`-char prefix (hashed — 16-byte
    * blocking keys) are candidates, and only candidates pay the O(len²)
    * DP, via Spark's codegen'd `levenshtein`. Run AFTER exact dedup
    * (group by content hash, min doc_id canonical — the dd01 head): the
    * edit-distance unit is the distinct text, so a duplicate storm can
    * never quadratically inflate a block.
    *
    * The planted lane appends a fixed 4-char tail to canonical docs
    * (doc_id < `plantMax`, length ≥ `minLen` so the blocking prefix is
    * untouched): same block by construction, Levenshtein EXACTLY 4
    * (insertions only) — both engines derive the identical integer, and
    * the DuckDB oracle mirrors the whole block/verify machinery, so
    * organic same-prefix pairs are gated too, not just the plants.
    *
    * Scale shape: one groupBy(md5) for canonicals, one equi-join on the
    * 32-byte block key (AQE skew-splittable; block geometry bounds the
    * quadratic term the way cluster geometry bounds dd14's). Texts ride
    * the blocking shuffle here because the verify needs both strings; at
    * 100 TB swap to ids-only pairing + re-attach by id against the
    * corpus store if string width dominates.
    */
  def editNearDups(spark: SparkSession, d: String, prefixLen: Int = 200,
      maxDist: Int = 16, plantMax: Int = 300, minLen: Int = 250): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull))
    val canon = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
      .select(col("doc_id"), col("text"))
    val plants = canon
      .filter(col("doc_id") < plantMax && length(col("text")) >= minLen)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" zqx")).as("text"))
    val blocked = canon.unionByName(plants)
      .withColumn("blk", md5(substring(col("text"), 1, prefixLen)))
    blocked.select(col("blk"), col("doc_id").as("id_a"), col("text").as("text_a"))
      .join(blocked.select(col("blk"), col("doc_id").as("id_b"),
        col("text").as("text_b")), Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
