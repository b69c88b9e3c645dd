package graft.operators.ann

import graft.operators.store.{IndexManifest, LeafStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTED k-NN graph — the edge relation [[Ann.knnGraphOf]] builds,
  * committed as a store instead of rebuilt in-plan per consumer: at
  * 100 TB the graph exists precisely so a search does NOT pay a
  * corpus-wide pass, so rebuilding it per query ([[Ann.graphSearchTopK]]
  * over an in-plan build) is exactly the cost the artifact should
  * amortize. The edge relation is a [[LeafStore]] family (`graph`):
  * `edges/ggrp=<g>/leaf=v<N>-<tag>`, grouped by `vec_id` so a node's
  * adjacency list is one partition probe and the relation co-locates
  * with other vec_id-keyed stores. What the graph adds to the store is
  * its HUB POOL (the seed vertices every commit maintains in the
  * manifest) and SOFT-DELETE ROUTING (a tombstoned vertex leaves the
  * results but keeps routing until a replace commit drops its edges).
  *
  * Lifecycle (the crawl-loop shape):
  *  - [[build]] — one full construction pass ([[Ann.knnGraphOf]]:
  *    cell-keyed candidate pairing, never corpus × corpus).
  *  - [[append]] — O(batch · degree) incremental linking: each new
  *    vector greedy-searches the COMMITTED graph for its neighbors
  *    (seeded at deterministic hub vertices), committing its forward
  *    edges plus the reverse edges that splice it into existing
  *    adjacency lists.
  *  - [[refine]] — one [[Ann.nnDescentRound]] over the committed edges
  *    (the maintenance pass that repairs append approximations),
  *    rewritten as a single fresh leaf.
  *  - [[compact]] — verbatim small-file fold.
  *
  * Reference scope: walex has no ANN surface; this is the
  * training-data-pipeline extension lane (SemDeDup/HNSW substrate).
  */
object KnnGraph {

  /** Hash-range partition dial (the Dedup/Multimodal figure): small
    * enough that a batch's touched-group list is driver-side metadata,
    * large enough that point probes prune most of the store.
    */
  val DefaultGroups = 32

  private val Edges = LeafStore.Rel("edges", StructType(Seq(
      StructField("vec_id", LongType), StructField("nbr_id", LongType),
      StructField("rank", IntegerType), StructField("mutual", BooleanType),
      StructField("ggrp", IntegerType), StructField("leaf", StringType))),
    Some("ggrp" -> (groups =>
      pmod(xxhash64(col("vec_id")), lit(groups.toLong)).cast("int"))))

  /** The graph store: one edge relation plus kill-all vertex tombstones. */
  private[graft] val Store = LeafStore.Family("graph", Seq(Edges),
    LeafStore.Rel("tombs", StructType(Seq(
      StructField("vec_id", LongType), StructField("leaf", StringType)))),
    DefaultGroups)

  /** The head manifest, refusing an empty store. */
  private def committed(indexDir: String): IndexManifest.Meta =
    IndexManifest.readMeta(indexDir).getOrElse(throw new IllegalStateException(
      s"$indexDir holds no committed k-NN graph (build first)"))

  /** How many hub ids ride the manifest — the seed pool [[hubIds]]
    * serves without scanning the store. This is the DEFAULT; each
    * store can dial its own pool size via the `hubs_n` manifest param
    * ([[setHubCount]] — the `retain` treatment: seed-pool size is the
    * recall/cost knob for graph search, so it belongs to the store,
    * not the binary).
    */
  private val DefaultHubCount = 64

  /** The store's dialed pool size: `hubs_n` param, default
    * [[DefaultHubCount]] — pre-dial manifests keep the default. A
    * malformed value (manual manifest edit, cross-version corruption)
    * throws a CONTEXTUAL error instead of a bare
    * NumberFormatException from every later commit/search.
    */
  private def hubCountOf(meta: IndexManifest.Meta): Int =
    meta.params.get("hubs_n").map(_.trim).filter(_.nonEmpty)
      .map { s =>
        s.toIntOption.getOrElse(throw new IllegalStateException(
          s"malformed hubs_n manifest param '$s' — the hub-pool dial " +
            "must be a positive INT; repair it with setHubCount"))
      }.filter(_ >= 1).getOrElse(DefaultHubCount)

  private def hubsParam(meta: IndexManifest.Meta): Seq[Long] =
    meta.params.get("hubs").toSeq.flatMap(_.split(","))
      .filter(_.nonEmpty).map(_.toLong)

  /** The `n` smallest vertex ids of `edges`, minus `exclude`'s ids. */
  private def smallestIds(edges: DataFrame, n: Int,
      exclude: Option[DataFrame] = None): Seq[Long] = {
    val ids = edges.select(col("vec_id")).distinct()
    exclude.fold(ids)(t =>
        ids.join(broadcast(t.select(col("vec_id"))), Seq("vec_id"), "left_anti"))
      .orderBy(col("vec_id")).limit(n)
      .collect().map(_.getLong(0)).toSeq
  }

  /** The HUB POOL a commit records — the store-dialed `hubs_n` smallest
    * vec_ids of (prior hubs ∪ the just-written leaf's vertices). The
    * leaf read-back is a partition-pruned TakeOrdered over ONE leaf —
    * batch-sized for appends, so maintaining the pool costs O(batch)
    * there. [[merge]] is the documented exception: its single leaf IS
    * the union of the shards, so the read-back is merge-sized — paid
    * once per merge, the same order as the merge's own write. A
    * `replace` commit (refine/compact) DROPS the prior pool: the new
    * leaf IS the whole store and tombstoned vertices were dropped
    * physically before the write, so the read-back can never resurrect
    * a stale hub after the tombstone set clears. A PRE-POOL store
    * (committed before the pool existed, or a merge destination
    * upgraded mid-life) enrolls its prior pool from the full committed
    * scan ONCE here — reading only the new leaf would silently seed the
    * pool with the batch's ids, not the store's smallest. `exclude`
    * anti-joins known-tombstoned vec_ids out of the read-back (the merge
    * path rides its sources' takedowns into the same commit — a dead
    * vertex must not enroll as a hub in the commit that tombstones it).
    */
  private def hubPool(spark: SparkSession, indexDir: String,
      replace: Boolean, exclude: Option[DataFrame] = None): LeafStore.Params =
    (meta, leaf) => {
      val hubN = hubCountOf(meta)
      val prior =
        if (replace) Seq.empty
        else {
          val pooled = hubsParam(meta)
          if (pooled.nonEmpty || meta.leaves.isEmpty) pooled
          else smallestIds(LeafStore.read(spark, indexDir, Edges, meta), hubN)
        }
      val fresh = smallestIds(LeafStore.read(spark, indexDir, Edges,
        meta.copy(leaves = Seq(leaf))), hubN, exclude)
      Map("hubs" -> (prior ++ fresh).distinct.sorted.take(hubN).mkString(","))
    }

  /** KILL-ALL vertex tombstones — the takedown lane on the graph store
    * (mm18/ann15's device on the edge relation): a deleted vector must
    * stop appearing in ANY search result without rewriting a committed
    * edge leaf. [[searchTopK]] removes the set's members BEFORE its
    * top-k cut; the tombstoned vertex keeps ROUTING (its edges stay —
    * the HNSW soft-delete rule: dropping a hub from routing would
    * orphan its neighborhood) until [[refine]] or [[compact]] drops
    * every incident edge physically and clears the set, after which a
    * re-crawled vector re-links via [[append]].
    */
  def delete(spark: SparkSession, indexDir: String, ids: DataFrame,
      tag: String): Unit = {
    committed(indexDir)
    LeafStore.tombstone(indexDir, Store, tag, ids.select(col("vec_id")))
  }

  /** The tombstoned vec_ids `meta` committed, as stored (an id
    * tombstoned under two tags appears twice): a scan with no
    * aggregation, for readers that only test membership.
    */
  private def tombLeaves(spark: SparkSession, indexDir: String,
      meta: IndexManifest.Meta): Option[DataFrame] =
    LeafStore.tombRows(spark, indexDir, Store, meta)

  /** The committed tombstoned vec_ids as a relation (empty when none) —
    * public for reconcile jobs, the
    * [[graft.operators.ann.PqIndex.tombstonedIds]] rationale.
    */
  def tombstonedIds(spark: SparkSession, indexDir: String): DataFrame =
    LeafStore.tombstonedIds(spark, indexDir, Store)

  /** `meta`'s edges minus every edge INCIDENT to a tombstoned vertex
    * (either endpoint) — what [[refine]]/[[compact]] fold, making the
    * physical drop.
    */
  private def liveEdges(spark: SparkSession, indexDir: String,
      meta: IndexManifest.Meta): DataFrame = {
    val e = LeafStore.read(spark, indexDir, Edges, meta)
      .select(col("vec_id"), col("nbr_id"), col("rank"), col("mutual"))
    tombLeaves(spark, indexDir, meta).fold(e) { t =>
      val bt = broadcast(t.distinct())
      e.join(bt, Seq("vec_id"), "left_anti")
        .join(bt.withColumnRenamed("vec_id", "nbr_id"), Seq("nbr_id"),
          "left_anti")
    }
  }

  /** Build the graph over `emb` ([[Ann.knnGraphOf]] — one cell-keyed
    * construction pass) and commit it as the store's first leaf.
    */
  def build(emb: DataFrame, indexDir: String, tag: String,
      nlist: Int = 16, k: Int = 3, refineIters: Int = 1,
      groups: Int = DefaultGroups): Unit = {
    // the codebook generations are pinned for the build's write only
    val cents = Ann.centroidGenerations(emb, nlist, refineIters)
    try LeafStore.append(indexDir, Store, tag, groups,
      Seq(Edges -> Ann.knnGraphWith(emb, cents.last, k)),
      hubPool(emb.sparkSession, indexDir, replace = false))
    finally cents.foreach(_.unpersist())
  }

  /** The committed edge relation (vec_id, nbr_id, rank, mutual) — a
    * `leaf` partition prune over the committed set.
    */
  def edges(spark: SparkSession, indexDir: String): DataFrame =
    groupedEdges(spark, indexDir, headOf(indexDir))
      .select(col("vec_id"), col("nbr_id"), col("rank"), col("mutual"))

  /** Committed leaf count — the census the harnesses gate. */
  def leafCount(indexDir: String): Int = LeafStore.leafCount(indexDir)

  /** Greedy beam search over the COMMITTED graph ([[Ann.graphSearchTopK]]
    * reading edges from storage): candidates come only from the stored
    * edges, so cost is |queries| · beam · degree per hop regardless of
    * corpus size — the property persisting the graph buys. Each hop is
    * one group-pruned edge read and one embedding read; the queries and
    * seeds are collected once. Tombstoned vertices ([[delete]]) are
    * removed BEFORE the top-k cut (one read of the tombstone leaves,
    * filtered to the scored ids) but keep routing until compaction.
    * Returns the ranked rows as a LocalRelation.
    */
  def searchTopK(spark: SparkSession, indexDir: String, emb: DataFrame,
      queries: DataFrame, seeds: DataFrame, hops: Int = 2, beam: Int = 8,
      k: Int = 5): DataFrame =
    searchSnapshot(spark, indexDir, headOf(indexDir), emb, queries, seeds,
      hops, beam, k)

  /** The head manifest, or the empty store at the default dial. */
  private def headOf(indexDir: String): IndexManifest.Meta =
    LeafStore.head(indexDir, Store)

  /** The ONE persisted-graph search: edges, tombstones and the group dial
    * all come from the single manifest snapshot `meta`, so a
    * refine/compact committing mid-call can never pair the retained
    * pre-compaction leaves with the post-compaction (empty) tombstone
    * set, and a later regroup can never re-key the frontier's hash
    * against the snapshot's partitions.
    */
  private def searchSnapshot(spark: SparkSession, indexDir: String,
      meta: IndexManifest.Meta, emb: DataFrame, queries: DataFrame,
      seeds: DataFrame, hops: Int, beam: Int, k: Int): DataFrame =
    Ann.graphSearchTopK(groupedEdges(spark, indexDir, meta), emb, queries,
      seeds, hops, beam, k,
      exclude = tombLeaves(spark, indexDir, meta),
      groupedBy = Some(meta.groups))

  /** The committed edge relation WITH its `ggrp` partition column, which
    * each hop's scan prunes on ([[Ann.hopExpansion]]).
    */
  private def groupedEdges(spark: SparkSession, indexDir: String,
      meta: IndexManifest.Meta): DataFrame =
    LeafStore.read(spark, indexDir, Edges, meta)
      .select(col("ggrp"), col("vec_id"), col("nbr_id"), col("rank"),
        col("mutual"))

  /** TIME-TRAVEL search — [[searchTopK]] against the exact snapshot a
    * PAST manifest version committed (edges AND the tombstone set — the
    * dd23 device on the graph store): a vertex linked later is
    * unreachable, a vertex tombstoned later still matches. Reach is the
    * retained-manifest grace window (whose leaves stay on disk — the
    * same rule that makes refine/compact online-safe); asking beyond it
    * throws instead of silently answering from a different snapshot.
    */
  def searchTopKAt(spark: SparkSession, indexDir: String, emb: DataFrame,
      queries: DataFrame, seeds: DataFrame, asOfVersion: Long,
      hops: Int = 2, beam: Int = 8, k: Int = 5): DataFrame =
    searchSnapshot(spark, indexDir, LeafStore.at(indexDir, asOfVersion),
      emb, queries, seeds, hops, beam, k)

  /** Deterministic HUB seeds: the store's `n` smallest vec_ids — the
    * fixed entry points [[append]] searches from. Served from the
    * MANIFEST's hub pool (maintained by every commit, [[hubPool]]), so
    * a crawl-loop increment pays O(1) metadata here instead of a
    * distinct+sort over the whole edge relation — the scan that would
    * otherwise make "per-increment cost independent of corpus size"
    * false. Stores committed before the pool existed fall back to the
    * scan (their next commit enrolls them), and so does a caller asking
    * for MORE seeds than the pool holds (the store's dialed `hubs_n`,
    * default [[DefaultHubCount]]) on a store with at least that many
    * vertices — a pool of exactly `hubs_n` entries is a prefix, not
    * the full sorted vertex set, so serving `pooled.take(n)` there
    * would silently cap the caller's seed count. A pool SHORTER than
    * `hubs_n` is by construction the store's entire vertex set (the
    * invariant [[setHubCount]] restores at every dial change) and
    * serves any n exactly.
    */
  private[graft] def hubIds(spark: SparkSession, indexDir: String,
      n: Int): DataFrame =
    hubsOf(spark, indexDir, headOf(indexDir), n)

  private def hubsOf(spark: SparkSession, indexDir: String,
      meta: IndexManifest.Meta, n: Int): DataFrame = {
    val hubN = hubCountOf(meta)
    val pooled = hubsParam(meta)
    if (pooled.nonEmpty && (n <= pooled.size || pooled.size < hubN)) {
      import spark.implicits._
      pooled.take(n).toDF("vec_id")
    } else
      groupedEdges(spark, indexDir, meta).select(col("vec_id")).distinct()
        .orderBy(col("vec_id")).limit(n)
  }

  /** Dial the store's hub-pool size — `hubs_n` rides the manifest (the
    * `retain` treatment: the seed pool is graph search's recall/cost
    * knob, so its size belongs to the STORE, not the binary), honored
    * by every later commit's pool maintenance and served by [[hubIds]].
    * Dialing UP re-enrolls the pool from the full committed scan HERE,
    * once, offline — without it a 64-entry pool under a 128 dial would
    * read as "the whole store" and silently cap seed counts (the
    * [[hubIds]] invariant: a pool shorter than `hubs_n` IS the entire
    * vertex set). Dialing DOWN truncates the pool — metadata only.
    * Commits exclusively like any manifest publish; run it like
    * `regroup`: offline, between crawl increments.
    */
  def setHubCount(spark: SparkSession, indexDir: String, n: Int): Unit = {
    require(n >= 1, s"hubs_n must be >= 1, got $n")
    val meta = committed(indexDir)
    val pooled = hubsParam(meta)
    // dial-up re-enrollment EXCLUDES tombstoned vertices: committed edge
    // leaves retain deleted vertices until a refine drops them, and a
    // dead hub would occupy a seed slot for every search
    val pool =
      if (n <= pooled.size || meta.leaves.isEmpty) pooled.take(n)
      else smallestIds(LeafStore.read(spark, indexDir, Edges, meta), n,
        tombLeaves(spark, indexDir, meta))
    LeafStore.setParams(indexDir, meta,
      Map("hubs_n" -> n.toString, "hubs" -> pool.mkString(",")))
  }

  /** Link a new batch into the committed graph — the crawl-increment
    * move, O(batch · degree), no corpus pass: each batch vector
    * greedy-searches the stored edges for its top-k neighbors (seeded
    * at the [[hubIds]] hub vertices), then ONE leaf commits its forward
    * edges (rank = search rank) plus the REVERSE edges that splice the
    * newcomer into its neighbors' adjacency lists (appended at rank k —
    * a beyond-quota approximation a later [[refine]] round re-ranks
    * exactly; they carry `mutual = true` by construction, both
    * directions land together). Tag-idempotent like every other fold.
    *
    * Caller contract: batch vec_ids are new to the graph; `emb` must
    * cover the committed graph's vertices AND the batch (exact
    * re-scoring joins by id).
    */
  def append(spark: SparkSession, indexDir: String, emb: DataFrame,
      batch: DataFrame, tag: String, k: Int = 3, hops: Int = 2,
      beam: Int = 8, nSeeds: Int = 16): Unit = {
    if (committed(indexDir).isDone(tag)) return
    linkFound(spark, indexDir,
      searchForLink(spark, indexDir, emb, batch, nSeeds, hops, beam, k),
      tag, k)
  }

  /** [[append]]'s SEARCH half, separable so a streaming loop writes
    * matches and links from ONE search: each batch vector
    * greedy-searches the committed graph for its top-k neighbors,
    * seeded at the [[hubIds]] hub vertices. Tombstoned vertices are
    * excluded — a match must never surface a takedown, and a newcomer
    * should link to LIVE neighbors (the dead still route mid-search,
    * the soft-delete rule). The batch's (query_id, q_emb) rows are read
    * ONCE; the seed pairs (every query × the manifest's hub pool) are
    * built on the driver, so the search's only Spark work is its per-hop
    * store reads. Returns (query_id, rnk, vec_id, sim) as a sorted
    * LocalRelation — already collected, nothing for a caller to pin.
    */
  def searchForLink(spark: SparkSession, indexDir: String, emb: DataFrame,
      batch: DataFrame, nSeeds: Int = 16, hops: Int = 2, beam: Int = 8,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val q = batch.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("q_emb"))
    val rows = q.collect()
    val queries = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      q.schema)
    val meta = headOf(indexDir)
    val hubs = hubsOf(spark, indexDir, meta, nSeeds).collect().map(_.getLong(0))
    val seeds = rows.toSeq.flatMap(r => hubs.map(r.getLong(0) -> _))
      .toDF("query_id", "vec_id")
    searchSnapshot(spark, indexDir, meta, emb, queries, seeds, hops, beam, k)
  }

  /** [[append]]'s LINK half: ONE leaf commits the found relation's
    * forward edges (rank = search rank) plus the REVERSE edges that
    * splice each newcomer into its neighbors' adjacency lists
    * (appended at rank k — a beyond-quota approximation a later
    * [[refine]] round re-ranks exactly; both directions land together,
    * so they carry `mutual = true` by construction). Tag-idempotent
    * like every other fold.
    */
  def linkFound(spark: SparkSession, indexDir: String, found: DataFrame,
      tag: String, k: Int = 3): Unit = {
    val meta = committed(indexDir)
    val fwd = found.select(col("query_id").as("vec_id"),
      col("vec_id").as("nbr_id"), col("rnk").as("rank"),
      lit(true).as("mutual"))
    val rev = found.select(col("vec_id"),
      col("query_id").as("nbr_id"), lit(k).as("rank"),
      lit(true).as("mutual"))
    LeafStore.append(indexDir, Store, tag, meta.groups,
      Seq(Edges -> fwd.unionByName(rev)),
      hubPool(spark, indexDir, replace = false))
  }

  /** One NN-descent maintenance round over the committed edges
    * ([[Ann.nnDescentRound]] — neighbors ∪ reverse ∪ 2-hop candidates,
    * exact verify, linear in |E|), committed as the store's single
    * fresh leaf: repairs [[append]]'s rank-k approximations and lifts
    * graph quality without any corpus×corpus pass. Doubles as
    * compaction (the result replaces every committed leaf).
    */
  def refine(spark: SparkSession, indexDir: String, emb: DataFrame,
      tag: String, k: Int = 3): Unit = {
    committed(indexDir)
    // dead vertices leave physically here: tombstoned endpoints' edges
    // drop before the round, so they neither survive nor become
    // candidates, and the rewrite clears the tombstone set
    LeafStore.rewrite(indexDir, Store, tag, meta => {
      val refined = Ann.nnDescentRound(liveEdges(spark, indexDir, meta), emb, k)
        .select(col("vec_id"), col("nbr_id"), col("rank"))
      val rev = refined.select(col("nbr_id").as("vec_id"),
        col("vec_id").as("nbr_id"), lit(true).as("mutual"))
      Seq(Edges -> refined
        .join(rev, Seq("vec_id", "nbr_id"), "left")
        .withColumn("mutual", coalesce(col("mutual"), lit(false))))
    }, clearTombs = true, params = hubPool(spark, indexDir, replace = true))
  }

  /** Re-key the committed edge relation into `newGroups` hash-range
    * partitions — the Materializer-rebucket move on the graph store
    * (the dedup/multimodal regroup rule): edges copy VERBATIM into one
    * fresh leaf under the new dial (tombstoned vertices' edges ride —
    * they keep ROUTING, the soft-delete rule — and the tombstone set
    * carries over), the manifest records the new dial, and mismatched
    * old-dial writes are refused from then on.
    */
  def regroup(spark: SparkSession, indexDir: String, newGroups: Int,
      tag: String): Unit = {
    require(newGroups > 0, "newGroups must be positive")
    committed(indexDir)
    LeafStore.rewrite(indexDir, Store, tag,
      meta => Seq(Edges -> LeafStore.read(spark, indexDir, Edges, meta)),
      clearTombs = false, groups = Some(newGroups))
  }

  /** MERGE several graph stores into one — the scale-out BUILD path
    * (dd22/ann21/mm19's device on the edge relation): a 100 TB corpus
    * builds as N independent per-shard graphs (each [[build]] over its
    * slice, no coordination), then one merge folds the shards'
    * committed edges into the destination as a single leaf
    * ([[LeafStore.merge]]). The union of per-shard k-NN graphs is the
    * standard distributed NN-descent INITIALIZATION (Dong et al. 2011):
    * within-shard edges are exact for within-shard neighbors, and a
    * [[refine]] round over the merged store then converges toward the
    * global graph without any corpus × corpus pass. Kill-all tombstones
    * ride per source — a takedown known to any shard stays a takedown —
    * and never enroll as hubs in the merge commit.
    */
  def merge(spark: SparkSession, srcDirs: Seq[String], destDir: String,
      tag: String, groups: Int = DefaultGroups): Unit = {
    srcDirs.foreach { dir =>
      if (IndexManifest.readMeta(dir).isEmpty) throw new IllegalStateException(
        s"$dir holds no committed k-NN graph — merge folds committed shards")
    }
    val ridden = srcDirs.flatMap(d =>
        tombLeaves(spark, d, LeafStore.head(d, Store)))
      .reduceOption(_ unionByName _)
    LeafStore.merge(spark, srcDirs, destDir, Store, tag, groups,
      params = hubPool(spark, destDir, replace = false, exclude = ridden))
  }

  /** Small-file fold of the committed leaves into one (the crawl
    * loop's maintenance cadence): LIVE edges copy verbatim, edges
    * incident to a tombstoned vertex drop physically, the tombstone
    * set clears — searches are identical (deletes were already
    * invisible).
    */
  def compact(spark: SparkSession, indexDir: String, tag: String): Unit = {
    committed(indexDir)
    LeafStore.rewrite(indexDir, Store, tag,
      meta => Seq(Edges -> liveEdges(spark, indexDir, meta)),
      clearTombs = true, params = hubPool(spark, indexDir, replace = true))
  }

  /** ann22's driver-checked shape — TAKEDOWNS through the persisted
    * graph (the delete matrix's sixth and last store family): build
    * over corpus + two exact copies per planted original, tombstone
    * every `% 7` ORIGINAL ([[delete]] — the replica dropped those
    * vectors), and search each +200000 copy seeded at itself. Both
    * twins sit in the seed's stored edge list at sim 1.0, so the
    * answer is the ORIGINAL exactly when it survived and the +100000
    * twin exactly when it was tombstoned (the exclusion runs before
    * the top-k cut — a dead vertex cannot consume the slot; ascending-
    * id tie-break fixes each case). Then [[compact]] drops every
    * incident edge physically and clears the set, and the re-search is
    * row-identical: `n_passes == 2` rides every row (the dd20/mm18
    * device), with the tombstone census beside it.
    */
  def deletedSearchSelfRecall(spark: SparkSession, d: String,
      nQueries: Int = 64): DataFrame = {
    val base = graft.Tables.spread(graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val qs = base.filter(col("vec_id") < nQueries)
    val copies1 = qs.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val copies2 = qs.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding"))
    val all = base.unionByName(copies1).unionByName(copies2)
    // the searches return collected rows (the census re-reads the
    // corpus lazily), so the pin ends with the call
    try {
      val indexDir = s"${graft.Tables.scratchDir("graft_ann22")}/graph"
      build(all, indexDir, "corpus")
      val dead = qs.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      delete(spark, indexDir, dead, "takedown0")
      val census = dead.agg(count(lit(1)).as("n_tombstones"))
      val queries = copies2.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      val seeds = copies2.select(col("vec_id").as("query_id"), col("vec_id"))
      def search(): DataFrame =
        searchTopK(spark, indexDir, all, queries, seeds,
          hops = 2, beam = 8, k = 1)
          .select(col("query_id"), col("vec_id").as("match_id"), col("sim"))
      val pre = search() // searched (and collected) before the compaction
      compact(spark, indexDir, "compact0")
      val post = search()
      pre.unionByName(post)
        .groupBy(col("query_id"), col("match_id"), col("sim"))
        .agg(count(lit(1)).as("n_passes")) // 2 ⇔ pre/post agree
        .crossJoin(broadcast(census))
        .orderBy(col("query_id"))
    } finally { base.unpersist(); () }
  }

  /** ann23's driver-checked shape — the SCALE-OUT BUILD through the
    * graph store: ann22's planted relation built as TWO independent
    * parity shards (deliberately mixed group dials), per-shard `% 7`
    * takedowns, one [[merge]], then the search over the MERGED store
    * only. Copies keep their original's parity (+100000/+200000 are
    * even offsets), so each planted sim-1.0 triple lives WITHIN one
    * shard and its stored edges survive the union verbatim: seeding
    * each +200000 copy at itself, the answer is the ORIGINAL exactly
    * when it survived its shard's takedown and the +100000 twin
    * exactly when it was tombstoned (tombstones ride the merge per
    * source; the exclusion runs before the top-k cut). `n_leaves = 1`
    * pins the single merged edge leaf; the tombstone census rides. A
    * merge that lost a shard's edges, re-keyed groups wrong, or
    * dropped a ridden takedown breaks its rows.
    */
  def shardMergedSearchSelfRecall(spark: SparkSession, d: String,
      nQueries: Int = 64): DataFrame = {
    val base = graft.Tables.spread(graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val qs = base.filter(col("vec_id") < nQueries)
    val copies1 = qs.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val copies2 = qs.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding"))
    val all = base.unionByName(copies1).unionByName(copies2)
    // the search returns collected rows (the census re-reads the corpus
    // lazily), so the pin ends with the call
    try {
      val tmp = graft.Tables.scratchDir("graft_ann23")
      val (s0, s1, m) = (s"$tmp/s0", s"$tmp/s1", s"$tmp/merged")
      build(all.filter(col("vec_id") % 2 === 0), s0, "shard", groups = 16)
      build(all.filter(col("vec_id") % 2 === 1), s1, "shard", groups = 64)
      val dead = qs.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      delete(spark, s0, dead.filter(col("vec_id") % 2 === 0), "takedown0")
      delete(spark, s1, dead.filter(col("vec_id") % 2 === 1), "takedown0")
      merge(spark, Seq(s0, s1), m, "merge0")
      val census = dead.agg(count(lit(1)).as("n_tombstones"))
      val queries = copies2.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      val seeds = copies2.select(col("vec_id").as("query_id"), col("vec_id"))
      searchTopK(spark, m, all, queries, seeds, hops = 2, beam = 8, k = 1)
        .select(col("query_id"), col("vec_id").as("match_id"), col("sim"),
          lit(leafCount(m)).as("n_leaves"))
        .crossJoin(broadcast(census))
        .orderBy(col("query_id"))
    } finally { base.unpersist(); () }
  }

  /** ann24's driver-checked shape — the GRAPH crawl loop as a STREAM
    * (the ann07/dd13 pattern on the edge store), run through the
    * ONE-CALL facade [[graft.streaming.Graft.searchAndLink]]: arriving
    * vector batches greedy-search the persisted graph, matches append
    * to the output, and the SAME search's results link the batch in —
    * so later batches can reach it — with one NN-descent refine every
    * second batch (the in-stream maintenance cadence, dd21's device).
    *
    * The planted theorem: every arriving vector is an exact copy of a
    * corpus vector with vec_id < nSeeds, and the loop's hub seeds are
    * the store's nSeeds SMALLEST vec_ids — exactly those originals
    * (copies sit at +100000 and never displace them). Every query is
    * therefore seeded AT its own original: the original is in the
    * visited set by construction, exact scoring puts it at sim 1.0
    * (unique — no duplicate vectors in the fixture, naturals cap
    * ≈ 0.4), so each copy's top-1 match is its original REGARDLESS of
    * graph quality, whatever batch it arrived in and across the
    * mid-loop refines. A loop that lost a batch, searched a stale
    * manifest, or broke the hub-seed rule surfaces as missing rows.
    *
    * Scale per increment: the search touches |batch| · beam · degree
    * candidate rows (never the corpus), the link is one immutable
    * leaf, the refine is |E|-linear.
    */
  def streamingSearchSelfRecall(spark: SparkSession, d: String,
      nBatches: Int = 4, nQueries: Int = 64): DataFrame = {
    val base = graft.Tables.spread(graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val copies = base.filter(col("vec_id") < nQueries)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val all = base.unionByName(copies).cache() // the loop's emb store
    // the result re-reads the finished loop's output, so both pins end
    // with the call
    try {
      val tmp = graft.Tables.scratchDir("graft-knn-stream")
      val indexDir = s"$tmp/graph"
      val stageDir = s"$tmp/arrivals"
      val outDir = s"$tmp/matches"
      // one-off corpus build, metered apart from the increments (bench:
      // bootstrap_sec vs per_increment_sec); the shared embedding store
      // materializes here too, not inside the first micro-batch
      graft.streaming.Graft.CrawlMetrics
        .timed("graft-search-and-link-bootstrap") {
          build(base, indexDir, "corpus")
          all.count()
          ()
        }
      copies.repartition(nBatches, col("vec_id")).write.parquet(stageDir)
      val schema = spark.read.parquet(stageDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val q = graft.GraftSession.withStreamShuffle(spark)(
        graft.streaming.Graft.searchAndLink(stream, indexDir, outDir,
          embProvider = all, k = 1, hops = 2, beam = 8, nSeeds = nQueries,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          refineEvery = 2))
      graft.GraftSession.awaitFinished(q)
      spark.read.parquet(outDir)
        .select(col("query_id"), col("vec_id").as("match_id"), col("sim"))
        .filter(col("match_id") === col("query_id") - 100000L)
        .orderBy(col("query_id"))
    } finally { all.unpersist(); base.unpersist(); () }
  }

  /** ann26's driver-checked shape — graph QUALITY, not reachability:
    * recall@1 against brute force for searches that must NAVIGATE. The
    * planted self-recall gates (ann20/ann22/ann24) deliberately seed
    * each query at (or next to) its own answer, so they stay green
    * regardless of how good the graph is; this row removes that crutch.
    * [[recallHits]] measures the real thing: queries are corpus
    * originals OUTSIDE the hub pool (vec_ids `[200, 200+n)` — the pool
    * is the 64 smallest ids), the corpus splits 80/20 into a build
    * slice plus `nBatches` crawl [[append]] batches followed by ONE
    * [[refine]] (the lifecycle under audit), and every search starts at
    * the store's hub seeds — reaching a query's true neighbor requires
    * real hops through stored edges. No copies are planted (recallHits'
    * doc explains why a planted target would not discriminate);
    * instead the graph's top-1 is compared against an EXPLICIT in-plan
    * brute-force top-1 over the whole corpus, and a hit is exact
    * agreement. The gated row pins
    * `n_hits * 100 >= floor_pct * n_queries` (floor 55% — the healthy
    * lifecycle measures 65-72% across the driver fixtures while the
    * degraded contrast graph measures ~39%, so the floor splits the
    * two with margin on both sides); an append or refine regression
    * that quietly degrades linking drops recall below the floor and
    * flips `floor_met` (the spec contrasts a deliberately
    * degraded graph failing the same floor). The measured recall is
    * spec-pinned, not driver-gated — organic navigation varies with
    * fixture scale; the FLOOR is the cross-scale contract.
    */
  def recallAudit(spark: SparkSession, d: String, nQueries: Int = 64,
      floorPct: Int = 55): DataFrame = {
    val hits = recallHits(spark, d, nQueries)
    spark.range(1).select(
      lit(nQueries.toLong).as("n_queries"),
      lit(floorPct.toLong).as("floor_pct"),
      lit(hits * 100L >= floorPct.toLong * nQueries).as("floor_met"))
  }

  /** The measured hit count behind [[recallAudit]] — TRUE recall@1: the
    * graph search's top-1 is compared against the IN-PLAN brute-force
    * top-1 over the whole corpus (the ground truth the index
    * approximates; |queries| × corpus cosines — audit-sized, never the
    * serving path). The corpus splits 80/20 into a build slice and
    * `nBatches` crawl [[append]] batches followed by one [[refine]], so
    * the score holds the WHOLE lifecycle accountable: a build that
    * pairs wrong, an append that mislinks, or a refine that drops good
    * edges all pull graph-top-1 away from brute-top-1. Spec-pinnable
    * and parameterized so the spec can show a DEGRADED graph (k=1
    * chains, no build refinement, no post-append refine) failing the
    * floor the healthy lifecycle clears — a planted-copy target would
    * not discriminate here, because a bad append that wires arrivals
    * near the hubs makes planted copies EASIER to find, not harder.
    */
  private[graft] def recallHits(spark: SparkSession, d: String,
      nQueries: Int = 64, nBatches: Int = 4, buildK: Int = 3,
      buildRefineIters: Int = 1, refineAfter: Boolean = true,
      hops: Int = 4, beam: Int = 32, nSeeds: Int = 64): Long = {
    val base = graft.Tables.spread(graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    // every pin the audit takes — `base` and each leg's result — is
    // released in `finally`: a leg that throws inside `concurrently`
    // must not leave the corpus or the surviving leg persisted
    val pins = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def pinned(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pins.add(p); p.count(); p
    }
    try {
      val indexDir = s"${graft.Tables.scratchDir("graft_ann26")}/graph"
      build(base.filter(col("vec_id") % 5 =!= 4L), indexDir, "corpus",
        k = buildK, refineIters = buildRefineIters)
      val arrivals = base.filter(col("vec_id") % 5 === 4L)
      (0 until nBatches).foreach { b =>
        append(spark, indexDir, base,
          arrivals.filter(pmod(col("vec_id"), lit(5L * nBatches))
            === (5L * b + 4L)), s"b$b")
      }
      if (refineAfter) refine(spark, indexDir, base, "r1")
      val queries = base.filter(col("vec_id") >= 200L &&
        col("vec_id") < 200L + nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
      val bruteTop = broadcast(queries).join(base,
          col("vec_id") =!= col("query_id"))
        .withColumn("sim", Ann.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("query_id"), col("vec_id").as("true_nn"))
      val seeds = queries.select(col("query_id"))
        .crossJoin(broadcast(hubIds(spark, indexDir, nSeeds)))
      // the audit's two measurement legs — the in-plan brute-force ground
      // truth and the graph search — are INDEPENDENT once the store is
      // committed and `base` is pinned: overlap them (guide §2.6) instead
      // of letting each leg's small-job tail serialize the other, and pin
      // each so the scoring join below reads the computed rows. The graph
      // leg calls searchTopK inside its thunk because the search runs its
      // hops when called; only the final ranking is left to the pin.
      val legs: Seq[() => DataFrame] = Seq(
        () => pinned(bruteTop),
        () => pinned(searchTopK(spark, indexDir, base, queries, seeds,
            hops, beam, k = 1).select(col("query_id"), col("vec_id"))))
      val Seq(bt, gt) = graft.GraftSession.concurrently(legs, maxPar = 2)
      gt.join(bt, Seq("query_id"))
        .filter(col("vec_id") === col("true_nn"))
        .agg(count(lit(1))).collect()(0).getLong(0)
    } finally {
      pins.forEach { p => p.unpersist(); () }
      base.unpersist(); ()
    }
  }

  /** ann20's driver-checked shape — ann18's planted theorem through
    * BUILD → PERSIST → RELOAD → SEARCH: the graph over corpus + two
    * exact copies per planted original commits to storage, and the
    * search then runs against the COMMITTED edge relation only (a torn
    * commit, a leaf lost by the manifest, or a broken reload surfaces
    * as a missing row — the persisted artifact is load-bearing). Each
    * +200000 copy queries the stored graph seeded at itself; hop 1
    * provably reaches both its twins through stored edges and exact
    * rerank puts the ORIGINAL first (the ann18 argument, unchanged).
    * The committed-leaf census rides the relation.
    */
  def persistedSearchSelfRecall(spark: SparkSession, d: String,
      nQueries: Int = 64): DataFrame = {
    val base = graft.Tables.spread(graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val qs = base.filter(col("vec_id") < nQueries)
    val copies1 = qs.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val copies2 = qs.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding"))
    val all = base.unionByName(copies1).unionByName(copies2)
    // the search returns collected rows, so the pin ends with the call
    try {
      val indexDir = s"${graft.Tables.scratchDir("graft_ann20")}/graph"
      build(all, indexDir, "corpus")
      val queries = copies2.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      val seeds = copies2.select(col("vec_id").as("query_id"), col("vec_id"))
      searchTopK(spark, indexDir, all, queries, seeds,
        hops = 2, beam = 8, k = 1)
        .select(col("query_id"), col("vec_id").as("match_id"), col("sim"),
          lit(leafCount(indexDir)).as("n_leaves"))
        .orderBy(col("query_id"))
    } finally { base.unpersist(); () }
  }
}
