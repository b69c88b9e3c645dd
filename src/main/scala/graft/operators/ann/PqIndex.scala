package graft.operators.ann

import graft.Tables
import graft.operators.store.{IndexManifest, LeafStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTED product-quantization index — the build-once / search-many /
  * append-increments artifact the ANN lane needs at 100 TB, mirroring the
  * shape the dedup family already has in `Dedup.minHashBandIndex` /
  * `incrementalNearDups`: training the codebooks and encoding the corpus
  * is the only full-corpus pass, it happens once, offline, and every
  * subsequent query or crawl increment touches the STORED relation only.
  *
  * On-disk layout under `indexDir` (any Hadoop FileSystem — file/hdfs/s3a,
  * the WAL-lane discipline):
  *
  * {{{
  *   _manifest-v00000001        // tiny JSON: version, geometry, leaf list
  *   codebooks-v00000001/       // parquet (m, code, cent_emb) — m*ksub rows
  *   coarse-v00000001/          // parquet (cent_id, cent_emb) — ncells rows
  *   codes/cell=c/leaf=v00000001-ab12cd34/  // (vec_id, m, code) — the corpus
  *   codes/cell=c/leaf=v00000002-99e0f1a2/  // appended crawl increment(s)
  * }}}
  *
  * The codes are a [[LeafStore]] family (`vector`) grouped by the stored
  * IVF `cell` (the dial is `ncells`), so a search prunes its scan to the
  * probed cells. What PqIndex adds to the store is its GEOMETRY and the
  * CODEBOOK FENCE: the quantization dials and the version-named artifact
  * directories ride the manifest params, artifacts are immutable once
  * committed (a retrain writes new ones), every search resolves them
  * from the same snapshot as its codes, and a merge refuses shards whose
  * codebooks differ.
  *
  * Scale ledger: the stored index is (vec_id, m, code) + m*ksub centroids
  * — ~m bytes per vector against dim*4 for raw embeddings (64× at
  * m=4/dim=64). Search reads codes only; raw embeddings re-attach by id
  * for the rerank shortlist alone, exactly as in [[Ann.pqTopKOf]].
  *
  * Reference scope: walex has no ANN surface (its index analogue is the
  * replication slot's durable bookkeeping, `lib/walex/replication/
  * server.ex`); this is the training-data-pipeline extension lane.
  */
object PqIndex {

  /** Index geometry + current leaves, parsed from the shared manifest.
    * `ncells`/`coarseDir` describe the IVF coarse quantizer (0/"" on a
    * pre-IVF index: exhaustive ADC only).
    */
  final case class Meta(version: Long, m: Int, ksub: Int, dim: Int,
      codebooksDir: String, codeLeaves: Seq[String],
      ncells: Int = 0, coarseDir: String = "", residual: Boolean = false,
      tombLeaves: Seq[String] = Seq.empty,
      extraParams: Map[String, String] = Map.empty) {
    def subLen: Int = dim / m
  }

  private val Codes = LeafStore.Rel("codes", StructType(Seq(
      StructField("vec_id", LongType), StructField("m", IntegerType),
      StructField("code", LongType), StructField("cell", IntegerType),
      StructField("leaf", StringType))),
    Some("cell" -> (_ => col("cell"))))

  /** The code store: cell-grouped codes plus kill-all vec_id tombstones. */
  private[graft] val Store = LeafStore.Family("vector", Seq(Codes),
    LeafStore.Rel("tombs", StructType(Seq(
      StructField("vec_id", LongType), StructField("leaf", StringType)))),
    defaultGroups = 16)

  /** The manifest-param keys PqIndex itself owns — anything else in the
    * shared params map (the `retain` retention dial, future
    * store-generic knobs) is FOREIGN and must round-trip untouched
    * through [[Meta.extraParams]]: a rebuilt-from-scratch map here
    * would silently erase another module's dial on the next commit.
    */
  private val OwnParamKeys =
    Set("m", "ksub", "dim", "residual", "codebooks", "coarse")

  /** The PqIndex view of the shared manifest: `groups` carries `ncells`
    * (codes are cell-grouped), the geometry and artifact directory
    * names ride `params`.
    */
  private def toShared(meta: Meta): IndexManifest.Meta =
    IndexManifest.Meta(meta.version, meta.ncells,
      meta.codeLeaves, meta.tombLeaves, meta.extraParams ++ geometry(meta),
      kind = Store.kind)

  private def geometry(meta: Meta): Map[String, String] =
    Map("m" -> meta.m.toString, "ksub" -> meta.ksub.toString,
      "dim" -> meta.dim.toString, "residual" -> meta.residual.toString,
      "codebooks" -> meta.codebooksDir, "coarse" -> meta.coarseDir)

  private def fromShared(s: IndexManifest.Meta): Meta =
    Meta(s.version,
      s.params.getOrElse("m", "0").toInt,
      s.params.getOrElse("ksub", "0").toInt,
      s.params.getOrElse("dim", "0").toInt,
      s.params.getOrElse("codebooks", ""),
      s.leaves, s.groups,
      s.params.getOrElse("coarse", ""),
      s.params.get("residual").contains("true"),
      s.tombs,
      s.params -- OwnParamKeys)

  def readMeta(indexDir: String): Meta =
    IndexManifest.readMeta(indexDir).map(fromShared)
      .getOrElse(throw new IllegalStateException(
        s"$indexDir holds no committed pq index (no manifest)"))

  private def hasCommittedManifest(indexDir: String): Boolean =
    IndexManifest.readMeta(indexDir).isDefined

  private def randomSuffix(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Write a trained artifact (the last of its pinned generations) and
    * release every generation: the written directory is what searches
    * read back ([[artifact]]), so nothing keeps the training pins alive.
    */
  private def writeArtifact(generations: Seq[DataFrame], path: String): Unit =
    try generations.last.write.mode("overwrite").parquet(path)
    finally generations.foreach(_.unpersist())

  /** Build the index: train the PQ codebooks AND the IVF coarse
    * quantizer on the corpus (the ONE training pass; [[Ann.pqCodebooks]]
    * / [[Ann.coarseCentroids]] — hash-ranked seeds, Lloyd refinement),
    * encode every vector, assign it a coarse cell, persist the artifacts
    * and commit the codes as the store's first leaf. The corpus
    * embeddings are read, never stored — the artifact is codes +
    * centroids only.
    */
  def build(emb: DataFrame, indexDir: String, m: Int = 4, ksub: Int = 16,
      dim: Int = 64, refineIters: Int = 1, ncells: Int = 16,
      coarseRefineIters: Int = 0, residual: Boolean = false): Meta = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subvectors")
    // fail fast on a non-empty index: re-running build here would retrain
    // the codebooks UNDER the committed codes (later leaves were encoded
    // against the originals), silently corrupting every ADC score. The
    // delete path is an explicit rebuild into a fresh directory.
    require(!hasCommittedManifest(indexDir),
      s"$indexDir already holds a committed pq index — build() would " +
        "corrupt it (codes in later leaves were encoded against the " +
        "existing codebooks); rebuild into a fresh directory instead")
    val subLen = dim / m
    // hash-ranked sample by default (coarseRefineIters = 0, the ivfTopKOf
    // init): cell PRUNING is codebook-agnostic — every search probes the
    // same quantizer it was assigned by — so Lloyd refinement here buys
    // organic recall per probe, not correctness; dial it up offline.
    // Coarse FIRST: residual mode trains the PQ codebooks on residuals
    // against the PERSISTED coarse centroids
    val coarseDir = f"coarse-v${1L}%08d"
    writeArtifact(Ann.centroidGenerations(emb, ncells, coarseRefineIters),
      s"$indexDir/$coarseDir")
    val spark = emb.sparkSession
    val storedCoarse = artifact(spark, s"$indexDir/$coarseDir")
    val trainIn =
      if (!residual) emb
      else residualsOf(emb, storedCoarse).select(col("vec_id"), col("embedding"))
    val booksDir = f"codebooks-v${1L}%08d"
    writeArtifact(Ann.pqCodebookGenerations(trainIn, m, ksub, subLen,
      refineIters), s"$indexDir/$booksDir")
    // encode against the PERSISTED codebooks, not the in-memory frame:
    // what a later encodeBatch reads back must be bit-identical to what
    // the corpus was coded with (parquet float roundtrip is exact, but
    // reading back removes even the possibility of drift)
    val geo = geometry(Meta(1L, m, ksub, dim, booksDir, Nil, ncells,
      coarseDir, residual))
    fromShared(LeafStore.append(indexDir, Store, randomSuffix(), ncells,
      Seq(Codes -> encoded(emb, artifact(spark, s"$indexDir/$booksDir"),
        storedCoarse, subLen, residual)),
      (_, _) => geo))
  }

  /** v ↦ (vec_id, embedding = v − centroid(cell(v)), cell): the IVFADC
    * residual frame (Jégou et al. 2011) — what residual-mode codebooks
    * train on and codes encode. Cells come from the broadcast coarse
    * argmax; the subtraction is elementwise against the broadcast
    * centroid row, so the pass shuffles (vec_id, cell) ids only.
    */
  private def residualsOf(emb: DataFrame, coarse: DataFrame): DataFrame =
    emb.join(Ann.assignCells(emb, coarse), Seq("vec_id"))
      .join(broadcast(coarse.select(col("cent_id").as("cell"),
        col("cent_emb").as("_cent"))), Seq("cell"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("_cent"), (a, b) => a - b)
          .as("embedding"),
        col("cell"))

  /** Encode + cell-assign one vector set: the (vec_id, m, code, cell)
    * rows of a codes leaf. The (codes ⋈ cells) join is ids-and-codes
    * only, one vec_id shuffle of the BATCH.
    */
  private def encoded(emb: DataFrame, books: DataFrame, coarse: DataFrame,
      subLen: Int, residual: Boolean): DataFrame =
    if (!residual)
      Ann.pqEncode(emb, books, subLen)
        .join(Ann.assignCells(emb, coarse), Seq("vec_id"))
    else {
      val res = residualsOf(emb, coarse)
      Ann.pqEncode(res.select(col("vec_id"), col("embedding")), books, subLen)
        .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
    }

  /** Tiny immutable artifacts (codebooks, coarse centroids) memoized per
    * version-named directory: the dirs never change once committed, so
    * re-resolving the relation (file listing + schema inference, a
    * driver-side cost per `spark.read`) every micro-batch of a crawl
    * loop is pure waste. Entries are m*ksub / ncells rows — metadata.
    */
  private val artifactCache =
    new scala.collection.concurrent.TrieMap[String, DataFrame]()

  private def artifact(spark: SparkSession, path: String): DataFrame =
    artifactCache.getOrElseUpdate(path, spark.read.parquet(path).cache())

  private def evict(path: String): Unit =
    artifactCache.remove(path).foreach(_.unpersist())

  /** Evict and unpersist every memoized artifact of `indexDir` that no
    * retained manifest names: a [[retrain]] supersedes the store's
    * geometry, and without this each superseded codebook and coarse
    * relation would stay cached for the rest of the session.
    */
  private def evictRetired(indexDir: String): Unit = {
    val named = IndexManifest.history(indexDir)
      .flatMap(m => Seq("codebooks", "coarse").flatMap(m.params.get))
      .toSet
    val prefix = s"$indexDir/"
    artifactCache.keys.toSeq.foreach { k =>
      val name = k.stripPrefix(prefix)
      if (k.startsWith(prefix) && !name.contains('/') && !named(name)) evict(k)
    }
  }

  /** The stored codebooks relation (m, code, cent_emb) — m*ksub rows,
    * always broadcast by consumers.
    */
  def codebooks(spark: SparkSession, indexDir: String): DataFrame =
    artifact(spark, s"$indexDir/${readMeta(indexDir).codebooksDir}")

  /** The stored IVF coarse codebook (cent_id, cent_emb) — ncells rows,
    * always broadcast by consumers.
    */
  def coarse(spark: SparkSession, indexDir: String): DataFrame = {
    val meta = readMeta(indexDir)
    require(meta.coarseDir.nonEmpty,
      s"$indexDir has no coarse quantizer (pre-IVF index)")
    artifact(spark, s"$indexDir/${meta.coarseDir}")
  }

  /** The stored code relation with its partition columns, restricted to
    * the leaves `meta` committed.
    */
  private def codesRaw(spark: SparkSession, indexDir: String,
      meta: Meta): DataFrame =
    LeafStore.read(spark, indexDir, Codes, toShared(meta))

  /** The stored code relation (vec_id, m, code) across every committed
    * leaf — one partition-filtered scan of the shared codes table.
    */
  def codes(spark: SparkSession, indexDir: String): DataFrame =
    codesRaw(spark, indexDir, readMeta(indexDir))
      .select(col("vec_id"), col("m"), col("code"))

  /** [[codes]] plus each vector's IVF `cell` — the scan IVF search
    * prunes by probed cells.
    */
  def codesWithCells(spark: SparkSession, indexDir: String): DataFrame =
    codesRaw(spark, indexDir, readMeta(indexDir))
      .select(col("vec_id"), col("m"), col("code"), col("cell"))

  /** `meta`'s codes restricted to `cells` — the cell-pruned scan
    * (`PartitionFilters` on the shared codes table). `cells` is a
    * driver-side list bounded by ncells: metadata, never data.
    */
  private def codesIn(spark: SparkSession, indexDir: String, meta: Meta,
      cells: Seq[Long]): DataFrame =
    codesRaw(spark, indexDir, meta)
      .filter(col("cell").isin(cells.map(v => Int.box(v.toInt)): _*))

  /** Committed codes restricted to `cells` ([[codesIn]] at the head). */
  def codesInCells(spark: SparkSession, indexDir: String,
      cells: Seq[Long]): DataFrame =
    codesIn(spark, indexDir, readMeta(indexDir), cells)
      .select(col("vec_id"), col("m"), col("code"))

  /** Encode an arriving batch against the STORED codebooks — no
    * retraining, no corpus pass: the crawl-increment shape. One batch
    * scan crossed with the broadcast codebooks ([[Ann.pqEncode]]).
    * Incremental-equals-full theorem: encoding is a pure per-vector
    * function of (embedding, codebooks), so encoding a batch against
    * stored codebooks is bitwise the rows a full re-encode would produce
    * for those vectors (spec-pinned in PqIndexSpec).
    */
  def encodeBatch(spark: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame = {
    val meta = readMeta(indexDir)
    val in =
      if (!meta.residual) batch
      else residualsOf(batch, coarse(spark, indexDir))
        .select(col("vec_id"), col("embedding"))
    Ann.pqEncode(in, codebooks(spark, indexDir), meta.subLen)
  }

  /** Append a batch's codes as a new immutable leaf + manifest swap.
    * O(batch) work; existing leaves are never read or rewritten. Caller
    * contract: batch vec_ids are new (the Materializer lane is the
    * upsert path; an index rebuild is the delete path).
    */
  def append(spark: SparkSession, indexDir: String,
      batch: DataFrame): Meta =
    append(spark, indexDir, batch, tag = None)

  /** [[append]] with an optional IDEMPOTENCY tag — the exactly-once fold
    * for at-least-once delivery (a `foreachBatch` replay after restart):
    * the tag becomes the leaf-name suffix, and an append whose tag
    * already committed is a no-op. Untagged appends take a random
    * suffix. Tags: `[0-9A-Za-z_-]`.
    */
  def append(spark: SparkSession, indexDir: String, batch: DataFrame,
      tag: Option[String]): Meta = {
    val meta = readMeta(indexDir)
    fromShared(LeafStore.append(indexDir, Store,
      tag.getOrElse(randomSuffix()), meta.ncells,
      Seq(Codes -> encoded(batch,
        artifact(spark, s"$indexDir/${meta.codebooksDir}"),
        artifact(spark, s"$indexDir/${meta.coarseDir}"), meta.subLen,
        meta.residual))))
  }

  /** Encode `emb` as a SHARD of a distributed build: a fresh index at
    * `shardDir` whose codebooks and coarse quantizer are bit-copies of
    * the TEMPLATE's (parquet float round-trips are exact), so N shards
    * built in parallel from one template are mutually comparable and
    * [[merge]] can fold them into one store. This is the scale-out
    * BUILD path ([[graft.operators.dedup.Dedup.mergeDedupIndexes]]'s
    * rationale on the vector axis): train ONCE on a sample, then every
    * shard is an embarrassingly-parallel encode of its slice — no
    * coordination, no shared writer.
    */
  def buildShardFrom(spark: SparkSession, templateDir: String,
      emb: DataFrame, shardDir: String): Meta = {
    val t = readMeta(templateDir)
    require(!hasCommittedManifest(shardDir),
      s"$shardDir already holds a committed pq index — shards build into " +
        "fresh directories")
    copyArtifacts(spark, templateDir, t, shardDir)
    fromShared(LeafStore.append(shardDir, Store, randomSuffix(), t.ncells,
      Seq(Codes -> encoded(emb, artifact(spark, s"$shardDir/${t.codebooksDir}"),
        artifact(spark, s"$shardDir/${t.coarseDir}"), t.subLen, t.residual)),
      (_, _) => geometry(t)))
  }

  /** Copy `src`'s codebook and coarse artifacts into `destDir`. */
  private def copyArtifacts(spark: SparkSession, srcDir: String, src: Meta,
      destDir: String): Unit =
    (src.codebooksDir +: Seq(src.coarseDir).filter(_.nonEmpty)).foreach { a =>
      artifact(spark, s"$srcDir/$a").write.mode("overwrite")
        .parquet(s"$destDir/$a")
    }

  /** MERGE several pq-index shards into one fresh destination — the
    * fold after [[buildShardFrom]]'s parallel fleet ([[LeafStore.merge]]):
    * one codes leaf carrying every shard's committed rows VERBATIM (codes
    * are pure functions of (embedding, codebooks) and cells of
    * (embedding, coarse), so the merged store is row-identical to a
    * single build), kill-all tombstones riding per source. REFUSES
    * shards whose codebook or coarse content differs from the first's
    * (the CODEBOOK FENCE: codes from different codebooks are
    * incomparable, and merging them would silently corrupt every ADC
    * score — the content check is a collect of m·ksub + ncells
    * broadcast-sized rows per shard), and a destination that already
    * holds an index unless the merge's own tag committed it.
    */
  def merge(spark: SparkSession, srcDirs: Seq[String], destDir: String,
      tag: String): Meta = {
    require(srcDirs.nonEmpty, "merge needs at least one source")
    IndexManifest.readMeta(destDir) match {
      case Some(dm) if dm.isDone(tag) => return fromShared(dm)
      case Some(_) => throw new IllegalStateException(
        s"$destDir already holds a committed pq index — merge builds a " +
          "fresh destination")
      case None => ()
    }
    val metas = srcDirs.map(readMeta)
    val h = metas.head
    metas.zip(srcDirs).foreach { case (m, dir) =>
      require((m.m, m.ksub, m.dim, m.ncells, m.residual) ==
          (h.m, h.ksub, h.dim, h.ncells, h.residual),
        s"shard $dir disagrees on index geometry with ${srcDirs.head}")
    }
    // shared-codebook fence: content equality, not name equality
    def contentOf(dir: String, rel: String): Set[Vector[Any]] =
      spark.read.parquet(s"$dir/$rel").collect()
        .map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toVector
          case x => x
        }.toVector).toSet
    val books0 = contentOf(srcDirs.head, h.codebooksDir)
    val coarse0 =
      if (h.coarseDir.isEmpty) Set.empty[Vector[Any]]
      else contentOf(srcDirs.head, h.coarseDir)
    srcDirs.zip(metas).drop(1).foreach { case (dir, m) =>
      require(contentOf(dir, m.codebooksDir) == books0,
        s"shard $dir was encoded against DIFFERENT codebooks — its codes " +
          "are incomparable with the other shards'; rebuild it with " +
          "buildShardFrom the shared template")
      require(m.coarseDir.isEmpty || contentOf(dir, m.coarseDir) == coarse0,
        s"shard $dir carries a different coarse quantizer — its cells " +
          "are incomparable; rebuild it from the shared template")
    }
    copyArtifacts(spark, srcDirs.head, h, destDir)
    fromShared(LeafStore.merge(spark, srcDirs, destDir, Store, tag, h.ncells,
      params = (_, _) => geometry(h)))
  }

  /** DELETE vectors from the index by TOMBSTONE — the CDC-sync shape
    * ([[graft.queries.QueryPack.streamReplicaVectorIndex]] / pgvector
    * style): a replicated row's DELETE must leave the index without
    * rewriting any committed code leaf. Every search path anti-joins the
    * tombstone set BEFORE the ADC shortlist cut (a deleted vector must
    * not consume shortlist slots — the ann14 pre-filter reasoning), and
    * [[compact]] physically drops tombstoned codes and clears the set,
    * so the tombstone relation stays bounded by deletes-since-last-
    * compaction. The anti-join keys on vec_id and AQE broadcasts it
    * while small — mass deletes stay a shuffle join, never a driver
    * collect.
    */
  def delete(spark: SparkSession, indexDir: String, ids: DataFrame,
      tag: Option[String] = None): Meta = {
    readMeta(indexDir)
    fromShared(LeafStore.tombstone(indexDir, Store,
      tag.getOrElse(randomSuffix()), ids.select(col("vec_id"))))
  }

  /** The committed tombstoned vec_ids as a (vec_id: long) relation —
    * empty when nothing is tombstoned. Public so reconcile jobs
    * ([[graft.streaming.Graft.syncVectorIndex]]) can diff against the
    * SEARCHABLE set (codes minus tombstones) instead of raw codes: raw
    * codes retain tombstoned ids until [[compact]], so a diff against
    * them re-tombstones dead ids every cycle and never re-appends a
    * deleted-then-reinserted live id.
    */
  def tombstonedIds(spark: SparkSession, indexDir: String): DataFrame =
    LeafStore.tombstonedIds(spark, indexDir, Store)

  /** Drop `meta`'s tombstoned rows from a code scan (no-op without
    * deletes).
    */
  private def liveOnly(spark: SparkSession, indexDir: String, meta: Meta,
      codes: DataFrame): DataFrame =
    LeafStore.tombRows(spark, indexDir, Store, toShared(meta)) match {
      case None        => codes
      case Some(tombs) => codes.join(tombs, Seq("vec_id"), "left_anti")
    }

  /** COMPACT the committed code leaves into ONE fresh leaf — the small-file
    * maintenance pass every streaming append path eventually needs: a crawl
    * loop commits one leaf per micro-batch, so after N increments every
    * cell partition holds N tiny files and the cell-pruned scan pays N
    * listings + opens per cell. Codes are copied verbatim (no re-encode)
    * and tombstoned codes drop out physically (the tombstone set clears),
    * so search over the compacted index is IDENTICAL row-for-row. An
    * index already at one leaf and no tombstones is left as it is. This
    * is the Iceberg/Delta `rewrite_data_files` / `OPTIMIZE` shape applied
    * to the index artifact.
    */
  def compact(spark: SparkSession, indexDir: String,
      tag: Option[String] = None): Meta = {
    val meta = readMeta(indexDir)
    if (meta.codeLeaves.size <= 1 && meta.tombLeaves.isEmpty)
      return meta // already compact
    fromShared(LeafStore.rewrite(indexDir, Store,
      tag.getOrElse(randomSuffix()), head => {
        val m = fromShared(head)
        Seq(Codes -> liveOnly(spark, indexDir, m, codesRaw(spark, indexDir, m)))
      }, clearTombs = true))
  }

  /** The version-named artifact directories a commit at version `v`
    * writes.
    */
  private def artifactDirs(v: Long): (String, String) =
    (f"coarse-v$v%08d", f"codebooks-v$v%08d")

  /** RETRAIN the quantization geometry from the CURRENT live corpus —
    * the drift-maintenance axis [[append]] deliberately lacks: every
    * increment encodes against the build-time codebooks (correct and
    * O(batch)), so under distribution drift (new domains entering a
    * crawl) ADC quantization error grows and shortlist recall decays
    * with no maintenance move to fix it — compact/merge copy codes
    * verbatim. This is Faiss/Milvus "rebuild" expressed as one more
    * replace commit ([[LeafStore.rewrite]]):
    *
    *  1. the live id set is codes ∖ tombstones (one committed-leaf
    *     scan, ids only); raw vectors re-attach from `embProvider` by
    *     id — codes are lossy, so retraining needs the embedding store
    *     the sync facades already carry;
    *  2. a fresh coarse quantizer and fresh PQ codebooks train on that
    *     corpus (same geometry dials m/ksub/dim/ncells — the dials are
    *     the store's contract; the CONTENT refreshes), landing in NEW
    *     version-named artifact directories — committed artifacts are
    *     immutable, so retained pre-retrain manifests keep resolving
    *     their own geometry;
    *  3. the live corpus re-encodes against the fresh geometry as ONE
    *     new leaf, and the manifest swap publishes (new codebooks dir,
    *     new coarse dir, the one leaf, empty tombstones) atomically.
    *
    * Cost is one full pass over the live corpus (train + re-encode) — a
    * scheduled maintenance job, never the serving or increment path.
    * Idempotent per `tag`; a torn attempt rewrites its deterministic
    * artifact/leaf names.
    */
  def retrain(spark: SparkSession, indexDir: String, embProvider: DataFrame,
      tag: String, refineIters: Int = 1,
      coarseRefineIters: Int = 0): Meta = {
    val meta = readMeta(indexDir)
    require(meta.ncells > 0 && meta.coarseDir.nonEmpty,
      s"$indexDir is a pre-IVF index — rebuild into a fresh directory " +
        "instead of retraining")
    val committed = fromShared(LeafStore.rewrite(indexDir, Store, tag, head => {
      val m = fromShared(head)
      // the live corpus: committed code ids minus tombstones, re-attached
      // to raw vectors by id (point-lookup-shaped join against the
      // embedding store — the topKAgainst rerank discipline, corpus-wide)
      val liveIds = liveOnly(spark, indexDir, m,
        codesRaw(spark, indexDir, m).select(col("vec_id"))).distinct()
      val live = embProvider.join(liveIds, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      // fresh geometry in NEW version-named immutable dirs; a torn prior
      // attempt at this version left stale files AND possibly stale
      // memoized relations — drop both before overwriting
      val (coarseDir, booksDir) = artifactDirs(m.version + 1)
      evict(s"$indexDir/$coarseDir")
      evict(s"$indexDir/$booksDir")
      writeArtifact(Ann.centroidGenerations(live, m.ncells, coarseRefineIters),
        s"$indexDir/$coarseDir")
      val storedCoarse = artifact(spark, s"$indexDir/$coarseDir")
      val trainIn =
        if (!m.residual) live
        else residualsOf(live, storedCoarse)
          .select(col("vec_id"), col("embedding"))
      writeArtifact(Ann.pqCodebookGenerations(trainIn, m.m, m.ksub, m.subLen,
        refineIters), s"$indexDir/$booksDir")
      Seq(Codes -> encoded(live, artifact(spark, s"$indexDir/$booksDir"),
        storedCoarse, m.subLen, m.residual))
    }, clearTombs = true, params = (head, _) => {
      val (coarseDir, booksDir) = artifactDirs(head.version + 1)
      Map("coarse" -> coarseDir, "codebooks" -> booksDir)
    }))
    evictRetired(indexDir)
    committed
  }


  /** ADC top-k against the PERSISTED index — [[Ann.pqTopKOf]]'s search
    * stage reading (codebooks, codes) from storage instead of training
    * in-plan. `queries` is (query_id, q_emb) — tiny, broadcast twice
    * (lookup tables, rerank). `embProvider` supplies raw embeddings for
    * the rerank shortlist only, joined by id — at 100 TB that is a
    * point-lookup-shaped join against the embedding store, never a
    * wholesale shuffle. Scoring is the exact scaled-integer ADC
    * discipline of the in-memory lane, so persisted and in-memory
    * searches are bit-identical (spec-pinned).
    */
  def topKAgainst(spark: SparkSession, indexDir: String, queries: DataFrame,
      embProvider: DataFrame, k: Int = 5, rerank: Int = 32): DataFrame =
    topKSnapshot(spark, indexDir, readMeta(indexDir), queries, embProvider,
      k, rerank)

  /** TIME-TRAVEL flat search — [[topKAgainst]] against the exact
    * snapshot a PAST manifest version committed: code leaves, the
    * tombstone set AND the quantization geometry (codebook directory)
    * all resolve from it — the dd23 device on the exhaustive ADC lane,
    * completing the search matrix beside [[topKIvfAgainstAt]]. Pinning
    * the geometry is what keeps as-of answers stable across a
    * [[retrain]]: codes committed before it score against the codebooks
    * they were encoded with, never the refreshed ones. Reach is the
    * store's dialed retained-manifest grace window; asking beyond it
    * throws instead of silently answering from a different snapshot.
    */
  def topKAgainstAt(spark: SparkSession, indexDir: String,
      queries: DataFrame, embProvider: DataFrame, asOfVersion: Long,
      k: Int = 5, rerank: Int = 32): DataFrame =
    topKSnapshot(spark, indexDir, metaAt(indexDir, asOfVersion), queries,
      embProvider, k, rerank)

  /** The retained snapshot for an as-of lane, or a loud refusal — the
    * shared resolution every `*At` search uses.
    */
  private def metaAt(indexDir: String, asOfVersion: Long): Meta =
    fromShared(LeafStore.at(indexDir, asOfVersion))

  private def topKSnapshot(spark: SparkSession, indexDir: String,
      meta: Meta, queries: DataFrame, embProvider: DataFrame,
      k: Int, rerank: Int): DataFrame = {
    require(!meta.residual,
      s"$indexDir stores RESIDUAL codes (IVFADC): exhaustive raw-vector " +
        "ADC does not apply — search with topKIvfAgainst")
    val subLen = meta.subLen
    // geometry resolves from the SNAPSHOT meta, not the current one: a
    // [[retrain]] swaps the codebook directory, and an as-of search must
    // score its pinned codes against the codebooks they were encoded with
    val books = artifact(spark, s"$indexDir/${meta.codebooksDir}")
    val tables = queries.crossJoin(broadcast(books))
      .select(col("query_id"), col("m"), col("code"),
        round(Ann.assignSim(
          slice(col("q_emb"), col("m") * subLen + 1, lit(subLen)),
          col("cent_emb")) * lit(1e8)).cast("long").as("subscore"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val shortlist = liveOnly(spark, indexDir, meta,
        codesRaw(spark, indexDir, meta)
          .select(col("vec_id"), col("m"), col("code")))
      .join(broadcast(tables), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("subscore")).as("adc"))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= rerank)
      .select(col("query_id"), col("vec_id"))
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    shortlist
      .join(embProvider, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("sim", Ann.cosine(col("q_emb"), col("embedding")))
      .withColumn("rnk", row_number().over(wSim))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF+PQ search over the persisted index — the billion-vector shape:
    * rank the stored coarse cells per query (|queries| × ncells rows,
    * broadcast-side), PRUNE the codes scan to the union of probed cells
    * (≤ min(|queries|·nprobe, ncells) cell ids — driver-side METADATA,
    * surfaced as `PartitionFilters` on the cell-partitioned codes table),
    * then run the exact scaled-integer ADC + exact-cosine rerank of
    * [[topKAgainst]] within those cells only. Search cost scales with
    * the probed fraction (≈ nprobe/ncells of the corpus), not the index.
    *
    * `rerank` bounds the exact-rerank shortlist per query; raise it for
    * recall-critical workloads (the harness below uses a planted-copy
    * theorem that needs every max-ADC candidate reranked).
    */
  def topKIvfAgainst(spark: SparkSession, indexDir: String,
      queries: DataFrame, embProvider: DataFrame, nprobe: Int = 4,
      k: Int = 5, rerank: Int = 32): DataFrame =
    topKIvfSnapshot(spark, indexDir, readMeta(indexDir), queries,
      embProvider, nprobe, k, rerank)

  /** TIME-TRAVEL search — [[topKIvfAgainst]] against the exact snapshot
    * a PAST manifest version committed: code leaves, the tombstone set
    * AND the quantization geometry (codebook + coarse directories) all
    * resolve from it — the dd23 device on the vector index. Pinned
    * geometry keeps as-of answers stable across a [[retrain]]: codes
    * committed before it score against the codebooks (and probe the
    * coarse cells) they were encoded with. Reach is the
    * retained-manifest grace window; asking beyond it throws instead of
    * silently answering from a different snapshot.
    */
  def topKIvfAgainstAt(spark: SparkSession, indexDir: String,
      queries: DataFrame, embProvider: DataFrame, asOfVersion: Long,
      nprobe: Int = 4, k: Int = 5, rerank: Int = 32): DataFrame =
    topKIvfSnapshot(spark, indexDir, metaAt(indexDir, asOfVersion),
      queries, embProvider, nprobe, k, rerank)

  private def topKIvfSnapshot(spark: SparkSession, indexDir: String,
      meta: Meta, queries: DataFrame, embProvider: DataFrame,
      nprobe: Int, k: Int, rerank: Int): DataFrame = {
    val subLen = meta.subLen
    require(meta.coarseDir.nonEmpty,
      s"$indexDir has no coarse quantizer (pre-IVF index)")
    val cents = artifact(spark, s"$indexDir/${meta.coarseDir}")
    // the probes relation (|queries| × nprobe id pairs) is collected
    // ONCE and re-planned as a LocalRelation: it feeds both the
    // driver-side prune list and the in-plan broadcast join, and a
    // LocalRelation costs nothing to re-reference — unlike the previous
    // per-call .cache(), which a crawl loop leaked one pinned relation
    // per micro-batch. Scale envelope: strictly smaller than the
    // broadcast(queries) every search already carries (ids vs
    // ids+embeddings), so this collect is broadcast-sized by the same
    // argument.
    val probeRows = Ann.probeCells(queries, cents, nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    val probes = {
      import spark.implicits._
      probeRows.toDF("query_id", "cell")
    }
    // the probed-cell union: bounded by ncells — metadata, never data
    val probedVals = probeRows.map(_._2).distinct
    val probedCodes = liveOnly(spark, indexDir, meta,
      codesIn(spark, indexDir, meta, probedVals)
        .select(col("vec_id"), col("m"), col("code"), col("cell")))
    val books = artifact(spark, s"$indexDir/${meta.codebooksDir}")
    val cellType = IntegerType
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    // ADC pairing differs by coding mode. Raw mode: one lookup table per
    // query over (m, code) — a candidate's subscore is cell-independent,
    // and the probes relation only RESTRICTS candidates to each query's
    // probed cells. Residual mode (IVFADC, Jégou 2011): the table is per
    // (query, PROBED CELL) — the query's residual against that cell's
    // centroid is what the stored residual codes approximate — so the
    // single join on (cell, m, code) both restricts candidates and
    // selects the right per-cell table.
    val scored =
      if (!meta.residual) {
        val tables = queries.crossJoin(broadcast(books))
          .select(col("query_id"), col("m"), col("code"),
            round(Ann.assignSim(
              slice(col("q_emb"), col("m") * subLen + 1, lit(subLen)),
              col("cent_emb")) * lit(1e8)).cast("long").as("subscore"))
        probedCodes
          .join(broadcast(probes.withColumn("cell", col("cell").cast(cellType))),
            Seq("cell"))
          .join(broadcast(tables), Seq("query_id", "m", "code"))
      } else {
        val tables = probes
          .join(broadcast(cents.select(col("cent_id").as("cell"),
            col("cent_emb").as("_cent"))), Seq("cell"))
          .join(broadcast(queries), Seq("query_id"))
          .crossJoin(broadcast(books))
          .select(col("query_id"), col("cell").cast(cellType).as("cell"),
            col("m"), col("code"),
            round(Ann.assignSim(
              slice(zip_with(col("q_emb"), col("_cent"), (a, b) => a - b),
                col("m") * subLen + 1, lit(subLen)),
              col("cent_emb")) * lit(1e8)).cast("long").as("subscore"))
        probedCodes.join(broadcast(tables), Seq("cell", "m", "code"))
      }
    val shortlist = scored
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("subscore")).as("adc"))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= rerank)
      .select(col("query_id"), col("vec_id"))
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    shortlist
      .join(embProvider, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("sim", Ann.cosine(col("q_emb"), col("embedding")))
      .withColumn("rnk", row_number().over(wSim))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** FILTERED IVF+PQ search — the vector-database "metadata filter"
    * composed with the persisted index: each query carries a
    * `want_label`, and only vectors whose stored label matches are
    * eligible. The filter applies BEFORE the ADC shortlist cut
    * (pre-filtering): with post-filtering a selective predicate would
    * saturate the `rerank` shortlist with to-be-discarded vectors and
    * recall would collapse as selectivity rises — the classic filtered-
    * ANN failure mode. `labels` is the (vec_id, label) metadata store;
    * the candidate↔label join is vec_id-keyed (co-located by id at
    * 100 TB — point-lookup shaped, the embProvider discipline), and the
    * rest of the pipeline is [[topKIvfAgainst]]'s: probe-pruned
    * partitioned scan, exact scaled-integer ADC, exact-cosine rerank.
    * Both coding modes: raw tables are per (query, m, code); RESIDUAL
    * (IVFADC) tables are per (query, PROBED CELL, m, code) — the
    * query's residual against each probed cell's centroid is what the
    * stored residual codes approximate — with the label pre-filter
    * composed identically on either branch (the ann14 recall
    * rationale applies the same either way, so the accuracy-bearing
    * residual index serves the filtered-ANN shape too).
    */
  def topKIvfFilteredAgainst(spark: SparkSession, indexDir: String,
      queries: DataFrame, labels: DataFrame, embProvider: DataFrame,
      nprobe: Int = 4, k: Int = 5, rerank: Int = 32): DataFrame =
    topKIvfFilteredSnapshot(spark, indexDir, readMeta(indexDir), queries,
      labels, embProvider, nprobe, k, rerank)

  /** TIME-TRAVEL filtered search — [[topKIvfFilteredAgainst]] against
    * the exact snapshot a PAST manifest version committed. This is the
    * COMPLIANCE lane's audit form: "what did this label-filtered query
    * match as of the nightly mark" must answer from that mark's code
    * leaves and tombstone set — a vector indexed later is invisible, a
    * vector tombstoned later still matches — or the re-run is not a
    * reproduction at all. `labels` is the caller's metadata relation
    * and travels with the CALLER's notion of time (pass the as-of
    * labels for a full as-of audit; the index pins its own rows).
    * Reach is the store's dialed retained-manifest grace window; beyond
    * it the call throws instead of silently answering from a different
    * snapshot.
    */
  def topKIvfFilteredAgainstAt(spark: SparkSession, indexDir: String,
      queries: DataFrame, labels: DataFrame, embProvider: DataFrame,
      asOfVersion: Long, nprobe: Int = 4, k: Int = 5,
      rerank: Int = 32): DataFrame =
    topKIvfFilteredSnapshot(spark, indexDir, metaAt(indexDir, asOfVersion),
      queries, labels, embProvider, nprobe, k, rerank)

  private def topKIvfFilteredSnapshot(spark: SparkSession, indexDir: String,
      meta: Meta, queries: DataFrame, labels: DataFrame,
      embProvider: DataFrame, nprobe: Int, k: Int, rerank: Int): DataFrame = {
    val subLen = meta.subLen
    require(meta.coarseDir.nonEmpty,
      s"$indexDir has no coarse quantizer (pre-IVF index)")
    val cents = artifact(spark, s"$indexDir/${meta.coarseDir}")
    val qSlim = queries.select(col("query_id"), col("q_emb"))
    // collected-once LocalRelation, not .cache() — see topKIvfAgainst
    val probeRows = Ann.probeCells(qSlim, cents, nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    val probes = {
      import spark.implicits._
      probeRows.toDF("query_id", "cell")
    }
    val probedVals = probeRows.map(_._2).distinct
    val probedCodes = liveOnly(spark, indexDir, meta,
      codesIn(spark, indexDir, meta, probedVals)
        .select(col("vec_id"), col("m"), col("code"), col("cell")))
    val books = artifact(spark, s"$indexDir/${meta.codebooksDir}")
    val cellType = IntegerType
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val scored =
      if (!meta.residual) {
        val tables = queries.crossJoin(broadcast(books))
          .select(col("query_id"), col("want_label"), col("m"), col("code"),
            round(Ann.assignSim(
              slice(col("q_emb"), col("m") * subLen + 1, lit(subLen)),
              col("cent_emb")) * lit(1e8)).cast("long").as("subscore"))
        probedCodes
          .join(broadcast(probes.withColumn("cell", col("cell").cast(cellType))),
            Seq("cell"))
          .join(broadcast(tables), Seq("query_id", "m", "code"))
      } else {
        // IVFADC: one lookup table per (query, probed cell) against the
        // query's residual in that cell — the topKIvfAgainst residual
        // branch with want_label riding the broadcast table
        val tables = probes
          .join(broadcast(cents.select(col("cent_id").as("cell"),
            col("cent_emb").as("_cent"))), Seq("cell"))
          .join(broadcast(queries), Seq("query_id"))
          .crossJoin(broadcast(books))
          .select(col("query_id"), col("want_label"),
            col("cell").cast(cellType).as("cell"),
            col("m"), col("code"),
            round(Ann.assignSim(
              slice(zip_with(col("q_emb"), col("_cent"), (a, b) => a - b),
                col("m") * subLen + 1, lit(subLen)),
              col("cent_emb")) * lit(1e8)).cast("long").as("subscore"))
        probedCodes.join(broadcast(tables), Seq("cell", "m", "code"))
      }
    val shortlist = scored
      .join(labels, Seq("vec_id")) // pre-filter: before the shortlist cut
      .filter(col("label") === col("want_label"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("subscore")).as("adc"))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= rerank)
      .select(col("query_id"), col("vec_id"))
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    shortlist
      .join(embProvider, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("sim", Ann.cosine(col("q_emb"), col("embedding")))
      .withColumn("rnk", row_number().over(wSim))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("want_label"), col("rnk"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** ann14's driver-checked shape — the planted-copy theorem through the
    * FILTERED search path: the copy inherits its original's label, each
    * original queries with `want_label` = its own label, so the copy
    * passes the pre-filter, its ADC total is the global max among
    * same-label candidates, and exact rerank scores it sim 1.0 — the
    * planting relation carrying the label column. The filter's BITE
    * (wrong-label exclusion) is spec-pinned, not driver-gated, since
    * excluded-candidate rankings are organic.
    */
  def selfRecallFiltered(spark: SparkSession, d: String,
      nQueries: Int = 64, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1, ncells: Int = 16, nprobe: Int = 2): DataFrame =
    selfRecallFilteredCore(spark, d, nQueries, m, ksub, dim, refineIters,
      ncells, nprobe, residual = false, rerank = 4096)

  /** ann17's driver-checked shape — ann14's filtered planted-copy
    * theorem through the RESIDUAL (IVFADC) index, the accuracy-bearing
    * variant a production deployment actually serves filtered retrieval
    * from: the copy's coarse cell, residual, and codes are bitwise its
    * original's, it inherits the label so it passes the pre-filter, and
    * `rerank` exceeds the probed candidate volume at every driver
    * fixture so the exact-cosine rerank sees every surviving candidate
    * and the copy's sim 1.0 wins rank 1 regardless of how residual ADC
    * orders candidates across probed cells (the ann09 device) — while
    * train-on-residuals → per-(query, cell) ADC tables → label
    * pre-filter → rerank all execute.
    */
  def selfRecallFilteredResidual(spark: SparkSession, d: String,
      nQueries: Int = 64, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1, ncells: Int = 16, nprobe: Int = 2): DataFrame =
    selfRecallFilteredCore(spark, d, nQueries, m, ksub, dim, refineIters,
      ncells, nprobe, residual = true, rerank = 1 << 20)

  private def selfRecallFilteredCore(spark: SparkSession, d: String,
      nQueries: Int, m: Int, ksub: Int, dim: Int, refineIters: Int,
      ncells: Int, nprobe: Int, residual: Boolean, rerank: Int): DataFrame = {
    val withLabel = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"), col("label"))).cache()
    val base = withLabel.select(col("vec_id"), col("embedding"))
    val copies = base.filter(col("vec_id") < nQueries)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val indexDir = graft.Tables.scratchDir(
      if (residual) "graft-pq-filtered-res" else "graft-pq-filtered")
    build(base, indexDir, m, ksub, dim, refineIters, ncells,
      residual = residual)
    append(spark, indexDir, copies)
    val labels = withLabel.select(col("vec_id"), col("label"))
      .unionByName(withLabel.filter(col("vec_id") < nQueries)
        .select((col("vec_id") + 100000L).as("vec_id"), col("label")))
    val queries = withLabel.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("want_label"))
    topKIvfFilteredAgainst(spark, indexDir, queries, labels,
      base.unionByName(copies), nprobe, k = 1, rerank = rerank)
      .select(col("query_id"), col("want_label"),
        col("vec_id").as("match_id"), col("sim"))
      .orderBy(col("query_id"))
  }

  /** ann25's driver-checked shape — the COMPLIANCE AUDIT through the
    * filtered time-travel lane ([[topKIvfFilteredAgainstAt]]): re-run a
    * label-filtered screen exactly as it answered at a past nightly
    * mark. The planted relation makes BOTH properties load-bearing in
    * every row:
    *
    *  - **Filter bite.** Each original plants TWO sim-1.0 copies: a
    *    DECOY at +100000 under a wrong label (`label + 1000`) and a
    *    TWIN at +200000 under the original's label. The decoy has the
    *    smaller id, so the ascending-id tie-break hands it every query
    *    the moment the pre-filter stops biting — the correct match is
    *    provably the +200000 twin, in both lanes.
    *  - **As-of pinning.** After the audit mark (version `v2`: corpus
    *    build + one append of decoys+twins), every `%3 == 0` twin is
    *    TOMBSTONED. The `asof` lane re-runs at v2 and must still match
    *    them (the deleted-later row, dd23's device on the filtered
    *    lane); the `now` lane must not. Rows are restricted to
    *    sim == 1.0 (the planted relation — a tombstoned twin's query
    *    falls to an organic same-label neighbor below 1.0 in the now
    *    lane, which is exactly the row going missing).
    *
    * rerank = 4096 exceeds the probed candidate volume at the driver
    * fixtures, so exact rerank sees every surviving candidate (the
    * ann14 argument, unchanged).
    */
  def selfRecallFilteredTimeTravel(spark: SparkSession, d: String,
      nQueries: Int = 64, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1, ncells: Int = 16, nprobe: Int = 2): DataFrame = {
    val withLabel = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"), col("label"))).cache()
    val base = withLabel.select(col("vec_id"), col("embedding"))
    val orig = withLabel.filter(col("vec_id") < nQueries)
    val decoys = orig.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val twins = orig.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding"))
    val indexDir = s"${graft.Tables.scratchDir("graft-pq-filtered-tt")}/idx"
    build(base, indexDir, m, ksub, dim, refineIters, ncells) // v1
    append(spark, indexDir, decoys.unionByName(twins))       // v2 = the mark
    val asOfVersion = readMeta(indexDir).version
    delete(spark, indexDir,                                   // v3: later
      orig.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 200000L).as("vec_id")))
    val labels = withLabel.select(col("vec_id"), col("label"))
      .unionByName(orig.select((col("vec_id") + 100000L).as("vec_id"),
        (col("label") + 1000).as("label")))
      .unionByName(orig.select((col("vec_id") + 200000L).as("vec_id"),
        col("label")))
    val queries = orig.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("label").as("want_label"))
    val emb = base.unionByName(decoys).unionByName(twins)
    def lane(name: String, df: DataFrame): DataFrame =
      df.filter(col("sim") === 1.0)
        .select(lit(name).as("lane"), col("query_id"), col("want_label"),
          col("vec_id").as("match_id"), col("sim"))
    lane("asof", topKIvfFilteredAgainstAt(spark, indexDir, queries, labels,
        emb, asOfVersion, nprobe, k = 1, rerank = 4096))
      .unionByName(lane("now", topKIvfFilteredAgainst(spark, indexDir,
        queries, labels, emb, nprobe, k = 1, rerank = 4096)))
      .orderBy(col("lane"), col("query_id"))
  }

  /** ann08's driver-checked shape — the planted-copy theorem through the
    * IVF+PQ search path: build the index on the corpus, [[append]] exact
    * copies of the first `nQueries` vectors as a crawl increment, then
    * [[topKIvfAgainst]] top-1 with each original as the query. The copy
    * has bitwise the original's embedding, so (a) its argmax coarse cell
    * IS the query's top-1 probed cell — cell pruning can never exclude
    * it; (b) per subspace its code is the argmax centroid of the query's
    * own subvector, so its ADC total is the GLOBAL maximum over any
    * candidate — the shortlist always contains it (rerank bounds only
    * same-ADC ties, generous here); (c) exact rerank scores it sim 1.0,
    * above every organic neighbor (the fixture has no duplicate
    * vectors). Output is provably the planting relation restricted to
    * the queries, while build → persist → append → probe → prune → ADC →
    * rerank all execute — a staleness, pruning, or scoring bug surfaces
    * as missing or mis-ranked rows.
    */
  def selfRecallIvfPersisted(spark: SparkSession, d: String,
      nQueries: Int = 64, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1, ncells: Int = 16, nprobe: Int = 2): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val copies = base.filter(col("vec_id") < nQueries)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val indexDir = graft.Tables.scratchDir("graft-ivfpq-index")
    build(base, indexDir, m, ksub, dim, refineIters, ncells)
    append(spark, indexDir, copies)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    topKIvfAgainst(spark, indexDir, queries,
      base.unionByName(copies), nprobe, k = 1, rerank = 4096)
      .select(col("query_id"), col("vec_id").as("ivf_nearest"), col("sim"))
      .orderBy(col("query_id"))
  }

  /** ann15's driver-checked shape — the planted-copy theorem through
    * [[delete]]: TWO exact copies per query (+100000, +200000) appended
    * as separate increments, then the +100000 copy TOMBSTONED for every
    * `query % 7 == 0`. Both copies score sim 1.0 and tie-break by
    * ascending vec_id, so the search answer is +100000 exactly when that
    * copy is alive and +200000 exactly when it was deleted — the
    * tombstone's bite IS the gated relation, decided per query by the
    * shared modular arithmetic. The tombstone census rides every row, so
    * a delete that leaked (or over-deleted) shifts both the census and
    * the affected matches.
    */
  def selfRecallDeleted(spark: SparkSession, d: String,
      nQueries: Int = 64, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1, ncells: Int = 16, nprobe: Int = 2): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val qs = base.filter(col("vec_id") < nQueries)
    val copies1 = qs.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val copies2 = qs.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding"))
    val indexDir = graft.Tables.scratchDir("graft-pq-del")
    build(base, indexDir, m, ksub, dim, refineIters, ncells)
    append(spark, indexDir, copies1)
    append(spark, indexDir, copies2)
    val dead = copies1.filter((col("vec_id") - 100000L) % 7 === 0)
      .select(col("vec_id"))
    delete(spark, indexDir, dead)
    val census = dead.agg(count(lit(1)).as("n_tombstones"))
    val queries = qs.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    topKIvfAgainst(spark, indexDir, queries,
      base.unionByName(copies1).unionByName(copies2), nprobe,
      k = 1, rerank = 4096)
      .select(col("query_id"), col("vec_id").as("match_id"), col("sim"))
      .crossJoin(broadcast(census))
      .orderBy(col("query_id"))
  }

  /** ann21's driver-checked shape — ann15's planted theorem through the
    * SHARDED build: the shared codebooks train ONCE ([[build]] on the
    * corpus — at scale, a sample), TWO shards encode their slices
    * independently against them ([[buildShardFrom]] — the parallel
    * fleet), shard 0 tombstones its own `% 7` copies (a takedown known
    * to one shard), and [[merge]] folds both into a fresh destination.
    * Codes are pure functions of (embedding, codebooks), so the merged
    * store is provably row-identical to ann15's single build: the
    * search answer is +100000 exactly when that copy survived and
    * +200000 exactly when shard 0 deleted it, decided per query by the
    * shared modular arithmetic. Shard and tombstone censuses ride the
    * relation.
    */
  def selfRecallShardMerged(spark: SparkSession, d: String,
      nQueries: Int = 64, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1, ncells: Int = 16, nprobe: Int = 2): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val qs = base.filter(col("vec_id") < nQueries)
    val copies1 = qs.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val copies2 = qs.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding"))
    val tmp = graft.Tables.scratchDir("graft-pq-shards")
    val template = s"$tmp/template"
    build(base, template, m, ksub, dim, refineIters, ncells)
    buildShardFrom(spark, template,
      base.filter(col("vec_id") % 2 === 0).unionByName(copies1), s"$tmp/s0")
    buildShardFrom(spark, template,
      base.filter(col("vec_id") % 2 === 1).unionByName(copies2), s"$tmp/s1")
    val dead = copies1.filter((col("vec_id") - 100000L) % 7 === 0)
      .select(col("vec_id"))
    delete(spark, s"$tmp/s0", dead, tag = Some("takedown0"))
    merge(spark, Seq(s"$tmp/s0", s"$tmp/s1"), s"$tmp/merged", "merge0")
    val census = dead.agg(count(lit(1)).as("n_tombstones"))
    val queries = qs.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    topKIvfAgainst(spark, s"$tmp/merged", queries,
      base.unionByName(copies1).unionByName(copies2), nprobe,
      k = 1, rerank = 4096)
      .select(col("query_id"), col("vec_id").as("match_id"), col("sim"))
      .withColumn("n_shards", lit(2))
      .crossJoin(broadcast(census))
      .orderBy(col("query_id"))
  }

  /** ann13's driver-checked shape — the ann08 planted-copy theorem run
    * THROUGH [[compact]]: build on the corpus, append the planted copies
    * in THREE separate increments (a 4-leaf index — the post-crawl
    * small-file state), compact to one leaf, then run the cell-pruned
    * IVF+PQ search. Compaction copies codes verbatim, so the search
    * relation is provably the planting relation (the ann08 theorem);
    * a row lost, duplicated, or mis-celled by the rewrite surfaces as a
    * missing/duplicate/mis-ranked output row. The leaf counts before and
    * after ride along as gated columns — the compaction CONTRACT
    * (4 leaves in, exactly 1 referenced out) is part of the relation.
    */
  def selfRecallCompacted(spark: SparkSession, d: String,
      nQueries: Int = 64, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1, ncells: Int = 16, nprobe: Int = 2): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val copies = base.filter(col("vec_id") < nQueries)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val indexDir = graft.Tables.scratchDir("graft-pq-compact")
    build(base, indexDir, m, ksub, dim, refineIters, ncells)
    val third = nQueries / 3
    append(spark, indexDir, copies.filter(col("vec_id") < 100000L + third))
    append(spark, indexDir, copies.filter(col("vec_id") >= 100000L + third &&
      col("vec_id") < 100000L + 2 * third))
    append(spark, indexDir, copies.filter(col("vec_id") >= 100000L + 2 * third))
    val before = readMeta(indexDir).codeLeaves.size
    compact(spark, indexDir)
    val after = readMeta(indexDir).codeLeaves.size
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    topKIvfAgainst(spark, indexDir, queries,
      base.unionByName(copies), nprobe, k = 1, rerank = 4096)
      .select(col("query_id"), col("vec_id").as("ivf_nearest"), col("sim"),
        lit(before).as("n_leaves_before"), lit(after).as("n_leaves_after"))
      .orderBy(col("query_id"))
  }

  /** ann09's driver-checked shape — the planted-copy theorem through the
    * RESIDUAL IVFADC path (Jégou et al. 2011: codebooks trained on, and
    * codes encoding, each vector's residual against its coarse
    * centroid — the composition that makes PQ accurate enough for
    * billion-vector indexes, because residual magnitudes are far smaller
    * than vector magnitudes). Build a residual index on the corpus,
    * [[append]] exact copies of the first `nQueries` vectors (the
    * increment encodes residuals against the STORED coarse + codebooks),
    * then [[topKIvfAgainst]] top-1 — the residual branch computes one
    * ADC table per (query, probed cell) against the query's OWN residual
    * in that cell.
    *
    * Theorem: the copy's coarse cell is bitwise the original's, so is
    * its residual, so are its codes. `rerank` here EXCEEDS the probed
    * candidate volume at every driver fixture (nprobe/ncells of the
    * corpus), so the exact-cosine rerank sees every candidate and the
    * copy's sim-1.0 wins rank 1 regardless of how residual ADC orders
    * candidates ACROSS different probed cells — the output is provably
    * the planting relation while train → residual-encode → persist →
    * append → probe → per-cell-table ADC → rerank all execute.
    */
  def selfRecallIvfResidual(spark: SparkSession, d: String,
      nQueries: Int = 64, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1, ncells: Int = 16, nprobe: Int = 2): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val copies = base.filter(col("vec_id") < nQueries)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val indexDir = graft.Tables.scratchDir("graft-ivfadc-index")
    build(base, indexDir, m, ksub, dim, refineIters, ncells,
      residual = true)
    append(spark, indexDir, copies)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    topKIvfAgainst(spark, indexDir, queries,
      base.unionByName(copies), nprobe, k = 1, rerank = 1 << 20)
      .select(col("query_id"), col("vec_id").as("adc_nearest"), col("sim"))
      .orderBy(col("query_id"))
  }

  /** ann07 — the EMBEDDING crawl loop as a STREAM (the dd13 pattern for
    * the ANN family), run through the ONE-CALL facade
    * [[graft.streaming.Graft.searchAndAppend]] so this lane driver-gates
    * it: arriving vector batches are searched against the persisted
    * index ([[topKIvfAgainst]] — probe the batch vector's coarse cells,
    * exact scaled-integer ADC within, exact-cosine rerank), matches
    * append to the output, then the batch is [[append]]ed INTO the index
    * — so later batches are retrievable by the time the next increment
    * lands, with no retraining and no corpus pass.
    *
    * The planted theorem (the ann08 device per micro-batch): every
    * arriving vector is an exact copy of a corpus vector, so its top-1
    * probed cell IS its original's cell (pruning can never exclude it),
    * its ADC total against the original is the global max (per-subspace
    * argmax of its own subvectors), and exact rerank scores the original
    * sim 1.0 — whatever batch it arrived in. Any staleness, pruning, or
    * increment bug surfaces as missing/mis-ranked rows. `rerank` is
    * generous (1024) because the theorem bounds only same-ADC ties.
    *
    * Scale per batch: probe ranking is batch × broadcast-coarse; the
    * codes scan is cell-pruned; ADC shuffles (query, vec, subscore)
    * ids only; rerank touches shortlist embeddings alone; the append is
    * one immutable leaf. Cost per increment is independent of index size.
    */
  def streamingSelfRecall(spark: SparkSession, d: String,
      nBatches: Int = 4, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      refineIters: Int = 1): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val all = Ann.withExactCopies(base).cache() // rerank's embedding store
    val copies = all.filter(col("vec_id") >= 100000L)
    val tmp = graft.Tables.scratchDir("graft-pq-stream")
    val indexDir = s"$tmp/index"
    val stageDir = s"$tmp/arrivals"
    val outDir = s"$tmp/matches"
    // one-off train+persist bootstrap, metered apart from the increments
    // (bench: bootstrap_sec vs per_increment_sec). The fixture's cached
    // embedding store materializes HERE too — it is scaffolding shared
    // by every increment, and letting the first micro-batch pay it made
    // that increment read as a false straggler in per_increment_sec.
    graft.streaming.Graft.CrawlMetrics.timed("graft-search-and-append-bootstrap") {
      build(base, indexDir, m, ksub, dim, refineIters)
      all.count()
    }
    copies.repartition(nBatches, col("vec_id")).write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val q = graft.GraftSession.withStreamShuffle(spark)(
      graft.streaming.Graft.searchAndAppend(stream, indexDir, outDir,
        embProvider = all, nprobe = 2, k = 1, rerank = 1024,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    graft.GraftSession.awaitFinished(q)
    spark.read.parquet(outDir)
      .select(col("query_id"), col("vec_id").as("match_id"), col("sim"))
      .filter(col("match_id") === col("query_id") - 100000L)
      .orderBy(col("query_id"))
  }

  /** ann06's driver-checked shape — the ann05 planted-copy theorem run
    * THROUGH the persisted artifact: build the index on the original
    * corpus, [[append]] the planted exact copies as a crawl increment
    * (exercising encode-against-stored-codebooks), then pair by full-code
    * collision over the STORED codes and verify by exact cosine. The
    * copy's subvectors are bitwise its original's, so both get the same
    * argmax code in every subspace regardless of where Lloyd moved the
    * centroids — output is provably the planting relation (the ann02/
    * ann04/ann05 device), while build → persist → append → reload →
    * collide → verify all execute and any storage or increment bug
    * surfaces as missing/mis-ranked rows.
    */
  def selfRecallPersisted(spark: SparkSession, d: String, m: Int = 4,
      ksub: Int = 16, dim: Int = 64, refineIters: Int = 1): DataFrame = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val copies = Ann.withExactCopies(base).filter(col("vec_id") >= 100000L)
    val indexDir = graft.Tables.scratchDir("graft-pq-index")
    build(base, indexDir, m, ksub, dim, refineIters)
    append(spark, indexDir, copies)
    val stored = Ann.pqFullCodes(codes(spark, indexDir))
    val all = base.union(copies)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    stored.filter(col("vec_id") < 100000L)
      .join(stored.select(col("vec_id").as("cand_id"), col("pq_code")),
        Seq("pq_code"))
      .filter(col("cand_id") =!= col("vec_id"))
      .select(col("vec_id"), col("cand_id"))
      .join(all, Seq("vec_id"))
      .join(all.select(col("vec_id").as("cand_id"),
        col("embedding").as("cand_emb")), Seq("cand_id"))
      .withColumn("sim", Ann.cosine(col("embedding"), col("cand_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("cand_id").as("pq_nearest"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("vec_id"))
  }

  /** ann27's driver-checked shape — DRIFT degrades the frozen-codebook
    * shortlist, [[retrain]] restores it, and time travel still answers
    * from the pinned pre-retrain geometry. The experiment:
    *
    *  - build on the base corpus, then [[append]] a DRIFTED wave from a
    *    NEW domain ([[chimeraEmb]]: per-subspace one-hot topic atoms —
    *    a clustered manifold the isotropic base never visits). The
    *    frozen build-time codebooks COLLAPSE the domain's palette:
    *    several atoms share their least-bad centroid, so candidates
    *    that differ in a lane become ADC-indistinguishable and the
    *    shortlist race decides on quantization noise;
    *  - TRUE recall@1 vs brute force (the ann26 discipline): each
    *    query keeps its partner's atoms in lanes 0–2 and shifts lane 3,
    *    so the exact-cosine ground truth is its unique 3-of-4-lane
    *    partner at cosine 0.75 — far above the ≈0.4 a random base
    *    vector can reach. Pre-retrain the partner drops out of the
    *    modest-`rerank` shortlist for a large fraction of queries
    *    (measured 48-59% recall across the sf fixtures); post-retrain
    *    the codebooks recover the atoms, ADC per lane is near-exact,
    *    and recall is 92-94% — the floor sits between the two bands;
    *  - the AS-OF lane re-runs the search at the pre-retrain version
    *    and must reproduce the pre-retrain answer ROW-FOR-ROW (pinned
    *    codes + pinned codebooks — the sql06/cdc28 rule on the
    *    geometry axis), folded in as a two-way exceptAll identity.
    *
    * Every lane is deterministic (hash-ranked k-means seeds, hash
    * atoms, vec_id tie-breaks), so the booleans are stable, the floor
    * is the cross-engine contract, and the measured hit counts are
    * spec-pinned (PqIndexSpec).
    */
  def retrainRecallAudit(spark: SparkSession, d: String, nQueries: Int = 64,
      floorPct: Int = 75, rerank: Int = 4): DataFrame = {
    val (preHits, postHits, asofMismatch) =
      retrainRecallStats(spark, d, nQueries, rerank)
    spark.range(1).select(
      lit(nQueries.toLong).as("n_queries"),
      lit(floorPct.toLong).as("floor_pct"),
      lit(preHits * 100L < floorPct.toLong * nQueries).as("drift_degrades"),
      lit(postHits * 100L >= floorPct.toLong * nQueries)
        .as("retrain_restores"),
      lit(asofMismatch == 0L).as("asof_pins_geometry"))
  }

  /** The drifted DOMAIN'S vectors: per-lane one-hot "topic atoms" —
    * each 16-dim PQ subvector is one of 16 basis directions, picked by
    * a hash of the id, so the wave lives on a finite per-subspace
    * palette (the shape real embedding domains have: clustered, not
    * isotropic — exactly what the synthetic base table is not).
    * Build-time codebooks, trained before the domain existed, COLLAPSE
    * the palette (several atoms share their least-bad centroid, and
    * the quantization error is best-of-random); retrained codebooks
    * recover the atoms almost exactly, making per-lane ADC near-exact.
    * `shiftLane3` yields the QUERY variant: lanes 0–2 keep the id's
    * atoms, lane 3 shifts by 8 — so each query has exactly one 3-of-4
    * lane partner in the wave (cosine 0.75, far above the ≈0.4 max a
    * random base vector reaches against a 4-sparse query).
    */
  private def chimeraEmb(id: Column, shiftLane3: Boolean): Column = {
    val lanes = (0 until 4).map { l =>
      val shift = if (shiftLane3 && l == 3) 8L else 0L
      val atom = pmod(xxhash64(id, lit(l)) + lit(shift), lit(16L))
      transform(sequence(lit(0), lit(15)),
        p => when(p.cast("long") === atom, lit(0.5f)).otherwise(lit(0.0f)))
    }
    concat(lanes: _*)
  }

  /** The measured lane behind [[retrainRecallAudit]]: (pre-retrain
    * hits, post-retrain hits, as-of row mismatches) — spec-pinnable so
    * a quality regression shows its measured size, not just a flipped
    * boolean.
    */
  private[graft] def retrainRecallStats(spark: SparkSession, d: String,
      nQueries: Int = 64, rerank: Int = 4): (Long, Long, Long) = {
    val base = Tables.spread(Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))).cache()
    val indexDir = s"${graft.Tables.scratchDir("graft_ann27")}/pq"
    val drifted = base
      .select(col("vec_id"), chimeraEmb(col("vec_id"), false).as("embedding"))
      .select((col("vec_id") + 400000L).as("vec_id"), col("embedding"))
    build(base, indexDir, refineIters = 3)
    append(spark, indexDir, drifted, Some("drift-wave"))
    val vPre = readMeta(indexDir).version
    val live = base.unionByName(drifted).cache()
    val queries = base.filter(col("vec_id") < nQueries)
      .select((col("vec_id") + 800000L).as("query_id"),
        chimeraEmb(col("vec_id"), true).as("q_emb"))
    // ground truth: exact cosine top-1 over the live corpus (audit-sized
    // |queries| × corpus — never the serving path)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    // persisted: the ground truth is consumed by BOTH the pre- and the
    // post-retrain hit counts — unpinned it re-ran the full |queries| ×
    // corpus cosine pass twice (guide §1.2)
    val bruteTop = broadcast(queries)
      .join(live, col("vec_id") =!= col("query_id"))
      .withColumn("sim", Ann.cosine(col("q_emb"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("query_id"), col("vec_id").as("true_nn"))
      .cache()
    def hitsOf(res: DataFrame): Long = res
      .filter(col("rnk") === 1)
      .join(bruteTop, Seq("query_id"))
      .filter(col("vec_id") === col("true_nn"))
      .agg(count(lit(1))).collect()(0).getLong(0)
    val pre = topKAgainst(spark, indexDir, queries, live,
      k = 1, rerank = rerank).cache()
    val preHits = hitsOf(pre)
    retrain(spark, indexDir, live, "retrain-1")
    val postHits = hitsOf(topKAgainst(spark, indexDir, queries, live,
      k = 1, rerank = rerank))
    val asof = topKAgainstAt(spark, indexDir, queries, live, vPre,
      k = 1, rerank = rerank).cache()
    // one action, each side computed once (pre is already pinned)
    val asofMismatch =
      asof.exceptAll(pre).union(pre.exceptAll(asof)).count()
    asof.unpersist(); pre.unpersist(); bruteTop.unpersist()
    base.unpersist(); live.unpersist()
    (preHits, postHits, asofMismatch)
  }
}
