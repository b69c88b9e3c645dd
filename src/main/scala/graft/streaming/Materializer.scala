package graft.streaming

import graft.operators.store.IndexManifest
import graft.sources.cdc.WalSegments
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Current-state table maintenance from the change stream — the MERGE
  * INTO every CDC consumer ultimately wants (reference README.md:14-16
  * lists "keep state in sync" as the first walex use case; the reference
  * stops at dispatching events and leaves the apply job to the handler).
  * `Materializer` is that apply job as a Spark-first primitive: a
  * bucketed parquet store of the LATEST row per key, maintained
  * incrementally by `foreachBatch` over the typed change stream.
  *
  * Design for 100 TB:
  *  - **Bucket pruning.** State lives in `spec.buckets` hash buckets of
  *    the record key. A micro-batch only reads and rewrites the buckets
  *    its keys fall in — the apply cost scales with the CHANGE RATE, not
  *    the table size. (Size buckets so one bucket ≈ an executor-friendly
  *    rewrite unit: a 100 TB table at 64 Ki buckets is ~1.5 GB/bucket.)
  *  - **Two Spark jobs per batch.** The batch is pinned and evaluated
  *    once. Job 1 is one `collect` of its census: the affected bucket
  *    IDs (≤ `spec.buckets` ints) and the per-table TRUNCATE watermarks
  *    — metadata, not data. Job 2 is the merge write:
  *    `repartition(bucket)` then `groupBy(bucket, key).agg(max_by(row,
  *    seq))` over (affected state ∪ batch) — the bucket partitioning
  *    already clusters the key, so ids and the packed row ride a single
  *    exchange; no window, no sort, no driver-side state.
  *  - **One file per bucket.** Every row of a bucket lands in one write
  *    task, so each touched bucket's new leaf is ONE parquet file — a
  *    point read opens one file per bucket, however many batches ran.
  *  - **Recorded schema, no footer inference.** Every commit that
  *    writes leaves records the store-wide schema in the manifest: the
  *    union of the previously recorded columns and the merged rows'
  *    columns. Reads, the merge's read of the affected leaves, compact
  *    and rebucket all read with it, so building a read runs no Spark
  *    job, and a mid-stream ADD COLUMN widens the state with no rewrite
  *    of old leaves (their rows read the new column as null). A
  *    time-travel read uses the schema recorded in ITS version.
  *  - **Atomic multi-bucket commit, no data renames.** New bucket
  *    versions are written DIRECTLY at their final immutable paths
  *    (`leaf=b<bucket>-v<version>/`); the swap is one EXCLUSIVE publish
  *    of the next immutable manifest version
  *    ([[WalSegments.publishExclusive]]: atomic hard-link claim on local
  *    POSIX, rename-to-existing on HDFS, PUT-if-absent on object
  *    stores). Readers resolve the manifest
  *    first, so they see every batch entirely or not at all — snapshot
  *    isolation over plain parquet, and NOT just at plan time: superseded
  *    leaves are retained for the store's full manifest-retention
  *    grace window (the Iceberg vacuum rule), so a scan planned against
  *    any retained manifest finds its files even while the applier keeps
  *    committing. A crash before the swap leaves only unreferenced leaf
  *    directories, swept once no retained manifest names them.
  *  - **Idempotent redelivery.** `foreachBatch` after a restart may
  *    replay a committed batch (Spark's offset-log contract). The merge
  *    is a pure max-by-seq: re-applying any prefix of already-applied
  *    changes reproduces the same state, so at-least-once delivery gives
  *    exactly-once state. DELETES ARE TOMBSTONES — the row is kept with
  *    its op so a replayed older change can never resurrect a deleted
  *    record; [[currentState]] filters them, [[compact]] drops those the
  *    whole pipeline has moved past.
  *
  * Single-writer contract — ENFORCED, not documented: the store fences
  * appliers the way the reference's durable replication slot fences a
  * second walsender (`lib/walex/replication/server.ex:86-143` — takeover
  * invalidates the old connection, which finds out on its next write).
  * [[acquire]] stamps the manifest with a writer token (epoch + random
  * fence id); every fenced commit re-checks the token and every manifest
  * swap is an EXCLUSIVE CREATE of an immutable version-numbered file
  * (the shared `_manifest-v<N>`), so two appliers racing the same version can
  * never both win — the loser's [[FencedWriterException]] is the storage
  * analogue of the slot's "replication slot is active for PID" error. A
  * fenced-out applier's already-written leaves are unreferenced residue,
  * swept by the winner's next apply; no committed bucket is ever lost.
  * Readers are unlimited and resolve the highest committed manifest.
  */
object Materializer {

  /** Thrown when a commit loses the fence: another applier [[acquire]]d
    * the store (epoch moved), or won the exclusive create of this
    * manifest version. The loser must stop — its next state read would
    * be a torn view of someone else's store.
    */
  final class FencedWriterException(msg: String)
    extends IllegalStateException(msg)

  /** A writer's fence: `epoch` is strictly monotone per acquisition,
    * `id` disambiguates two acquisitions racing to the same epoch.
    */
  final case class WriterToken(epoch: Long, id: String)

  /** Shape of the change rows being applied.
    *
    * @param keyCols   record identity (e.g. table_name, record_id)
    * @param seqCol    total order of changes per key (seq / LSN): the
    *                  highest wins
    * @param opCol     operation column; rows where it equals `deleteOp`
    *                  are tombstones
    * @param buckets   hash-bucket count — fixed for the life of the state
    *                  directory (changing it re-keys every row; use
    *                  [[rebucket]])
    */
  final case class Spec(
      keyCols: Seq[String],
      seqCol: String = "seq",
      opCol: String = "op",
      deleteOp: String = "delete",
      buckets: Int = 64) {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(buckets > 0, "buckets must be positive")
  }

  /** Deterministic bucket of a row's key: xxhash64 over the key columns,
    * non-negative mod `buckets`. Stable across Spark versions for a fixed
    * seed (42, the xxhash64 default).
    */
  def bucketCol(spec: Spec): Column =
    pmod(xxhash64(spec.keyCols.map(col): _*), lit(spec.buckets.toLong))

  /** Latest row per key (max seq), all non-key columns packed through one
    * map-side-combined `max_by` — the merge primitive shared by batch
    * reduction and state merge. Column order is preserved.
    */
  def reduceLatest(df: DataFrame, spec: Spec): DataFrame =
    latestBy(df, spec.keyCols, spec)

  /** [[reduceLatest]] grouped by `groupCols` — the key columns, or the
    * key columns behind a bucket column derived from them.
    */
  private def latestBy(df: DataFrame, groupCols: Seq[String],
      spec: Spec): DataFrame = {
    val others = df.columns.filterNot(groupCols.contains).toSeq
    df.groupBy(groupCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), col(spec.seqCol)).as("_s"))
      .select(groupCols.map(col) ++ others.map(c => col(s"_s.$c").as(c)): _*)
  }

  // ---- manifest: the store's single source of truth ----
  // The state store commits through the shared store manifest
  // ([[IndexManifest]], kind `state`): the leaf list names the live
  // `leaf-b<bucket>-v<version>` directories (the bucket is read back from
  // the name), `groups` records the bucket count, and the writer fence,
  // TRUNCATE watermarks, `retain` dial and `schema` param ride the same
  // record. A commit is an exclusive create of the next version, readers
  // resolve the highest one.

  /** Typed view of the shared manifest record.
    *
    * @param truncates TRUNCATE watermarks: first-key-column value → seq.
    *                   A row whose first key equals the entry's key and
    *                   whose seq is ≤ the watermark is DEAD — filtered at
    *                   read, physically dropped at the next [[compact]].
    *                   Riding the manifest makes truncation snapshot-
    *                   isolated and time-travelable like any commit.
    * @param schema     the store-wide row schema every read of this
    *                   version uses (None until the first leaves commit)
    */
  final case class Manifest(version: Long, leaves: Map[Int, String],
      writerEpoch: Long = 0L, writerId: String = "", nbuckets: Int = 0,
      truncates: Map[String, Long] = Map.empty,
      retain: Int = 0, schema: Option[StructType] = None)

  private def toShared(m: Manifest): IndexManifest.Meta =
    IndexManifest.Meta(m.version, m.nbuckets,
      m.leaves.toSeq.sortBy(_._1).map(_._2), Nil,
      m.schema.map(s => "schema" -> s.json).toMap ++
        (if (m.retain >= 1) Map("retain" -> m.retain.toString) else Map.empty),
      kind = "state", truncates = m.truncates,
      writerEpoch = m.writerEpoch, writerId = m.writerId)

  private def fromShared(s: IndexManifest.Meta): Manifest =
    Manifest(s.version,
      s.leaves.map(l => l.stripPrefix("leaf-b").takeWhile(_.isDigit).toInt -> l)
        .toMap,
      s.writerEpoch, s.writerId, s.groups, s.truncates,
      s.params.get("retain").flatMap(_.toIntOption).getOrElse(0),
      s.params.get("schema").map(DataType.fromJson(_).asInstanceOf[StructType]))

  /** The recorded schema after a commit whose merged rows have `merged`'s
    * columns: every previously recorded column keeps its place and type,
    * and columns new to the store are appended. A commit that touched
    * only some buckets must not narrow what the untouched ones hold, so
    * the union is taken over the record, never over this batch's
    * buckets alone. Names match case-insensitively, as `unionByName`
    * resolves them; every field is recorded nullable, as parquet reads
    * it back.
    */
  private def unionSchema(recorded: Option[StructType],
      merged: StructType): StructType = {
    def lower(f: StructField) = f.name.toLowerCase(java.util.Locale.ROOT)
    val prev = recorded.fold(Seq.empty[StructField])(_.fields.toSeq)
    val known = prev.map(lower).toSet
    StructType((prev ++ merged.fields.filterNot(f => known(lower(f))))
      .map(_.copy(nullable = true)))
  }

  /** The head manifest; version 0 with no leaves on an empty store. */
  def readManifest(stateDir: String,
      conf: Configuration = WalSegments.localConf): Manifest =
    IndexManifest.readMeta(stateDir, conf).map(fromShared)
      .getOrElse(Manifest(0L, Map.empty))

  /** Commit a manifest version through the shared exclusive publish: of
    * two appliers racing the same version exactly one wins; the loser
    * throws [[FencedWriterException]] having published nothing. Versions
    * past the store's grace window (the shared `retain` rule: a reader
    * that planned against any retained manifest finds every leaf it
    * references — [[sweepUnreferenced]] only deletes leaves no retained
    * manifest names) are retired.
    */
  private[graft] def commitManifest(stateDir: String, m: Manifest,
      conf: Configuration = WalSegments.localConf): Unit =
    try IndexManifest.commit(stateDir, toShared(m), conf)
    catch { case _: IndexManifest.CommitConflict =>
      throw new FencedWriterException(
        s"lost manifest commit race for version ${m.version} at $stateDir")
    }

  /** Dial the store's retention window — a metadata-only commit
    * publishing `retain` into the manifest, which every LATER commit's
    * retirement honors (and the leaf sweep follows for free: it keeps
    * whatever any on-disk manifest references). The state-store form of
    * [[graft.operators.store.IndexManifest.setRetention]]; dialing down
    * takes effect on the next commit's retirement, and already-retired
    * versions never come back. Respects the writer fence exactly like
    * [[applyBatch]]: pass the applier's token on an acquired store (the
    * commit is a version bump, so an un-fenced racer loses the exclusive
    * publish at worst).
    */
  def setRetention(stateDir: String, retain: Int,
      token: Option[WriterToken] = None,
      conf: Configuration = WalSegments.localConf): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val m = readManifest(stateDir, conf)
    if (m.version == 0L) throw new IllegalStateException(
      s"$stateDir holds no materialized state — dial retention on a " +
        "committed store")
    checkFence(m, token, stateDir)
    commitManifest(stateDir, m.copy(version = m.version + 1,
      retain = retain), conf)
  }

  /** Acquire the store: bump the writer epoch and commit a manifest
    * carrying this applier's fence — the slot-takeover move. Any applier
    * holding an older token fails fast on its next commit ([[applyBatch]]
    * checks the fence before doing work AND the exclusive manifest create
    * backstops the read-check-commit window). Call once per applier
    * lifetime; [[sink]] does it automatically on its first batch.
    */
  def acquire(stateDir: String,
      conf: Configuration = WalSegments.localConf): WriterToken = {
    var tries = 0
    while (true) {
      val m = readManifest(stateDir, conf)
      val token = WriterToken(m.writerEpoch + 1,
        java.util.UUID.randomUUID().toString)
      try {
        commitManifest(stateDir, m.copy(version = m.version + 1,
          writerEpoch = token.epoch, writerId = token.id), conf)
        return token
      } catch {
        case e: FencedWriterException =>
          tries += 1
          if (tries >= 5) throw e // livelock guard: someone else is churning
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fail fast when `token` no longer owns the store (or, for token-less
    * callers, when anyone has fenced it).
    */
  private def checkFence(manifest: Manifest, token: Option[WriterToken],
      stateDir: String): Unit = token match {
    case Some(t) =>
      if (manifest.writerEpoch != t.epoch || manifest.writerId != t.id)
        throw new FencedWriterException(
          s"writer fenced at $stateDir: holding epoch ${t.epoch} but " +
            s"store is at epoch ${manifest.writerEpoch} " +
            s"(another applier acquired it)")
    case None =>
      if (manifest.writerEpoch > 0L)
        throw new FencedWriterException(
          s"$stateDir is fenced (epoch ${manifest.writerEpoch}); " +
            "unfenced writes are refused — Materializer.acquire() a token")
  }

  /** Fail fast when the caller's Spec disagrees with the bucket count the
    * store was created (or last [[rebucket]]ed) with: a mismatched
    * applier would hash every key into the WRONG bucket — reading buckets
    * that don't hold the key, writing merged rows where no later reader
    * of that key looks — and silently fork the state. The manifest
    * records the count (`nbuckets`; 0 until the first apply adopts its
    * Spec's count — an [[acquire]] on an empty store commits before any
    * Spec is seen).
    */
  private def checkBuckets(manifest: Manifest, spec: Spec,
      stateDir: String): Unit =
    if (manifest.nbuckets > 0 && manifest.nbuckets != spec.buckets)
      throw new IllegalStateException(
        s"$stateDir is bucketed at ${manifest.nbuckets} but the Spec says " +
          s"${spec.buckets} — a mismatched applier scatters keys across " +
          "wrong buckets; use the store's count, or rebucket() offline")

  /** Delete every `leaf-…` directory NO retained manifest references —
    * residue of crashes before a manifest swap (new leaves never
    * committed) and superseded leaves whose last referencing manifest has
    * been retired past the store's retention window. Superseded
    * leaves still named by a retained manifest are NOT residue: an
    * in-flight reader that planned against that manifest is entitled to
    * open them (snapshot isolation with a grace window, not just at plan
    * time). Safe under the single-writer contract.
    */
  private def sweepUnreferenced(fs: FileSystem, stateDir: String,
      conf: Configuration): Unit = {
    val referenced = IndexManifest.retainedRefs(stateDir, conf)
    try {
      fs.listStatus(new Path(stateDir)).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("leaf-") && !referenced.contains(n))
          try fs.delete(st.getPath, true)
          catch { case _: java.io.IOException => () }
      }
    } catch { case _: java.io.FileNotFoundException => () }
  }

  /** The manifest an apply starts from, after the writer-fence and
    * bucket-count checks (both run even for an empty batch: a fenced-out
    * writer learns it lost the token on its next call, not on its next
    * non-empty batch). Applying to a nonexistent dir creates it.
    */
  private def openForApply(stateDir: String, spec: Spec,
      token: Option[WriterToken], conf: Configuration): Manifest = {
    val (fs, root) = WalSegments.fsFor(stateDir, conf)
    fs.mkdirs(root)
    val manifest = readManifest(stateDir, conf)
    checkFence(manifest, token, stateDir)
    checkBuckets(manifest, spec, stateDir)
    manifest
  }

  /** Apply one micro-batch of change rows to the state directory.
    *
    * Two Spark jobs: the batch is pinned, one `collect` lists its
    * affected buckets (driver-side bucket IDs only), and one write job
    * merges those buckets' current leaves with the batch in ONE `max_by`
    * shuffle and writes each touched bucket's new leaf version as one
    * file at its final path; then the manifest swaps. Unaffected
    * buckets are not read, not written, and keep their manifest entries.
    * An empty batch collects zero buckets and commits nothing. A batch
    * the caller already persisted is used as it is and stays pinned.
    */
  def applyBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
      spec: Spec, conf: Configuration = WalSegments.localConf,
      token: Option[WriterToken] = None): Unit = {
    val manifest = openForApply(stateDir, spec, token, conf)
    val pin = batch.storageLevel == StorageLevel.NONE
    if (pin) batch.persist() // two consumers: the bucket list and the merge
    try {
      val affected = batch.select(bucketCol(spec)).distinct()
        .collect().map(_.getLong(0).toInt) // ≤ spec.buckets ints: metadata
      mergeBuckets(spark, stateDir, batch, affected.toSeq, manifest, spec, conf)
    } finally if (pin) batch.unpersist()
  }

  /** Merge `rows` into the `affected` buckets and commit the next
    * version — the write job of [[applyBatch]] and [[sink]]. The
    * affected leaves are read with the recorded schema; `unionByName`
    * with `allowMissingColumns` lets a batch carrying new columns widen
    * the state and a batch missing columns null them on its rows.
    * Hash-partitioning on the bucket satisfies the `(bucket, key)`
    * grouping, so the merge is one exchange, and a bucket's rows all
    * land in one task: one file per touched bucket.
    */
  private def mergeBuckets(spark: SparkSession, stateDir: String,
      rows: DataFrame, affected: Seq[Int], manifest: Manifest, spec: Spec,
      conf: Configuration): Unit = {
    if (affected.isEmpty) return // empty batch: nothing to merge or commit
    val nextVersion = manifest.version + 1
    val incoming = rows.withColumn("_gbucket", bucketCol(spec))
    val existing = affected.flatMap(manifest.leaves.get)
    val unioned =
      if (existing.isEmpty) incoming
      else readLeaves(spark, stateDir, manifest, existing)
        .withColumn("_gbucket", bucketCol(spec))
        .unionByName(incoming, allowMissingColumns = true)
    val merged = latestBy(unioned.repartition(col("_gbucket")),
      "_gbucket" +: spec.keyCols, spec)
    val schema = unionSchema(manifest.schema, merged.drop("_gbucket").schema)
    val written = writeLeaves(stateDir, merged, nextVersion, conf)
    // THE commit: exclusive create of version N+1 — a concurrent
    // acquire or apply that got there first makes this throw, and the
    // leaves written above become unreferenced residue for the
    // winner's sweep (no committed bucket is ever lost)
    commitManifest(stateDir, manifest.copy(version = nextVersion,
      leaves = manifest.leaves ++ written, nbuckets = spec.buckets,
      schema = Some(schema)), conf)
    // superseded leaves are NOT deleted here: a reader that planned its
    // scan against the just-superseded manifest may still open them.
    // The post-commit sweep (after this commit retired manifests past
    // the store's retention window) collects only leaves NO retained
    // manifest references — crash residue and long-superseded versions.
    sweepUnreferenced(WalSegments.fsFor(stateDir, conf)._1, stateDir, conf)
  }

  /** Write `df` (its rows carrying their `_gbucket`) as the leaves of
    * `version` and publish them: one `partitionBy("_leaf")` write job —
    * Spark names the partition dirs `_leaf=<value>` (values avoid '=' so
    * no escaping) — then each is published to its leaf name with one FS
    * rename of a just-written dir: atomic on POSIX/HDFS, on object stores
    * a copy of ONLY this version's new files, never the table. Residue a
    * torn earlier attempt left at `version` is dropped first, so a retry
    * never mixes its files in. Returns bucket → leaf name for every
    * bucket that got rows; a bucket with none writes no dir.
    */
  private def writeLeaves(stateDir: String, df: DataFrame, version: Long,
      conf: Configuration): Map[Int, String] = {
    val (fs, _) = WalSegments.fsFor(stateDir, conf)
    val suffix = f"-v$version%08d"
    def atVersion(): Seq[String] =
      fs.listStatus(new Path(stateDir)).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(suffix))
    atVersion().filter(n => n.startsWith("_leaf=b") || n.startsWith("leaf-b"))
      .foreach(n => fs.delete(new Path(stateDir, n), true))
    df.withColumn("_leaf", format_string(s"b%05d$suffix", col("_gbucket")))
      .drop("_gbucket")
      .write.mode("append").partitionBy("_leaf").parquet(stateDir)
    atVersion().filter(_.startsWith("_leaf=b")).map { n =>
      val leaf = "leaf-" + n.stripPrefix("_leaf=")
      val dest = new Path(stateDir, leaf)
      if (!fs.rename(new Path(stateDir, n), dest))
        throw new java.io.IOException(s"could not publish $n to $dest")
      leaf.stripPrefix("leaf-b").takeWhile(_.isDigit).toInt -> leaf
    }.toMap
  }

  /** The `leaves` of `manifest`, read with the schema it recorded — no
    * footer inference, so building the read runs no Spark job. Leaf files
    * do not store the bucket column; callers re-derive it.
    */
  private def readLeaves(spark: SparkSession, stateDir: String,
      manifest: Manifest, leaves: Iterable[String]): DataFrame = {
    val schema = manifest.schema.getOrElse(throw new IllegalStateException(
      s"$stateDir v${manifest.version} names leaves but records no state " +
        "schema — it was written before schemas were recorded; " +
        "re-materialize it"))
    spark.read.schema(schema)
      .parquet(leaves.map(d => s"$stateDir/$d").toIndexedSeq: _*)
  }

  /** Test-visible census of full-state READ PLANS built
    * ([[currentState]] + [[deletedRecords]] calls) — the
    * one-scan contract of `Graft.syncAllIndexes` is asserted against
    * it: the fleet facade must build exactly one of each, where four
    * individual facades build four.
    */
  private[graft] val stateReads = new java.util.concurrent.atomic.AtomicLong

  /** The store's current rows — tombstones filtered (pass
    * `keepTombstones = true` for the raw merge state, e.g. to audit
    * delete retention). A manifest read pins the snapshot: concurrent
    * applies never tear this view. Building the frame runs no Spark job;
    * collecting it is one scan.
    */
  def currentState(spark: SparkSession, stateDir: String, spec: Spec,
      keepTombstones: Boolean = false,
      conf: Configuration = WalSegments.localConf): DataFrame = {
    stateReads.incrementAndGet()
    val manifest = readManifest(stateDir, conf)
    if (manifest.leaves.isEmpty)
      throw new IllegalStateException(
        if (manifest.version == 0L)
          s"$stateDir holds no materialized state (no manifest)"
        else
          s"$stateDir state is EMPTY at version ${manifest.version} " +
            "(every record deleted and compacted; schema is gone with the rows)")
    stateOf(spark, stateDir, spec, manifest, keepTombstones)
  }

  /** The store's rows AS OF manifest `version` — TIME TRAVEL over the
    * retention window. Retention keeps every manifest (and every leaf a
    * retained manifest references) for the store's window of commits, so
    * any still-on-disk version reads as a complete, consistent snapshot:
    * "what did the replica say N commits ago" costs one manifest read.
    * Versions retired past the window throw — use a longer-horizon
    * history mechanism (the SCD2 lane) for audits beyond the grace
    * window.
    */
  def currentStateAt(spark: SparkSession, stateDir: String, spec: Spec,
      version: Long, keepTombstones: Boolean = false,
      conf: Configuration = WalSegments.localConf): DataFrame = {
    val manifest = IndexManifest.readMetaAt(stateDir, version, conf)
      .map(fromShared).getOrElse {
        val head = readManifest(stateDir, conf)
        val window = IndexManifest.retentionOf(toShared(head))
        throw new IllegalArgumentException(
          s"$stateDir has no retained manifest v$version — retained " +
            s"window is (${math.max(1, head.version - window)}" +
            s"..${head.version}]; older snapshots are retired")
      }
    stateOf(spark, stateDir, spec, manifest, keepTombstones)
  }

  /** Rows dead under the manifest's TRUNCATE watermarks: first key column
    * matches an entry and seq is at or below its watermark. `lit(false)`
    * when no table was ever truncated — folds away entirely. Watermark
    * keys round-trip through the JSON manifest as STRINGS, so the key
    * column is compared as a string EXPLICITLY — with a bare `===` Spark
    * would insert an implicit cast on a non-string key column and could
    * silently match or miss rows (e.g. `1` vs `"1"` vs `"01"`).
    */
  private def truncatedPredicate(manifest: Manifest, spec: Spec): Column =
    manifest.truncates.foldLeft(lit(false)) { case (acc, (k, wm)) =>
      acc || (col(spec.keyCols.head).cast("string") === lit(k) &&
        col(spec.seqCol) <= wm)
    }

  private def stateOf(spark: SparkSession, stateDir: String, spec: Spec,
      manifest: Manifest, keepTombstones: Boolean): DataFrame = {
    // buckets last rewritten before a schema widening still read into
    // the recorded union schema (their missing columns as null)
    val df = readLeaves(spark, stateDir, manifest, manifest.leaves.values)
    if (keepTombstones) df
    else df.filter(col(spec.opCol) =!= spec.deleteOp &&
      !truncatedPredicate(manifest, spec))
  }

  /** Apply a TRUNCATE: every row of `key` (the first key column's value —
    * the table, in the CDC shape) whose seq is at or below `upToSeq` dies.
    * This is a METADATA-ONLY commit — one watermark entry in the next
    * manifest version, no leaf read or written, O(1) at any table size
    * (the reference delivers TruncatedRelation events the same way:
    * reference lib/walex/changes.ex TruncatedRelation — no per-row
    * tombstones exist to replay). Readers planned against earlier
    * manifests still see the rows (snapshot isolation); time travel to a
    * pre-truncate version shows the table as it was; the next [[compact]]
    * drops dead rows physically. Rows arriving AFTER the watermark
    * (seq > upToSeq) live — exactly Postgres semantics, where nothing can
    * touch a truncated row's identity except a fresh insert later in WAL
    * order. Re-applying (foreachBatch replay) is idempotent: watermarks
    * only ratchet up. The first key column should be string-typed (the
    * CDC table_name shape) — the watermark matches it by string equality.
    * Truncate rows arriving IN a change stream (op == "truncate") are
    * handled by [[sink]] automatically.
    */
  def applyTruncate(stateDir: String, key: String, upToSeq: Long, spec: Spec,
      conf: Configuration = WalSegments.localConf,
      token: Option[WriterToken] = None): Unit = {
    val manifest = readManifest(stateDir, conf)
    checkFence(manifest, token, stateDir)
    checkBuckets(manifest, spec, stateDir)
    val wm = math.max(upToSeq,
      manifest.truncates.getOrElse(key, Long.MinValue))
    // an unchanged watermark commits NOTHING: a replayed truncate must
    // not burn the time-travel window on no-op versions
    if (manifest.truncates.get(key).contains(wm)) return
    commitManifest(stateDir, manifest.copy(
      version = manifest.version + 1,
      truncates = manifest.truncates + (key -> wm)), conf)
  }

  /** The store's DELETE FEED — the key rows a replica-synced downstream
    * artifact (dedup index, vector index, corpus manifest) must retire:
    * retained per-row tombstones (latest change is a delete) PLUS rows
    * dead under TRUNCATE watermarks, which carry their original op and
    * would otherwise be invisible to an op == delete filter.
    */
  def deletedRecords(spark: SparkSession, stateDir: String, spec: Spec,
      conf: Configuration = WalSegments.localConf): DataFrame = {
    stateReads.incrementAndGet()
    val manifest = readManifest(stateDir, conf)
    if (manifest.leaves.isEmpty)
      throw new IllegalStateException(s"$stateDir holds no materialized state")
    val raw = stateOf(spark, stateDir, spec, manifest, keepTombstones = true)
    raw.filter(col(spec.opCol) === spec.deleteOp ||
        truncatedPredicate(manifest, spec))
      .select(spec.keyCols.map(col): _*).distinct()
  }

  /** Drop tombstones whose seq is at or below `floor` — call with the
    * slowest consumer's committed position (the same figure the WAL
    * source's ackPath carries) once no replay can reach below it — and
    * rows dead under TRUNCATE watermarks (expirable at ANY floor: the
    * watermark rides every future manifest, so a replayed old batch's
    * resurrected rows die at read regardless). Rewrites only buckets that
    * actually hold expirable rows.
    */
  def compact(spark: SparkSession, stateDir: String, spec: Spec, floor: Long,
      conf: Configuration = WalSegments.localConf,
      token: Option[WriterToken] = None): Unit = {
    val (fs, _) = WalSegments.fsFor(stateDir, conf)
    val manifest = readManifest(stateDir, conf)
    checkFence(manifest, token, stateDir)
    checkBuckets(manifest, spec, stateDir)
    if (manifest.leaves.isEmpty) return
    val nextVersion = manifest.version + 1
    val all = readLeaves(spark, stateDir, manifest, manifest.leaves.values)
      .withColumn("_gbucket", bucketCol(spec))
    val expired = (col(spec.opCol) === spec.deleteOp &&
      col(spec.seqCol) <= floor) || truncatedPredicate(manifest, spec)
    // ONE aggregation finds the buckets holding expirable tombstones (a
    // per-leaf probe loop would be O(buckets) driver-side jobs — the
    // compaction scan is inherently full-table, but it must be one job)
    val expirable = all.filter(expired).select("_gbucket").distinct()
      .collect().map(_.getLong(0).toInt).sorted // bucket IDs: metadata
    if (expirable.isEmpty) return
    // ONE write job rewrites exactly those buckets without tombstones,
    // one file per bucket; a bucket whose rows were ALL expirable writes
    // no dir — it simply leaves the manifest (an absent entry IS the
    // empty bucket). The schema record carries over unchanged.
    val rewritten = writeLeaves(stateDir,
      all.filter(col("_gbucket").isin(expirable.map(Integer.valueOf): _*) &&
        !expired).repartition(col("_gbucket")), nextVersion, conf)
    commitManifest(stateDir, manifest.copy(version = nextVersion,
        leaves = (manifest.leaves -- expirable) ++ rewritten,
        nbuckets = spec.buckets), conf)
    // compacted-away leaves keep the same reader grace window as apply:
    // the sweep only collects leaves no retained manifest references
    sweepUnreferenced(fs, stateDir, conf)
  }

  /** Re-key the WHOLE store into `newBuckets` hash buckets — the one
    * maintenance operation that cannot be incremental, because changing
    * the count moves every row's bucket. One full-table read → one
    * shuffle on the new bucket key → an all-new leaf set at the next
    * version → one manifest swap; fenced like any write, and
    * snapshot-isolated like any commit (readers planned against retained
    * manifests keep the old-bucket leaves until the grace window retires
    * them). Run it OFFLINE like an Iceberg rewrite — cost is one read +
    * one write of the table. Afterwards every applier must use the new
    * count: the manifest records it and [[applyBatch]]/[[compact]] refuse
    * a mismatched Spec.
    */
  def rebucket(spark: SparkSession, stateDir: String, spec: Spec,
      newBuckets: Int, conf: Configuration = WalSegments.localConf,
      token: Option[WriterToken] = None): Unit = {
    require(newBuckets > 0, "newBuckets must be positive")
    val (fs, _) = WalSegments.fsFor(stateDir, conf)
    val manifest = readManifest(stateDir, conf)
    checkFence(manifest, token, stateDir)
    checkBuckets(manifest, spec, stateDir)
    val nextVersion = manifest.version + 1
    val newLeaves =
      if (manifest.leaves.isEmpty) Map.empty[Int, String]
      else writeLeaves(stateDir,
        readLeaves(spark, stateDir, manifest, manifest.leaves.values)
          .withColumn("_gbucket", bucketCol(spec.copy(buckets = newBuckets)))
          .repartition(col("_gbucket")), nextVersion, conf)
    commitManifest(stateDir, manifest.copy(version = nextVersion,
        leaves = newLeaves, nbuckets = newBuckets), conf)
    sweepUnreferenced(fs, stateDir, conf)
  }

  /** `foreachBatch` adapter: attach the materializer to any typed change
    * stream —
    * {{{
    * stream.writeStream.foreachBatch(Materializer.sink(stateDir, spec)).start()
    * }}}
    */
  def sink(stateDir: String, spec: Spec): (DataFrame, Long) => Unit =
    sink(stateDir, spec, compactEvery = 0, floorProvider = () => None)

  /** `foreachBatch` adapter with an in-stream retention cadence: every
    * `compactEvery` batches (0 = never) the sink [[compact]]s tombstones
    * at or below `floorProvider()`'s floor — the applier is the ONLY
    * party that can compact a live store (it holds the fence), so wiring
    * the cadence here is what keeps a long-running replica's directory
    * bounded without stopping the stream. The floor comes from the same
    * consumer-ack file the WAL source's retention uses
    * ([[graft.streaming.Graft.materialize]] wires it).
    */
  def sink(stateDir: String, spec: Spec, compactEvery: Int,
      floorProvider: () => Option[Long]): (DataFrame, Long) => Unit = {
    // acquire lazily on the first batch: the stream that owns this sink
    // owns the store, and a restarted driver's new sink fences the old
    // one out (the zombie's next applyBatch throws FencedWriterException)
    var token: Option[WriterToken] = None
    var applied = 0L
    (batch: DataFrame, _: Long) => {
      if (token.isEmpty) token = Some(acquire(stateDir))
      val conf = WalSegments.localConf
      val manifest = openForApply(stateDir, spec, token, conf)
      // every action on the foreachBatch frame re-runs the source decode
      // and the stateful assembly behind it: pin it, so the census and
      // the merge write evaluate it once between them
      batch.persist()
      try {
        // TRUNCATE rows arriving IN the stream (op == "truncate"): the
        // row set applies first, then watermarks ratchet to each
        // truncate's seq. Order within the batch is irrelevant by the
        // watermark rule — a same-batch row at seq ≤ the truncate dies at
        // read no matter when its leaf was written, and a row after it
        // (seq > watermark) lives. ONE collect is the batch's census:
        // grouped by the bucket for ordinary rows and by the first key
        // column (as the string the watermark matches) for truncate rows
        // — ≤ buckets + truncated tables rows: metadata, not data.
        val truncOp = "truncate"
        val isTrunc = col(spec.opCol) === truncOp
        val (truncs, rows) = batch.filter(col(spec.opCol).isNotNull)
          .groupBy(isTrunc.as("_t"),
            when(isTrunc, col(spec.keyCols.head).cast("string"))
              .otherwise(bucketCol(spec).cast("string")).as("_k"))
          .agg(max(col(spec.seqCol)).as("_wm"))
          .collect().partition(_.getBoolean(0))
        mergeBuckets(batch.sparkSession, stateDir,
          batch.filter(col(spec.opCol) =!= truncOp),
          rows.map(_.getString(1).toInt).toSeq, manifest, spec, conf)
        truncs.foreach { r =>
          applyTruncate(stateDir, String.valueOf(r.get(1)),
            r.getLong(2), spec, token = token)
        }
        applied += 1
        if (compactEvery > 0 && applied % compactEvery == 0)
          floorProvider().foreach(f =>
            compact(batch.sparkSession, stateDir, spec, f, token = token))
      } finally batch.unpersist()
    }
  }
}
