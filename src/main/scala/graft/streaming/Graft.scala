package graft.streaming

import graft.operators.cdc.ChangeStream
import graft.operators.store.IndexManifest
import graft.sources.cdc.CdcSourceProvider
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The user-facing typed Event (reference: lib/walex/event/event.ex:6-17 +
  * source.ex:4-14): op-dependent payloads as text-record maps, per-field
  * old/new changes, and the Source metadata incl. the column-type map (P6).
  * Field names match the Event view columns, so `.as[Event]` binds by name.
  */
final case class EventSource(
    source_name: String, version: String, db: String,
    schema: Option[String], table: Option[String],
    columns: Option[Map[String, String]])

final case class FieldChange(old_value: Option[String], new_value: Option[String])

final case class Event(
    seq: Long,
    xid: Long,
    lsn: Long,
    name: Option[String],
    `type`: String,
    new_record: Option[Map[String, String]],
    old_record: Option[Map[String, String]],
    changes: Option[Map[String, FieldChange]],
    timestamp_ms: Option[Long],
    lsn_str: String,
    source: EventSource)

/** The assembled engine — the one-call equivalent of the reference's
  * `WalEx.Supervisor.start_link(config)` + `use WalEx.Event` module setup
  * (lib/walex/supervisor.ex:12-24, README.md:229-285):
  *
  * {{{
  * val engine = new Engine()
  *   .onInsert("user") { events => ... }
  *   .onUpdate("user", EventFilters(unwatchedFields = Seq("updated_at"))) { ... }
  * val query = Graft.start(spark, config, walDir, engine)
  * }}}
  *
  * Pipeline: DSv2 CDC source (config-driven options, subscription filter
  * pushed into the scan) → cross-batch transaction assembly → typed Event
  * view → per-handler dispatch. Durable-slot configs run checkpointed
  * (restart = resume); temporary-slot configs start at the stream head and
  * die with the query.
  */
object Graft {

  /** The Event view for a config, unstarted — callers can stack further
    * transforms (windowed aggregations, joins against dimension tables)
    * before attaching handlers or sinks.
    */
  def events(spark: SparkSession, config: GraftConfig, walDir: String): DataFrame = {
    var reader = spark.readStream.format(classOf[CdcSourceProvider].getName)
    config.sourceOptions(walDir).foreach { case (k, v) => reader = reader.option(k, v) }
    val raw = reader.load()
    // F4 subscription filter BEFORE assembly. The disjunction (keep
    // begin/commit, whose table_name is null, for the assembler) is not a
    // pushable predicate — table-level dropping at decode time is the
    // publication's job (F8, inside the source); subscriptions are the
    // per-engine dynamic subset and filter post-scan, pre-state.
    val subscribed =
      if (config.subscriptions.isEmpty) raw
      else raw.filter(
        !col("msg").isin("insert", "update", "delete", "truncate") ||
          col("table_name").isin(config.subscriptions: _*))
    ChangeStream.eventsFromAssembled(
      TxnAssembler.assemble(subscribed, staleTxnTtl = config.staleTxnTtl).toDF())
  }

  /** Typed lane: the same Event view as a `Dataset[Event]` — case-class
    * handlers, compile-time field access, pattern matching on op; the
    * columnar view stays available via `.toDF` (encoders round-trip).
    */
  def typedEvents(spark: SparkSession, config: GraftConfig, walDir: String): Dataset[Event] = {
    import spark.implicits._
    events(spark, config, walDir).as[Event]
  }

  /** The JDBC-polling-shaped ingestion lane (SURVEY §2.1 S1, the
    * BASELINE approach): any incrementally-appended change table — rows
    * exported from Postgres with LSN/xid stamps, a Debezium-style dump —
    * becomes the same Event stream. High-watermark polling is Spark's own
    * file-streaming source (new-file discovery per micro-batch); no custom
    * polling loop to maintain. Polled rows are already committed, so no
    * stateful Begin/Commit assembly is needed (SURVEY S1 note) — rows map
    * straight onto the assembled-change shape; absent optional columns
    * (old images, TOAST lists, column types) default to null.
    *
    * Required columns: seq, lsn, xid, op, table_name, record.
    * Optional: schema_name, commit_ts_us, old_record, old_kind,
    * toast_unchanged, col_types.
    */
  def eventsFromChangeTable(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val raw = spark.readStream.schema(schema).parquet(path)
    val cols = raw.columns.toSet
    def opt(name: String, tpe: String): Column =
      if (cols(name)) col(name) else lit(null).cast(tpe)
    ChangeStream.eventsFromAssembled(raw.select(
      col("xid"), col("lsn").as("commit_lsn"),
      opt("commit_ts_us", "long").as("commit_ts_us"),
      lit(0).as("change_idx"),
      col("seq"), col("op"),
      opt("schema_name", "string").as("schema_name"), col("table_name"),
      opt("record", "map<string,string>").as("record"),
      opt("old_record", "map<string,string>").as("old_record"),
      opt("old_kind", "string").as("old_kind"),
      opt("toast_unchanged", "array<string>").as("toast_unchanged"),
      opt("col_types", "map<string,string>").as("col_types")))
  }

  /** S1's live-database polling mode: the DSv2 JDBC CDC source
    * (graft.sources.jdbc.JdbcCdcSource — LSN high-watermark offsets,
    * range-bounded parallel reads, filter pushdown into the polling SQL)
    * mapped onto the same Event view as the replication lane. Map/array
    * columns travel as JSON text over JDBC and are parsed here with
    * `from_json` (codegen'd, no UDFs).
    *
    * `options` must include url + table (and usually driver/user/password/
    * maxRowsPerTrigger/numPartitions — see the source's scaladoc).
    */
  def eventsFromJdbc(spark: SparkSession, options: Map[String, String]): DataFrame = {
    import graft.sources.jdbc.{JdbcCdcSource, JdbcCdcSourceProvider, JdbcConnInfo}
    var reader = spark.readStream.format(classOf[JdbcCdcSourceProvider].getName)
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val raw = reader.load()
    // Schema from information_schema (via DatabaseMetaData, SURVEY §1.2):
    // when the change table doesn't carry per-row col_types_json, a
    // stream-start metadata fetch for the subscribed tables backfills
    // Event.source.columns. In-band JSON stays authoritative (it is
    // txn-consistent; the snapshot can lag a concurrent DDL). One driver
    // connection at PLAN time; failure degrades to untyped columns with a
    // warning rather than failing a pipeline whose rows carry their own
    // types. Disable with typesFromMetadata=false.
    val metaTypes: Map[String, Map[String, String]] =
      if (options.get("typesFromMetadata").exists(_.equalsIgnoreCase("false"))) Map.empty
      else try {
        val conn = JdbcConnInfo(options("url"), options.get("user"),
          options.get("password"), options.get("driver"), 1000)
        val tables = options.get("tables").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        JdbcCdcSource.fetchColumnTypes(conn, options.get("metadataSchema"), tables)
      } catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"graft-cdc-jdbc: column-type metadata fetch failed " +
              s"(source.columns stays null where col_types_json is absent): $e")
          Map.empty
      }
    // per-table literal maps folded into one expression — a plan constant,
    // no join, no broadcast var; the table count is the subscription list's
    val metaTypesCol = metaTypes.foldLeft(lit(null).cast("map<string,string>")) {
      case (acc, (t, m)) => when(col("table_name") === t, typedLit(m)).otherwise(acc)
    }
    ChangeStream.eventsFromAssembled(raw.select(
      col("xid"), col("lsn").as("commit_lsn"),
      col("commit_ts_us"),
      lit(0).as("change_idx"),
      col("seq"), col("op"),
      col("schema_name"), col("table_name"),
      from_json(col("record_json"), lit("map<string,string>")).as("record"),
      from_json(col("old_record_json"), lit("map<string,string>")).as("old_record"),
      col("old_kind"),
      from_json(col("toast_unchanged_json"), lit("array<string>")).as("toast_unchanged"),
      coalesce(from_json(col("col_types_json"), lit("map<string,string>")),
        metaTypesCol).as("col_types")))
  }

  /** Config → replication endpoint: the one place the reference's
    * connection-config surface (hostname/port/database/credentials plus
    * the `ssl`/`ssl_opts` keys it passes to Postgrex) maps onto the wire
    * client. Factored out so the mapping is testable without a server.
    */
  private[graft] def replicationEndpoint(config: GraftConfig,
      unixSocketDir: Option[String] = None)
      : graft.sources.replication.PgReplicationClient.Endpoint = {
    def need(v: Option[String], what: String): String = v.getOrElse(
      throw new IllegalArgumentException(
        s"config '${config.appName}': replicate() needs $what"))
    graft.sources.replication.PgReplicationClient.Endpoint(
      host = config.hostname.getOrElse("localhost"),
      port = config.port,
      unixSocketDir = unixSocketDir,
      database = need(config.database, "a database"),
      user = need(config.username, "a username"),
      password = config.password,
      applicationName = s"graft-${config.appName}",
      sslMode = config.sslMode.getOrElse("disable"),
      sslRootCert = config.sslRootCert)
  }

  /** One-call consistent INITIAL SYNC (see
    * [[graft.sources.replication.Bootstrap]]): snapshot the publication's
    * tables into `walDir` as ordinary WAL segments pinned to the durable
    * slot's consistent point (`CREATE_REPLICATION_SLOT … EXPORT_SNAPSHOT`
    * + `SET TRANSACTION SNAPSHOT`). Run once BEFORE [[startLive]]/
    * [[replicate]]: the slot created here is the one replicate() then
    * resumes (existing-slot path), so the stream continues from the
    * consistent point with no gap and no overlap — the initial-sync step
    * the reference leaves to hand-rolled scripts.
    */
  def bootstrap(config: GraftConfig, walDir: String,
      unixSocketDir: Option[String] = None,
      rowsPerTxn: Int = 65536): graft.sources.replication.Bootstrap.Result = {
    import graft.sources.replication._
    require(config.durableSlot,
      s"config '${config.appName}': bootstrap needs a durable slot — a " +
        "temporary slot dies with the bootstrap connection and the stream " +
        "could never resume from the consistent point")
    val pub = config.publication.getOrElse(throw new IllegalArgumentException(
      s"config '${config.appName}': bootstrap() needs a publication"))
    val ep = replicationEndpoint(config, unixSocketDir)
    val qs = (unixSocketDir.map(d => "socketDir=" + enc(d)).toSeq ++
      Seq(s"port=${config.port}") ++
      config.username.map(u => "user=" + enc(u)) ++
      config.password.map(p => "password=" + enc(p)) ++
      config.sslMode.map(m => "sslmode=" + enc(m)) ++
      config.sslRootCert.map(c => "sslrootcert=" + enc(c))).mkString("&")
    val host = if (unixSocketDir.isDefined) "" else ep.host
    val url = s"jdbc:graftpg://$host/${ep.database}?$qs"
    val client = new PgReplicationClient(ep).connect()
    try Bootstrap.snapshotToSegments(client,
      () => new graft.sources.jdbc.GraftPgDriver()
        .connect(url, new java.util.Properties()),
      config.effectiveSlotName, pub, walDir, rowsPerTxn = rowsPerTxn)
    finally client.close()
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** LIVE ingestion: connect to the config's database as a replication
    * client (public wire protocol — no JDBC involved), fail fast if the
    * publication is absent (S2, against the real catalog), create the
    * slot through the replication grammar (temporary unless
    * `durableSlot` — S3/S4 on the actual server, not a file stand-in),
    * and pump the pgoutput stream into `walDir` as GWAL segments on a
    * daemon thread. Pair with [[start]] on the same `walDir`:
    *
    * {{{
    * val repl  = Graft.replicate(config, walDir)          // DB → segments
    * val query = Graft.start(spark, config, walDir, engine) // segments → handlers
    * }}}
    *
    * The returned [[graft.sources.replication.Replicator]] owns the
    * connection: it SUPERVISES the stream (S7 — a dead walsender
    * reconnects with backoff, resuming a durable slot from
    * `confirmed_flush_lsn`), and `close()` stops the pump and — for
    * temporary slots — drops the slot server-side. Flushed-segment LSNs
    * are acked upstream, so the slot's retention window tracks what is
    * durably on disk — unless the config carries an `ackPath`, in which
    * case the tailer caps its acks at the CONSUMER's committed progress
    * (the CDC source writes that very file): the server then retains WAL
    * until Spark commits, and even a lost segment directory can be
    * re-streamed from the slot.
    *
    * `idleMs` bounds delivery time: it is the longest a committed
    * transaction waits in the tailer before its segment is on disk. The
    * tailer flushes when the stream has been quiet for `idleMs`, and,
    * under steady traffic that is never quiet, once the oldest buffered
    * committed transaction is `idleMs` old; `framesPerSegment` rotates
    * earlier under a burst.
    */
  def replicate(config: GraftConfig, walDir: String,
      unixSocketDir: Option[String] = None,
      framesPerSegment: Int = 4096,
      idleMs: Long = 2000L,
      maxRestarts: Int = 10): graft.sources.replication.Replicator = {
    import graft.sources.replication._
    val pub = config.publication.getOrElse(throw new IllegalArgumentException(
      s"config '${config.appName}': replicate() needs a publication"))
    val ep = replicationEndpoint(config, unixSocketDir)
    def session(): (PgReplicationClient, ReplicationTailer) = {
      val client = new PgReplicationClient(ep).connect()
      try {
        if (!client.publicationExists(pub))
          throw new IllegalStateException(
            s"publication '$pub' does not exist (reference fail-fast, server.ex:75-83)")
        // the segment directory's publication manifest comes from the LIVE
        // catalog, so the CDC source's own fail-fast and table filter see
        // exactly what the server serves — refreshed on every (re)connect.
        // Hadoop FS throughout: walDir may be file://, hdfs://, or s3a://
        val (walFs, walPath) = graft.sources.cdc.WalSegments.fsFor(walDir)
        walFs.mkdirs(walPath)
        graft.sources.cdc.WalSegments.writePublication(
          walDir, pub, client.publicationTables(pub))
        client
          .createSlot(config.effectiveSlotName, temporary = !config.durableSlot)
          .startReplication(config.effectiveSlotName, pub)
      } catch { case e: Throwable => client.close(); throw e }
      (client, new ReplicationTailer(client, walDir, framesPerSegment,
        consumerAckPath = config.ackPath,
        retainConsumed = config.retainConsumed))
    }
    // first connect runs EAGERLY so config errors (bad publication, bad
    // credentials) fail the call, not a background thread
    new Replicator(session(), () => session(), idleMs, maxRestarts)
  }

  /** Bound the replay history: expire every WAL segment the consumer has
    * committed past, per the source's own `ackPath` status file — the
    * operational pairing of `GraftConfig.ackPath` + consumer-coupled slot
    * retention. The durable retention record keeps global frame offsets
    * (and so every checkpoint) meaningful across the expiry; a checkpoint
    * that still needs expired frames fails fast instead of silently
    * remapping ([[graft.sources.cdc.WalSegments.expireSegments]]). No-op
    * when the consumer has not committed yet. Run it from a cron beside
    * the tailer — it only reads the ack file and deletes consumed
    * segments, so it is safe while both the tailer and the query run.
    */
  def expireConsumed(config: GraftConfig, walDir: String)
      : Option[graft.sources.cdc.WalSegments.Retention] = {
    val ack = config.ackPath.getOrElse(throw new IllegalArgumentException(
      s"config '${config.appName}': expireConsumed() needs ackPath — " +
        "retention must follow the CONSUMER, and the ack file is how the " +
        "consumer publishes its committed frame count"))
    graft.sources.replication.ReplicationTailer.committedFrames(ack)
      .map(graft.sources.cdc.WalSegments.expireConsumed(walDir, _))
  }

  /** The state-store analogue of [[expireConsumed]]: compact the replica's
    * tombstones at or below the SAME consumer-ack floor — frames the
    * consumer has committed past can never replay, so their tombstones
    * (kept only to beat out-of-order redelivery) are dead weight. ACQUIRES
    * the store's writer fence: a running [[materialize]] stream on the
    * same `stateDir` will be fenced out on its next batch, so run this
    * only with the applier stopped (scheduled maintenance) — a LIVE
    * replica compacts in-stream instead via [[materialize]]'s
    * `compactEvery` cadence, under the applier's own fence. No-op (None)
    * when the consumer has not committed yet.
    */
  def compactState(spark: SparkSession, config: GraftConfig,
      stateDir: String, buckets: Int = 64): Option[Long] = {
    val ack = config.ackPath.getOrElse(throw new IllegalArgumentException(
      s"config '${config.appName}': compactState() needs ackPath — " +
        "retention must follow the CONSUMER, and the ack file is how the " +
        "consumer publishes its committed frame count"))
    graft.sources.replication.ReplicationTailer.committedFrames(ack)
      .map { committed =>
        val floor = committed - 1L
        val token = Some(Materializer.acquire(stateDir))
        Materializer.compact(spark, stateDir, materializeSpec(buckets),
          floor, token = token)
        floor
      }
  }

  /** One-call REPLICA → VECTOR-INDEX sync (the pgvector-consistency job
    * pipe08 composes by hand): diff the state store's live/dead key sets
    * against what the index holds, tombstone dead indexed vectors
    * ([[graft.operators.ann.PqIndex.delete]]) and append live unindexed
    * ones (encode against stored codebooks) — both tag-idempotent, so
    * re-running a sync cycle (cron replay, crashed job) commits nothing
    * twice. `idCol` maps a store key column to vec_id; `embProvider`
    * supplies (vec_id, embedding) for the append side — at scale a
    * point-lookup-shaped join against the embedding store. The dead set
    * comes from [[Materializer.deletedRecords]], so per-row tombstones
    * AND truncate-dead rows both leave the index. Returns
    * (nDeleted, nAppended) — metadata-sized counts.
    *
    * The diff runs against the SEARCHABLE set (committed codes minus
    * committed tombstones), never raw codes: raw codes retain tombstoned
    * vec_ids until compaction, so a raw-codes diff would re-tombstone
    * the same dead ids every cycle (growing tomb leaves and repeating
    * nDeleted with no new deletes) and would never re-append a replica
    * row deleted in one cycle and re-inserted later — counted as
    * "already indexed" while the standing tombstone hides it from every
    * search. RESURRECTION (alive ∩ tombstoned non-empty) compacts the
    * index first — the tombstone is an unordered kill-all anti-join, so
    * a plain re-append would stay invisible; compaction drops the dead
    * codes physically and clears the tombstone set, and the normal
    * append path then restores the row. After the sync, searchable set
    * == replica live set (restricted to embProvider coverage).
    */
  def syncVectorIndex(spark: SparkSession, stateDir: String,
      spec: Materializer.Spec, idCol: String, indexDir: String,
      embProvider: DataFrame, tag: String): (Long, Long) = {
    val (alive, dead) = liveDeadSets(spark, stateDir, spec, idCol, "vec_id")
    syncVectorCore(spark, alive, dead, indexDir, embProvider, tag)
  }

  /** The replica's (live, dead) key sets under `keyName` — the ONE
    * state-store read every reconcile facade diffs against. "Dead"
    * excludes currently-live keys: a key truncate-killed and
    * re-inserted at a later seq appears in the delete feed (its old
    * row is truncate-dead) AND in the live set — it must never be
    * tombstoned in the same cycle it lives.
    */
  /** How a family keys into the replica: which state-store column
    * holds its ids, plus an optional SQL predicate restricting it to a
    * slice of the store (the multiplexed-replica case — e.g. a vector
    * store fed by `table_name = 'vecs'` rows while the dedup index
    * follows `table_name = 'docs'`). The predicate may reference KEY
    * columns only (`spec.keyCols`) — both the live and the delete-feed
    * scans are keyed projections, so a non-key reference is rejected
    * loudly up front instead of failing halfway through a sync cycle.
    */
  final case class ReplicaKey(idCol: String,
      whereSql: Option[String] = None)

  private def liveDeadSets(spark: SparkSession, stateDir: String,
      spec: Materializer.Spec, idCol: String,
      keyName: String): (DataFrame, DataFrame) =
    liveDeadSets(spark, stateDir, spec, ReplicaKey(idCol), keyName)

  private def liveDeadSets(spark: SparkSession, stateDir: String,
      spec: Materializer.Spec, key: ReplicaKey,
      keyName: String): (DataFrame, DataFrame) = {
    // fail fast on a predicate that reaches beyond the KEY columns: the
    // dead side reads Materializer.deletedRecords, which is projected
    // down to spec.keyCols — a non-key reference would resolve on the
    // alive side (full rows) but throw an opaque unresolved-column
    // error from the dead side only, halfway through the cycle
    key.whereSql.foreach { w =>
      val keySet = spec.keyCols.map(_.toLowerCase).toSet
      val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(w).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }
      val bad = refs.filterNot(r => keySet.contains(r.toLowerCase))
      require(bad.isEmpty,
        s"ReplicaKey.whereSql may reference KEY columns only " +
          s"(${spec.keyCols.mkString(", ")}) — both the live and the " +
          s"delete-feed scans are keyed projections; got: " +
          s"${bad.mkString(", ")} in '$w'")
    }
    def slice(df: DataFrame): DataFrame =
      key.whereSql.fold(df)(w => df.where(expr(w)))
    val alive = slice(Materializer.currentState(spark, stateDir, spec))
      .select(col(key.idCol).cast("long").as(keyName)).distinct()
    val dead = slice(Materializer.deletedRecords(spark, stateDir, spec))
      .select(col(key.idCol).cast("long").as(keyName)).distinct()
      .join(alive, Seq(keyName), "left_anti")
    (alive, dead)
  }

  private def syncVectorCore(spark: SparkSession, alive: DataFrame,
      dead: DataFrame, indexDir: String, embProvider: DataFrame,
      tag: String): (Long, Long) = {
    import graft.operators.ann.PqIndex
    IndexManifest.requireTag(tag, "sync tag")
    // resurrection check: a live replica id with a standing tombstone
    // can only become searchable again through compaction (tag-
    // idempotent: a replayed cycle's compact no-ops, and once tombs are
    // cleared the check itself is false)
    if (!alive.join(PqIndex.tombstonedIds(spark, indexDir),
        Seq("vec_id"), "left_semi").isEmpty)
      PqIndex.compact(spark, indexDir, tag = Some(s"sync-$tag-rc"))
    val searchable = PqIndex.codes(spark, indexDir)
      .select(col("vec_id")).distinct()
      .join(PqIndex.tombstonedIds(spark, indexDir), Seq("vec_id"), "left_anti")
    // SINGLE-PASS diffs: each diff is computed once into a persisted
    // relation — the census count and the commit both read it, instead
    // of re-deriving the whole state-store/index diff twice (the
    // delete/append calls are eager writes, so unpersist after them is
    // safe). The diff is delete-feed-sized — bounded, spillable.
    val toDelete = searchable.join(dead, Seq("vec_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toAppend = embProvider.join(alive, Seq("vec_id"), "left_semi")
      .join(searchable, Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDel = toDelete.count()
      if (nDel > 0)
        PqIndex.delete(spark, indexDir, toDelete, tag = Some(s"sync-$tag-del"))
      val nAdd = toAppend.count()
      if (nAdd > 0)
        PqIndex.append(spark, indexDir, toAppend, tag = Some(s"sync-$tag-add"))
      (nDel, nAdd)
    } finally { toDelete.unpersist(); toAppend.unpersist(); () }
  }

  /** One-call REPLICA → DEDUP-INDEX sync, completing the reconcile
    * facade matrix beside [[syncVectorIndex]] (pipe10 composes the
    * delete half by hand): diff the state store's live/dead key sets
    * against the index's LIVE set
    * ([[graft.operators.dedup.Dedup.indexedLiveIds]] — newest fold bid
    * vs tombstone watermark), tombstone dead indexed docs and fold live
    * unindexed ones, both tag-idempotent. `docProvider` supplies
    * (doc_id, text) for the fold side — at scale a point-lookup-shaped
    * join against the document store. Unlike the vector index's
    * kill-all tombstones, dedup tombstones are BID-ORDERED, so a
    * deleted-then-reinserted replica row revives through the normal
    * fold path with NO compaction: pass a monotone `bid` per sync cycle
    * (greater than any prior cycle's) and the re-fold outranks the
    * standing tombstone. Returns (nDeleted, nFolded) — metadata-sized
    * counts; a steady-state cycle is (0, 0).
    */
  def syncDedupIndex(spark: SparkSession, stateDir: String,
      spec: Materializer.Spec, idCol: String, docProvider: DataFrame,
      indexDir: String, tag: String, bid: Long): (Long, Long) = {
    val (alive, dead) = liveDeadSets(spark, stateDir, spec, idCol, "doc_id")
    syncDedupCore(spark, alive, dead, docProvider, indexDir, tag, bid)
  }

  private def syncDedupCore(spark: SparkSession, alive: DataFrame,
      dead: DataFrame, docProvider: DataFrame, indexDir: String,
      tag: String, bid: Long): (Long, Long) = {
    import graft.operators.dedup.Dedup
    IndexManifest.requireTag(tag, "sync tag")
    val indexed = Dedup.indexedLiveIds(spark, indexDir)
    // single-pass diffs (the syncVectorIndex device): census + commit
    // read ONE persisted computation of each diff
    val toDelete = indexed.join(dead, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toFold = docProvider.join(alive, Seq("doc_id"), "left_semi")
      .join(indexed, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDel = toDelete.count()
      if (nDel > 0)
        Dedup.dedupIndexDelete(spark, indexDir, toDelete,
          s"sync-$tag-del", bid = bid)
      val nAdd = toFold.count()
      if (nAdd > 0)
        Dedup.dedupIndexAppend(toFold, indexDir, s"sync-$tag-add", bid = bid)
      (nDel, nAdd)
    } finally { toDelete.unpersist(); toFold.unpersist(); () }
  }

  /** One-call REPLICA → MULTIMODAL-INDEX sync — the last entry of the
    * reconcile facade matrix ([[syncVectorIndex]]: vectors,
    * [[syncDedupIndex]]: text, here: the perceptual stores): diff the
    * state store's live/dead media sets against each index's LIVE set
    * ([[graft.operators.multimodal.Multimodal.mmIndexedLiveIds]]),
    * tombstone dead indexed media ([[graft.operators.multimodal
    * .Multimodal.ahashIndexDelete]] — mm18's takedown lane) and fold
    * live unindexed ones, both tag-idempotent. The equality hash index
    * and the Hamming chunk index are TWO PROJECTIONS of one membership,
    * so the facade reconciles BOTH against the replica — each lane
    * diffs its own store, so a partial failure (one store committed,
    * the other crashed) heals on the retried cycle instead of freezing
    * the divergence behind the healthy store's no-op. `hashProvider`
    * supplies (media_id, ahash_hi, ahash_lo) for the fold side — at
    * scale a point-lookup-shaped join against the media store (hashes,
    * never pixels). Tombstones are KILL-ALL (the vector-index
    * semantics), so a deleted-then-reinserted replica row resurrects
    * via compact-then-refold — detected and run automatically, exactly
    * [[syncVectorIndex]]'s resurrection path. Returns (nDeleted,
    * nAppended) for the HASH lane (the chunk lane reconciles to the
    * same membership; a steady-state cycle is (0, 0) on both).
    */
  def syncAhashIndex(spark: SparkSession, stateDir: String,
      spec: Materializer.Spec, idCol: String, hashProvider: DataFrame,
      hashIndexDir: String, chunkIndexDir: String, tag: String): (Long, Long) = {
    val (alive, dead) = liveDeadSets(spark, stateDir, spec, idCol, "media_id")
    syncAhashCore(spark, alive, dead, hashProvider, hashIndexDir,
      chunkIndexDir, tag)
  }

  private def syncAhashCore(spark: SparkSession, alive: DataFrame,
      dead: DataFrame, hashProvider: DataFrame, hashIndexDir: String,
      chunkIndexDir: String, tag: String): (Long, Long) = {
    import graft.operators.multimodal.Multimodal
    IndexManifest.requireTag(tag, "sync tag")
    def lane(indexDir: String, rel: String,
        append: (DataFrame, String) => Unit,
        delete: (DataFrame, String) => Unit,
        compact: String => Unit): (Long, Long) = {
      // resurrection: a live replica id with a standing (kill-all)
      // tombstone becomes screenable only through compaction
      if (!alive.join(Multimodal.mmTombstonedIds(spark, indexDir),
          Seq("media_id"), "left_semi").isEmpty)
        compact(s"sync-$tag-rc")
      val indexed = Multimodal.mmIndexedLiveIds(spark, indexDir, rel)
      val toDelete = indexed.join(dead, Seq("media_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val toAppend = hashProvider.join(alive, Seq("media_id"), "left_semi")
        .join(indexed, Seq("media_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nDel = toDelete.count()
        if (nDel > 0) delete(toDelete, s"sync-$tag-del")
        val nAdd = toAppend.count()
        if (nAdd > 0) append(toAppend, s"sync-$tag-add")
        (nDel, nAdd)
      } finally { toDelete.unpersist(); toAppend.unpersist(); () }
    }
    // the two lanes reconcile DISJOINT stores from the same (alive,
    // dead, hashProvider) inputs — overlap them (guide §2.6); the hash
    // lane's counts are the returned census either way
    val Seq(hashCounts, _) = graft.GraftSession.concurrently(Seq(
      () => lane(hashIndexDir, "hashes",
        (df, t) => Multimodal.ahashIndexAppend(df, hashIndexDir, t),
        (df, t) => Multimodal.ahashIndexDelete(spark, hashIndexDir, df, t),
        t => Multimodal.compactAhashIndex(spark, hashIndexDir, t)),
      () => lane(chunkIndexDir, "chunks",
        (df, t) => Multimodal.ahashChunkIndexAppend(df, chunkIndexDir, t),
        (df, t) => Multimodal.ahashChunkIndexDelete(spark, chunkIndexDir, df, t),
        t => Multimodal.compactAhashChunkIndex(spark, chunkIndexDir, t))))
    hashCounts
  }

  /** One-call REPLICA → K-NN-GRAPH sync — closing the reconcile facade
    * matrix over all FOUR index families ([[syncVectorIndex]]: codes,
    * [[syncDedupIndex]]: text, [[syncAhashIndex]]: perceptual, here:
    * the graph store): diff the state store's live/dead key sets
    * against the graph's SEARCHABLE vertex set (committed edge
    * endpoints minus committed tombstones), tombstone dead searchable
    * vertices ([[graft.operators.ann.KnnGraph.delete]] — they keep
    * ROUTING until compaction, the HNSW soft-delete rule) and
    * greedy-link live unindexed vectors
    * ([[graft.operators.ann.KnnGraph.append]] — O(batch · degree), no
    * corpus pass), both tag-idempotent. `embProvider` supplies
    * (vec_id, embedding) and must cover the graph's committed vertices
    * as well as the link side (the append contract — at scale a
    * point-lookup-shaped join against the embedding store; an
    * uncovered vertex silently stops scoring and the search routes
    * around it). Tombstones are KILL-ALL, so a deleted-then-reinserted
    * replica row resurrects via compact-then-relink — detected and run
    * automatically ([[syncVectorIndex]]'s resurrection path; the
    * compact also drops the dead vertices' edges physically, after
    * which the normal link path restores the row). An EMPTY store
    * bootstraps on the first cycle via
    * [[graft.operators.ann.KnnGraph.build]] (greedy linking needs
    * committed edges to search; a full cell-keyed construction is the
    * right first move anyway); later cycles link incrementally.
    * Returns (nDeleted, nLinked) — metadata-sized counts; a
    * steady-state cycle is (0, 0).
    */
  def syncGraphIndex(spark: SparkSession, stateDir: String,
      spec: Materializer.Spec, idCol: String, embProvider: DataFrame,
      indexDir: String, tag: String): (Long, Long) = {
    val (alive, dead) = liveDeadSets(spark, stateDir, spec, idCol, "vec_id")
    syncGraphCore(spark, alive, dead, embProvider, indexDir, tag)
  }

  private def syncGraphCore(spark: SparkSession, alive: DataFrame,
      dead: DataFrame, embProvider: DataFrame, indexDir: String,
      tag: String): (Long, Long) = {
    import graft.operators.ann.KnnGraph
    IndexManifest.requireTag(tag, "sync tag")
    // resurrection: a live replica id with a standing (kill-all)
    // tombstone becomes searchable again only through compaction
    if (!alive.join(KnnGraph.tombstonedIds(spark, indexDir),
        Seq("vec_id"), "left_semi").isEmpty)
      KnnGraph.compact(spark, indexDir, s"sync-$tag-rc")
    // vertex set = either endpoint: append writes fwd + rev so a linked
    // vector always appears as vec_id, but a build-time vertex can sit
    // only on the nbr side of a sparse cell — the union is exact
    val searchable =
      if (KnnGraph.leafCount(indexDir) == 0)
        spark.range(0).select(col("id").as("vec_id"))
      else {
        val e = KnnGraph.edges(spark, indexDir)
        e.select(col("vec_id"))
          .unionByName(e.select(col("nbr_id").as("vec_id"))).distinct()
          .join(KnnGraph.tombstonedIds(spark, indexDir), Seq("vec_id"),
            "left_anti")
      }
    // single-pass diffs (the syncVectorIndex device): census + commit
    // read ONE persisted computation of each diff
    val toDelete = searchable.join(dead, Seq("vec_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toLink = embProvider.join(alive, Seq("vec_id"), "left_semi")
      .join(searchable, Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDel = toDelete.count()
      if (nDel > 0)
        KnnGraph.delete(spark, indexDir, toDelete, s"sync-$tag-del")
      val nAdd = toLink.count()
      if (nAdd > 0) {
        if (KnnGraph.leafCount(indexDir) == 0) {
          // cell count sized to the batch (~64 vectors per cell, floor
          // 1): a tiny bootstrap stays single-cell so EVERY vector
          // provably gets edges, a large one stays Σ|cell|²-bounded. A
          // vector stranded alone in a sparse cell self-heals anyway:
          // still alive-and-unindexed next cycle, the append path links
          // it (greedy linking always writes the forward edges)
          val nlist = math.max(1L, math.min(256L, nAdd / 64L)).toInt
          KnnGraph.build(toLink, indexDir, s"sync-$tag-add", nlist = nlist)
        } else
          KnnGraph.append(spark, indexDir, embProvider, toLink,
            s"sync-$tag-add")
      }
      (nDel, nAdd)
    } finally { toDelete.unpersist(); toLink.unpersist(); () }
  }

  /** ONE replica scan, up to FOUR reconciles — the full-fleet form of
    * the facade matrix. Each individual facade reads the replica's
    * live/dead key sets itself, so a deployment syncing all four index
    * families from one replica pays the (at 100 TB, dominant)
    * state-store scan four times; here the sets are computed ONCE,
    * persisted, and fanned out to the same per-family cores — identical
    * semantics (per-family diffs, tag idempotency, automatic
    * resurrection compaction, fixpoint replay), one scan (asserted
    * against [[Materializer.stateReads]] in the specs). Families are
    * opt-in:
    *
    *  - `vector`: (indexDir, embProvider) — [[syncVectorIndex]]'s core
    *  - `dedup`:  (indexDir, docProvider, bid) — [[syncDedupIndex]]'s
    *  - `ahash`:  (hashIndexDir, chunkIndexDir, hashProvider) —
    *    [[syncAhashIndex]]'s
    *  - `graph`:  (indexDir, embProvider) — [[syncGraphIndex]]'s
    *
    * This form keys every family on the SAME replica column (`idCol`)
    * — the case where one replica table feeds every index. A fleet
    * whose families key on different columns (or different replica
    * slices) uses [[syncAllIndexesKeyed]], which shares the scan per
    * distinct key. Returns family → (nDeleted, nAdded) for the
    * families requested.
    */
  def syncAllIndexes(spark: SparkSession, stateDir: String,
      spec: Materializer.Spec, idCol: String, tag: String,
      vector: Option[(String, DataFrame)] = None,
      dedup: Option[(String, DataFrame, Long)] = None,
      ahash: Option[(String, String, DataFrame)] = None,
      graph: Option[(String, DataFrame)] = None): Map[String, (Long, Long)] = {
    val k = ReplicaKey(idCol)
    syncAllIndexesKeyed(spark, stateDir, spec, tag,
      vector = vector.map { case (dir, embP) => (k, dir, embP) },
      dedup = dedup.map { case (dir, docP, bid) => (k, dir, docP, bid) },
      ahash = ahash.map { case (h, c, hashP) => (k, h, c, hashP) },
      graph = graph.map { case (dir, embP) => (k, dir, embP) })
  }

  /** [[syncAllIndexes]] generalized to MIXED replica keying: each
    * family carries its own [[ReplicaKey]] — id column plus optional
    * replica-slice predicate — so a deployment whose vector store keys
    * on `vec_id` from one replica table while the dedup index keys on
    * `doc_id` from another still runs as ONE fleet call. The one-scan
    * contract holds per DISTINCT key: families sharing a ReplicaKey
    * share one persisted live/dead computation (the pipe14 property),
    * and the scan count grows with distinct keys, not families —
    * minimal by construction (each distinct key's sets genuinely
    * differ, and each scan stays projection-pruned to that key's
    * columns, which a single wide shared scan would forfeit).
    */
  def syncAllIndexesKeyed(spark: SparkSession, stateDir: String,
      spec: Materializer.Spec, tag: String,
      vector: Option[(ReplicaKey, String, DataFrame)] = None,
      dedup: Option[(ReplicaKey, String, DataFrame, Long)] = None,
      ahash: Option[(ReplicaKey, String, String, DataFrame)] = None,
      graph: Option[(ReplicaKey, String, DataFrame)] = None):
      Map[String, (Long, Long)] = {
    IndexManifest.requireTag(tag, "sync tag")
    val keys = (vector.map(_._1).toSeq ++ dedup.map(_._1) ++
      ahash.map(_._1) ++ graph.map(_._1)).distinct
    // one persisted live/dead pair per DISTINCT key — materialized up
    // front so every family core reads the same computation
    val sets: Map[ReplicaKey, (DataFrame, DataFrame)] = keys.map { k =>
      val (aliveRaw, deadRaw) = liveDeadSets(spark, stateDir, spec, k, "rid")
      val alive = aliveRaw
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dead = deadRaw
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      alive.count(); dead.count()
      k -> (alive, dead)
    }.toMap
    def as(k: ReplicaKey, key: String): (DataFrame, DataFrame) = {
      val (alive, dead) = sets(k)
      (alive.withColumnRenamed("rid", key),
        dead.withColumnRenamed("rid", key))
    }
    // the family cores are INDEPENDENT — disjoint store directories,
    // shared inputs already materialized (the persisted sets above) —
    // so they overlap (graft.GraftSession.concurrently, guide §2.6):
    // each core is a chain of small metadata-sized jobs whose tails
    // would otherwise serialize the whole fleet cycle
    val cores: Seq[() => (String, (Long, Long))] = Seq(
      vector.map { case (k, dir, embP) => () => {
        val (alive, dead) = as(k, "vec_id")
        "vector" -> syncVectorCore(spark, alive, dead, dir, embP, tag) } },
      dedup.map { case (k, dir, docP, bid) => () => {
        val (alive, dead) = as(k, "doc_id")
        "dedup" -> syncDedupCore(spark, alive, dead, docP, dir, tag, bid) } },
      ahash.map { case (k, hDir, cDir, hashP) => () => {
        val (alive, dead) = as(k, "media_id")
        "ahash" -> syncAhashCore(spark, alive, dead, hashP, hDir, cDir,
          tag) } },
      graph.map { case (k, dir, embP) => () => {
        val (alive, dead) = as(k, "vec_id")
        "graph" -> syncGraphCore(spark, alive, dead, embP, dir, tag) } }
    ).flatten
    try graft.GraftSession.concurrently(cores).toMap
    finally sets.values.foreach { case (a, d) =>
      a.unpersist(); d.unpersist()
    }
  }

  /** The ONE-CALL live engine — the full equivalent of the reference's
    * `WalEx.Supervisor.start_link(config)` + `use WalEx.Event` setup:
    * connect to the config's database, stream its publication into
    * `walDir`, and run the handler engine over it, all from the config.
    * Returns the supervised replicator and the streaming query; stop the
    * query first, then `close()` the replicator.
    *
    * Delivery time is bounded in both halves: the tailer puts a
    * committed transaction on disk within `idleMs` (see [[replicate]]),
    * and [[start]] caps the query's state width at one wave of task
    * slots, so each micro-batch pays one round of state-store commits.
    */
  def startLive(spark: SparkSession, config: GraftConfig, walDir: String,
      engine: Engine, trigger: Trigger = Trigger.ProcessingTime(0L),
      unixSocketDir: Option[String] = None,
      framesPerSegment: Int = 4096, idleMs: Long = 2000L)
      : (graft.sources.replication.Replicator, StreamingQuery) = {
    val repl = replicate(config, walDir, unixSocketDir, framesPerSegment, idleMs)
    try (repl, start(spark, config, walDir, engine, trigger))
    catch { case e: Throwable => repl.close(); throw e }
  }

  /** Start the full engine: events → registered handlers, supervised per
    * the slot-durability semantics of `config`. The query runs at
    * `min(spark.sql.shuffle.partitions, defaultParallelism)` state
    * partitions (see [[withQueryConf]]); a checkpointed query keeps the
    * width it was created with.
    */
  def start(spark: SparkSession, config: GraftConfig, walDir: String,
      engine: Engine, trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    config.effectiveLedger.foreach(engine.withDeliveryLedger)
    withQueryConf(spark, config) {
      engine.start(events(spark, config, walDir),
        checkpoint = config.effectiveCheckpoint,
        trigger = trigger,
        queryName = s"graft-${config.appName}")
    }
  }

  /** Current-state REPLICA in one call: the config's change stream applied
    * into a [[Materializer]] store at `stateDir` — "keep a lake table in
    * sync with the database", the consumer the reference's README lists
    * first and leaves to hand-rolled callbacks. Rows are keyed by
    * (source table, `keyField` from the event payload) and versioned by
    * the stream's monotone `seq`; deletes tombstone. The payload is the
    * generic record map — schema-agnostic, so mid-stream DDL flows
    * through; pair with [[bootstrap]] for a full initial-sync + live
    * replica pipeline, and [[Materializer.compact]] past the consumer
    * floor. `stateDir` (like `walDir`) may be `hdfs://`/`s3a://`.
    */
  def materialize(spark: SparkSession, config: GraftConfig, walDir: String,
      stateDir: String, keyField: String = "id", buckets: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0): StreamingQuery = {
    val ev = events(spark, config, walDir)
    val rec = coalesce(col("new_record"), col("old_record"))
    val rows = ev.select(
      col("name").as("table_name"),
      element_at(rec, keyField).as("record_key"),
      col("seq"), col("type").as("op"),
      col("lsn"), col("timestamp_ms"),
      rec.as("record"))
    val spec = Materializer.Spec(
      keyCols = Seq("table_name", "record_key"), buckets = buckets)
    // in-stream retention cadence: the applier holds the store's fence,
    // so it is the only party that can compact a LIVE replica; the floor
    // is the consumer-ack file's committed frame count (frames below it
    // can never replay, so their tombstones are dead weight)
    val floorProvider: () => Option[Long] =
      if (compactEvery <= 0) () => None
      else () => config.ackPath.flatMap(
        graft.sources.replication.ReplicationTailer.committedFrames(_)
          .map(_ - 1L))
    withQueryConf(spark, config) {
      var w = rows.writeStream
        .foreachBatch(Materializer.sink(stateDir, spec, compactEvery, floorProvider))
        .queryName(s"graft-materialize-${config.appName}")
        .trigger(trigger)
      config.effectiveCheckpoint.foreach(c => w = w.option("checkpointLocation", c))
      w.start()
    }
  }

  /** [[Materializer.Spec]] that [[materialize]] uses — for reading the
    * store back ([[Materializer.currentState]]) or compacting it.
    */
  def materializeSpec(buckets: Int = 64): Materializer.Spec =
    Materializer.Spec(keyCols = Seq("table_name", "record_key"), buckets = buckets)

  /** Query-scoped confs for the facade's streaming starts. Both are
    * SESSION confs that Spark pins per query at `.start()` (the
    * StreamingQueryManager clones the session synchronously), so each is
    * set for this start call only and restored after — an unset key is
    * unset again — and later queries on the same shared SparkSession see
    * the session unchanged:
    *  - the config's state-store provider (e.g. RocksDB), when it names
    *    one;
    *  - the state WIDTH: `spark.sql.shuffle.partitions` capped at
    *    `sparkContext.defaultParallelism`, one wave of task slots. The
    *    assembler's state is the open transactions only (KB-scale), and
    *    Spark never coalesces a stateful operator's partitions, so every
    *    partition past the slot count only adds another wave of
    *    per-store commits to each micro-batch — a fixed cost that sets
    *    live latency (QueryPack.withStreamShuffle measured the same
    *    effect). A query resumed from a checkpoint keeps the width its
    *    checkpoint recorded; Spark restores that over the session value.
    */
  private def withQueryConf[A](spark: SparkSession, config: GraftConfig)
      (body: => A): A = {
    val width = "spark.sql.shuffle.partitions"
    val scoped = Seq(width -> math.min(spark.conf.get(width).toInt,
      spark.sparkContext.defaultParallelism).toString) ++
      config.stateStoreProvider.map("spark.sql.streaming.stateStore.providerClass" -> _)
    // conf.getOption surfaces the DEFAULT for unset keys — ask the
    // session conf whether the key was explicitly set, so restore
    // doesn't freeze a default into an explicit value
    val prev = scoped.map { case (k, _) =>
      k -> (if (spark.sessionState.conf.contains(k)) Some(spark.conf.get(k)) else None)
    }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The JDBC lane's one-call equivalent of [[start]]: the config's
    * connection fields (the reference's config surface) become the polling
    * source's url/credentials/filters, and the same Event-view → dispatch
    * pipeline runs on top. `extraOptions` lets tests and non-Postgres
    * deployments override url/driver.
    */
  def startJdbc(spark: SparkSession, config: GraftConfig, changeTable: String,
      engine: Engine, trigger: Trigger = Trigger.ProcessingTime(0L),
      extraOptions: Map[String, String] = Map.empty): StreamingQuery = {
    val opts = config.jdbcSourceOptions(changeTable) ++ extraOptions
    require(opts.contains("url"),
      s"config '${config.appName}': set hostname+database (postgres url) " +
        "or pass url via extraOptions")
    config.effectiveLedger.foreach(engine.withDeliveryLedger)
    withQueryConf(spark, config) {
      engine.start(
        eventsFromJdbc(spark, opts),
        checkpoint = config.effectiveCheckpoint,
        trigger = trigger,
        queryName = s"graft-${config.appName}")
    }
  }

  // ---- crawl-loop facades: the persisted-index loops as one call ----

  /** Per-micro-batch wall times of the crawl-loop facades, keyed by query
    * name — the measured STEADY-STATE per-increment cost the whole-loop
    * bench envelope can't show (that figure includes index bootstrap).
    * Bench reads this after its passes; tests may [[CrawlMetrics.clear]].
    */
  object CrawlMetrics {
    private val samples =
      new scala.collection.concurrent.TrieMap[String, Vector[Double]]()
    private[graft] def record(query: String, secs: Double): Unit = {
      samples.updateWith(query) {
        case Some(xs) => Some(xs :+ secs)
        case None => Some(Vector(secs))
      }
      ()
    }
    def snapshot(query: String): Vector[Double] =
      samples.getOrElse(query, Vector.empty)
    def clear(): Unit = samples.clear()

    /** Time `body`, record its wall seconds under `query` — the one
      * wrapper behind every crawl-loop bootstrap/increment meter.
      */
    private[graft] def timed[A](query: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      record(query, (System.nanoTime() - t0) / 1e9)
      r
    }
  }

  /** The DEDUP crawl loop as one call — the [[materialize]] shape for the
    * near-dup index: each micro-batch of (doc_id, text) documents is
    * screened against the persisted band index
    * ([[graft.operators.dedup.Dedup.screenAgainstIndex]] — partition-
    * pruned to the batch's hash groups), matched (batch_id, corpus_id,
    * jaccard) pairs append to `pairsDir`, and the batch then folds INTO
    * the index as an immutable leaf, so later batches screen against it.
    *
    * Delivery: the fold is EXACTLY-ONCE (leaf tags derive from the
    * stable foreachBatch batch id; [[graft.operators.dedup.Dedup
    * .dedupIndexAppend]] no-ops on a tag already folded), the pairs sink
    * is at-least-once (replays can re-append pair files — dedupe
    * downstream or read with `dropDuplicates`). Per-batch cost: shingle
    * the batch, one pruned equi-join, one O(batch) leaf append —
    * independent of corpus size.
    *
    * If the stream carries an `op` column, rows with op == "delete" are
    * DELETE notices (the recrawl-found-it-gone / replica-DELETE case):
    * their doc_ids tombstone the index ([[graft.operators.dedup.Dedup
    * .dedupIndexDelete]], tag-idempotent, batch-id ordered so a LATER
    * re-crawl of the same doc_id revives it) and they are neither
    * screened nor folded; all other rows — including op NULL — are
    * upserts. Streams without an `op` column behave as before.
    *
    * `compactEvery` (0 = never) is the in-stream small-file maintenance
    * cadence — the [[Materializer.sink]] discipline on the index axis:
    * every `compactEvery` batches the loop folds its accumulated leaves
    * to one ([[graft.operators.dedup.Dedup.compactDedupIndex]],
    * deterministic per-bid tag so replays no-op). The loop is the
    * store's single writer, so IT owns the cadence; compaction is
    * ONLINE-SAFE under the index manifest's retained-leaf grace window
    * — concurrent screens planned against earlier manifests keep their
    * files — which is what keeps a long-running crawl's directory
    * bounded without stopping the stream.
    */
  def screenAndFold(docs: DataFrame, indexDir: String, pairsDir: String,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      queryName: String = "graft-screen-and-fold",
      compactEvery: Int = 0): StreamingQuery = {
    val spark = docs.sparkSession
    var w = docs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      CrawlMetrics.timed(queryName) {
        val hasOp = batch.columns.contains("op")
        // null-safe: an op of NULL (unknown change type) is an upsert,
        // never a silently dropped row
        val upserts =
          if (hasOp) batch.filter(!(col("op") <=> "delete")).drop("op")
          else batch
        if (hasOp) {
          val deletes = batch.filter(col("op") === "delete").select(col("doc_id"))
          if (!deletes.isEmpty)
            graft.operators.dedup.Dedup
              .dedupIndexDelete(spark, indexDir, deletes, f"d$bid%06d",
                bid = bid)
        }
        // ONE shingle pass per micro-batch feeds the screen (three
        // consumers) and the fold (two writes) — released before the
        // next batch, so the loop pins O(batch) state, never O(crawl)
        val bsh = graft.operators.dedup.Dedup.shingledOf(upserts)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the screen PLAN resolves its manifest snapshot HERE, before
          // the fold can commit — a batch must screen against the
          // pre-fold index, never itself (construction also runs the
          // touched-group collect, so the snapshot is pinned, and
          // retained manifests keep their leaves on disk through the
          // concurrent fold — the online-compaction grace rule)
          val screened = graft.operators.dedup.Dedup
            .screenAgainstIndexShingled(spark, indexDir, bsh, numHashes,
              bands, threshold)
          // …then the two store actions are INDEPENDENT — disjoint
          // sinks (pairs parquet vs the index's fresh leaf), shared
          // input pinned — so they overlap (guide §2.6); the pairs sink
          // was always at-least-once and the fold tag-idempotent, so
          // ordering between them was never a delivery guarantee
          graft.GraftSession.concurrently(Seq(
            () => screened.write.mode("append").parquet(pairsDir),
            () => graft.operators.dedup.Dedup
              .dedupIndexAppendShingled(bsh, indexDir, f"b$bid%06d",
                numHashes, bands, bid = bid)), maxPar = 2)
        } finally { bsh.unpersist(); () }
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          graft.operators.dedup.Dedup
            .compactDedupIndex(spark, indexDir, f"c$bid%06d")
      }
    }.queryName(queryName).trigger(trigger)
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    w.start()
  }

  /** The EMBEDDING crawl loop as one call: each micro-batch of (vec_id,
    * embedding) vectors is searched against the persisted IVF+PQ index
    * ([[graft.operators.ann.PqIndex.topKIvfAgainst]] — cell-pruned probe
    * + exact-ADC + cosine rerank), per-query top-k matches append to
    * `matchesDir`, and the batch is then appended into the index (encode
    * against STORED codebooks, one immutable leaf) so later batches can
    * retrieve it. `embProvider` supplies raw embeddings for the rerank
    * shortlist by vec_id — at scale a point-lookup-shaped join against
    * the embedding store; it must cover previously indexed ids (the
    * arriving batch's own vectors are added to it per batch).
    *
    * Delivery: the index fold is EXACTLY-ONCE (batch-id idempotency tag
    * on [[graft.operators.ann.PqIndex.append]]); the matches sink is
    * at-least-once. `compactEvery` (0 = never) folds the accumulated
    * code leaves to one every `compactEvery` batches
    * ([[graft.operators.ann.PqIndex.compact]], deterministic per-bid
    * tag) — the loop owns the maintenance cadence as the store's single
    * writer; searches planned against retained manifests keep working
    * through it.
    */
  def searchAndAppend(vecs: DataFrame, indexDir: String, matchesDir: String,
      embProvider: DataFrame, nprobe: Int = 4, k: Int = 5, rerank: Int = 32,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      queryName: String = "graft-search-and-append",
      compactEvery: Int = 0): StreamingQuery = {
    val spark = vecs.sparkSession
    var w = vecs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      CrawlMetrics.timed(queryName) {
        val queries = batch.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))
        // the search PLAN resolves its manifest snapshot (and collects
        // its probe cells) HERE, before the append can commit — a batch
        // must search the pre-append index, never itself
        val matches = graft.operators.ann.PqIndex
          .topKIvfAgainst(spark, indexDir, queries,
            embProvider.unionByName(batch.select(col("vec_id"), col("embedding"))),
            nprobe, k, rerank)
        // …then the matches write and the index append are INDEPENDENT
        // — disjoint sinks, snapshot pinned — and overlap (guide §2.6);
        // matches were always at-least-once, the append tag-idempotent
        graft.GraftSession.concurrently(Seq(
          () => matches.write.mode("append").parquet(matchesDir),
          () => graft.operators.ann.PqIndex
            .append(spark, indexDir, batch, tag = Some(f"b$bid%06d"))),
          maxPar = 2)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          graft.operators.ann.PqIndex
            .compact(spark, indexDir, tag = Some(f"c$bid%06d"))
        ()
      }
    }.queryName(queryName).trigger(trigger)
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    w.start()
  }

  /** The GRAPH crawl loop as one call — [[searchAndAppend]]'s shape on
    * the persisted k-NN graph: each micro-batch of (vec_id, embedding)
    * vectors greedy-searches the committed edge store for its top-k
    * neighbors ([[graft.operators.ann.KnnGraph.searchForLink]] — hub
    * seeds, candidates only from stored edges, cost independent of
    * corpus size), the matches append to `matchesDir`, and the SAME
    * search's results then link the batch into the graph
    * ([[graft.operators.ann.KnnGraph.linkFound]] — forward + reverse
    * edges, one immutable leaf) so later batches can reach it. One
    * search serves both outputs: it returns its rows already collected
    * to the driver, so the two writes read them without a pin. An
    * EMPTY store bootstraps from the first batch
    * ([[graft.operators.ann.KnnGraph.build]], batch-sized cell count —
    * the [[syncGraphIndex]] rule) with zero matches.
    *
    * `embProvider` supplies raw embeddings for exact scoring by vec_id
    * — at scale a point-lookup-shaped join against the embedding
    * store; it must cover previously linked ids (the arriving batch's
    * own vectors are added per batch).
    *
    * Delivery: the link fold is EXACTLY-ONCE — batch-id idempotency
    * tags on the leaf commit, and tags a replace commit (refine) folds
    * away are RETIRED into the manifest's `donetags` param rather than
    * erased, so a checkpoint-replayed batch whose leaf an intervening
    * refine rewrote still no-ops instead of re-linking duplicate edges.
    * The matches sink is at-least-once.
    * `refineEvery` (0 = never) runs one NN-descent round every that
    * many batches ([[graft.operators.ann.KnnGraph.refine]] — repairs
    * the reverse edges' rank-k approximations, drops tombstoned
    * vertices physically, and doubles as compaction: the result
    * replaces every committed leaf). The loop owns the maintenance
    * cadence as the store's single writer; searches planned against
    * retained manifests keep working through it.
    */
  def searchAndLink(vecs: DataFrame, indexDir: String, matchesDir: String,
      embProvider: DataFrame, k: Int = 3, hops: Int = 2, beam: Int = 8,
      nSeeds: Int = 16, checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      queryName: String = "graft-search-and-link",
      refineEvery: Int = 0): StreamingQuery = {
    import graft.operators.ann.KnnGraph
    val spark = vecs.sparkSession
    var w = vecs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      CrawlMetrics.timed(queryName) {
        val emb = embProvider.unionByName(
          batch.select(col("vec_id"), col("embedding")))
        if (KnnGraph.leafCount(indexDir) == 0) {
          val n = batch.count()
          val nlist = math.max(1L, math.min(256L, n / 64L)).toInt
          KnnGraph.build(batch, indexDir, f"b$bid%06d", nlist = nlist)
        } else {
          // the search returns rows already collected to the driver, so
          // its two consumers read them without a pin. They are
          // INDEPENDENT — disjoint sinks (matches parquet vs the edge
          // store) — and overlap (guide §2.6); ordering was never a
          // delivery guarantee (matches are at-least-once, the link fold
          // is tag-idempotent, and a crash between the two was already
          // possible in either order)
          val found = KnnGraph.searchForLink(spark, indexDir, emb, batch,
            nSeeds, hops, beam, k)
          graft.GraftSession.concurrently(Seq(
            () => found.write.mode("append").parquet(matchesDir),
            () => KnnGraph.linkFound(spark, indexDir, found,
              f"b$bid%06d", k)), maxPar = 2)
        }
        if (refineEvery > 0 && (bid + 1) % refineEvery == 0)
          KnnGraph.refine(spark, indexDir, emb, f"r$bid%06d", k)
      }
    }.queryName(queryName).trigger(trigger)
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    w.start()
  }
}
