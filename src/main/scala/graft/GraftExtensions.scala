package graft

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** SQL surface for the library's native expressions: register via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`), then use
  * them from plain SQL — the lane a SQL-first user (or a JDBC/Thrift
  * client) reaches the engine through:
  *
  * {{{
  *   SELECT cosine_similarity(a.embedding, b.embedding)      -- ANN verify
  *   SELECT pg_array_parse(cell)                              -- D12
  *   SELECT map_changed_fields(old_rec, new_rec, toast_cols)  -- P5 diff
  *   SELECT minhash_band_buckets(shingle_hashes, 64, 16)      -- dd03 lane
  * }}}
  *
  * All functions resolve to the same codegen'd expressions the Column API
  * uses — no UDF wrappers, whole-stage codegen preserved. Sketch-parameter
  * arguments (band/bit/width counts) must be INT literals: they shape the
  * expression itself, exactly as in the Column API.
  */
/** The index-store TABLE functions — the SQL read surface over every
  * persisted store family in the repo (dedup band/set index, PQ/IVF
  * codes, multimodal hash/chunk indexes, the k-NN edge store: anything
  * committed through [[graft.operators.store.IndexManifest]]):
  *
  * {{{
  *   SELECT * FROM graft_index('/indexes/neardup', 'bands')        -- committed read
  *   SELECT * FROM graft_index_at('/indexes/graph', 'edges', 41)   -- time travel
  *   SELECT * FROM graft_index('/indexes/graph', 'tombs')          -- takedown set
  *   SELECT * FROM graft_index_meta('/indexes/neardup')            -- the catalog row
  *   SELECT * FROM graft_state('/replica', 'table_name,record_id') -- CDC replica rows
  *   SELECT * FROM graft_state_at('/replica', 'table_name,record_id', 7)
  * }}}
  *
  * Each call resolves the store's manifest AT PLAN TIME and returns the
  * stock parquet scan RESTRICTED to the committed leaves — `leaf` is a
  * partition column, so the restriction plans as a `PartitionFilters`
  * prune (exactly the Scala API's `committedOnly` read: crash residue
  * and torn appends are invisible, a committed-empty relation reads
  * zero rows, a directory without a manifest is refused). Every
  * further SQL filter/projection lands on a plain parquet relation and
  * pushes down as usual — the TVF adds a leaf pinning, never a new
  * reader. `graft_index_at` pins a RETAINED version (leaves AND the
  * tombstone relation resolve from that snapshot's manifest) and throws
  * beyond the store's dialed grace window, the dd23 rule. Arguments
  * must be literals: the manifest resolution shapes the plan itself.
  *
  * Registration: builder-time via `withExtensions(new GraftExtensions)`
  * / `spark.sql.extensions`, or on a LIVE session via
  * [[GraftExtensions.registerIndexTableFunctions]] (idempotent) — the
  * lane Verify/notebook sessions use.
  */
object GraftExtensions {
  import graft.operators.store.IndexManifest

  private def strArg(args: Seq[Expression], i: Int, fn: String): String =
    args(i) match {
      case l @ Literal(_, StringType) if l.value != null => l.value.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a STRING literal, got ${other.sql}")
    }

  private def longArg(args: Seq[Expression], i: Int, fn: String): Long =
    args(i) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType)   => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an INT/BIGINT literal, got ${other.sql}")
    }

  private def intArgOr(args: Seq[Expression], i: Int, fn: String,
      default: Int): Int =
    if (args.length > i) {
      val v = longArg(args, i, fn)
      // a BIGINT literal outside Int range would wrap on .toInt — give
      // it the same loud argument error every other shape gets
      if (v < Int.MinValue || v > Int.MaxValue)
        throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} is out of INT range: $v")
      v.toInt
    } else default

  /** A TVF argument naming the CALLER-SIDE relation (the batch to
    * screen, the queries to search with): the name of a registered
    * temp view / table, resolved on the active session at plan time.
    * SQL stages its input with `CREATE OR REPLACE TEMP VIEW batch AS
    * ...`, then passes the view NAME — the one literal-argument shape
    * a table function can carry a whole relation through.
    */
  private def viewArg(args: Seq[Expression], i: Int,
      fn: String): org.apache.spark.sql.DataFrame = {
    val name = strArg(args, i, fn)
    try SparkSession.active.table(name)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must name a registered temp view/table " +
          s"holding the input rows; '$name' did not resolve: ${e.getMessage}")
    }
  }

  /** The committed (or as-of) read as a LOGICAL PLAN: the stock parquet
    * scan of `<path>/<rel>` leaf-pruned to the resolved manifest — the
    * tombstone relation (`rel == "tombs"`) prunes on the manifest's
    * tomb list, every data relation on its leaf list.
    */
  private def indexPlan(path: String, rel: String,
      meta: IndexManifest.Meta): LogicalPlan = {
    IndexManifest.requireTag(rel, "relation name")
    IndexManifest.committedOnly(
        SparkSession.active.read.parquet(s"$path/$rel"), meta.liveOf(rel))
      .queryExecution.logical
  }

  private def headMeta(path: String): IndexManifest.Meta =
    IndexManifest.readMeta(path).getOrElse(
      throw new IllegalArgumentException(
        s"$path holds no committed index manifest"))

  /** Encoder-free DataFrame construction — a TVF builder may run inside a
    * REPL session where product-encoder reflection is unreliable.
    */
  private def rowsPlan(rows: Seq[Row],
      fields: (String, DataType)*): LogicalPlan = {
    import org.apache.spark.sql.types.{StructField, StructType}
    import scala.jdk.CollectionConverters._
    SparkSession.active.createDataFrame(rows.asJava,
        StructType(fields.map { case (n, t) => StructField(n, t, false) }))
      .queryExecution.logical
  }

  /** One catalog row for the store: the current manifest's version,
    * group dial, leaf/tomb census, and dialed retention window — the
    * DESCRIBE surface an auditor joins against before picking an
    * `asOfVersion` (pair with
    * [[graft.operators.store.IndexManifest.retainedVersions]]).
    */
  private def metaPlan(path: String): LogicalPlan = {
    import org.apache.spark.sql.functions.lit
    val m = headMeta(path)
    SparkSession.active.range(1).select(
      lit(m.version).as("version"),
      lit(m.groups).as("groups"),
      lit(m.leaves.size).as("n_leaves"),
      lit(m.tombs.size).as("n_tombs"),
      lit(IndexManifest.retentionOf(m)).as("retain"))
      .queryExecution.logical
  }

  /** One row per RETAINED manifest version — the DESCRIBE HISTORY move:
    * the time-travel catalog an auditor joins against to pick an
    * `asOfVersion` for [[graft_index_at]]. Exactly the versions
    * [[graft.operators.store.IndexManifest.readMetaAt]] can still
    * reach; each row carries that snapshot's leaf/tomb census.
    */
  private def historyPlan(path: String): LogicalPlan =
    rowsPlan(IndexManifest.history(path).map(m =>
        Row(m.version, m.groups, m.leaves.size, m.tombs.size)),
      "version" -> LongType, "groups" -> IntegerType,
      "n_leaves" -> IntegerType, "n_tombs" -> IntegerType)

  /** One row per RETAINED state-store manifest version — the CDC
    * replica's DESCRIBE HISTORY (the [[historyPlan]] move on the
    * Materializer store): exactly the versions `graft_state_at` can
    * still pin, each with that snapshot's bucket dial, leaf census,
    * truncate-watermark count, and effective retention window.
    */
  private def stateHistoryPlan(path: String): LogicalPlan = {
    val history = IndexManifest.history(path)
    if (history.isEmpty) throw new IllegalArgumentException(
      s"graft_state_history: $path holds no materialized state (no manifest)")
    rowsPlan(history.map(m =>
        Row(m.version, m.groups, m.leaves.size, m.truncates.size,
          IndexManifest.retentionOf(m))),
      "version" -> LongType, "nbuckets" -> IntegerType,
      "n_leaves" -> IntegerType, "n_truncates" -> IntegerType,
      "retain" -> IntegerType)
  }

  /** One row per STORE under a root path — the fleet-discovery catalog
    * (compose with [[graft_index_history]] / [[graft_index_meta]] for
    * drill-down): child directories holding a committed manifest list
    * with their family (the manifest's recorded `kind`), head version, group dial, leaf/tomb census, and dialed retention — an
    * auditor enumerates a deployment's stores without deployment
    * knowledge. Metadata-only: one FS listing + one manifest read per
    * store, no data scan.
    */
  private def storesPlan(root: String): LogicalPlan = {
    val (fs, rootPath) = graft.sources.cdc.WalSegments.fsFor(root)
    val kids =
      try fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath).toSeq
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"graft_stores: $root does not exist")
      }
    // a Materializer STATE store (the CDC replica) catalogs too: family
    // "state", the bucket dial in the groups column (both are the store's
    // partition dial), tombstones not tracked as leaves (they are rows);
    // a manifest naming no family reads "unknown"
    val rows = kids.flatMap { p =>
      IndexManifest.readMeta(p.toString).map { m =>
        val family = if (m.kind == "index") "unknown" else m.kind
        Row(p.getName, family, m.version, m.groups, m.leaves.size,
          m.tombs.size, IndexManifest.retentionOf(m))
      }
    }.sortBy(_.getString(0))
    rowsPlan(rows, "store" -> StringType, "family" -> StringType,
      "version" -> LongType, "groups" -> IntegerType,
      "n_leaves" -> IntegerType, "n_tombs" -> IntegerType,
      "retain" -> IntegerType)
  }

  /** The SEARCH table functions — the engine's signature operations
    * reachable from plain SQL, planning the IDENTICAL logical plan as
    * the Scala calls (same group/cell prune, same tombstone anti-join,
    * same manifest snapshot — sql03/sql04 gate row-identity and
    * PlanAuditSpec pins the prunes):
    *
    * {{{
    *   CREATE OR REPLACE TEMP VIEW batch AS SELECT ...;   -- stage input
    *   SELECT * FROM graft_screen('/indexes/neardup', 'batch')
    *   SELECT * FROM graft_screen_hamming('/indexes/images', 'batch', 3)
    *   SELECT * FROM graft_topk('/indexes/vectors', 'queries', 'corpus_emb', 4, 5)
    *   SELECT * FROM graft_graph_topk('/indexes/graph', 'corpus_emb',
    *                                  'queries', 'seeds', 2, 8, 1)
    *   SELECT * FROM graft_stores('/indexes')             -- fleet catalog
    * }}}
    *
    * Relation-valued inputs (the batch to screen, the queries, the
    * embedding provider, the seeds) pass as temp-view NAMES — string
    * literals, the one shape a SQL TVF argument can carry a relation
    * through; scalar dials are optional trailing INT literals with the
    * Scala defaults.
    */
  private def searchFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_screen"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_screen"),
      (args: Seq[Expression]) => {
        require(args.length >= 2 && args.length <= 4,
          s"graft_screen expects (path, batch_view [, num_hashes, bands])," +
            s" got ${args.length} arguments")
        graft.operators.dedup.Dedup.screenAgainstIndex(SparkSession.active,
          strArg(args, 0, "graft_screen"), viewArg(args, 1, "graft_screen"),
          intArgOr(args, 2, "graft_screen", 64),
          intArgOr(args, 3, "graft_screen", 16))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_screen_hamming"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_screen_hamming"),
      (args: Seq[Expression]) => {
        require(args.length >= 2 && args.length <= 3,
          s"graft_screen_hamming expects (path, batch_view [, max_dist])," +
            s" got ${args.length} arguments")
        graft.operators.multimodal.Multimodal.screenAhashHamming(
          SparkSession.active, strArg(args, 0, "graft_screen_hamming"),
          viewArg(args, 1, "graft_screen_hamming"),
          intArgOr(args, 2, "graft_screen_hamming", 3))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_topk"),
      (args: Seq[Expression]) => {
        require(args.length >= 3 && args.length <= 6,
          s"graft_topk expects (path, queries_view, emb_view [, nprobe, " +
            s"k, rerank]), got ${args.length} arguments")
        graft.operators.ann.PqIndex.topKIvfAgainst(SparkSession.active,
          strArg(args, 0, "graft_topk"), viewArg(args, 1, "graft_topk"),
          viewArg(args, 2, "graft_topk"),
          intArgOr(args, 3, "graft_topk", 4),
          intArgOr(args, 4, "graft_topk", 5),
          intArgOr(args, 5, "graft_topk", 32))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_graph_topk"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_graph_topk"),
      (args: Seq[Expression]) => {
        require(args.length >= 4 && args.length <= 7,
          s"graft_graph_topk expects (path, emb_view, queries_view, " +
            s"seeds_view [, hops, beam, k]), got ${args.length} arguments")
        graft.operators.ann.KnnGraph.searchTopK(SparkSession.active,
          strArg(args, 0, "graft_graph_topk"),
          viewArg(args, 1, "graft_graph_topk"),
          viewArg(args, 2, "graft_graph_topk"),
          viewArg(args, 3, "graft_graph_topk"),
          intArgOr(args, 4, "graft_graph_topk", 2),
          intArgOr(args, 5, "graft_graph_topk", 8),
          intArgOr(args, 6, "graft_graph_topk", 5))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_stores"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_stores"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_stores expects (root), got ${args.length} arguments")
        storesPlan(strArg(args, 0, "graft_stores"))
      }),
    // the TIME-TRAVEL search lane from SQL — the as-of variants pin the
    // snapshot exactly like the Scala At-calls (leaves, dial, AND the
    // tombstone set resolve from the retained version; beyond-window
    // asks throw the loud window error): "what did this batch collide
    // with AS OF the nightly mark" without Scala, the dd23/ann25 rule
    (FunctionIdentifier("graft_screen_at"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_screen_at"),
      (args: Seq[Expression]) => {
        require(args.length >= 3 && args.length <= 5,
          s"graft_screen_at expects (path, batch_view, version " +
            s"[, num_hashes, bands]), got ${args.length} arguments")
        graft.operators.dedup.Dedup.screenAgainstIndexAt(
          SparkSession.active, strArg(args, 0, "graft_screen_at"),
          viewArg(args, 1, "graft_screen_at"),
          longArg(args, 2, "graft_screen_at"),
          intArgOr(args, 3, "graft_screen_at", 64),
          intArgOr(args, 4, "graft_screen_at", 16))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_screen_hamming_at"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_screen_hamming_at"),
      (args: Seq[Expression]) => {
        require(args.length >= 3 && args.length <= 4,
          s"graft_screen_hamming_at expects (path, batch_view, version " +
            s"[, max_dist]), got ${args.length} arguments")
        graft.operators.multimodal.Multimodal.screenAhashHammingAt(
          SparkSession.active, strArg(args, 0, "graft_screen_hamming_at"),
          viewArg(args, 1, "graft_screen_hamming_at"),
          longArg(args, 2, "graft_screen_hamming_at"),
          intArgOr(args, 3, "graft_screen_hamming_at", 3))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_topk_at"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_topk_at"),
      (args: Seq[Expression]) => {
        require(args.length >= 4 && args.length <= 7,
          s"graft_topk_at expects (path, queries_view, emb_view, version " +
            s"[, nprobe, k, rerank]), got ${args.length} arguments")
        graft.operators.ann.PqIndex.topKIvfAgainstAt(SparkSession.active,
          strArg(args, 0, "graft_topk_at"),
          viewArg(args, 1, "graft_topk_at"),
          viewArg(args, 2, "graft_topk_at"),
          longArg(args, 3, "graft_topk_at"),
          intArgOr(args, 4, "graft_topk_at", 4),
          intArgOr(args, 5, "graft_topk_at", 5),
          intArgOr(args, 6, "graft_topk_at", 32))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_graph_topk_at"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_graph_topk_at"),
      (args: Seq[Expression]) => {
        require(args.length >= 5 && args.length <= 8,
          s"graft_graph_topk_at expects (path, emb_view, queries_view, " +
            s"seeds_view, version [, hops, beam, k]), got ${args.length} " +
            "arguments")
        graft.operators.ann.KnnGraph.searchTopKAt(SparkSession.active,
          strArg(args, 0, "graft_graph_topk_at"),
          viewArg(args, 1, "graft_graph_topk_at"),
          viewArg(args, 2, "graft_graph_topk_at"),
          viewArg(args, 3, "graft_graph_topk_at"),
          longArg(args, 4, "graft_graph_topk_at"),
          intArgOr(args, 5, "graft_graph_topk_at", 2),
          intArgOr(args, 6, "graft_graph_topk_at", 8),
          intArgOr(args, 7, "graft_graph_topk_at", 5))
          .queryExecution.logical
      })) ++ maintenanceFunctions

  /** The MAINTENANCE table functions — the compliance operator's last
    * Scala dependency removed: the auditor who answers "what did this
    * batch collide with as of the mark" through `graft_screen_at` can
    * now also DIAL the retention that defines the reachable window and
    * EXPORT the snapshot that ships to review, all from SQL:
    *
    * {{{
    *   SELECT * FROM graft_set_retention('/indexes/neardup', 30)
    *   SELECT * FROM graft_export('/indexes/neardup', 41, '/exports/mark41')
    * }}}
    *
    * These are EFFECTFUL: the maintenance action runs when the
    * statement plans (the one execution point a SQL table function
    * has), and the returned row is the receipt — the store's (or the
    * clone's) post-action catalog row, exactly [[graft_index_meta]]'s
    * shape, so the effect is immediately visible through the same
    * surface (`graft_index_history` / `graft_stores`) an auditor
    * already reads. EXPLAINing the statement performs the action too —
    * the documented cost of expressing a procedure as a TVF. Both
    * actions keep their Scala contracts: the dial is a metadata-only
    * commit honored by every later retirement
    * ([[IndexManifest.setRetention]]), the export refuses non-retained
    * versions and committed destinations and is torn-retry safe
    * ([[IndexManifest.exportSnapshot]]); re-running a completed export
    * therefore refuses loudly rather than silently merging.
    *
    * `graft_compact(path, tag)` folds a store's committed leaves to one
    * — compaction is family-specific (each family owns its rewrite), so
    * the call reads the family the store's manifest records (the `kind`
    * [[graft_stores]] reports) and dispatches to that family's Scala
    * compact (same idempotency tag contract: a replayed tag no-ops). A
    * directory whose manifest names no index family is a loud error
    * naming what was found:
    *
    * {{{
    *   SELECT * FROM graft_compact('/indexes/neardup', 'nightly-2026-08-17')
    * }}}
    */
  private def maintenanceFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_set_retention"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_set_retention"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_set_retention expects (path, retain), got ${args.length}" +
            " arguments")
        val path = strArg(args, 0, "graft_set_retention")
        val n = intArgOr(args, 1, "graft_set_retention", -1)
        IndexManifest.setRetention(path, n)
        metaPlan(path) // the receipt: the store's post-dial catalog row
      }),
    (FunctionIdentifier("graft_export"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_export"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"graft_export expects (path, version, dest), got ${args.length}" +
            " arguments")
        val path = strArg(args, 0, "graft_export")
        val v = longArg(args, 1, "graft_export")
        val dest = strArg(args, 2, "graft_export")
        IndexManifest.exportSnapshot(path, v, dest)
        metaPlan(dest) // the receipt: the standalone clone's catalog row
      }),
    (FunctionIdentifier("graft_compact"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_compact"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_compact expects (path, tag), got ${args.length} arguments")
        val path = strArg(args, 0, "graft_compact")
        val tag = strArg(args, 1, "graft_compact")
        val spark = SparkSession.active
        IndexManifest.readMeta(path).map(_.kind) match {
          case Some("dedup") =>
            graft.operators.dedup.Dedup.compactDedupIndex(spark, path, tag)
          case Some("vector") =>
            graft.operators.ann.PqIndex.compact(spark, path, Some(tag)); ()
          case Some("graph") =>
            graft.operators.ann.KnnGraph.compact(spark, path, tag)
          case Some("ahash") =>
            graft.operators.multimodal.Multimodal
              .compactAhashIndex(spark, path, tag)
          case Some("hamming") =>
            graft.operators.multimodal.Multimodal
              .compactAhashChunkIndex(spark, path, tag)
          case kind => throw new IllegalArgumentException(
            s"graft_compact: $path must hold exactly one store family " +
              "(a manifest of kind dedup, vector, graph, ahash or hamming); " +
              s"found ${kind.getOrElse("no manifest")} — use the family's " +
              "Scala compact for anything irregular")
        }
        metaPlan(path) // the receipt: the store's post-compaction row
      }))

  /** The TVF descriptions — one list serves builder-time injection and
    * live-session registration.
    */
  private def tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_index"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_index"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_index expects (path, rel), got ${args.length}")
        val path = strArg(args, 0, "graft_index")
        indexPlan(path, strArg(args, 1, "graft_index"), headMeta(path))
      }),
    (FunctionIdentifier("graft_index_at"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_index_at"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"graft_index_at expects (path, rel, version), got ${args.length}")
        val path = strArg(args, 0, "graft_index_at")
        val v = longArg(args, 2, "graft_index_at")
        val meta = IndexManifest.readMetaAt(path, v).getOrElse(
          throw new IllegalArgumentException(
            s"manifest version $v is not retained at $path — time travel " +
              s"reaches the ${IndexManifest.retentionWindow(path)}-version " +
              "grace window"))
        indexPlan(path, strArg(args, 1, "graft_index_at"), meta)
      }),
    (FunctionIdentifier("graft_index_meta"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_index_meta"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_index_meta expects (path), got ${args.length}")
        metaPlan(strArg(args, 0, "graft_index_meta"))
      }),
    (FunctionIdentifier("graft_index_history"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_index_history"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_index_history expects (path), got ${args.length}")
        historyPlan(strArg(args, 0, "graft_index_history"))
      }),
    (FunctionIdentifier("graft_state"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_state"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_state expects (path, key_cols), got ${args.length}")
        val (path, spec) = stateSpec(args, "graft_state")
        graft.streaming.Materializer
          .currentState(SparkSession.active, path, spec)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_state_history"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_state_history"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_state_history expects (path), got ${args.length}")
        stateHistoryPlan(strArg(args, 0, "graft_state_history"))
      }),
    (FunctionIdentifier("graft_state_at"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_state_at"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"graft_state_at expects (path, key_cols, version), got ${args.length}")
        val at = longArg(args, 2, "graft_state_at")
        val (path, spec) = stateSpec(args, "graft_state_at", at = Some(at))
        graft.streaming.Materializer
          .currentStateAt(SparkSession.active, path, spec, at)
          .queryExecution.logical
      })) ++ searchFunctions

  /** The CDC replica rows need a [[graft.streaming.Materializer.Spec]]:
    * key columns come from the caller (a comma-separated literal — the
    * store's key is deployment knowledge, exactly as in the Scala API),
    * the bucket dial from the store's own manifest (`nbuckets`, recorded
    * at apply time). An as-of read resolves the SNAPSHOT's dial: across
    * an intervening rebucket the head's count would mis-plan the pinned
    * version's leaves (not-retained falls through to the head —
    * currentStateAt then throws the loud window error).
    */
  private def stateSpec(args: Seq[Expression], fn: String,
      at: Option[Long] = None): (String, graft.streaming.Materializer.Spec) = {
    val path = strArg(args, 0, fn)
    val keys = strArg(args, 1, fn).split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, s"$fn: key_cols must name at least one column")
    val m = at.flatMap(IndexManifest.readMetaAt(path, _))
      .orElse(IndexManifest.readMeta(path))
      .getOrElse(throw new IllegalArgumentException(
        s"$fn: $path holds no materialized state (no manifest)"))
    require(m.groups > 0, s"$fn: $path records no bucket dial")
    (path, graft.streaming.Materializer.Spec(keyCols = keys,
      buckets = m.groups))
  }

  private[graft] def injectTableFunctions(ext: SparkSessionExtensions): Unit =
    tableFunctions.foreach(ext.injectTableFunction(_))

  /** Register the index TVFs on a LIVE session (idempotent — re-register
    * overwrites with the same builders): sessions built without
    * `withExtensions` (a shared notebook session, the Verify driver)
    * get the SQL surface this way.
    */
  def registerIndexTableFunctions(spark: SparkSession): Unit = {
    val reg = spark match {
      case s: org.apache.spark.sql.classic.SparkSession =>
        s.sessionState.tableFunctionRegistry
      case other => throw new IllegalStateException(
        "graft TVF registration requires a classic (JVM-embedded) " +
          s"SparkSession; got ${other.getClass.getName} — a Spark " +
          "Connect client cannot register plan-time table functions; " +
          "set spark.sql.extensions=graft.GraftExtensions on the " +
          "SERVER instead")
    }
    tableFunctions.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import graft.plans._

  private def intLit(args: Seq[Expression], i: Int, fn: String): Int = args(i) match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be an INT literal, got ${other.sql}")
  }

  // a foldable ARRAY<STRING> (e.g. array('updated_at')) → Seq[String]; like
  // the sketch INT parameters, the name list shapes the expression itself
  private def stringArrayLit(args: Seq[Expression], i: Int, fn: String): Seq[String] =
    args(i) match {
      case e if e.foldable && (e.dataType match {
            case ArrayType(StringType, _) => true
            // bare `array()` types as ARRAY<VOID> — a valid empty name list
            case ArrayType(org.apache.spark.sql.types.NullType, _) => true
            case _ => false
          }) =>
        e.eval() match {
          case null => Seq.empty
          case ad: ArrayData =>
            (0 until ad.numElements()).map { j =>
              val u = ad.getUTF8String(j)
              if (u == null) throw new IllegalArgumentException(
                s"$fn: NULL element in the field-name list ${e.sql} — " +
                  "field names must be non-null strings")
              u.toString
            }
        }
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an ARRAY<STRING> literal, got ${other.sql}")
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def reg(name: String, arity: Int)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
          build(args)
        }))

    GraftExtensions.injectTableFunctions(ext)

    reg("pg_array_parse", 1)(a => PgArrayParse(a(0)))
    reg("pg_timetz", 1)(a => PgTimeTz(a(0)))
    reg("pg_interval_parts", 1)(a => PgIntervalParts(a(0)))
    reg("map_changed_fields", 3)(a => MapChangedFields(a(0), a(1), a(2)))
    reg("cosine_similarity", 2)(a => CosineSimilarity(a(0), a(1)))
    reg("simhash64", 1)(a => SimHash64(a(0)))
    reg("minhash_band_buckets", 3)(a => MinHashBandBuckets(a(0),
      intLit(a, 1, "minhash_band_buckets"), intLit(a, 2, "minhash_band_buckets")))
    reg("hyperplane_band_buckets", 3)(a => HyperplaneBandBuckets(a(0),
      intLit(a, 1, "hyperplane_band_buckets"), intLit(a, 2, "hyperplane_band_buckets")))
    reg("winnow_fingerprints", 3)(a => WinnowFingerprints(a(0),
      intLit(a, 1, "winnow_fingerprints"), intLit(a, 2, "winnow_fingerprints")))
    reg("word_ngrams", 2)(a => WordNGrams(a(0), intLit(a, 1, "word_ngrams")))
    reg("count_in_static_set", 2)(a => CountInStaticSet(a(0),
      stringArrayLit(a, 1, "count_in_static_set")))
    reg("any_changed_key_not_in", 2)(a => AnyChangedKeyNotIn(a(0),
      stringArrayLit(a, 1, "any_changed_key_not_in")))
    reg("any_watched_field_changed", 4)(a => AnyWatchedFieldChanged(a(0), a(1), a(2),
      stringArrayLit(a, 3, "any_watched_field_changed")))
    reg("word_chunks", 3)(a => WordChunks(a(0),
      intLit(a, 1, "word_chunks"), intLit(a, 2, "word_chunks")))
    reg("bm25_score", 5)(a => Bm25Score(a(0), a(1), a(2), a(3), a(4)))
    // zorder_key(a, b, bits): Morton interleave of two bucket codes — the
    // pipe05 layout key from SQL. Expands to the same shift/mask/add tree
    // the Column API builds (Layout.zOrderKey), all stock codegen'd
    // expressions; bits shapes the tree, so it must be an INT literal.
    // canon_url(url): RFC-3986 canonicalization subset — the txt19/pipe06
    // URL-identity key from SQL. Expands to the exact Column-API tree
    // (TextOps.canonicalizeUrl): all stock codegen'd string expressions,
    // bridged through the classic ColumnNode converter.
    // canon_url(url): built as the same catalyst tree the Column API
    // produces (TextOps.canonicalizeUrl) — regexp extract/replace, a
    // higher-order filter over the query params (lambda resolves via the
    // analyzer like any parsed `filter(x, x -> ...)`), sort, join. The
    // GraftExtensionsSpec bit-parity test pins SQL == Column API.
    reg("canon_url", 1) { a =>
      import org.apache.spark.sql.catalyst.expressions._
      val u = a(0)
      def rex(src: Expression, re: String) =
        RegExpExtract(src, Literal(re), Literal(1))
      def rep(src: Expression, re: String, to: String) =
        RegExpReplace(src, Literal(re), Literal(to))
      val scheme = Lower(rex(u, "^([A-Za-z]+)://"))
      val host = rep(rep(Lower(rex(u, "^[A-Za-z]+://([^/?]+)")),
        ":80$", ""), "^www\\.", "")
      val path0 = rep(rex(u, "^[A-Za-z]+://[^/?]+(/[^?]*)?"), "/$", "")
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      val keep = LambdaFunction(
        And(Not(StartsWith(x, Literal("utm_"))), Not(EqualTo(x, Literal("")))),
        Seq(x))
      val params = ArrayJoin(
        new ArraySort(ArrayFilter(
          StringSplit(rex(u, "\\?(.*)$"), Literal("&"), Literal(-1)), keep)),
        Literal("&"), None)
      Concat(Seq(
        scheme, Literal("://"), host,
        CaseWhen(Seq((EqualTo(path0, Literal(""))) -> Literal("/")),
          Some(path0)),
        CaseWhen(Seq((EqualTo(params, Literal(""))) -> Literal("")),
          Some(Concat(Seq(Literal("?"), params))))))
    }
    reg("zorder_key", 3) { a =>
      import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Cast, Multiply, ShiftRight}
      import org.apache.spark.sql.types.LongType
      val bits = intLit(a, 2, "zorder_key")
      require(bits >= 1 && bits <= 31, s"zorder_key: bits must be in [1,31], got $bits")
      def lane(e: Expression, pos: Int => Int): Seq[Expression] =
        (0 until bits).map { i =>
          Multiply(
            Cast(BitwiseAnd(ShiftRight(e, Literal(i)), Literal(1)), LongType),
            Literal(1L << pos(i)))
        }
      (lane(a(0), i => 2 * i + 1) ++ lane(a(1), i => 2 * i))
        .reduce[Expression]((x, y) => Add(x, y))
    }
  }
}
