package graft.streaming

import scala.collection.mutable.ListBuffer
import scala.concurrent.{ExecutionContext, Future}

import graft.operators.cdc.ChangeStream
import graft.operators.store.IndexManifest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Per-handler event filters (reference: the `filters` keyword of
  * on_event/on_insert/… — lib/walex/event/dsl.ex:44-84):
  *  - `unwatchedFields` (F6): drop UPDATE events whose only changed fields
  *    are listed (transaction_filter.ex:175-187)
  *  - `unwatchedRecords` (F7): drop events whose record matches ALL pairs
  *    (transaction_filter.ex:189-207)
  */
final case class EventFilters(
    unwatchedFields: Seq[String] = Nil,
    unwatchedRecords: Map[String, String] = Map.empty)

/** K1-K7 — the user-facing dispatch layer (reference: lib/walex/event/
  * dsl.ex:30-84, lib/walex/events/events.ex:21-47,
  * lib/walex/events/event_modules.ex:35-63).
  *
  * Handlers are registered explicitly (no classpath magic — K7's module
  * autodiscovery becomes a registry, per SURVEY §2.5) and dispatched per
  * micro-batch from a single `foreachBatch` fan-out (K1). Each handler sees
  * the batch's events filtered to its (table, op) plus its EventFilters —
  * the same per-module filter_events pipeline the DSL macros expand to
  * (event.ex:33-40).
  *
  * Side-effect functions (K6) run fire-and-forget on the execution context,
  * AFTER the handler body, with the reference's documented at-most-once
  * semantics (dsl.ex:2-28, README.md:290-316): a crash mid-batch may skip
  * side effects for delivered events; they are never replayed. Deliberate
  * granularity divergence from the reference: dsl.ex invokes each
  * side-effect function once per EVENT; here each fires once per
  * MICRO-BATCH with the handler's filtered events as a DataFrame — the
  * natural Spark unit, and one task submission instead of one per row.
  * [[Engine.perEvent]] recovers the reference's per-event granularity
  * EXECUTOR-side (`foreachPartition`), so neither lane ever materializes a
  * micro-batch on the driver. Side effects are skipped for a handler that
  * threw (the events were not delivered).
  *
  * Scale: the batch is persisted once and every handler's filter is a
  * column predicate over it — N handlers cost one materialization plus N
  * cheap filtered scans, not N source reads. Side-effect futures outlive
  * the dispatch call, so the persisted batch is REF-COUNTED: dispatch holds
  * one reference, each in-flight side effect holds one, and the blocks are
  * dropped when the last completes — a large batch is never `collect()`ed
  * into driver memory to detach it from the cache lifecycle (the blocks
  * are pinned by one materializing count while the batch plan is still
  * live, so a post-return future can never recompute from a gone source).
  *
  * Failure semantics, both reference-faithful — pick per engine:
  *  - `isolateHandlerFailures = true`: a handler that throws is skipped for
  *    that batch and the rest run (the reference's supervisor restarts the
  *    crashed module and the transaction is not redelivered — at-most-once
  *    for the failing handler, events.ex:21-47 + one_for_one restart)
  *  - `false` (default): the exception fails the batch; with a checkpoint
  *    and [[Supervisor]], the batch replays — at-least-once for every
  *    handler (idempotence on batchId is the handler's job)
  */
object Engine {
  private[streaming] val log = org.slf4j.LoggerFactory.getLogger(classOf[Engine])

  /** Delivery-ledger retention in batches: markers older than this are
    * pruned. Redelivery only replays the LAST uncommitted batch, so any
    * value ≥ a few is safe; 10k keeps the directory small while leaving a
    * wide forensic window.
    */
  val LedgerRetention: Long = 10000L

  /** The reference's per-EVENT side-effect granularity (dsl.ex:59-84),
    * delivered EXECUTOR-side: wraps a per-event function into a batch side
    * effect that invokes it once per row via `foreachPartition`. Rows never
    * transit the driver, so a dup-storm micro-batch costs executor time,
    * not driver heap. `fn` ships to executors — it must be serializable
    * and must not capture driver-only state.
    */
  def perEvent(fn: Row => Unit): DataFrame => Unit =
    df => df.foreachPartition((it: Iterator[Row]) => it.foreach(fn))

  /** One registered handler: which events it takes (table, op, filters)
    * and what it runs on them. Declared in the companion, so a match on
    * `Handler` needs no outer-instance check.
    */
  final case class Handler(
      name: String,
      table: String, // "*" = all subscribed tables
      op: String,    // insert|update|delete|* (F5/F2)
      filters: EventFilters,
      sideEffects: Seq[DataFrame => Unit],
      fn: DataFrame => Unit)
}

final class Engine(isolateHandlerFailures: Boolean = false,
    deliveryLedger: Option[String] = None) {
  import Engine.Handler

  // settable AFTER construction so config-driven assembly (GraftConfig
  // .deliveryLedger / exactlyOnce → Graft.start) can arm the ledger on an
  // engine the user already built handlers onto; pre-start only
  @volatile private var ledgerDirOpt: Option[String] = deliveryLedger

  /** Arm (or move) the delivery ledger — the declarative path
    * [[Graft.start]] uses when the config carries one. Call before the
    * query starts; an in-flight dispatch snapshots the directory at batch
    * start.
    */
  def withDeliveryLedger(dir: String): Engine = { ledgerDirOpt = Some(dir); this }

  /** The armed ledger directory, if any. */
  def deliveryLedgerDir: Option[String] = ledgerDirOpt

  /** Exactly-once handler effects across restarts (SURVEY §7 hard part
    * (d)): micro-batch replay after a crash redelivers the last
    * uncommitted batch, so bare handlers are at-least-once. With a
    * `deliveryLedger` directory the engine records one marker file per
    * (handler, batchId) AFTER the handler body returns; a redelivered
    * batch skips handlers already marked. The marker is written only on
    * success, so a handler that crashed mid-body re-runs (at-least-once
    * until it completes, exactly-once after) — the batch-granular
    * equivalent of the reference's documented "dedupe on LSN in the sink"
    * guidance, done once in the engine instead of in every handler.
    *
    * The ledger speaks the Hadoop [[org.apache.hadoop.fs.FileSystem]] API
    * (resolved from the batch session's Hadoop conf), NOT `java.nio`, so
    * "put it next to the checkpoint dir" holds on a real cluster: an
    * `hdfs://`/`s3a://` checkpoint takes the ledger with it, and a
    * replaced driver node sees the same markers. Plain local paths keep
    * working through Hadoop's `file://` scheme.
    *
    * Contract: one ledger directory per streaming QUERY (put it next to
    * the checkpoint dir — both survive or neither), and marker identity is
    * the handler's NAME plus its occurrence among same-named handlers, so
    * a deploy that APPENDS new handlers keeps old markers valid; the
    * registry shape is ENFORCED, not honor-system — the directory's store
    * manifest records the key sequence, appends commit a new version, and
    * a restart whose registry is not an append extension
    * (reorder/rename/removal) fail-fasts before any delivery (wipe the
    * ledger with the checkpoint to accept the new shape). Markers older than
    * [[Engine.LedgerRetention]] batches are pruned opportunistically —
    * redelivery only ever replays the last uncommitted batch, so the
    * retention window is generous by orders of magnitude and the directory
    * stays bounded. Detached async side effects stay at-most-once
    * regardless.
    *
    * Failure posture: marker I/O errors (write or probe) degrade that
    * handler to AT-LEAST-ONCE — logged, never counted as handler failures
    * and never suppressing side effects of a body that succeeded (a ledger
    * outage must not masquerade as user-code crashes). Manifest I/O errors
    * DO fail the batch: the manifest is the gate that keeps markers
    * meaningful, so delivering without validating it could replay history
    * against the wrong handler identities.
    */
  // recomputed per call (registries are small and may grow between
  // dispatches): occurrence-numbered over the SANITIZED name, so two
  // distinct names that sanitize identically still get distinct keys.
  // The alphabet is Hadoop-Path-safe: a ':' in a path component parses as
  // a URI scheme (java.nio tolerated it; FileSystem paths cannot)
  private def handlerKeys: Map[Int, String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    registry.toSeq.zipWithIndex.map { case (h, idx) =>
      val safe = h.name.replaceAll("[^A-Za-z0-9_.-]", "_")
      val n = seen.getOrElse(safe, 0)
      seen(safe) = n + 1
      idx -> s"${safe}_$n"
    }.toMap
  }
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}
  private def ledgerFs(conf: org.apache.hadoop.conf.Configuration)
      : Option[(FileSystem, HPath)] =
    ledgerDirOpt.map { d =>
      val dir = new HPath(d)
      (dir.getFileSystem(conf), dir)
    }
  private def alreadyDelivered(fsDir: Option[(FileSystem, HPath)],
      keys: Map[Int, String], idx: Int, batchId: Long): Boolean =
    fsDir.exists { case (fs, dir) =>
      try fs.exists(new HPath(dir, s"b${batchId}_${keys(idx)}"))
      catch { case e: java.io.IOException =>
        Engine.log.warn(s"delivery ledger probe failed for batch $batchId " +
          s"handler ${keys(idx)} — degrading to at-least-once: $e")
        false
      }
    }
  private def markDelivered(fsDir: Option[(FileSystem, HPath)],
      keys: Map[Int, String], idx: Int, batchId: Long): Unit =
    fsDir.foreach { case (fs, dir) =>
      try {
        fs.mkdirs(dir)
        // create(overwrite=false) is the FS-level atomic claim; an existing
        // marker (same batch replayed concurrently) is success, not error
        try fs.create(new HPath(dir, s"b${batchId}_${keys(idx)}"), false).close()
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
      } catch { case e: java.io.IOException =>
        Engine.log.warn(s"delivery ledger marker write failed for batch " +
          s"$batchId handler ${keys(idx)} — that handler is at-least-once " +
          s"until the ledger recovers: $e")
      }
    }
  /** Manifest gate: the ledger directory carries a shared store manifest
    * ([[IndexManifest]], kind `ledger`) whose `registry` field is the key
    * sequence the ledger's markers were written under. Current registry
    * must EXTEND it; anything else throws. An extension commits the next
    * version through the shared exclusive publish (a racer that already
    * published that version makes this batch fail rather than overwrite
    * it), and the ledger's retention window is 0: once the new version is
    * durable every older one is retired, so at every instant of a crash
    * window some complete manifest exists. Validated once per registry
    * shape per engine instance, and re-validated on the prune cadence
    * (every 64 batches) so a ledger directory REPLACED under a
    * long-running engine is caught at the next window rather than never.
    */
  @volatile private var manifestValidatedFor: Seq[String] = null
  private def validateManifest(fsDir: Option[(FileSystem, HPath)],
      keys: Map[Int, String]): Unit = fsDir.foreach { case (fs, dir) =>
    val current = keys.toSeq.sortBy(_._1).map(_._2)
    if (manifestValidatedFor == current) return
    val head = IndexManifest.readMeta(dir.toString, fs.getConf)
    val recorded = head.toSeq.flatMap(_.registry)
    if (recorded != current.take(recorded.length))
      throw new IllegalStateException(
        s"delivery ledger at $dir was written under handler registry " +
          s"[${recorded.mkString(", ")}] but the current registry is " +
          s"[${current.mkString(", ")}] — only APPENDING handlers is " +
          "compatible with existing markers (reorder/rename/removal would " +
          "silently swap delivery history); wipe the ledger with the " +
          "checkpoint to accept the new shape")
    if (recorded.length < current.length)
      IndexManifest.commit(dir.toString,
        IndexManifest.Meta(head.fold(1L)(_.version + 1L), 0, Nil, Nil,
          Map("retain" -> "0"), kind = "ledger", registry = current),
        fs.getConf)
    manifestValidatedFor = current
  }
  /** Drop markers more than [[Engine.LedgerRetention]] batches old. */
  private[graft] def pruneLedger(fs: FileSystem, dir: HPath, batchId: Long): Unit = {
    val cutoff = batchId - Engine.LedgerRetention
    try {
      if (cutoff <= 0 || !fs.getFileStatus(dir).isDirectory) return
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("b")) {
          val id = name.drop(1).takeWhile(_.isDigit)
          if (id.nonEmpty && id.toLong < cutoff)
            try fs.delete(st.getPath, false)
            catch { case _: java.io.IOException => () }
        }
      }
    } catch {
      case _: java.io.FileNotFoundException => ()
      case e: java.io.IOException =>
        Engine.log.warn(s"delivery ledger prune at $dir failed (retrying " +
          s"next prune window): $e")
    }
  }

  private val registry = ListBuffer.empty[Handler] // K7

  /** K3/K4: on_event — `table == "*"` replicates on_event(:all). */
  def onEvent(table: String, filters: EventFilters = EventFilters(),
      sideEffects: Seq[DataFrame => Unit] = Nil)(fn: DataFrame => Unit): Engine =
    register(Handler(s"on_event:$table", table, "*", filters, sideEffects, fn))

  /** K5: per-operation registration (dsl.ex:59-84). */
  def onInsert(table: String, filters: EventFilters = EventFilters(),
      sideEffects: Seq[DataFrame => Unit] = Nil)(fn: DataFrame => Unit): Engine =
    register(Handler(s"on_insert:$table", table, "insert", filters, sideEffects, fn))

  def onUpdate(table: String, filters: EventFilters = EventFilters(),
      sideEffects: Seq[DataFrame => Unit] = Nil)(fn: DataFrame => Unit): Engine =
    register(Handler(s"on_update:$table", table, "update", filters, sideEffects, fn))

  def onDelete(table: String, filters: EventFilters = EventFilters(),
      sideEffects: Seq[DataFrame => Unit] = Nil)(fn: DataFrame => Unit): Engine =
    register(Handler(s"on_delete:$table", table, "delete", filters, sideEffects, fn))

  private def register(h: Handler): Engine = { registry += h; this }

  def handlers: Seq[Handler] = registry.toSeq

  /** Predicate a handler applies to the Event view (columns per
    * ChangeStream.events / eventsFromAssembled: name, type, changes,
    * new_record, old_record).
    */
  private def predicate(h: Handler) = {
    val tableP = if (h.table == "*") lit(true) else col("name") === h.table
    val opP    = if (h.op == "*") lit(true) else col("type") === h.op
    val fieldsP =
      if (h.filters.unwatchedFields.isEmpty) lit(true)
      else ChangeStream.watchedFieldsPredicate(col("changes"), h.filters.unwatchedFields)
    val recordsP =
      if (h.filters.unwatchedRecords.isEmpty) lit(true)
      else ChangeStream.unwatchedRecordsPredicate(
        coalesce(col("new_record"), col("old_record")), h.filters.unwatchedRecords)
    tableP && opP && fieldsP && recordsP
  }

  /** K1/K2: one batch → every registered handler. Public so tests and batch
    * (non-streaming) callers can drive it directly.
    */
  @volatile private var handlerFailures: Long = 0L
  def failures: Long = handlerFailures

  def dispatch(batch: DataFrame, batchId: Long)(implicit
      ec: ExecutionContext = ExecutionContext.global): Unit = {
    if (registry.isEmpty) return
    batch.persist()
    // K6 lifecycle: side-effect futures outlive this call (and possibly the
    // foreachBatch that issued it), so the persisted batch is ref-counted
    // instead of collect()ed into a driver-local copy — dispatch holds one
    // reference, every in-flight side effect one more; the last release
    // unpersists. Driver memory stays O(1) in the batch size.
    val refs = new java.util.concurrent.atomic.AtomicInteger(1)
    def release(): Unit = if (refs.decrementAndGet() == 0) batch.unpersist()
    // The cached blocks must exist before the batch's source plan goes
    // stale (a streaming source may not serve this offset range after the
    // micro-batch commits); one count() pins them, once, lazily — a
    // handler action usually did it already and this is then block-cache
    // local.
    var pinned = false
    val keys = handlerKeys // one snapshot per batch; registry may grow later
    // one FileSystem resolution per batch, from the session that owns the
    // batch — local paths, HDFS, and S3A all route through the same API
    val fsDir = ledgerFs(batch.sparkSession.sparkContext.hadoopConfiguration)
    // the per-shape validation cache skips FS round-trips in steady state;
    // on the prune cadence it is dropped so a ledger directory replaced
    // out from under a LONG-RUNNING engine (operator error) is caught at
    // the next window instead of never
    if (batchId % 64 == 0 && batchId > 0) manifestValidatedFor = null
    validateManifest(fsDir, keys)
    // prune ONCE per batch (not per handler — each prune lists the whole
    // marker directory), and off the common path
    if (batchId % 64 == 0 && batchId > 0)
      fsDir.foreach { case (fs, dir) => pruneLedger(fs, dir, batchId) }
    try registry.zipWithIndex.foreach { case (h, idx) =>
      if (alreadyDelivered(fsDir, keys, idx, batchId)) ()
      else {
      val events = batch.filter(predicate(h))
      val delivered =
        try { h.fn(events); markDelivered(fsDir, keys, idx, batchId); true }
        catch {
          case _: Exception if isolateHandlerFailures => handlerFailures += 1; false
        }
      // K6: fire-and-forget fan-out, at-most-once, unordered, over the
      // live filtered view of the persisted batch. A handler that threw
      // delivered nothing → no side effects.
      if (delivered && h.sideEffects.nonEmpty) {
        if (!pinned) { batch.count(); pinned = true }
        h.sideEffects.foreach { se =>
          refs.incrementAndGet()
          Future(se(events)).onComplete(_ => release())
        }
      }
      }
    } finally release()
  }

  /** Attach the engine to a streaming Event view.
    *  - `checkpoint = Some(dir)` → durable-slot semantics (S4): offsets
    *    survive restart, handlers see each event once per delivery.
    *  - `checkpoint = None` → temporary-slot semantics (S3): Spark uses a
    *    throwaway checkpoint; state dies with the query.
    */
  def start(events: DataFrame, checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L), queryName: String = "graft-engine")
      : StreamingQuery = {
    var w = events.writeStream
      .queryName(queryName)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => dispatch(b, id))
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    w.start()
  }
}
