package perfbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.pgoutput.{Cell, PgOutputDecoder, WalMessage}
import graft.sources.replication.{PgReplicationClient, ReplicationTailer}
import graft.streaming.{Engine, EventFilters, Graft, GraftConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One `psql` session fed on stdin: the load generator's single client
  * connection. `\echo` markers on stdout tell the caller when everything
  * written before them has executed.
  */
final class Psql(a: Args) {
  private val proc = new ProcessBuilder(s"${a.pgBin}/psql", "-X", "-q",
    "-v", "ON_ERROR_STOP=1", "-h", a.pgSock, "-p", a.pgPort.toString,
    "-U", "postgres", "-d", "postgres")
    .redirectError(new java.io.File(a.work, "psql.err"))
    .start()
  private val in = new OutputStreamWriter(proc.getOutputStream, UTF_8)
  private val markers = new java.util.concurrent.LinkedBlockingQueue[String]()
  private val reader = new Thread(() => {
    val r = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
    var l = r.readLine()
    while (l != null) { markers.put(l.trim); l = r.readLine() }
  }, "psql-stdout")
  reader.setDaemon(true)
  reader.start()

  def send(sql: String): Unit = { in.write(sql); in.write('\n'); in.flush() }

  /** Block until every statement sent so far has run. */
  def sync(timeoutS: Long = 60): Unit = {
    val m = s"SYNC${System.nanoTime()}"
    send(s"\\echo $m")
    var got = ""
    while (got != m) {
      got = Option(markers.poll(timeoutS, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(throw new IllegalStateException(
          s"psql did not answer within ${timeoutS}s (exit ${if (proc.isAlive) "-" else proc.exitValue})"))
    }
  }

  /** Close stdin and return psql's exit code. */
  def exitCode: Int = { in.close(); proc.waitFor() }
}

/** live_steady: open-loop transactions into a fresh local Postgres, read
  * back through the live replication path (`Graft.startLive`, default
  * tailer settings) into three handlers.
  */
object Live extends Workload {
  val Rate = 100            // transactions per second
  val WarmupTxns = 100      // sent before timing; their delivery ends set-up
  val InitialPerTable = 200
  val DrainTimeoutS = 40    // after the last due time; then undelivered = failed
  val Pub = "graft_pub"

  private def q(s: String) = "'" + s.replace("'", "''") + "'"

  def txnCount(seconds: Int): Int = WarmupTxns + seconds * Rate

  def digest(a: Args): (String, Map[String, Any]) = {
    val (init, txns) = Gen.live(a.seed, txnCount(a.seconds), InitialPerTable)
    val d = new Gen.Digest
    (init ++ txns.flatMap(_.rows)).foreach(r => d.add(r.toString))
    txns.foreach(t => d.add(s"txn ${t.idx} ${t.rows.size}"))
    (d.hex, inputProps(init, txns))
  }

  private def inputProps(init: Seq[Gen.LiveRow], txns: Seq[Gen.LiveTxn]): Map[String, Any] = {
    val rows = txns.flatMap(_.rows)
    Map("rate_txn_per_s" -> Rate, "txns" -> txns.size, "changes" -> rows.size,
      "warmup_txns" -> WarmupTxns,
      "txn_sizes" -> Gen.sizeHistogram(txns.map(_.rows.size)),
      "ops" -> rows.groupBy(_.op.toString).map { case (k, v) => k -> v.size },
      "initial_rows" -> init.size, "tables" -> Gen.LiveTables.size,
      "text_bytes" -> rows.map(r => r.payload.length + r.note.length).sum)
  }

  private def sql(r: Gen.LiveRow, dueUs: Long): String = {
    val t = Gen.LiveTables(r.table)
    r.op match {
      case 'I' => s"INSERT INTO $t (id, grp, due_us, note, payload) VALUES " +
        s"(${r.id}, ${r.grp}, $dueUs, ${q(r.note)}, ${q(r.payload)});"
      case 'U' if r.loud =>
        s"UPDATE $t SET due_us = $dueUs, payload = ${q(r.payload)} WHERE id = ${r.id};"
      case 'U' => s"UPDATE $t SET due_us = $dueUs, note = ${q(r.note)} WHERE id = ${r.id};"
      case _   => s"DELETE FROM $t WHERE id = ${r.id};"
    }
  }

  /** Event identity: (table, id, op, due stamp carried by the record). */
  type Key = (String, Long, String, Long)

  def run(a: Args, rec: Rec, spark: SparkSession): Unit = {
    val (init, txns) = Gen.live(a.seed, txnCount(a.seconds), InitialPerTable)
    rec.set("inputs", inputProps(init, txns))
    val walDir = s"${a.work}/wal"
    val psql = new Psql(a)
    Gen.LiveTables.foreach { t =>
      psql.send(s"CREATE TABLE $t (id bigint PRIMARY KEY, grp int NOT NULL, " +
        "due_us bigint NOT NULL, note text, payload text NOT NULL);")
      psql.send(s"ALTER TABLE $t REPLICA IDENTITY FULL;")
    }
    init.grouped(500).foreach(g => psql.send(g.map(sql(_, 0L)).mkString("BEGIN; ", " ", " COMMIT;")))
    psql.send(s"CREATE PUBLICATION $Pub FOR TABLE ${Gen.LiveTables.mkString(", ")};")
    psql.sync()
    val pgVersion = {
      val p = new ProcessBuilder(s"${a.pgBin}/postgres", "--version").start()
      val v = new String(p.getInputStream.readAllBytes(), UTF_8).trim
      p.waitFor(); v
    }
    rec.set("postgres_version", pgVersion)

    // handler bookkeeping: every delivered (key, handler time)
    val delivered = new ConcurrentLinkedQueue[(Key, Long)]()
    val updCount = new java.util.concurrent.atomic.AtomicLong
    val delCount = new java.util.concurrent.atomic.AtomicLong
    val engine = new Engine()
      .onEvent("*") { ev: DataFrame =>
        rec.timed("streaming.Engine.handler") {
          val r = coalesce(col("new_record"), col("old_record"))
          val rows = ev.select(col("name"), col("type"),
            r.getItem("id").cast("long"), r.getItem("due_us").cast("long")).collect()
          val now = Clock.nowUs
          rows.foreach(x => delivered.add(((x.getString(0), x.getLong(2), x.getString(1),
            x.getLong(3)), now)))
          rec.sample("engine.events_per_batch", rows.length.toDouble)
        }
      }
      .onUpdate("*", EventFilters(unwatchedFields = Seq("due_us", "note"))) { ev =>
        rec.timed("streaming.Engine.handler")(updCount.addAndGet(ev.count()))
      }
      .onDelete("*", EventFilters(unwatchedRecords = Map("grp" -> "0"))) { ev =>
        rec.timed("streaming.Engine.handler")(delCount.addAndGet(ev.count()))
      }
    val config = GraftConfig(appName = "perfbench_live", port = a.pgPort,
      database = Some("postgres"), username = Some("postgres"), publication = Some(Pub))
    val obs = new Layers.Observed(spark, a.trace)
    val pump = if (a.trace) Some(new TracedPump(a, rec, config, walDir)) else None
    val (closeRepl, query) = pump match {
      case None =>
        val (repl, q) = Graft.startLive(spark, config, walDir, engine,
          unixSocketDir = Some(a.pgSock))
        (() => repl.close(), q)
      case Some(p) =>
        p.start()
        (() => p.close(), Graft.start(spark, config, walDir, engine))
    }
    val queryName = s"graft-${config.appName}"

    // expected events: key -> (count, due of the change itself)
    val dueOf = new Array[Long](txns.size)
    def expected(t: Gen.LiveTxn): Seq[(Key, Long)] = t.rows.map { r =>
      val name = Gen.LiveTables(r.table)
      val due = dueOf(t.idx)
      r.op match {
        case 'I' => ((name, r.id, "insert", due), due)
        case 'U' => ((name, r.id, "update", due), due)
        case _ =>
          val prevDue = if (r.prev < 0) 0L else dueOf(r.prev)
          ((name, r.id, "delete", prevDue), due)
      }
    }

    /** Open loop: each transaction is sent at its due time, however late
      * the previous send ran; lateness is recorded, not absorbed.
      */
    def send(batch: Seq[Gen.LiveTxn], startUs: Long, timed: Boolean): Unit = {
      batch.zipWithIndex.foreach { case (t, i) => dueOf(t.idx) = startUs + i * 1000000L / Rate }
      val th = new Thread(() => batch.foreach { t =>
        val due = dueOf(t.idx)
        Clock.sleepUntilUs(due)
        val late = (Clock.nowUs - due) / 1000.0
        if (timed) rec.sample("gen.late_ms", late)
        val stmts = t.rows.map(sql(_, due))
        psql.send(if (stmts.size == 1) stmts.head else stmts.mkString("BEGIN; ", " ", " COMMIT;"))
      }, "perfbench-generator")
      th.start()
      th.join()
    }

    def awaitDelivery(keys: Set[Key], deadlineUs: Long): Unit = {
      def seen = delivered.asScala.count(d => keys.contains(d._1))
      while (seen < keys.size && Clock.nowUs < deadlineUs) Thread.sleep(20)
    }

    // warm-up: JIT, first stream start and first deliveries
    val warm = txns.take(WarmupTxns)
    send(warm, Clock.nowUs + 50000L, timed = false)
    psql.sync()
    awaitDelivery(warm.flatMap(expected).map(_._1).toSet,
      Clock.nowUs + DrainTimeoutS * 1000000L)
    rec.set("ready_us", Clock.nowUs)
    if (a.trace) Layers.sampleBacklog(rec, obs, walDir)
    obs.progress.clear()
    obs.counts.reset()
    val gc0 = Jvm.gcMs

    // timed phase
    val timed = txns.drop(WarmupTxns)
    val t0 = Clock.nowUs + 20000L
    send(timed, t0, timed = true)
    psql.sync()
    val lastDue = dueOf(timed.last.idx)
    val want = timed.flatMap(expected)
    awaitDelivery(want.map(_._1).toSet, lastDue + DrainTimeoutS * 1000000L)
    // the batch that delivered the last change must finish (its other
    // handlers run after the catch-all one); then give a duplicate, if
    // any, a moment to arrive
    val lastSeen = delivered.asScala.map(_._2).maxOption.getOrElse(0L)
    val deadline = Clock.nowUs + DrainTimeoutS * 1000000L
    while (!obs.progress.dataBatches(queryName).exists(_._1 >= lastSeen) && Clock.nowUs < deadline)
      obs.progress.awaitChange(50)
    Thread.sleep(300)
    rec.set("jvm.gc_ms", Jvm.gcMs - gc0)
    rec.set("measured_us", Clock.nowUs)
    query.stop()
    // Replicator.close can take tens of seconds to return here; it is
    // not part of any measurement, so it runs beside the checks and the
    // JVM exits when the run ends either way (the thread is a daemon)
    val closer = new Thread(() => {
      val t = Clock.nowUs
      closeRepl()
      rec.set("replicator_close_ms", (Clock.nowUs - t) / 1000.0)
    }, "perfbench-replicator-close")
    closer.setDaemon(true)
    closer.start()
    val psqlExit = psql.exitCode
    rec.check("psql committed every transaction", psqlExit == 0, s"psql exit $psqlExit")

    // exactly-once check on (table, id, op, due), latency from the due time
    val got = delivered.asScala.toSeq
    val gotCount = got.groupBy(_._1).map { case (k, v) => k -> (v.size, v.map(_._2).min) }
    val wantCount = want.groupBy(_._1).map { case (k, v) => k -> (v.size, v.head._2) }
    var missing = 0L; var dup = 0L
    // an undelivered change counts as beyond any latency limit: it
    // enters the latency samples at the time we gave up waiting
    val gaveUpUs = Clock.nowUs
    wantCount.foreach { case (k, (n, due)) =>
      val (m, first) = gotCount.getOrElse(k, (0, 0L))
      if (m < n) missing += n - m
      if (m > n) dup += m - n
      if (m > 0) rec.sample("latency_ms", (first - due) / 1000.0)
      (m until n).foreach(_ => rec.sample("latency_ms", (gaveUpUs - due) / 1000.0))
    }
    val lastHandler = got.filter(g => wantCount.contains(g._1)).map(_._2).maxOption.getOrElse(t0)
    rec.attempted = want.size
    rec.failed = missing + dup
    rec.set("changes_delivered", want.size - missing)
    rec.set("throughput_per_s", (want.size - missing) / ((lastHandler - t0) / 1e6))
    rec.set("window_s", (lastHandler - t0) / 1e6)
    rec.check("every committed change delivered exactly once", missing == 0 && dup == 0,
      s"missing=$missing duplicate=$dup of ${want.size}")
    val all = txns.flatMap(_.rows)
    val wantUpd = all.count(r => r.op == 'U' && r.loud)
    val wantDel = all.count(r => r.op == 'D' && r.grp != 0)
    rec.check("onUpdate(unwatchedFields) count", updCount.get == wantUpd,
      s"got ${updCount.get} want $wantUpd")
    rec.check("onDelete(unwatchedRecords) count", delCount.get == wantDel,
      s"got ${delCount.get} want $wantDel")
    if (updCount.get != wantUpd) rec.failed += 1
    if (delCount.get != wantDel) rec.failed += 1
    rec.set("segments", Layers.segmentCount(walDir))

    Layers.engine(rec, obs, queryName)
    if (a.trace) {
      pump.foreach(_.finish(want.map { case (k, due) => k -> due }.toMap, got))
      Layers.decodeRate(rec, Layers.framesOf(walDir))
    }
    obs.close()
  }
}

/** The traced run's replication session, pumped by the benchmark itself
  * through the public `PgReplicationClient.poll`, `ReplicationTailer
  * .accept` and `ReplicationTailer.flush`, with `runUntilIdle`'s rules:
  * flush after `idleMs` without a message, and let `accept` rotate a
  * segment after 4096 frames. Spans per change: wire (due → polled),
  * tailer buffer (polled → its segment on disk), delivery (on disk →
  * handler).
  *
  * A segment's on-disk time is its file's modification time, not the
  * return of `flush()`: a flush can write its segment and then not
  * return (its standby-status ack blocked in runs of this benchmark), and
  * the frames are on disk either way.
  */
final class TracedPump(a: Args, rec: Rec, config: GraftConfig, walDir: String) {
  private val idleMs = 2000L
  private val ep = PgReplicationClient.Endpoint(port = a.pgPort,
    unixSocketDir = Some(a.pgSock), database = "postgres", user = "postgres",
    applicationName = "perfbench-traced")
  private val client = new PgReplicationClient(ep).connect()
  graft.sources.cdc.WalSegments.writePublication(walDir, Live.Pub,
    client.publicationTables(Live.Pub))
  client.createSlot(config.effectiveSlotName, temporary = true)
    .startReplication(config.effectiveSlotName, Live.Pub)
  private val tailer = new ReplicationTailer(client, walDir)
  @volatile private var stopping = false
  private val relations = mutable.HashMap[Int, String]()
  // every change frame: (key, polled at)
  private val polled = new ConcurrentLinkedQueue[(Live.Key, Long)]()
  @volatile private var frames = 0L

  private def keyOf(m: WalMessage): Option[Live.Key] = {
    def cellL(c: IndexedSeq[Cell], i: Int): Long = c(i) match {
      case Cell.Text(v) => v.toLong
      case _ => -1L
    }
    m match {
      case WalMessage.Relation(id, _, name, _, _) => relations(id) = name; None
      case WalMessage.Insert(rel, t) => Some((relations(rel), cellL(t, 0), "insert", cellL(t, 2)))
      case WalMessage.Update(rel, _, _, t) => Some((relations(rel), cellL(t, 0), "update", cellL(t, 2)))
      case WalMessage.Delete(rel, _, t) => Some((relations(rel), cellL(t, 0), "delete", cellL(t, 2)))
      case _ => None
    }
  }

  private val thread = new Thread(() => {
    var live = true
    try while (live && !stopping) {
      client.poll(idleMs) match {
        case Some(m) =>
          val t = Clock.nowUs
          m match {
            case x: PgReplicationClient.XLogData =>
              frames += 1
              keyOf(PgOutputDecoder.decode(x.frame)).foreach(k => polled.add((k, t)))
            case _ => ()
          }
          live = rec.timed("sources.replication.accept")(tailer.accept(m))
        case None =>
          val t0 = Clock.nowUs
          tailer.flush()
          val t1 = Clock.nowUs
          rec.span("sources.replication.flush", t0, t1)
          rec.sample("tailer.flush_ms", (t1 - t0) / 1000.0)
      }
    } catch { case e: Throwable => if (!stopping) rec.check("traced pump", ok = false, e.toString) }
  }, "perfbench-traced-pump")
  thread.setDaemon(true)

  def start(): Unit = thread.start()

  def close(): Unit = { stopping = true; thread.join(5000); client.close() }

  /** Per-change spans and the wire/buffer samples of the timed changes. */
  def finish(dueOf: Map[Live.Key, Long], delivered: Seq[(Live.Key, Long)]): Unit = {
    val written = graft.sources.cdc.WalSegments.listSegments(walDir).map { p =>
      java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(p.toUri))
        .to(java.util.concurrent.TimeUnit.MICROSECONDS)
    }.sorted
    rec.set("tailer.frames", frames)
    rec.set("tailer.segments", written.size.toLong)
    val handled = delivered.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    var id = 0L
    polled.asScala.foreach { case (k, at) =>
      for (due <- dueOf.get(k); onDisk <- written.find(_ >= at)) {
        rec.sample("replication.wire_ms", (at - due) / 1000.0)
        rec.sample("tailer.buffer_ms", (onDisk - at) / 1000.0)
        handled.get(k).foreach { h =>
          val root = rec.span("change", due, h, -1, id)
          rec.span("sources.replication.wire", due, at, root, id)
          rec.span("sources.replication.tailer", at, onDisk, root, id)
          rec.span("sources.cdc+streaming.delivery", onDisk, h, root, id)
        }
        id += 1
      }
    }
  }
}
