package graft

import graft.sources.cdc.{CdcSourceProvider, WalSegments}
import graft.sources.replication.{PgReplicationClient, ReplicationTailer}
import graft.streaming.TxnAssembler
import graft.operators.cdc.ChangeStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The LIVE replication lane end to end, against a real walsender: wire
  * client → CopyBoth stream → segment tailer → DSv2 source → assembly →
  * Event view, with the flushed-LSN ack verified against the server's own
  * `pg_replication_slots.confirmed_flush_lsn` — the reference's
  * production topology (a replication connection feeding the event
  * pipeline, lib/walex/replication/server.ex), not a fixture of it.
  * Auto-skipped where no PostgreSQL installation exists.
  */
class LiveReplicationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A row into `table` every `everyMs` over one psql connection, from a
    * background thread, until [[stop]]; ids count up from 1.
    */
  private final class Ticker(cluster: LivePgHarness.Cluster, table: String, everyMs: Long) {
    private val session = cluster.psqlSession()
    @volatile private var running = true
    val startedMs: Long = System.currentTimeMillis()
    private val thread = new Thread(() => {
      var id = 0L
      while (running) {
        id += 1
        session.send(s"INSERT INTO $table VALUES ($id);")
        Thread.sleep(everyMs)
      }
    }, "live-spec-ticker")
    thread.setDaemon(true)
    thread.start()

    /** Stop sending; psql's error output, None when every insert committed. */
    def stop(): Option[String] = { running = false; thread.join(); session.close() }
  }

  private def tickTable(cluster: LivePgHarness.Cluster, table: String): Unit =
    cluster.psql(s"""
      CREATE TABLE $table (id bigint PRIMARY KEY);
      ALTER TABLE $table REPLICA IDENTITY FULL;
      CREATE PUBLICATION ${table}_pub FOR TABLE $table""")

  test("START_REPLICATION stream → tailer segments → events; acks advance confirmed_flush_lsn") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    val cluster = LivePgHarness.provision()
    var client: PgReplicationClient = null
    try {
      cluster.psql("""
        CREATE TABLE items (id bigint PRIMARY KEY, label text, n bigint);
        ALTER TABLE items REPLICA IDENTITY FULL;
        CREATE PUBLICATION repl_pub FOR TABLE items""")
      cluster.psql(
        "SELECT pg_create_logical_replication_slot('repl_slot', 'pgoutput')")

      // live walsender session over the unix socket (trust auth; the JVM
      // connects directly — no JDBC driver exists or is needed)
      client = new PgReplicationClient(PgReplicationClient.Endpoint(
        unixSocketDir = Some(cluster.sock),
        database = "postgres", user = "postgres"))
        .connect()
        .startReplication("repl_slot", "repl_pub")

      val walDir = s"${cluster.base}/wal"
      val tailer = new ReplicationTailer(client, walDir, framesPerSegment = 4)

      // round 1: one multi-row transaction + an update
      cluster.psql("""
        BEGIN;
        INSERT INTO items VALUES (1, 'one', 10), (2, 'two', 20);
        COMMIT;
        UPDATE items SET n = 21 WHERE id = 2""")
      tailer.runUntilIdle(idleMs = 4000)
      val afterRound1 = WalSegments.listSegments(walDir).size
      assert(afterRound1 >= 1, "round-1 traffic produced no segments")

      // round 2 on the SAME live stream: later segments must replay the
      // cached Relation metadata (the server sent it once, in round 1)
      cluster.psql("DELETE FROM items WHERE id = 1")
      tailer.runUntilIdle(idleMs = 4000)
      val segments = WalSegments.listSegments(walDir)
      assert(segments.size > afterRound1, "round-2 traffic produced no new segment")
      val lastSegFrames = {
        val it = WalSegments.readFrames(segments.last)
        try it.toList finally it.close()
      }
      assert(lastSegFrames.exists(_.headOption.contains('R'.toByte)),
        "later segments must replay cached Relation metadata at their head")

      // the tailer acked what it wrote: the slot's confirmed position
      // moved past the slot-creation point (server-side proof of S6)
      val confirmed = PgReplicationClient.parseLsn(cluster.psql(
        "SELECT confirmed_flush_lsn FROM pg_replication_slots " +
          "WHERE slot_name = 'repl_slot'").trim)
      val created = PgReplicationClient.parseLsn(cluster.psql(
        "SELECT restart_lsn FROM pg_replication_slots WHERE slot_name = 'repl_slot'").trim)
      assert(confirmed > 0 && confirmed >= created,
        s"ack did not advance confirmed_flush_lsn ($confirmed vs $created)")

      // the produced segments feed the standard pipeline
      WalSegments.writePublication(walDir, "repl_pub", Seq("public.items"))
      val raw = spark.readStream.format(classOf[CdcSourceProvider].getName)
        .option("path", walDir).option("publication", "repl_pub").load()
      val events = ChangeStream.eventsFromAssembled(TxnAssembler.assemble(raw).toDF())
      val q = events.writeStream.format("memory").queryName("t_liverepl")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      GraftSession.awaitFinished(q, 120000)
      val rows = spark.table("t_liverepl").orderBy("lsn", "seq").collect()
      val byOp = rows.groupBy(_.getAs[String]("type"))
      assert(byOp.getOrElse("insert", Array.empty).length == 2)
      assert(byOp("update").length == 1 && byOp("delete").length == 1)
      // UPDATE events carry `changes` (not old_record — reference
      // README.md:215-216 semantics): the real old/new images diff to it
      val changes = byOp("update").head
        .getAs[Map[String, org.apache.spark.sql.Row]]("changes")
      assert(changes.keySet == Set("n"), s"changes: ${changes.keySet}")
      assert(changes("n").getAs[String]("old_value") == "20"
        && changes("n").getAs[String]("new_value") == "21")
      assert(byOp("update").head.getAs[Map[String, String]]("new_record")("n") == "21")
      // the two inserts share one transaction: same xid through assembly
      assert(byOp("insert").map(_.getAs[Long]("xid")).distinct.length == 1)
      assert(byOp("delete").head.getAs[Map[String, String]]("old_record")("label") == "one")
    } finally {
      if (client != null) client.close()
      cluster.stop()
    }
  }

  test("SCRAM-SHA-256 auth against a real server: good password in, bad password refused") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    val cluster = LivePgHarness.provision()
    try {
      cluster.psql("SET password_encryption = 'scram-sha-256'; " +
        "CREATE ROLE scram_user LOGIN REPLICATION PASSWORD 'sekret'")
      cluster.psql("CREATE TABLE s_t (id bigint PRIMARY KEY); " +
        "ALTER TABLE s_t REPLICA IDENTITY FULL; " +
        "CREATE PUBLICATION s_pub FOR TABLE s_t")
      // force SCRAM for this user: first-match hba rules ahead of trust
      val hba = java.nio.file.Paths.get(s"${cluster.data}/pg_hba.conf")
      val rules = "local replication scram_user scram-sha-256\n" +
        "local all scram_user scram-sha-256\n"
      java.nio.file.Files.writeString(hba,
        rules + java.nio.file.Files.readString(hba))
      LivePgHarness.shOk(s"${cluster.bin}/pg_ctl -D ${cluster.data} reload")

      def endpoint(pw: String) = PgReplicationClient.Endpoint(
        unixSocketDir = Some(cluster.sock),
        database = "postgres", user = "scram_user", password = Some(pw))
      // wrong password: the server's SASL verdict, not a client-side check
      val bad = new PgReplicationClient(endpoint("wrong"))
      val e = intercept[java.io.IOException](bad.connect())
      bad.close()
      assert(e.getMessage.contains("28P01") || e.getMessage.toLowerCase.contains("password"),
        s"expected an auth failure, got: ${e.getMessage}")
      // right password: full exchange incl. server-signature verification,
      // then an actual replication session over the authenticated channel
      val client = new PgReplicationClient(endpoint("sekret")).connect()
      try {
        assert(client.publicationExists("s_pub"))
        client.createSlot("s_slot", temporary = true)
          .startReplication("s_slot", "s_pub")
        cluster.psql("INSERT INTO s_t VALUES (42)")
        val deadline = System.currentTimeMillis() + 45000
        var sawInsert = false
        while (!sawInsert && System.currentTimeMillis() < deadline)
          client.poll(1000) match {
            case Some(PgReplicationClient.XLogData(_, _, _, frame)) =>
              sawInsert = frame.headOption.contains('I'.toByte)
            case _ => ()
          }
        assert(sawInsert, "authenticated session did not deliver the insert frame")
      } finally client.close()
    } finally cluster.stop()
  }

  test("durable slot resumes after disconnect: offline traffic delivered, nothing duplicated") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    val cluster = LivePgHarness.provision()
    try {
      cluster.psql("""
        CREATE TABLE ledger (id bigint PRIMARY KEY, v bigint);
        ALTER TABLE ledger REPLICA IDENTITY FULL;
        CREATE PUBLICATION dur_pub FOR TABLE ledger""")
      val walDir = s"${cluster.base}/wal-dur"
      def session(): (PgReplicationClient, ReplicationTailer) = {
        val c = new PgReplicationClient(PgReplicationClient.Endpoint(
          unixSocketDir = Some(cluster.sock),
          database = "postgres", user = "postgres"))
          .connect()
          .createSlot("dur_slot", temporary = false) // S4: durable, resumable
          .startReplication("dur_slot", "dur_pub")
        (c, new ReplicationTailer(c, walDir, framesPerSegment = 4))
      }
      // session 1: two rows arrive, are segmented, and ACKED
      val (c1, t1) = session()
      cluster.psql("INSERT INTO ledger VALUES (1, 10), (2, 20)")
      t1.runUntilIdle(idleMs = 4000)
      Thread.sleep(500) // let the walsender process the final ack before EOF
      c1.close() // connection dies; the DURABLE slot and its position survive
      // offline traffic: committed while no consumer is connected
      cluster.psql("INSERT INTO ledger VALUES (3, 30)")
      cluster.psql("UPDATE ledger SET v = 11 WHERE id = 1")
      // session 2 resumes the SAME slot from confirmed_flush_lsn: the
      // tailer appends new segments after the existing ones
      val (c2, t2) = session()
      t2.runUntilIdle(idleMs = 4000)
      c2.close()
      WalSegments.writePublication(walDir, "dur_pub", Seq("public.ledger"))
      val raw = spark.readStream.format(classOf[CdcSourceProvider].getName)
        .option("path", walDir).option("publication", "dur_pub").load()
      val events = ChangeStream.eventsFromAssembled(TxnAssembler.assemble(raw).toDF())
      val q = events.writeStream.format("memory").queryName("t_durable")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      GraftSession.awaitFinished(q, 120000)
      val rows = spark.table("t_durable").orderBy("lsn", "seq").collect()
      val ids = rows.filter(_.getAs[String]("type") == "insert")
        .map(_.getAs[Map[String, String]]("new_record")("id")).sorted.toSeq
      // exactly once each: the ack before disconnect means the resumed
      // stream replays nothing already segmented
      assert(ids == Seq("1", "2", "3"), s"offline insert lost or duplicated: $ids")
      assert(rows.count(_.getAs[String]("type") == "update") == 1)
    } finally cluster.stop()
  }

  test("Graft.replicate facade: live publication check, temporary slot lifecycle, events end to end") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    import graft.streaming.{Engine, Graft, GraftConfig}
    val cluster = LivePgHarness.provision()
    try {
      cluster.psql("""
        CREATE TABLE acct (id bigint PRIMARY KEY, v bigint);
        ALTER TABLE acct REPLICA IDENTITY FULL;
        CREATE PUBLICATION face_pub FOR TABLE acct""")
      val config = GraftConfig("face_demo",
        database = Some("postgres"), username = Some("postgres"),
        publication = Some("face_pub"))
      // S2 against the real catalog: a wrong publication fails before any slot
      intercept[IllegalStateException] {
        Graft.replicate(config.copy(publication = Some("nope")),
          s"${cluster.base}/wal-nope", unixSocketDir = Some(cluster.sock))
      }
      val walDir = s"${cluster.base}/wal-face"
      val repl = Graft.replicate(config, walDir,
        unixSocketDir = Some(cluster.sock), framesPerSegment = 4, idleMs = 1000)
      try {
        // temporary slot (durableSlot=false) exists while connected — the
        // reference's S3 semantics on an actual server
        assert(cluster.psql("SELECT temporary FROM pg_replication_slots " +
          "WHERE slot_name = 'face_demo_graft'").trim == "t")
        cluster.psql("INSERT INTO acct VALUES (1, 5), (2, 6)")
        cluster.psql("UPDATE acct SET v = 7 WHERE id = 1")
        // the daemon pump flushes on idle; wait until BOTH transactions
        // (insert txn + update txn) are durably segmented — a fixed sleep
        // loses under contended schedulers
        def commitFrames: Int = WalSegments.listSegments(walDir).map { p =>
          val it = WalSegments.readFrames(p)
          try it.count(_.headOption.contains('C'.toByte)) finally it.close()
        }.sum
        val deadline = System.currentTimeMillis() + 60000
        while (commitFrames < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(250)
        assert(commitFrames >= 2, s"both transactions not flushed: $commitFrames")
        // standard engine over the replicated segments
        WalSegments.writePublication(walDir, "face_pub", Seq("public.acct"))
        val raw = spark.readStream.format(classOf[CdcSourceProvider].getName)
          .option("path", walDir).option("publication", "face_pub").load()
        val events = ChangeStream.eventsFromAssembled(TxnAssembler.assemble(raw).toDF())
        val got = new java.util.concurrent.atomic.AtomicInteger(0)
        val engine = new Engine().onEvent("acct") { df => got.addAndGet(df.count().toInt); () }
        val q = engine.start(events, trigger = Trigger.AvailableNow(), queryName = "t_face")
        GraftSession.awaitFinished(q, 120000)
        assert(got.get() >= 3, s"expected the 2 inserts + update, got ${got.get()}")
      } finally repl.close()
      // closing the connection drops the TEMPORARY slot server-side
      val deadline = System.currentTimeMillis() + 45000
      var slots = ""
      do {
        slots = cluster.psql("SELECT count(*) FROM pg_replication_slots " +
          "WHERE slot_name = 'face_demo_graft'").trim
        if (slots != "0") Thread.sleep(250)
      } while (slots != "0" && System.currentTimeMillis() < deadline)
      assert(slots == "0", "temporary slot must die with its connection (S3)")
    } finally cluster.stop()
  }

  test("TLS: SSLRequest upgrade to an encrypted walsender session, verified server-side") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    assume(LivePgHarness.haveOpenssl, "no openssl for the self-signed cert — skipping")
    val port = LivePgHarness.freePort()
    val cluster = LivePgHarness.provisionTls(port)
    try {
      cluster.psql("""
        CREATE TABLE tls_t (id bigint PRIMARY KEY);
        ALTER TABLE tls_t REPLICA IDENTITY FULL;
        CREATE PUBLICATION tls_pub FOR TABLE tls_t""")
      def endpoint(mode: String) = PgReplicationClient.Endpoint(
        host = "127.0.0.1", port = port,
        database = "postgres", user = "postgres", sslMode = mode)
      // plaintext TCP to the same server: allowed by hba, but the SERVER
      // reports the connection unencrypted — the probe tells the truth
      val plain = new PgReplicationClient(endpoint("disable")).connect()
      try assert(!plain.connectionEncrypted) finally plain.close()
      // sslMode=require: SSLRequest upgrade + handshake against the
      // self-signed cert, and the server sees OUR backend as ssl=true
      val client = new PgReplicationClient(endpoint("require")).connect()
      try {
        assert(client.connectionEncrypted,
          "server must report this walsender connection as TLS")
        client.createSlot("tls_slot", temporary = true)
          .startReplication("tls_slot", "tls_pub")
        cluster.psql("INSERT INTO tls_t VALUES (7)")
        val deadline = System.currentTimeMillis() + 45000
        var sawInsert = false
        while (!sawInsert && System.currentTimeMillis() < deadline)
          client.poll(1000) match {
            case Some(PgReplicationClient.XLogData(_, _, _, frame)) =>
              sawInsert = frame.headOption.contains('I'.toByte)
            case _ => ()
          }
        assert(sawInsert, "no insert frame over the encrypted session")
      } finally client.close()

      // ---- pinned CA (libpq sslrootcert): verify-full semantics ----
      // the server's own self-signed cert file IS the trust anchor; with
      // it pinned, full verification (chain + hostname via the cert's
      // SANs) succeeds against the self-signed server…
      val pinned = new PgReplicationClient(PgReplicationClient.Endpoint(
        host = "localhost", port = port, database = "postgres",
        user = "postgres", sslMode = "verify",
        sslRootCert = Some(s"${cluster.base}/server.crt"))).connect()
      try assert(pinned.connectionEncrypted,
        "pinned-CA verify session must be TLS") finally pinned.close()
      // …and WITHOUT the pin, the JVM default truststore refuses the
      // self-signed chain — verify means verify
      val refused = intercept[Exception] {
        new PgReplicationClient(PgReplicationClient.Endpoint(
          host = "localhost", port = port, database = "postgres",
          user = "postgres", sslMode = "verify")).connect()
      }
      assert(refused.isInstanceOf[javax.net.ssl.SSLException] ||
        refused.getCause != null, s"expected a handshake failure: $refused")

      // ---- SCRAM-SHA-256-PLUS channel binding over the TLS session ----
      // scramtls is hba-gated to ssl+scram; over TLS the server offers
      // SCRAM-SHA-256-PLUS and the client must pick it and bind to
      // tls-server-end-point — the SERVER verifies the c= attribute
      // against its own cert, so a successful exchange proves the binding
      val bound = new PgReplicationClient(PgReplicationClient.Endpoint(
        host = "localhost", port = port, database = "postgres",
        user = "scramtls", password = Some("tls-secret"),
        sslMode = "verify",
        sslRootCert = Some(s"${cluster.base}/server.crt"))).connect()
      try {
        assert(bound.authMechanism == "SCRAM-SHA-256-PLUS",
          s"expected channel-bound SCRAM over TLS, got ${bound.authMechanism}")
        assert(bound.connectionEncrypted)
        // and the channel-bound session is a WORKING walsender
        bound.createSlot("tls_cb_slot", temporary = true)
          .startReplication("tls_cb_slot", "tls_pub")
        cluster.psql("INSERT INTO tls_t VALUES (8)")
        val until = System.currentTimeMillis() + 45000
        var saw = false
        while (!saw && System.currentTimeMillis() < until)
          bound.poll(1000) match {
            case Some(PgReplicationClient.XLogData(_, _, _, frame)) =>
              saw = frame.headOption.contains('I'.toByte)
            case _ => ()
          }
        assert(saw, "no insert frame over the channel-bound session")
      } finally bound.close()
      // a deliberately WRONG binding is refused by the server: prove the
      // c= attribute is actually checked by connecting with plaintext
      // SCRAM (gs2 "y,,") — the server treats a y-flag from a client it
      // offered -PLUS to as a downgrade… only over TLS. Over the
      // unix socket there is no channel, "n,," applies, and hba trust
      // short-circuits — so instead assert the mechanism choice is
      // channel-aware: plaintext TCP to scramtls is hba-rejected entirely
      val noTls = intercept[Exception] {
        new PgReplicationClient(PgReplicationClient.Endpoint(
          host = "127.0.0.1", port = port, database = "postgres",
          user = "scramtls", password = Some("tls-secret"),
          sslMode = "disable")).connect()
      }
      assert(noTls.getMessage != null, s"plaintext scramtls must be refused: $noTls")
    } finally cluster.stop()
  }

  test("LIVE TAIL: database traffic reaches handlers of a RUNNING streaming query") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    import graft.streaming.{Engine, Graft, GraftConfig}
    val cluster = LivePgHarness.provision()
    try {
      cluster.psql("""
        CREATE TABLE tail_t (id bigint PRIMARY KEY, v bigint);
        ALTER TABLE tail_t REPLICA IDENTITY FULL;
        CREATE PUBLICATION tail_pub FOR TABLE tail_t""")
      val walDir = s"${cluster.base}/wal-tail"
      val config = GraftConfig("tail_demo",
        database = Some("postgres"), username = Some("postgres"),
        publication = Some("tail_pub"),
        // consumer-coupled acks + SELF-BOUNDING replay history: the
        // tailer expires segments the query has committed past, live
        ackPath = Some(s"$walDir/ack.json"),
        retainConsumed = true)
      // the production topology in ONE call, both halves LIVE at once:
      // startLive = replicate() pumping the walsender into segments (with
      // the publication manifest from the real catalog) + start() tailing
      // the directory with a continuously-running micro-batch query
      val seen = new java.util.concurrent.atomic.AtomicInteger(0)
      val engine = new Engine().onEvent("tail_t") { df =>
        seen.addAndGet(df.count().toInt); ()
      }
      val (repl, q) = Graft.startLive(spark, config, walDir, engine,
        unixSocketDir = Some(cluster.sock), framesPerSegment = 4, idleMs = 500)
      try {
        def awaitCount(n: Int): Boolean = {
          val until = System.currentTimeMillis() + 60000
          while (seen.get() < n && System.currentTimeMillis() < until)
            Thread.sleep(250)
          seen.get() == n
        }
        cluster.psql("INSERT INTO tail_t VALUES (1, 10), (2, 20)")
        assert(awaitCount(2), s"first batch not delivered live: ${seen.get()}")
        // and AGAIN on the same running query — segment discovery is
        // continuous, not a startup-time listing
        cluster.psql("UPDATE tail_t SET v = 11 WHERE id = 1")
        cluster.psql("DELETE FROM tail_t WHERE id = 2")
        assert(awaitCount(4), s"second round not delivered live: ${seen.get()}")
        // round 3: retention happens LIVE — acks flow as batches commit,
        // and the tailer's flush cycle expires consumed segments. Keep a
        // trickle of traffic so batches (and so acks) keep advancing.
        import graft.sources.cdc.WalSegments
        def retentionRec = WalSegments.readRetention(
          WalSegments.fsFor(walDir)._1, new org.apache.hadoop.fs.Path(walDir))
        val until = System.currentTimeMillis() + 60000
        var extra = 100
        while (retentionRec.isEmpty && System.currentTimeMillis() < until) {
          cluster.psql(s"INSERT INTO tail_t VALUES ($extra, 1)")
          extra += 1
          Thread.sleep(1000)
        }
        val rec = retentionRec
        assert(rec.exists(_.firstSegment >= 1),
          s"no live expiry happened: $rec, segments=${
            WalSegments.listSegments(walDir).map(_.getName)}")
        // everything below the recorded boundary is gone from disk
        assert(WalSegments.listSegments(walDir)
          .flatMap(p => WalSegments.segIdxOf(p.getName))
          .forall(_ >= rec.get.firstSegment),
          s"expired segments survive: ${WalSegments.listSegments(walDir).map(_.getName)}")
      } finally {
        q.stop()
        repl.close()
      }
    } finally cluster.stop()
  }

  test("S7 chaos: pg_terminate_backend on the walsender — supervised reconnect, nothing lost") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    import graft.streaming.{Graft, GraftConfig}
    val cluster = LivePgHarness.provision()
    try {
      cluster.psql("""
        CREATE TABLE chaos (id bigint PRIMARY KEY, v bigint);
        ALTER TABLE chaos REPLICA IDENTITY FULL;
        CREATE PUBLICATION chaos_pub FOR TABLE chaos""")
      val walDir = s"${cluster.base}/wal-chaos"
      // durable slot: the kill window must lose nothing
      val config = GraftConfig("chaos_demo",
        database = Some("postgres"), username = Some("postgres"),
        publication = Some("chaos_pub"), durableSlot = true,
        checkpointDir = Some(s"${cluster.base}/ckpt"))
      val repl = Graft.replicate(config, walDir,
        unixSocketDir = Some(cluster.sock), framesPerSegment = 4, idleMs = 500)
      try {
        def segCount = WalSegments.listSegments(walDir).size
        def waitFor(cond: => Boolean, ms: Long): Boolean = {
          val until = System.currentTimeMillis() + ms
          while (!cond && System.currentTimeMillis() < until) Thread.sleep(250)
          cond
        }
        cluster.psql("INSERT INTO chaos VALUES (1, 10)")
        assert(waitFor(segCount >= 1, 60000), "pre-kill traffic not segmented")
        // the reference's own chaos scenario (database_test.exs): kill the
        // walsender out from under the client
        cluster.psql("SELECT pg_terminate_backend(active_pid) " +
          "FROM pg_replication_slots WHERE slot_name = 'chaos_demo_graft'")
        // traffic during/after the kill — the supervised reconnect must
        // resume the durable slot and deliver it
        cluster.psql("INSERT INTO chaos VALUES (2, 20)")
        val before = segCount
        assert(waitFor(segCount > before, 60000),
          "no new segment after walsender kill — reconnect failed")
        assert(repl.isRunning, "replicator thread died instead of reconnecting")
        // end-to-end: both rows exactly once across the kill
        WalSegments.writePublication(walDir, "chaos_pub", Seq("public.chaos"))
        val raw = spark.readStream.format(classOf[CdcSourceProvider].getName)
          .option("path", walDir).option("publication", "chaos_pub").load()
        val events = ChangeStream.eventsFromAssembled(TxnAssembler.assemble(raw).toDF())
        val q = events.writeStream.format("memory").queryName("t_chaos")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        GraftSession.awaitFinished(q, 120000)
        val ids = spark.table("t_chaos")
          .filter(org.apache.spark.sql.functions.col("type") === "insert")
          .collect().map(_.getAs[Map[String, String]]("new_record")("id")).sorted.toSeq
        assert(ids == Seq("1", "2"), s"rows lost or duplicated across the kill: $ids")
      } finally repl.close()
    } finally cluster.stop()
  }

  test("consistent bootstrap: exported snapshot + stream replicate exactly-once across the boundary") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    val cluster = LivePgHarness.provision()
    var client: PgReplicationClient = null
    try {
      cluster.psql("""
        CREATE TABLE acct (id bigint PRIMARY KEY, bal bigint);
        CREATE PUBLICATION boot_pub FOR TABLE acct;
        INSERT INTO acct SELECT g, g * 100 FROM generate_series(1, 5) g""")
      client = new PgReplicationClient(PgReplicationClient.Endpoint(
        unixSocketDir = Some(cluster.sock),
        database = "postgres", user = "postgres")).connect()
      val walDir = s"${cluster.base}/bootwal"
      val url = s"jdbc:graftpg:///postgres?socketDir=${cluster.sock}" +
        s"&port=${cluster.port}&user=postgres"
      // the boundary theorem, made deterministic via the afterSlot seam: a
      // row committed AFTER the consistent point but BEFORE any snapshot
      // read must reach the replica via the STREAM only
      val res = graft.sources.replication.Bootstrap.snapshotToSegments(
        client,
        () => new graft.sources.jdbc.GraftPgDriver()
          .connect(url, new java.util.Properties()),
        "boot_slot", "boot_pub", walDir,
        afterSlot = () => { cluster.psql("INSERT INTO acct VALUES (99, 9900)"); () })
      assert(res.tables == Seq("public.acct"))
      assert(res.rows == 5,
        s"snapshot isolation must exclude the post-slot row: $res")
      assert(res.segments >= 1 && res.consistentLsn > 0)

      // post-bootstrap traffic lands while the stream is still offline —
      // the durable slot retains it
      cluster.psql(
        "INSERT INTO acct VALUES (6, 600); UPDATE acct SET bal = 9901 WHERE id = 99")
      client.startReplication("boot_slot", "boot_pub",
        startLsn = res.consistentLsn)
      val tailer = new ReplicationTailer(client, walDir, framesPerSegment = 4)
      tailer.runUntilIdle(idleMs = 4000)

      // snapshot + stream segments through the FULL standard pipeline
      val raw = spark.readStream.format(classOf[CdcSourceProvider].getName)
        .option("path", walDir).option("publication", "boot_pub").load()
      val events = ChangeStream.eventsFromAssembled(TxnAssembler.assemble(raw).toDF())
      val q = events.writeStream.format("memory").queryName("t_boot")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      GraftSession.awaitFinished(q, 120000)
      val rows = spark.table("t_boot").collect()
      val inserts = rows.filter(_.getAs[String]("type") == "insert")
        .map(_.getAs[Map[String, String]]("new_record")("id")).sorted.toSeq
      // 1-5 from the snapshot; 99 (boundary) and 6 (offline) from the
      // stream — each exactly once, no gap, no overlap
      assert(inserts == Seq("1", "2", "3", "4", "5", "6", "99").sorted,
        s"bootstrap/stream seam lost or duplicated rows: $inserts")
      val updates = rows.filter(_.getAs[String]("type") == "update")
      assert(updates.length == 1 &&
        updates.head.getAs[Map[String, String]]("new_record")("bal") == "9901")
      // snapshot segments carry the REAL catalog identity: the typed
      // source.columns come from live attribute OIDs, same as streamed ones
      val snapRow = rows
        .filter(_.getAs[String]("type") == "insert")
        .find(_.getAs[Map[String, String]]("new_record")("id") == "1").get
      assert(snapRow.getAs[org.apache.spark.sql.Row]("source")
        .getAs[Map[String, String]]("columns") == Map("id" -> "int8", "bal" -> "int8"))
    } finally {
      if (client != null) client.close()
      cluster.stop()
    }
  }

  test("facade bootstrap: Graft.bootstrap + startLive replay snapshot AND live rows to handlers") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    import graft.streaming.{Engine, Graft, GraftConfig}
    val cluster = LivePgHarness.provision()
    try {
      cluster.psql("""
        CREATE TABLE inv (id bigint PRIMARY KEY, qty bigint);
        CREATE PUBLICATION inv_pub FOR TABLE inv;
        INSERT INTO inv SELECT g, g FROM generate_series(1, 3) g""")
      val walDir = s"${cluster.base}/wal-boot"
      // checkpoint under the cluster's own temp dir: the durable-slot
      // default (/tmp/graft-ckpt/<slot>) would outlive this throwaway
      // cluster and replay stale offsets into the next run's fresh walDir
      // (tripping the no-silent-remap guard — by design)
      val config = GraftConfig("boot_demo",
        database = Some("postgres"), username = Some("postgres"),
        publication = Some("inv_pub"), durableSlot = true,
        checkpointDir = Some(s"${cluster.base}/ckpt-boot"))
      val res = Graft.bootstrap(config, walDir,
        unixSocketDir = Some(cluster.sock))
      assert(res.rows == 3 && res.segments == 1)
      val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val engine = new Engine().onInsert("inv") { df =>
        df.collect().foreach(r =>
          ids.add(r.getAs[Map[String, String]]("new_record")("id")))
      }
      // replicate() resumes the bootstrap's durable slot; the query reads
      // the snapshot segments FIRST, then the live stream appends
      val (repl, q) = Graft.startLive(spark, config, walDir, engine,
        unixSocketDir = Some(cluster.sock), framesPerSegment = 4, idleMs = 500)
      try {
        cluster.psql("INSERT INTO inv VALUES (4, 4)")
        val until = System.currentTimeMillis() + 60000
        while (ids.size < 4 && System.currentTimeMillis() < until)
          Thread.sleep(250)
        assert(ids.size == 4 &&
          Set("1", "2", "3", "4").forall(ids.contains),
          s"snapshot+live seam delivered $ids")
      } finally { q.stop(); repl.close() }
    } finally cluster.stop()
  }

  test("LIVE REPLICA: bootstrap + live stream materialized into the current-state store") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    import graft.streaming.{Graft, GraftConfig, Materializer}
    import org.apache.spark.sql.functions.{col, element_at}
    import spark.implicits._
    val cluster = LivePgHarness.provision()
    try {
      // PK-only replica identity on purpose: a delete's old image then
      // carries just the key — exactly what the materializer needs
      cluster.psql("""
        CREATE TABLE acct (id bigint PRIMARY KEY, bal bigint);
        CREATE PUBLICATION acct_pub FOR TABLE acct;
        INSERT INTO acct SELECT g, 100 * g FROM generate_series(1, 3) g""")
      val walDir = s"${cluster.base}/wal-mat"
      val stateDir = s"${cluster.base}/state-mat"
      val config = GraftConfig("mat_demo",
        database = Some("postgres"), username = Some("postgres"),
        publication = Some("acct_pub"), durableSlot = true,
        checkpointDir = Some(s"${cluster.base}/ckpt-mat"))
      // initial sync lands the 3 existing rows as snapshot segments
      assert(Graft.bootstrap(config, walDir,
        unixSocketDir = Some(cluster.sock)).rows == 3)
      val repl = Graft.replicate(config, walDir,
        unixSocketDir = Some(cluster.sock), framesPerSegment = 4, idleMs = 500)
      val q = Graft.materialize(spark, config, walDir, stateDir, buckets = 4)
      try {
        cluster.psql("""
          UPDATE acct SET bal = 999 WHERE id = 2;
          DELETE FROM acct WHERE id = 3;
          INSERT INTO acct VALUES (4, 400)""")
        def replica: Set[(String, String)] =
          try Materializer.currentState(spark, stateDir, Graft.materializeSpec(4))
            .select(col("record_key"), element_at(col("record"), "bal"))
            .as[(String, String)].collect().toSet
          catch { case _: IllegalStateException => Set.empty } // no manifest yet
        val want = Set(("1", "100"), ("2", "999"), ("4", "400"))
        val until = System.currentTimeMillis() + 60000
        while (replica != want && System.currentTimeMillis() < until)
          Thread.sleep(500)
        assert(replica == want,
          s"live lake replica diverged from the table: $replica")
      } finally { q.stop(); repl.close() }
    } finally cluster.stop()
  }

  test("flush deadline: a never-quiet stream reaches disk within idleMs while traffic flows") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    import graft.streaming.{Graft, GraftConfig}
    val cluster = LivePgHarness.provision()
    try {
      tickTable(cluster, "tick")
      val walDir = s"${cluster.base}/wal-tick"
      val idleMs = 2000L
      val config = GraftConfig("tick_demo", database = Some("postgres"),
        username = Some("postgres"), publication = Some("tick_pub"))
      // frame rotation out of reach: only the deadline can flush mid-traffic
      val repl = Graft.replicate(config, walDir, unixSocketDir = Some(cluster.sock),
        framesPerSegment = 1000000, idleMs = idleMs)
      try {
        // a commit every ~50 ms for 6 s: the stream is never quiet for idleMs
        val ticker = new Ticker(cluster, "tick", everyMs = 50L)
        val trafficEnds = ticker.startedMs + 6000L
        def firstCommitOnDisk: Boolean =
          WalSegments.listSegments(walDir).headOption.exists { p =>
            val it = WalSegments.readFrames(p)
            try it.exists(_.headOption.contains('C'.toByte)) finally it.close()
          }
        val onDiskMs = try {
          while (!firstCommitOnDisk && System.currentTimeMillis() < trafficEnds)
            Thread.sleep(20)
          val at = System.currentTimeMillis()
          while (System.currentTimeMillis() < trafficEnds) Thread.sleep(50)
          at
        } finally ticker.stop().foreach(err => fail(err))
        assert(firstCommitOnDisk && onDiskMs < trafficEnds,
          "nothing reached disk while traffic flowed: the tailer waited for a quiet stream")
        assert(onDiskMs - ticker.startedMs <= idleMs + 2000,
          s"first commit reached disk ${onDiskMs - ticker.startedMs} ms after it was sent")
      } finally repl.close()
    } finally cluster.stop()
  }

  test("Replicator.close() returns within 15 s, under live traffic and on a quiet stream") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping")
    import graft.streaming.{Graft, GraftConfig}
    val cluster = LivePgHarness.provision()
    try {
      def replicator(table: String) = {
        tickTable(cluster, table)
        Graft.replicate(GraftConfig(s"${table}_demo", database = Some("postgres"),
          username = Some("postgres"), publication = Some(s"${table}_pub")),
          s"${cluster.base}/wal-$table", unixSocketDir = Some(cluster.sock))
      }
      def timedClose(r: graft.sources.replication.Replicator): Long = {
        val t0 = System.currentTimeMillis()
        r.close()
        System.currentTimeMillis() - t0
      }
      val busy = replicator("busy")
      val calm = replicator("calm")
      val ticker = new Ticker(cluster, "busy", everyMs = 50L)
      try {
        // busy: pump, acks and reader all active while close() runs
        Thread.sleep(3000)
        val busyMs = timedClose(busy)
        assert(busyMs <= 15000, s"Replicator.close() took $busyMs ms under live traffic")
        assert(!busy.isRunning, "the pump thread outlived close()")
        ticker.stop().foreach(err => fail(err))
        // calm: one commit, then silence — the idle flush writes the
        // segment and sends its ack while the reader waits on the socket,
        // which the server must see at once, not at its next keepalive
        def confirmed: Long = PgReplicationClient.parseLsn(cluster.psql(
          "SELECT confirmed_flush_lsn FROM pg_replication_slots " +
            "WHERE slot_name = 'calm_demo_graft'").trim)
        val before = confirmed
        cluster.psql("INSERT INTO calm VALUES (1)")
        val calmDir = s"${cluster.base}/wal-calm"
        val until = System.currentTimeMillis() + 30000
        while (WalSegments.listSegments(calmDir).isEmpty && System.currentTimeMillis() < until)
          Thread.sleep(50)
        assert(WalSegments.listSegments(calmDir).nonEmpty, "the quiet stream never flushed")
        val ackBy = System.currentTimeMillis() + 3000
        while (confirmed <= before && System.currentTimeMillis() < ackBy) Thread.sleep(100)
        assert(confirmed > before, "the flush's ack did not reach the server on a quiet stream")
        val calmMs = timedClose(calm)
        assert(calmMs <= 15000, s"Replicator.close() took $calmMs ms on a quiet stream")
        assert(!calm.isRunning, "the pump thread outlived close()")
      } finally {
        ticker.stop()
        busy.close()
        calm.close()
      }
    } finally cluster.stop()
  }
}
