package graft

import java.nio.file.{Files, Paths}
import java.sql.SQLException
import java.util.Properties

import graft.sources.jdbc.{GraftPgDriver, JdbcCdcSource, JdbcConnInfo}
import graft.streaming.{Engine, Graft, GraftConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** LIVE-POSTGRES integration for the JDBC polling lane (S1's
  * change-table mode) — the counterpart of [[LiveReplicationSpec]] for
  * the other half of the source family. Until this spec existed the
  * polling lane had only ever run against the in-memory stub driver (no
  * PostgreSQL JDBC jar ships in this sandbox); [[GraftPgDriver]] — the
  * pure-JDK driver over the replication lane's own wire client — closes
  * that gap, so here the exact deploy recipe (`deploy/initdb/
  * 01_graft_setup.sql`, verbatim) feeds a real trigger-maintained change
  * table, and the DSv2 source polls it through a real server: extended-
  * protocol parameter binds, portal-suspension fetch, LSN watermark
  * advance across restarts, and `information_schema`-backed
  * `source.columns` typing all run against PostgreSQL itself.
  *
  * Auto-skips (like every Live*Spec) when no usable PostgreSQL
  * installation exists.
  */
class LiveJdbcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withCluster(body: (LivePgHarness.Cluster, String) => Unit): Unit = {
    assume(LivePgHarness.available,
      "no usable PostgreSQL installation — skipping live JDBC spec")
    val cluster = LivePgHarness.provision()
    try body(cluster,
      s"jdbc:graftpg:///postgres?socketDir=${cluster.sock}&port=${cluster.port}&user=postgres")
    finally cluster.stop()
  }

  test("driver: extended-protocol prepared queries against a real server") {
    withCluster { (_, url) =>
      val conn = new GraftPgDriver().connect(url, new Properties())
      try {
        assert(conn.prepareStatement(
          "CREATE TABLE t (id bigint PRIMARY KEY, s text, b boolean)")
          .executeUpdate() == 0)
        assert(conn.prepareStatement(
          "INSERT INTO t SELECT g, 'v' || g::text, g % 2 = 0 FROM generate_series(1, 7) g")
          .executeUpdate() == 7)

        // wire-bound params ('?' → $n), 2-row portal slices over 4 hits
        val q = conn.prepareStatement(
          "SELECT id, s, b FROM t WHERE id > ? AND s <> ? ORDER BY id")
        q.setLong(1, 2L)
        q.setString(2, "v3")
        q.setFetchSize(2)
        val rs = q.executeQuery()
        val got = Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2), r.getBoolean(3))).toList
        assert(got == List((4L, "v4", true), (5L, "v5", false),
          (6L, "v6", true), (7L, "v7", false)))
        rs.close()

        // SQL NULL → getLong 0 + wasNull (the watermark probe's contract)
        val qn = conn.prepareStatement("SELECT max(id) FROM t WHERE id > ?")
        qn.setLong(1, 100L)
        val rn = qn.executeQuery()
        assert(rn.next() && rn.getLong(1) == 0L && rn.wasNull())
        rn.close()

        // abandoning a SUSPENDED portal (close after one row of many) must
        // leave the connection serviceable
        val qs = conn.prepareStatement("SELECT id FROM t ORDER BY id")
        qs.setFetchSize(2)
        val rsus = qs.executeQuery()
        assert(rsus.next())
        rsus.close()

        // server errors surface the SQLSTATE and the connection survives
        val e = intercept[SQLException](
          conn.prepareStatement("SELECT nope FROM t").executeQuery())
        assert(e.getSQLState == "42703", s"wrong sqlstate: ${e.getSQLState}")
        val again = conn.prepareStatement("SELECT count(*) FROM t").executeQuery()
        assert(again.next() && again.getLong(1) == 7L)
        again.close()
      } finally conn.close()
    }
  }

  test("DatabaseMetaData.getColumns: live information_schema through the driver") {
    withCluster { (c, url) =>
      c.psql("CREATE TABLE user_account (id bigint PRIMARY KEY, email text, " +
        "ok boolean, ts timestamptz)")
      val types = JdbcCdcSource.fetchColumnTypes(
        JdbcConnInfo(url, None, None, Some(classOf[GraftPgDriver].getName), 100),
        Some("public"), Seq("user_account"))
      assert(types("user_account") == Map("id" -> "int8", "email" -> "text",
        "ok" -> "bool", "ts" -> "timestamptz"),
        s"live metadata fetch mis-typed: $types")
    }
  }

  test("S1 polling live: shipped deploy DDL → change table → Event view, " +
    "watermark advances across restarts") {
    withCluster { (c, url) =>
      // the deploy recipe VERBATIM — what a real user runs (copied into the
      // cluster dir so the postgres system user can read it under su)
      val setup = Paths.get(s"${c.base}/setup.sql")
      Files.copy(Paths.get("deploy/initdb/01_graft_setup.sql"), setup)
      LivePgHarness.shOk(s"${c.bin}/psql -X -v ON_ERROR_STOP=1 -h ${c.sock} " +
        s"-p ${c.port} -d postgres -f $setup")

      c.psql("INSERT INTO user_account (email, val_cents) VALUES " +
        "('a@x.com', 100), ('b@x.com', 250)")
      c.psql("UPDATE user_account SET val_cents = 142 WHERE email = 'a@x.com'")
      c.psql("DELETE FROM user_account WHERE email = 'b@x.com'")

      val opts = Map(
        "url" -> url, "driver" -> classOf[GraftPgDriver].getName,
        "table" -> "graft_changes", "tables" -> "user_account,todo",
        "numPartitions" -> "2")
      val ckpt = Files.createTempDirectory("graft-livejdbc").toString
      val seen = scala.collection.concurrent.TrieMap.empty[(Long, String, String), Int]
      def run(): Unit = {
        val q = Graft.eventsFromJdbc(spark, opts)
          .selectExpr("seq", "type", "name", "new_record", "old_record",
            "changes", "source.columns AS cols")
          .writeStream.outputMode("append")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach { r =>
              val key = (r.getAs[Long]("seq"), r.getAs[String]("type"),
                r.getAs[String]("name"))
              seen.updateWith(key)(n => Some(n.getOrElse(0) + 1))
              // live information_schema typing rides on every event
              val cols = r.getAs[Map[String, String]]("cols")
              if (r.getAs[String]("name") == "user_account")
                assert(cols("val_cents") == "int8" && cols("email") == "text",
                  s"live metadata typing wrong: $cols")
              else
                assert(cols("title") == "text" && cols("done") == "bool",
                  s"live metadata typing wrong for todo: $cols")
              if (r.getAs[String]("type") == "update") {
                val nw = r.getAs[Map[String, String]]("new_record")
                assert(nw("val_cents") == "142" && nw("email") == "a@x.com",
                  s"trigger-captured new record wrong: $nw")
                val chg = r.getAs[Map[String, org.apache.spark.sql.Row]]("changes")
                assert(chg.keySet == Set("val_cents") &&
                  chg("val_cents").getAs[String]("old_value") == "100",
                  s"P5 diff against live rows wrong: $chg")
              }
              if (r.getAs[String]("type") == "delete") {
                val old = r.getAs[Map[String, String]]("old_record")
                assert(old("email") == "b@x.com", s"old record wrong: $old")
              }
            }
            ()
          }.start()
        GraftSession.awaitFinished(q, 60000)
      }

      run()
      assert(seen.values.forall(_ == 1), s"duplicate delivery: $seen")
      assert(seen.keys.toSeq.map(k => (k._2, k._3)).sorted ==
        Seq(("delete", "user_account"), ("insert", "user_account"),
          ("insert", "user_account"), ("update", "user_account")),
        s"first wave wrong: ${seen.keySet}")

      // second wave against the SAME checkpoint: the LSN watermark must
      // admit only the new traffic (todo insert), never redeliver
      c.psql("INSERT INTO todo (user_id, title) VALUES (1, 'write spec')")
      run()
      assert(seen.values.forall(_ == 1),
        s"watermark failed — redelivery on restart: $seen")
      assert(seen.keys.count(k => k._2 == "insert" && k._3 == "todo") == 1,
        s"second wave missed the todo insert: ${seen.keySet}")
    }
  }

  test("driver TLS live: SCRAM-over-TLS-only role, pinned CA, plaintext refused") {
    assume(LivePgHarness.available,
      "no usable PostgreSQL installation — skipping live JDBC TLS spec")
    assume(LivePgHarness.haveOpenssl, "no openssl for the self-signed cert — skipping")
    val port = LivePgHarness.freePort()
    val cluster = LivePgHarness.provisionTls(port)
    try {
      // the scramtls role is hba-gated to ssl+scram: authenticating at all
      // proves the SSLRequest upgrade ran and SCRAM completed over it (the
      // client picks SCRAM-SHA-256-PLUS with tls-server-end-point binding
      // whenever the TLS server offers it — pinned in LiveReplicationSpec;
      // this lane shares that exact auth state machine)
      def url(q: String) = s"jdbc:graftpg://127.0.0.1:$port/postgres?$q"
      val conn = new GraftPgDriver().connect(
        url("sslmode=require&user=scramtls&password=tls-secret"), new Properties())
      try {
        val rs = conn.prepareStatement(
          "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()").executeQuery()
        assert(rs.next() && rs.getBoolean(1),
          "server must report this JDBC backend as TLS")
        rs.close()
      } finally conn.close()

      // verify-ca with the server's own cert as the pinned trust anchor —
      // the GraftConfig.sslRootCert grammar carried through the url
      val pinned = new GraftPgDriver().connect(
        url("sslmode=verify-ca&user=postgres" +
          "&sslrootcert=" + java.net.URLEncoder.encode(
            s"${cluster.base}/server.crt", "UTF-8")), new Properties())
      try {
        val rs = pinned.prepareStatement("SELECT 1").executeQuery()
        assert(rs.next() && rs.getLong(1) == 1L)
        rs.close()
      } finally pinned.close()

      // hostnossl rejects any plaintext attempt for the scram role outright
      val e = intercept[SQLException](new GraftPgDriver().connect(
        url("user=scramtls&password=tls-secret"), new Properties()))
      assert(e.getSQLState == "08001", s"plaintext must be refused: $e")
    } finally cluster.stop()
  }

  test("Graft.startJdbc live: one-call config lane dispatches real traffic to handlers") {
    withCluster { (c, url) =>
      val setup = Paths.get(s"${c.base}/setup2.sql")
      Files.copy(Paths.get("deploy/initdb/01_graft_setup.sql"), setup)
      LivePgHarness.shOk(s"${c.bin}/psql -X -v ON_ERROR_STOP=1 -h ${c.sock} " +
        s"-p ${c.port} -d postgres -f $setup")
      c.psql("INSERT INTO user_account (email) VALUES ('h@x.com')")
      c.psql("INSERT INTO todo (user_id, title) VALUES (1, 'ship it')")

      val config = GraftConfig("live-jdbc-demo", subscriptions = Seq("user_account"))
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val engine = new Engine().onEvent("*") { df =>
        seen.synchronized {
          seen ++= df.select("type", "name").collect()
            .map(r => (r.getString(0), r.getString(1)))
        }
      }
      val q = Graft.startJdbc(spark, config, "graft_changes", engine,
        trigger = Trigger.AvailableNow(),
        extraOptions = Map("url" -> url, "driver" -> classOf[GraftPgDriver].getName))
      GraftSession.awaitFinished(q, 60000)
      assert(seen.toSeq == Seq(("insert", "user_account")),
        s"subscription filter over live traffic failed: $seen")
    }
  }
}
