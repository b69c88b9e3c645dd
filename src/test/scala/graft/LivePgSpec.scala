package graft

import java.nio.file.{Files, Paths}

import graft.sources.cdc.{CdcSourceProvider, WalSegments}
import graft.streaming.TxnAssembler
import graft.operators.cdc.ChangeStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** LIVE-POSTGRES integration: the reference's strongest tests run real
  * SQL against a real server and assert delivered events
  * (`/root/reference/test/walex/database_test.exs:32-438`); everything
  * else in this repo mirrors that shape against byte fixtures produced by
  * our own encoder. This spec closes the loop wherever a Postgres
  * installation exists (auto-skipped otherwise): it provisions a
  * throwaway cluster with `wal_level=logical`, creates a REAL publication
  * and a REAL pgoutput replication slot, runs insert/update/delete/
  * truncate traffic — including an out-of-line TOASTed column left
  * unchanged by an update, the protocol's trickiest cell — then drains
  * the slot's BINARY frames (`pg_logical_slot_get_binary_changes`, the
  * same bytes a START_REPLICATION session would stream) into the WAL
  * segment format and runs the full pipeline: DSv2 source → stateful
  * transaction assembly → typed Event view.
  *
  * What this proves that the encoder-fixture specs cannot: the decoder,
  * OID catalog, TOAST carry-forward, and LSN accounting hold against
  * frames PostgreSQL itself emitted — real attribute OIDs, real replica-
  * identity images, real commit LSN/timestamp pairing.
  *
  * Runs as root (via `su postgres`) or as any user allowed to run
  * `initdb`; the cluster listens on a unix socket only (no TCP port), so
  * parallel CI runs cannot collide.
  */
class LivePgSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("real publication → real pgoutput frames → full pipeline delivers typed events") {
    assume(LivePgHarness.available, "no usable PostgreSQL installation — skipping live smoke")
    val cluster = LivePgHarness.provision()
    val base = cluster.base
    def psql(sqlText: String): String = cluster.psql(sqlText)
    try {
      // schema: mixed real types (int8/text/bool/timestamptz/text[]), FULL
      // replica identity so updates/deletes carry complete old images
      psql("""
        CREATE TABLE user_account (
          id bigint PRIMARY KEY, email text, val_cents bigint,
          bio text, updated_at timestamptz);
        ALTER TABLE user_account REPLICA IDENTITY FULL;
        CREATE TABLE todo (
          id bigint PRIMARY KEY, title text, done boolean, tags text[]);
        ALTER TABLE todo REPLICA IDENTITY FULL;
        CREATE PUBLICATION graft_pub FOR TABLE user_account, todo""")
      psql("SELECT pg_create_logical_replication_slot('graft_slot', 'pgoutput')")

      // traffic. bio is ~13 KB of incompressible text → stored out of line
      // (TOASTed); the later update does NOT touch it, so the new tuple
      // carries the protocol's 'u' cell and the FULL old image carries the
      // actual value — the carry-forward path, against real server bytes
      psql("""
        BEGIN;
        INSERT INTO user_account
        SELECT 1, 'a@example.com', 100,
               string_agg(md5(g::text), ''), '2026-01-01T10:00:00Z'
        FROM generate_series(1, 400) g;
        INSERT INTO todo VALUES (7, 'write spec', false, ARRAY['a','b c']);
        COMMIT""")
      psql("UPDATE user_account SET val_cents = 142 WHERE id = 1")
      psql("DELETE FROM todo WHERE id = 7")
      psql("TRUNCATE todo")

      // drain the slot's binary pgoutput stream and pour it into the WAL
      // segment format (one segment; relation frames lead it, as a fresh
      // decoding session re-sends them — same invariant our segments keep)
      val hexFrames = psql(
        "SELECT encode(data,'hex') FROM pg_logical_slot_get_binary_changes(" +
          "'graft_slot', NULL, NULL, " +
          "'proto_version','1','publication_names','graft_pub')")
        .split("\n").map(_.trim).filter(_.nonEmpty)
      assert(hexFrames.length >= 10, s"expected a full stream, got ${hexFrames.length} frames")
      val frames = hexFrames.map(h =>
        h.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray)
      val walDir = s"$base/wal"
      Files.createDirectories(Paths.get(walDir))
      WalSegments.write(WalSegments.segmentPath(walDir, 0), frames.toSeq)
      val pubTables = psql(
        "SELECT schemaname || '.' || tablename FROM pg_publication_tables " +
          "WHERE pubname = 'graft_pub' ORDER BY 1")
        .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      assert(pubTables == Seq("public.todo", "public.user_account"))
      WalSegments.writePublication(walDir, "graft_pub", pubTables)

      // full pipeline on the real bytes
      val raw = spark.readStream.format(classOf[CdcSourceProvider].getName)
        .option("path", walDir).option("publication", "graft_pub").load()
      val events = ChangeStream.eventsFromAssembled(TxnAssembler.assemble(raw).toDF())
      val q = events.writeStream.format("memory").queryName("t_livepg")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      GraftSession.awaitFinished(q, 120000)
      val rows = spark.table("t_livepg").orderBy("lsn", "seq").collect()

      // inserts: both tables, typed source.columns from the REAL attribute
      // OIDs Postgres put in its Relation frames
      val ins = rows.filter(_.getAs[String]("type") == "insert")
      assert(ins.map(_.getAs[String]("name")).sorted.toSeq == Seq("todo", "user_account"))
      val insUser = ins.find(_.getAs[String]("name") == "user_account").get
      val insRec = insUser.getAs[Map[String, String]]("new_record")
      assert(insRec("id") == "1" && insRec("email") == "a@example.com"
        && insRec("val_cents") == "100" && insRec("bio").length == 400 * 32)
      val cols = insUser.getAs[org.apache.spark.sql.Row]("source")
        .getAs[Map[String, String]]("columns")
      assert(cols("id") == "int8" && cols("email") == "text"
        && cols("updated_at") == "timestamptz")
      val insTodo = ins.find(_.getAs[String]("name") == "todo").get
      assert(insTodo.getAs[org.apache.spark.sql.Row]("source")
        .getAs[Map[String, String]]("columns")("tags") == "_text")
      assert(insTodo.getAs[Map[String, String]]("new_record")("tags") == """{a,"b c"}""")
      // both inserts committed in ONE transaction → same xid, same lsn
      assert(ins.map(_.getAs[Long]("xid")).distinct.length == 1)

      // update: changes map isolates val_cents 100→142; the untouched
      // TOASTed bio arrives via old-image carry-forward, NOT as a change
      val upd = rows.find(_.getAs[String]("type") == "update").get
      val changes = upd.getAs[Map[String, org.apache.spark.sql.Row]]("changes")
      assert(changes.keySet == Set("val_cents"),
        s"changes must isolate the updated column: ${changes.keySet}")
      assert(changes("val_cents").getAs[String]("old_value") == "100"
        && changes("val_cents").getAs[String]("new_value") == "142")
      assert(upd.getAs[Map[String, String]]("new_record")("bio").length == 400 * 32,
        "unchanged-TOAST value must carry forward from the FULL old image")

      // delete: FULL replica identity → complete old record
      val del = rows.find(_.getAs[String]("type") == "delete").get
      assert(del.getAs[String]("name") == "todo"
        && del.getAs[Map[String, String]]("old_record")("title") == "write spec")

      // truncate arrives as a transaction member for the affected relation
      val trunc = rows.filter(_.getAs[String]("type") == "truncate")
      assert(trunc.map(_.getAs[String]("name")).toSeq == Seq("todo"))

      // LSNs are the server's: monotone non-decreasing in delivery order
      val lsns = rows.map(_.getAs[Long]("lsn"))
      assert(lsns.sameElements(lsns.sorted) && lsns.head > 0)
    } finally cluster.stop()
  }
}
