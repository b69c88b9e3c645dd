package graft

import java.nio.file.Files

import graft.sources.jdbc._
import graft.streaming.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** S1 JDBC polling mode against the stub java.sql driver: watermark
  * offsets, admission control, range-partitioned reads, filter pushdown
  * into the polling SQL, checkpoint resume, and the Event-view mapping.
  */
class JdbcCdcSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.sql.timeType.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def opts(extra: (String, String)*): Map[String, String] = Map(
    "url" -> StubJdbc.Url,
    "table" -> "graft_changes",
    "driver" -> classOf[StubJdbcDriver].getName) ++ extra

  private def row(lsn: Long, op: String, table: String, id: Long,
      v: Long, oldV: Option[Long] = None): StubJdbc.Row = {
    val rec = s"""{"id":"$id","v":"$v"}"""
    val old = oldV.map(o => s"""{"id":"$id","v":"$o"}""").orNull
    StubJdbc.Row(seq = lsn, lsn = lsn, xid = lsn / 10, op = op,
      schemaName = "public", tableName = table, commitTsUs = 1700000000000000L + lsn,
      recordJson = if (op == "delete") null else rec,
      oldRecordJson = if (op == "delete") rec else old,
      oldKind = if (op == "insert") null else "O",
      toastJson = null,
      colTypesJson = """{"id":"int8","v":"int8"}""")
  }

  private def readRaw(extra: (String, String)*): DataFrame = {
    var r = spark.readStream.format(classOf[JdbcCdcSourceProvider].getName)
    opts(extra: _*).foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  private def runToTable(df: DataFrame, name: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    var w = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    GraftSession.awaitFinished(q, 120000)
    q
  }

  test("polling SQL: watermark probe, capped probe, range scan, pushed filters") {
    assert(JdbcCdcSource.minLsnSql("t", "lsn") == "SELECT min(lsn) FROM t")
    assert(JdbcCdcSource.watermarkSql("t", "lsn", None) ==
      "SELECT max(lsn) FROM t WHERE lsn > ?")
    assert(JdbcCdcSource.watermarkSql("t", "lsn", Some(100)) ==
      "SELECT max(lsn) FROM (SELECT lsn FROM t WHERE lsn > ? ORDER BY lsn LIMIT 100) graft_probe")
    import org.apache.spark.sql.sources.{EqualTo, In}
    val (frag, binds) = JdbcCdcSource.filterSql(Seq(
      EqualTo("table_name", "user"), In("op", Array("insert", "update"))))
    assert(frag == " AND table_name = ? AND op IN (?, ?)")
    assert(binds == Seq("user", "insert", "update"))
    assert(JdbcCdcSource.rangeSql("t", "lsn", frag).startsWith(
      "SELECT seq, lsn, xid, op, schema_name, table_name, commit_ts_us, record_json"))
    assert(JdbcCdcSource.rangeSql("t", "lsn", frag).endsWith(
      "WHERE lsn > ? AND lsn <= ? AND table_name = ? AND op IN (?, ?) ORDER BY lsn, seq"))
  }

  test("S1 JDBC: full poll delivers every committed change, range-partitioned") {
    StubJdbc.reset(Seq(
      row(10, "insert", "user", id = 1, v = 100),
      row(20, "update", "user", id = 1, v = 150, oldV = Some(100)),
      row(30, "delete", "todo", id = 2, v = 7),
      row(40, "insert", "order", id = 3, v = 9)))
    runToTable(readRaw("numPartitions" -> "2"), "t_jdbc_full")
    val got = spark.table("t_jdbc_full").orderBy("lsn").collect()
    assert(got.map(_.getAs[Long]("lsn")).toSeq == Seq(10L, 20L, 30L, 40L))
    assert(got.map(_.getAs[String]("op")).toSeq ==
      Seq("insert", "update", "delete", "insert"))
    assert(got(1).getAs[String]("record_json").contains("\"v\":\"150\""))
  }

  test("I4: maxRowsPerTrigger paces the backlog into multiple micro-batches") {
    StubJdbc.reset((1 to 6).map(i => row(i * 10L, "insert", "user", id = i, v = i)))
    val q = runToTable(readRaw("maxRowsPerTrigger" -> "2"), "t_jdbc_rate")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >=3 rate-limited batches, got $batches")
    assert(spark.table("t_jdbc_rate").count() == 6)
  }

  test("S4/S7: checkpointed watermark resumes past delivered LSNs only") {
    // foreachBatch sink: the memory sink cannot recover from a checkpoint
    val ckpt = Files.createTempDirectory("graft-jdbc-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = readRaw().writeStream
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          got ++= b.select("lsn").collect().map(_.getLong(0)); ()
        }.start()
      GraftSession.awaitFinished(q, 120000)
    }
    StubJdbc.reset((1 to 3).map(i => row(i * 10L, "insert", "user", id = i, v = i)))
    run()
    assert(got.sorted.toSeq == Seq(10L, 20L, 30L))

    got.clear()
    StubJdbc.append(Seq(row(99, "insert", "todo", id = 9, v = 9)))
    run()
    assert(got.toSeq == Seq(99L),
      s"resume must deliver only the new row, got $got")
  }

  test("F8: tables/ops options filter inside the database as parameterized SQL") {
    StubJdbc.reset(Seq(
      row(10, "insert", "user", id = 1, v = 1),
      row(20, "insert", "todo", id = 2, v = 2),
      row(30, "update", "user", id = 1, v = 3, oldV = Some(1))))
    runToTable(readRaw("tables" -> "user", "ops" -> "insert"), "t_jdbc_push")
    val got = spark.table("t_jdbc_push").collect()
    assert(got.length == 1 && got(0).getAs[Long]("lsn") == 10L)
    import scala.jdk.CollectionConverters._
    val range = StubJdbc.issuedSql.asScala.filter(_.contains("ORDER BY lsn, seq"))
    assert(range.nonEmpty && range.forall(s =>
      s.contains("table_name IN (?)") && s.contains("op IN (?)")),
      s"option predicates missing from polling SQL: $range")

    // Catalyst SupportsPushDownFilters lane: implemented and partitioned
    // correctly (dormant in streaming until Spark pushes filters there —
    // a .filter(...) above the scan is post-scan today, see source doc)
    val sb = new JdbcCdcScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("url", StubJdbc.Url, "table", "t")))
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In}
    val residual = sb.pushFilters(Array(
      EqualTo("table_name", "user"), GreaterThan("seq", 5L)))
    assert(sb.pushedFilters().toSeq == Seq(EqualTo("table_name", "user")))
    assert(residual.toSeq == Seq(GreaterThan("seq", 5L)))
    // an empty IN never reaches the SQL (it would render `IN ()`)
    assert(!JdbcCdcSource.pushable(In("op", Array.empty)))
  }

  test("F8: rowFilter predicate runs inside the database; rows it drops never cross the wire") {
    StubJdbc.reset(Seq(
      row(10, "insert", "user", id = 1, v = 1),
      row(20, "insert", "user", id = 2, v = 2),
      row(30, "update", "user", id = 1, v = 3, oldV = Some(1)),
      row(40, "insert", "user", id = 3, v = 4)))
    runToTable(readRaw("rowFilter" -> "xid >= 2"), "t_jdbc_rowfilter")
    // xid = lsn/10 in the fixture → lsn 10 (xid 1) filtered in-database
    assert(spark.table("t_jdbc_rowfilter").select("lsn").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(20L, 30L, 40L))
    import scala.jdk.CollectionConverters._
    val range = StubJdbc.issuedSql.asScala.filter(_.contains("ORDER BY lsn, seq"))
    assert(range.nonEmpty && range.forall(_.contains("AND (xid >= 2)")),
      s"rowFilter missing from polling SQL: $range")
    // watermark probes stay UNfiltered: the offset must advance past
    // filtered-out rows or they would re-scan every trigger
    val probes = StubJdbc.issuedSql.asScala.filter(_.startsWith("SELECT max("))
    assert(probes.nonEmpty && probes.forall(!_.contains("xid")),
      s"watermark probe must not carry the rowFilter: $probes")

    // composes with the tables/ops lane in one WHERE
    StubJdbc.reset(Seq(
      row(10, "insert", "user", id = 1, v = 1),
      row(20, "insert", "todo", id = 2, v = 2),
      row(30, "insert", "user", id = 3, v = 3)))
    runToTable(readRaw("tables" -> "user", "rowFilter" -> "xid >= 3"), "t_jdbc_rowfilter2")
    assert(spark.table("t_jdbc_rowfilter2").select("lsn").collect().map(_.getLong(0))
      .toSeq == Seq(30L))

    // malformed predicates fail at stream START, not per-batch (S2 fail-fast)
    for (bad <- Seq("x = 1; DROP TABLE t", "v = 'unterminated", "a AND (b", "-- c", ""))
      assertThrows[Exception] {
        readRaw("rowFilter" -> bad)
      }
    // validation accepts the reference-style predicates (README.md:80-83)
    assert(JdbcCdcSource.validateRowFilter("active = TRUE AND id > 100") ==
      "active = TRUE AND id > 100")
    assert(JdbcCdcSource.validateRowFilter("name <> 'it''s'") == "name <> 'it''s'")
  }

  test("empty/blank tables-ops options contribute no filter (no `IN ()` SQL)") {
    StubJdbc.reset(Seq(row(10, "insert", "user", id = 1, v = 1)))
    runToTable(readRaw("tables" -> "", "ops" -> " , "), "t_jdbc_empty_opts")
    assert(spark.table("t_jdbc_empty_opts").count() == 1)
    import scala.jdk.CollectionConverters._
    assert(!StubJdbc.issuedSql.asScala.exists(_.contains("IN ()")))
  }

  test("earliest start on an EMPTY table delivers rows that arrive later, partitioned sanely") {
    StubJdbc.reset(Seq.empty)
    val ckpt = Files.createTempDirectory("graft-jdbc-empty").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = readRaw("numPartitions" -> "4").writeStream
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          got ++= b.select("lsn").collect().map(_.getLong(0)); ()
        }.start()
      GraftSession.awaitFinished(q, 120000)
    }
    run() // empty table: watermark parks at -1
    assert(got.isEmpty)
    StubJdbc.append((1 to 4).map(i => row(i * 10L, "insert", "user", id = i, v = i)))
    run()
    assert(got.sorted.toSeq == Seq(10L, 20L, 30L, 40L))
  }

  test("Graft.startJdbc: config-driven pipeline from connection fields to handlers") {
    import graft.streaming.{Engine, GraftConfig}
    StubJdbc.reset(Seq(
      row(10, "insert", "user", id = 1, v = 100),
      row(20, "insert", "todo", id = 2, v = 7),
      row(30, "update", "user", id = 1, v = 150, oldV = Some(100))))
    val config = GraftConfig("jdbc-demo",
      hostname = Some("db.internal"), database = Some("app"),
      username = Some("svc"), subscriptions = Seq("user"),
      maxFramesPerTrigger = Some(1000))
    // connection fields → url; subscriptions → in-DB tables predicate
    val opts = config.jdbcSourceOptions("graft_changes")
    assert(opts("url") == "jdbc:postgresql://db.internal:5432/app")
    assert(opts("user") == "svc" && opts("tables") == "user"
      && opts("maxRowsPerTrigger") == "1000")

    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val engine = new Engine().onEvent("*") { df =>
      seen ++= df.select("type", "name").collect().map(r => (r.getString(0), r.getString(1)))
    }
    val q = graft.streaming.Graft.startJdbc(spark, config, "graft_changes", engine,
      trigger = Trigger.AvailableNow(),
      extraOptions = Map("url" -> StubJdbc.Url, "driver" -> classOf[StubJdbcDriver].getName))
    GraftSession.awaitFinished(q, 120000)
    assert(seen.sorted.toSeq == Seq(("insert", "user"), ("update", "user")),
      s"unsubscribed tables leaked through the JDBC lane: $seen")

    // a config WITHOUT connection fields works when extraOptions carries a
    // complete url (the non-Postgres escape hatch); without either, the
    // facade fails fast with a pointed message
    val bare = GraftConfig("jdbc-bare")
    assert(!bare.jdbcSourceOptions("t").contains("url"))
    val seen2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val engine2 = new Engine().onEvent("*")(df => { seen2.addAndGet(df.count().toInt); () })
    val q2 = graft.streaming.Graft.startJdbc(spark, bare, "graft_changes", engine2,
      trigger = Trigger.AvailableNow(),
      extraOptions = Map("url" -> StubJdbc.Url, "driver" -> classOf[StubJdbcDriver].getName))
    GraftSession.awaitFinished(q2, 120000)
    assert(seen2.get() == 3)
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Graft.startJdbc(spark, bare, "graft_changes", engine2)
    }
    assert(ex.getMessage.contains("extraOptions"))
  }

  test("live-PG recipe: the README/deploy config drives the pipeline (stub-validated)") {
    import graft.streaming.{Engine, GraftConfig}
    // EXACTLY the config shape README § "Live Postgres smoke test"
    // documents against deploy/docker-compose.yml — this test is the CI
    // guard that the published recipe keeps compiling and keeps producing
    // the connection the compose environment serves
    val config = GraftConfig("smoke",
      hostname = Some("localhost"), database = Some("graft_dev"),
      username = Some("graft"), password = Some("graft"),
      subscriptions = Seq("user_account", "todo"))
    val opts = config.jdbcSourceOptions("graft_changes")
    assert(opts("url") == "jdbc:postgresql://localhost:5432/graft_dev")
    assert(opts("user") == "graft" && opts("password") == "graft")
    assert(opts("tables") == "user_account,todo" && opts("table") == "graft_changes")

    // rows shaped like deploy/initdb/01_graft_setup.sql's trigger output:
    // all-text JSON record, lowercase op, 'O' old_kind on update/delete
    StubJdbc.reset(Seq(
      StubJdbc.Row(seq = 1, lsn = 1000, xid = 900, op = "insert",
        schemaName = "public", tableName = "user_account",
        commitTsUs = 1700000000000000L,
        recordJson = """{"id":"1","email":"a@example.com","val_cents":"0"}""",
        oldRecordJson = null, oldKind = null, toastJson = null,
        colTypesJson = null),
      StubJdbc.Row(seq = 2, lsn = 1010, xid = 901, op = "update",
        schemaName = "public", tableName = "user_account",
        commitTsUs = 1700000001000000L,
        recordJson = """{"id":"1","email":"a@example.com","val_cents":"42"}""",
        oldRecordJson = """{"id":"1","email":"a@example.com","val_cents":"0"}""",
        oldKind = "O", toastJson = null, colTypesJson = null)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val engine = new Engine().onEvent("user_account") { events =>
      seen ++= events.select("type", "name").collect()
        .map(r => (r.getString(0), r.getString(1)))
    }
    val q = Graft.startJdbc(spark, config, changeTable = "graft_changes", engine,
      trigger = Trigger.AvailableNow(),
      extraOptions = Map("url" -> StubJdbc.Url,
        "driver" -> classOf[StubJdbcDriver].getName))
    GraftSession.awaitFinished(q, 120000)
    assert(seen.sorted.toSeq ==
      Seq(("insert", "user_account"), ("update", "user_account")),
      s"recipe config failed to deliver events: $seen")
  }

  test("chaos: injected connection failures; supervisor recovers from checkpoint, no dups") {
    import graft.streaming.Supervisor
    StubJdbc.reset((1 to 4).map(i => row(i * 10L, "insert", "user", id = i, v = i)))
    val ckpt = Files.createTempDirectory("graft-jdbc-chaos").toString
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Int]
    def run(): Unit = {
      val q = readRaw().writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("lsn").collect().foreach(r =>
            seen.updateWith(r.getLong(0))(c => Some(c.getOrElse(0) + 1)))
          ()
        }.start()
      GraftSession.awaitFinished(q, 120000)
    }
    run() // healthy first run delivers the backlog
    assert(seen.keySet == Set(10L, 20L, 30L, 40L))
    // the database "terminates the backend": the next two connection
    // attempts refuse; the supervisor's bounded-backoff restart loop must
    // ride through and the checkpoint must prevent redelivery
    StubJdbc.append(Seq(row(50L, "insert", "user", id = 5, v = 5)))
    StubJdbc.failNextConnections(2)
    val sup = new Supervisor(maxRestarts = 5, backoffMs = 10)
    sup.runBlocking { () =>
      readRaw().writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("lsn").collect().foreach(r =>
            seen.updateWith(r.getLong(0))(c => Some(c.getOrElse(0) + 1)))
          ()
        }.start()
    }
    assert(sup.restarts >= 1, "injected failures never surfaced")
    assert(seen(50L) == 1, s"new row delivered ${seen.get(50L)} times")
    assert((10L to 40L by 10).forall(seen(_) == 1),
      s"checkpoint failed to prevent redelivery: $seen")
  }

  test("typeless change table yields typed Event.source.columns via DatabaseMetaData") {
    StubJdbc.reset(Seq(
      row(10, "insert", "user", id = 1, v = 1).copy(colTypesJson = null),
      // in-band col_types_json (txn-consistent) must win over the snapshot
      row(20, "insert", "user", id = 2, v = 2)
        .copy(colTypesJson = """{"id":"int4","v":"text"}"""),
      // a table absent from the metadata snapshot stays untyped, not wrong
      row(30, "insert", "order", id = 3, v = 3).copy(colTypesJson = null)))
    StubJdbc.setMetaColumns(Seq(
      ("user", "id", "int8"), ("user", "v", "numeric"), ("todo", "x", "text")))
    val ev = Graft.eventsFromJdbc(spark, opts("tables" -> "user,order"))
      .select($"seq", $"source.columns".as("cols"))
    runToTable(ev, "t_jdbc_meta")
    val got = spark.table("t_jdbc_meta").orderBy("seq").collect()
    assert(got(0).getAs[Map[String, String]]("cols") ==
      Map("id" -> "int8", "v" -> "numeric"),
      "metadata snapshot must backfill a typeless row")
    assert(got(1).getAs[Map[String, String]]("cols") ==
      Map("id" -> "int4", "v" -> "text"),
      "in-band col_types_json must stay authoritative")
    assert(got(2).isNullAt(got(2).fieldIndex("cols")),
      "unknown table must stay untyped")

    // typesFromMetadata=false restores the pure in-band behavior
    val off = Graft.eventsFromJdbc(spark,
      opts("tables" -> "user", "typesFromMetadata" -> "false"))
      .select($"seq", $"source.columns".as("cols"))
    runToTable(off.filter($"seq" === 10), "t_jdbc_meta_off")
    val offRow = spark.table("t_jdbc_meta_off").collect()(0)
    assert(offRow.isNullAt(offRow.fieldIndex("cols")))
  }

  test("Graft.eventsFromJdbc: polled rows map onto the typed Event view") {
    StubJdbc.reset(Seq(
      row(10, "insert", "user", id = 1, v = 100),
      row(20, "update", "user", id = 1, v = 150, oldV = Some(100)),
      row(30, "delete", "todo", id = 2, v = 7)))
    val ev = Graft.eventsFromJdbc(spark, opts())
      .select($"seq", $"name", $"type", $"new_record", $"old_record", $"changes",
        $"lsn_str", $"source.columns".as("cols"))
    runToTable(ev, "t_jdbc_events")
    val got = spark.table("t_jdbc_events").orderBy("seq").collect()
    assert(got.map(_.getAs[String]("type")).toSeq == Seq("insert", "update", "delete"))
    assert(got(0).getAs[Map[String, String]]("new_record")("v") == "100")
    assert(got(0).getAs[Map[String, String]]("cols")("v") == "int8")
    val chg = got(1).getAs[Map[String, org.apache.spark.sql.Row]]("changes")
    assert(chg.keySet == Set("v") && chg("v").getAs[String]("new_value") == "150")
    assert(got(2).isNullAt(got(2).fieldIndex("new_record")))
    assert(got(2).getAs[Map[String, String]]("old_record")("id") == "2")
    assert(got(0).getAs[String]("lsn_str") == "0/A")
  }
}
