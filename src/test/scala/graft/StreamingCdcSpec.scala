package graft

import java.nio.file.Files

import graft.operators.cdc.ChangeStream
import graft.sources.cdc._
import graft.sources.pgoutput._
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming engine end-to-end: DSv2 CDC source (S1-S7), cross-batch
  * transaction assembly (P1), typed Event lane (P3/P6/P7), dispatch (K1-K7).
  */
class StreamingCdcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.sql.timeType.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def mkChange(seq: Long, xid: Long, op: String, table: String,
      commitMs: Long = 1700000000000L, k: Option[Long] = Some(7L),
      valCents: Long = 1234L, recordId: Long = 1L): WalFixture.Change =
    WalFixture.Change(seq, xid, op, "public", table, commitMs, k, valCents, recordId)

  private def readStreamFrom(dir: String, extra: (String, String)*): DataFrame = {
    var r = spark.readStream.format(classOf[CdcSourceProvider].getName)
      .option("path", dir)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  private def runToTable(df: DataFrame, name: String,
      checkpoint: Option[String] = None): Unit = {
    var w = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    GraftSession.awaitFinished(q, 120000)
  }

  // ---- source: decode + offsets ----

  test("S1/D1: streamed segments decode to message rows with registry-typed records") {
    val dir = tmpDir("src")
    val changes = Seq(
      mkChange(1, 0, "insert", "user", recordId = 10),
      mkChange(2, 0, "update", "todo", k = Some(9), recordId = 11),
      mkChange(3, 1, "delete", "order", k = None, recordId = 12),
      mkChange(4, 1, "update", "user", k = Some(22), recordId = 13)) // 22%11=0 → TOAST old val_cents
    WalFixture.writeSegments(dir, changes, txnsPerSegment = 1)
    runToTable(readStreamFrom(dir), "t_src")
    val rows = spark.table("t_src").orderBy("seq").collect()

    // per segment: 3 relations + 1 type + begin + changes + commit
    val byMsg = rows.groupBy(_.getAs[String]("msg")).view.mapValues(_.length).toMap
    assert(byMsg("relation") == 6 && byMsg("type") == 2)
    assert(byMsg("begin") == 2 && byMsg("commit") == 2)
    assert(byMsg("insert") == 1 && byMsg("update") == 2 && byMsg("delete") == 1)

    val ins = rows.find(_.getAs[String]("msg") == "insert").get
    assert(ins.getAs[String]("table_name") == "user")
    assert(ins.getAs[Long]("xid") == 0L)
    assert(ins.getAs[Map[String, String]]("record")("id") == "10")
    assert(ins.getAs[Map[String, String]]("col_types")("val_cents") == "int8")

    val del = rows.find(_.getAs[String]("msg") == "delete").get
    assert(del.getAs[Map[String, String]]("old_record")("k") == null) // 'n' cell
    assert(del.getAs[String]("old_kind") == "O")

    // real pgoutput shape: the 'u' cell sits in the NEW tuple of the update;
    // the FULL old image carries the actual (unchanged) value, which the
    // source carries forward into the new record
    val toastUpd = rows.filter(_.getAs[String]("msg") == "update")
      .find(_.getAs[Map[String, String]]("record")("k") == "22").get
    assert(toastUpd.getAs[scala.collection.Seq[String]]("toast_unchanged").toSeq ==
      Seq("val_cents"))
    assert(toastUpd.getAs[Map[String, String]]("record")("val_cents") == "1234",
      "unchanged-TOAST new cell must carry the FULL old image value forward")
    assert(toastUpd.getAs[Map[String, String]]("old_record")("val_cents") == "1234")
  }

  test("TOAST: new-tuple 'u' without a usable old cell yields null + sentinel") {
    import WalMessage._
    val dir = tmpDir("toast-k")
    val ts = java.time.Instant.parse("2024-05-01T10:00:00Z")
    // K-image update: old tuple carries only the key → no value to carry
    // forward for the toasted 'val_cents' cell
    val keyOld = IndexedSeq(Cell.Text("1"), Cell.Null, Cell.Null, Cell.Null, Cell.Null)
    val newT = IndexedSeq(Cell.Text("1"), Cell.Text("2"), Cell.Text("3"),
      Cell.UnchangedToast, Cell.Text("99"))
    val frames = (WalFixture.headerFrames ++ Seq(
      Begin(Lsn(0, 700), ts, 9L),
      Update(WalFixture.relations("user"), Some('K'), Some(keyOld), newT),
      Commit(0, Lsn(0, 700), Lsn(0, 756), ts))).map(PgOutputEncoder.encode)
    WalSegments.write(WalSegments.segmentPath(dir, 0), frames)
    runToTable(readStreamFrom(dir), "t_toast_k")
    val upd = spark.table("t_toast_k").filter($"msg" === "update").collect()(0)
    assert(upd.getAs[Map[String, String]]("record")("val_cents") == null)
    assert(upd.getAs[scala.collection.Seq[String]]("toast_unchanged").toSeq ==
      Seq("val_cents"))
    assert(upd.getAs[String]("old_kind") == "K")
  }

  test("DDL: a relation gaining a column mid-stream is absorbed by the MAP lane") {
    import WalMessage._
    val dir = tmpDir("ddl")
    val ts = java.time.Instant.parse("2024-06-01T10:00:00Z")
    // segment 0: the standard 5-column `user` relation + one insert
    val f0 = (WalFixture.headerFrames ++ Seq(
      Begin(Lsn(0, 800), ts, 20L),
      Insert(WalFixture.relations("user"), IndexedSeq(Cell.Text("1"),
        Cell.Text("1"), Cell.Text("5"), Cell.Text("100"), Cell.Text("999"))),
      Commit(0, Lsn(0, 800), Lsn(0, 856), ts))).map(PgOutputEncoder.encode)
    WalSegments.write(WalSegments.segmentPath(dir, 0), f0)
    // segment 1: `user` REPLAYS with a 6th column — `ALTER TABLE ADD COLUMN
    // note text` mid-stream. Reference semantics: the publisher simply
    // replaces the cached relation and rows immediately use the new shape
    // (publisher.ex:79-95); our registry does the same (last write wins).
    val userV2 = Relation(WalFixture.relations("user"), "public", "user",
      ReplicaIdentity.AllColumns,
      (WalFixture.columnNames :+ "note").map(n =>
        RelationColumn(key = n == "id", n, if (n == "note") 25 else 20, -1)))
    val f1 = ((WalFixture.headerFrames.map {
      case r: Relation if r.name == "user" => userV2
      case other                           => other
    }) ++ Seq(
      Begin(Lsn(0, 900), ts, 21L),
      Insert(WalFixture.relations("user"), IndexedSeq(Cell.Text("2"),
        Cell.Text("2"), Cell.Text("6"), Cell.Text("200"), Cell.Text("1000"),
        Cell.Text("hello"))),
      Commit(0, Lsn(0, 900), Lsn(0, 956), ts))).map(PgOutputEncoder.encode)
    WalSegments.write(WalSegments.segmentPath(dir, 1), f1)
    runToTable(readStreamFrom(dir), "t_ddl")
    val ins = spark.table("t_ddl").filter($"msg" === "insert")
      .orderBy("seq").collect()
    // pre-DDL row: the original 5 keys, no "note", values untouched by the
    // later registry replacement
    val r0 = ins(0).getAs[Map[String, String]]("record")
    assert(r0.keySet == WalFixture.columnNames.toSet && !r0.contains("note"))
    assert(r0("val_cents") == "100")
    // post-DDL row: the new key is present, valued, and typed
    val r1 = ins(1).getAs[Map[String, String]]("record")
    assert(r1("note") == "hello")
    assert(ins(1).getAs[Map[String, String]]("col_types")("note") == "text")

    // typed-lane policy (SURVEY §7(c), restart-on-DDL): a fixed-schema
    // projection over the mixed stream is well-defined in both directions —
    // restarting with the NEW schema null-fills pre-DDL rows; the old
    // schema would simply ignore the new key (map access by name).
    val reg = new RelationRegistry
    reg.onMessage(userV2)
    val v2schema = reg.schemaOf(WalFixture.relations("user")).get
    val trows = graft.operators.cdc.TypedRecords.project(
      spark.table("t_ddl").filter($"msg" === "insert"),
      col("record"), v2schema, keep = Seq(col("seq")))
      .orderBy("seq").collect()
    assert(trows(0).getAs[String]("note") == null, "pre-DDL row must null-fill")
    assert(trows(1).getAs[String]("note") == "hello")
  }

  test("I4: maxFramesPerTrigger splits the backlog into multiple micro-batches") {
    val dir = tmpDir("rate")
    val changes = (0 until 20).map(i => mkChange(i, i / 2, "insert", "user"))
    WalFixture.writeSegments(dir, changes, txnsPerSegment = 4)
    val name = "t_rate"
    val q = readStreamFrom(dir, "maxFramesPerTrigger" -> "10")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    GraftSession.awaitFinished(q, 120000)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >=3 rate-limited batches, got $batches")
    // rows = frames per segment summed: (4 header + per-txn frames)
    assert(spark.table(name).filter($"msg" === "insert").count() == 20)
  }

  test("S4/S7: checkpoint resume delivers only newly-appended segments, no duplicates") {
    val dir = tmpDir("ckpt")
    val ckpt = tmpDir("ckpt-loc")
    WalFixture.writeSegments(dir, (0 until 6).map(i => mkChange(i, i, "insert", "user", recordId = i)))
    // foreachBatch sink: durable-slot semantics need a checkpoint-recoverable sink
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def run(): Unit = {
      val q = readStreamFrom(dir).writeStream
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          got ++= b.filter($"msg" === "insert").select("msg", "table_name")
            .collect().map(r => (r.getString(0), r.getString(1)))
          ()
        }.start()
      GraftSession.awaitFinished(q, 120000)
    }
    run()
    assert(got.length == 6 && got.forall(_._2 == "user"))

    // append a new segment; restart from the same checkpoint
    got.clear()
    val more = (10 until 13).map(i => mkChange(i, 100 + i, "insert", "todo", recordId = i))
    val frames = (WalFixture.headerFrames ++
      more.grouped(1).flatMap(g => WalFixture.txnFrames(g))).map(PgOutputEncoder.encode)
    WalSegments.write(WalSegments.segmentPath(dir, 1), frames.toSeq)
    run()
    assert(got.toSeq == Seq.fill(3)(("insert", "todo")), s"resume re-delivered: $got")
  }

  test("S3: startMode=latest begins at the stream head (temporary-slot semantics)") {
    val dir = tmpDir("latest")
    WalFixture.writeSegments(dir, (0 until 4).map(i => mkChange(i, i, "insert", "user")))
    runToTable(readStreamFrom(dir, "startMode" -> "latest"), "t_latest")
    assert(spark.table("t_latest").count() == 0)
  }

  test("S2: missing publication fails fast") {
    val dir = tmpDir("pub")
    WalFixture.writeSegments(dir, Seq(mkChange(1, 1, "insert", "user")))
    val ex = intercept[Exception] {
      runToTable(readStreamFrom(dir, "publication" -> "nope"), "t_pub")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("publication 'nope' does not exist")))
  }

  test("F8: table filters push into the source scan and drop frames at decode") {
    // unit: the ScanBuilder partitions pushable vs residual
    val sb = new CdcScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", "/nonexistent")))
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In}
    val residual = sb.pushFilters(Array(
      EqualTo("table_name", "user"), In("msg", Array("insert", "update")),
      GreaterThan("seq", 5L)))
    assert(sb.pushedFilters().length == 2)
    assert(residual.toSeq == Seq(GreaterThan("seq", 5L)))

    // end-to-end: the filtered stream yields only matching rows
    val dir = tmpDir("pushdown")
    WalFixture.writeSegments(dir, Seq(
      mkChange(1, 0, "insert", "user"), mkChange(2, 0, "insert", "todo"),
      mkChange(3, 1, "update", "user"), mkChange(4, 1, "delete", "user")))
    runToTable(
      readStreamFrom(dir).filter($"table_name" === "user" && $"msg" === "insert"),
      "t_push")
    val got = spark.table("t_push").collect()
    assert(got.length == 1 && got(0).getAs[Map[String, String]]("record")("seq") == "1")

    // the guaranteed F8 lane: the `tables` option drops other tables' data
    // frames at decode, while begin/commit (assembler food) still pass
    runToTable(readStreamFrom(dir, "tables" -> "user"), "t_push_tables")
    val tbl = spark.table("t_push_tables")
    assert(tbl.filter($"msg".isin("insert", "update", "delete"))
      .select("table_name").distinct().collect().map(_.getString(0)).toSeq == Seq("user"))
    assert(tbl.filter($"msg" === "begin").count() > 0)
  }

  test("S5: offset-range planning splits exactly on segment boundaries") {
    val dir = tmpDir("plan")
    WalFixture.writeSegments(dir,
      (0 until 9).map(i => mkChange(i, i, "insert", "user")), txnsPerSegment = 3)
    // 3 segments × (4 header + 3×3 txn frames) = 13 frames each
    val stream = new CdcMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)), Array.empty)
    def plan(s: Long, e: Long) =
      stream.planInputPartitions(CdcOffset(s), CdcOffset(e))
        .map(_.asInstanceOf[CdcInputPartition])
        .map(p => (p.segStartSeq, p.skip, p.take)).toSeq
    val head = Some(WalSegments.segmentName(0))
    assert(stream.initialOffset() == CdcOffset(0, head))
    assert(stream.latestOffset(CdcOffset(0),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      == CdcOffset(39, head))
    // offsets round-trip through checkpoint JSON (incl. legacy plain-count)
    assert(stream.deserializeOffset(CdcOffset(7, head).json()) == CdcOffset(7, head))
    assert(stream.deserializeOffset("7") == CdcOffset(7))
    // full range → one partition per segment, no skips
    assert(plan(0, 39) == Seq((0, 0, 13), (13, 0, 13), (26, 0, 13)))
    // mid-segment boundaries on both ends
    assert(plan(5, 30) == Seq((0, 5, 8), (13, 0, 13), (26, 0, 4)))
    // empty and sub-segment ranges
    assert(plan(13, 13).isEmpty)
    assert(plan(14, 20) == Seq((13, 1, 6)))

    // stability guard: a checkpointed offset whose head segment no longer
    // leads the list (compaction / name-order break) fails fast instead of
    // silently remapping frames; so does an offset past the frames present
    val wrongHead = CdcOffset(5, Some("segment-999999.wal"))
    val ex1 = intercept[IllegalStateException] {
      stream.planInputPartitions(wrongHead, CdcOffset(10))
    }
    assert(ex1.getMessage.contains("segment list changed"))
    val ex2 = intercept[IllegalStateException] {
      stream.planInputPartitions(CdcOffset(40, head), CdcOffset(41))
    }
    assert(ex2.getMessage.contains("exceeds"))
  }

  test("S5: segment discovery probes incrementally — no per-trigger full listing") {
    // 100 TB posture: a trigger must not re-LIST the whole retained
    // history. CountingListFs counts directory listings; steady-state
    // refreshes must probe the next sequential index instead.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftcount.impl", classOf[CountingListFs].getName)
    val local = tmpDir("probe-inc")
    WalFixture.writeSegments(local,
      (0 until 6).map(i => mkChange(i, i, "insert", "user")), txnsPerSegment = 2)
    val stream = new CdcMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", "graftcount://" + local)), Array.empty)
    val lim = org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
    CountingListFs.listings.set(0)
    var start = stream.initialOffset() // the one full listing builds the cache
    (1 to 20).foreach { _ =>
      val end = stream.latestOffset(start, lim)
      stream.planInputPartitions(start, end)
      start = end
    }
    assert(CountingListFs.listings.get() == 1,
      s"steady-state triggers must probe, not list (${CountingListFs.listings.get()} listings)")
    // a tailer appends the next sequential segment mid-stream: the probe
    // discovers it through an existence check — still no listing
    val newFrames = (WalFixture.headerFrames ++ WalFixture.txnFrames(
      Seq(mkChange(100, 100, "insert", "user")))).map(PgOutputEncoder.encode)
    WalSegments.write(WalSegments.segmentPath(local, 3), newFrames)
    val grown = stream.latestOffset(start, lim).asInstanceOf[CdcOffset]
    assert(grown.frames == start.asInstanceOf[CdcOffset].frames + newFrames.length,
      s"probe must discover the appended segment ($grown vs $start)")
    assert(CountingListFs.listings.get() == 1,
      "discovering an appended segment must not require a listing")
    // reconcile cadence: a deleted segment fails fast at the next full
    // listing (no-silent-remap contract) instead of lingering forever
    val s2 = new CdcMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
        "path", "graftcount://" + local, "reconcileEvery", "3")), Array.empty)
    s2.initialOffset()
    new java.io.File(local, WalSegments.segmentName(0)).delete()
    new java.io.File(local, WalSegments.segmentName(0) + ".idx").delete()
    val ex = intercept[IllegalStateException] {
      (1 to 5).foreach(_ => s2.latestOffset(CdcOffset(0), lim))
    }
    assert(ex.getMessage.contains("no longer matches"), ex.getMessage)
  }

  test("object-store segment writes publish with a single PUT — no rename, no temp") {
    // On s3a-like schemes create→close is the atomic publication point and
    // rename is a nonatomic copy+delete; FakeObjectStoreFs REFUSES rename,
    // so this round trip proves the whole write path (segment + sidecar
    // index) never touches it there, while local/HDFS schemes keep the
    // tmp+rename lane (every other spec exercises that daily).
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.s3a.impl", classOf[FakeObjectStoreFs].getName)
    val local = tmpDir("objstore")
    val (fs, _) = WalSegments.fsFor("s3a://" + local, conf)
    assert(fs.isInstanceOf[FakeObjectStoreFs])
    val frames = (WalFixture.headerFrames ++ WalFixture.txnFrames(
      Seq(mkChange(1, 1, "insert", "user")))).map(PgOutputEncoder.encode)
    val seg = new org.apache.hadoop.fs.Path("s3a://" + local, WalSegments.segmentName(0))
    WalSegments.write(fs, seg, frames) // throws if any rename happens
    assert(!new java.io.File(local, WalSegments.segmentName(0) + ".tmp").exists(),
      "no temp sibling may be created on object stores")
    val it = WalSegments.readFrames(fs, seg)
    val got = try it.toVector finally it.close()
    assert(got.length == frames.length &&
      got.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // the sidecar index also went through the direct-PUT lane and reads back
    val idx = WalSegments.readIndex(fs, seg)
    assert(idx.exists(_.frames == frames.length), s"index: $idx")
  }

  test("retention: expiry keeps offsets stable, fails fast only past the boundary") {
    val dir = tmpDir("retain")
    WalFixture.writeSegments(dir,
      (0 until 8).map(i => mkChange(i, i, "insert", "user")), txnsPerSegment = 2)
    // 4 segments × (4 header + 2×3 txn) = 10 frames each, 40 global frames
    def newStream(extra: (String, String)*) = new CdcMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        (Map("path" -> dir) ++ extra).foldLeft(
          new java.util.HashMap[String, String]()) { case (m, (k, v)) => m.put(k, v); m }),
      Array.empty)
    val lim = org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
    val preHead = Some(WalSegments.segmentName(0))
    assert(newStream().latestOffset(CdcOffset(0), lim) == CdcOffset(40, preHead))

    // expire the first two segments (consumer committed past frame 20)
    val rec = WalSegments.expireSegments(dir, 2)
    assert(rec == WalSegments.Retention(20L, 2), s"record: $rec")
    assert(!new java.io.File(dir, WalSegments.segmentName(0)).exists())
    assert(WalSegments.nextSegmentIndex(dir) == 4)

    // global offsets KEEP their meaning: totals unchanged, plan for a
    // post-boundary range maps onto the surviving segments at the same
    // global frame positions
    val s2 = newStream()
    val newHead = Some(WalSegments.segmentName(2))
    assert(s2.latestOffset(CdcOffset(20), lim) == CdcOffset(40, newHead))
    val parts = s2.planInputPartitions(CdcOffset(25, newHead), CdcOffset(40, newHead))
      .map(_.asInstanceOf[CdcInputPartition]).map(p => (p.segStartSeq, p.skip, p.take)).toSeq
    assert(parts == Seq((20, 5, 5), (30, 0, 10)), s"parts: $parts")
    // a checkpoint whose HEAD was expired is legitimate when its offset is
    // at or past the boundary…
    assert(s2.planInputPartitions(CdcOffset(20, preHead), CdcOffset(40, preHead))
      .length == 2)
    // …and fails fast when it still needs expired frames
    val ex = intercept[IllegalStateException] {
      s2.planInputPartitions(CdcOffset(5, preHead), CdcOffset(40, preHead))
    }
    assert(ex.getMessage.contains("EXPIRED"), ex.getMessage)
    // a fresh no-checkpoint stream starts at the earliest LIVE frame
    assert(s2.initialOffset() == CdcOffset(20, newHead))

    // a long-running stream whose cache predates the expiry reconciles
    // instead of failing: the retention record legitimizes the vanished
    // prefix exactly
    val s3 = newStream("reconcileEvery" -> "2")
    s3.initialOffset()
    WalSegments.expireSegments(dir, 3)
    (1 to 4).foreach(_ => s3.latestOffset(CdcOffset(30), lim)) // crosses a reconcile
    assert(s3.latestOffset(CdcOffset(30), lim) == CdcOffset(40, Some(WalSegments.segmentName(3))))

    // consumer-coupled convenience: expire exactly what is committed
    val rec2 = WalSegments.expireConsumed(dir, committedFrames = 35L)
    assert(rec2 == WalSegments.Retention(30L, 3), s"expireConsumed: $rec2") // frame 35 is mid-segment-3
    val rec3 = WalSegments.expireConsumed(dir, committedFrames = 40L)
    assert(rec3 == WalSegments.Retention(40L, 4), s"expireConsumed: $rec3")
    assert(newStream().latestOffset(CdcOffset(40), lim).asInstanceOf[CdcOffset].frames == 40L)
  }

  test("segment ordering survives the zero-padding overflow at a million segments") {
    // at 4096 frames/segment a 100 TB history passes 10^6 segments, where
    // %06d grows to 7 digits and LEXICOGRAPHIC order would interleave
    // ("segment-1000000" < "segment-999999"); ordering must be numeric
    val dir = tmpDir("overflow")
    def seg(i: Int, id: Long): Unit = WalSegments.write(
      WalSegments.segmentPath(dir, i),
      (WalFixture.headerFrames ++ WalFixture.txnFrames(
        Seq(mkChange(id, id, "insert", "user")))).map(PgOutputEncoder.encode))
    seg(999999, 1); seg(1000000, 2)
    assert(WalSegments.listSegments(dir).map(_.getName) ==
      Seq("segment-999999.wal", "segment-1000000.wal"))
    assert(WalSegments.nextSegmentIndex(dir) == 1000001)
    val stream = new CdcMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)), Array.empty)
    val lim = org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
    val end = stream.latestOffset(CdcOffset(0), lim)
    assert(end.asInstanceOf[CdcOffset].frames == 14, s"end: $end") // 2 × 7 frames
    val parts = stream.planInputPartitions(
      CdcOffset(0, Some("segment-999999.wal")), end)
      .map(_.asInstanceOf[CdcInputPartition]).toSeq
    assert(parts.map(p => (p.segStartSeq, p.take)) == Seq((0L, 7L), (7L, 7L)))
    assert(parts.head.path.endsWith("segment-999999.wal") &&
      parts.last.path.endsWith("segment-1000000.wal"))
  }

  test("retention: Graft.expireConsumed follows the source's ack file") {
    val dir = tmpDir("retain-facade")
    val ack = tmpDir("retain-facade-ack") + "/committed.json"
    WalFixture.writeSegments(dir,
      (0 until 4).map(i => mkChange(i, i, "insert", "user")), txnsPerSegment = 2)
    // 2 segments × 10 frames
    val config = GraftConfig(appName = "retain", ackPath = Some(ack))
    // no ack committed yet → no-op, nothing deleted
    assert(Graft.expireConsumed(config, dir).isEmpty)
    assert(WalSegments.listSegments(dir).size == 2)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ack),
      """{"committed_frames":10}""")
    assert(Graft.expireConsumed(config, dir)
      .contains(WalSegments.Retention(10L, 1)))
    assert(WalSegments.listSegments(dir).map(_.getName) ==
      Seq(WalSegments.segmentName(1)))
    // retention must follow the consumer: a config without ackPath refuses
    val ex = intercept[IllegalArgumentException] {
      Graft.expireConsumed(GraftConfig(appName = "retain2"), dir)
    }
    assert(ex.getMessage.contains("ackPath"), ex.getMessage)
  }

  test("retention: a checkpointed streaming query resumes exactly across an expiry") {
    val dir = tmpDir("retain-q")
    val ckpt = tmpDir("retain-ckpt")
    val out = tmpDir("retain-out")
    WalFixture.writeSegments(dir,
      (0 until 4).map(i => mkChange(i, i, "insert", "user", recordId = i)),
      txnsPerSegment = 2)
    // file sink: the one that genuinely resumes from a checkpoint
    def runOnce(): Unit = {
      val q = readStreamFrom(dir).filter($"msg" === "insert")
        .selectExpr("record['id'] AS id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      GraftSession.awaitFinished(q, 120000)
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 4)
    // everything is consumed and checkpointed: expire the whole history,
    // then append the NEXT sequential segment (as a live tailer would)
    WalSegments.expireSegments(dir, 2)
    val more = (WalFixture.headerFrames ++ WalFixture.txnFrames(
      Seq(mkChange(50, 50, "insert", "user", recordId = 50)))).map(PgOutputEncoder.encode)
    WalSegments.write(WalSegments.segmentPath(dir, 2), more)
    runOnce()
    // the restarted query delivers ONLY the new segment's row: no failure
    // on the expired prefix, no redelivery of the four originals, no loss
    val ids = spark.read.parquet(out).collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("0", "1", "2", "3", "50"), s"ids: $ids")
  }

  test("S6/I6: offset commit writes the standby-status ack file") {
    val dir = tmpDir("ack")
    val ack = tmpDir("ack-out") + "/committed.json"
    WalFixture.writeSegments(dir, Seq(mkChange(1, 1, "insert", "user")))
    // ≥2 batches: Spark acks batch n's offsets at the start of batch n+1
    runToTable(readStreamFrom(dir, "ackPath" -> ack, "maxFramesPerTrigger" -> "3"),
      "t_ack")
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ack)), "UTF-8")
    assert(content.contains("\"committed_frames\""), s"ack file: $content")
  }

  // ---- P1: cross-batch transaction assembly ----

  private def msgRow(seq: Long, lsn: Long, xid: Long, msg: String,
      ts: Option[Long] = None, table: Option[String] = None,
      rec: Option[Map[String, String]] = None): ChangeMsg =
    ChangeMsg(seq, lsn, Some(xid), msg, ts, table.map(_ => "public"), table,
      rec, None, None, None, None)

  test("P1: a transaction spanning two micro-batches emits once, intact, at commit") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[ChangeMsg]
    val q = TxnAssembler.assemble(ms.toDF()).toDF()
      .writeStream.format("memory").queryName("t_txn")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    ms.addData(
      msgRow(0, 100, 7, "begin", ts = Some(1000L)),
      msgRow(1, 100, 7, "insert", table = Some("user"), rec = Some(Map("id" -> "1"))))
    q.processAllAvailable()
    assert(spark.table("t_txn").count() == 0, "nothing before commit")

    ms.addData(
      msgRow(2, 100, 7, "update", table = Some("user"), rec = Some(Map("id" -> "2"))),
      msgRow(3, 100, 7, "commit", ts = Some(2000L)))
    q.processAllAvailable()
    val rows = spark.table("t_txn").orderBy("change_idx").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("op")).toSeq == Seq("insert", "update"))
    assert(rows.forall(_.getAs[Long]("commit_ts_us") == 2000L))
    assert(rows.forall(_.getAs[Long]("commit_lsn") == 100L))
    q.stop()
  }

  test("P1: lsn-mismatched commit and never-committed txns emit nothing") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[ChangeMsg]
    val q = TxnAssembler.assemble(ms.toDF()).toDF()
      .writeStream.format("memory").queryName("t_txn2")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    ms.addData(
      // mismatch: begin 200 vs commit 999 (publisher.ex:70-77 guard)
      msgRow(0, 200, 1, "begin"),
      msgRow(1, 200, 1, "insert", table = Some("user"), rec = Some(Map("id" -> "1"))),
      msgRow(2, 999, 1, "commit"),
      // abandoned: never commits
      msgRow(3, 300, 2, "begin"),
      msgRow(4, 300, 2, "insert", table = Some("user"), rec = Some(Map("id" -> "2"))))
    q.processAllAvailable()
    assert(spark.table("t_txn2").count() == 0)
    q.stop()
  }

  test("P1/S4: a transaction spanning a query RESTART recovers from the state store") {
    // run 1 processes one rate-limited batch (Trigger.Once + maxFramesPerTrigger)
    // that ends mid-transaction; the open txn buffers in the state store.
    // run 2 restarts from the checkpoint and must emit the txn exactly once.
    val dir = tmpDir("span")
    val ckpt = tmpDir("span-ckpt")
    val changes = (1 to 6).map(i => mkChange(i, 42, "insert", "user", recordId = i))
    WalFixture.writeSegments(dir, changes, txnsPerSegment = 1)
    // one segment: 4 header frames + begin + 6 inserts + commit = 12 frames
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start(trigger: Trigger) =
      TxnAssembler.assemble(
          readStreamFrom(dir, "maxFramesPerTrigger" -> "8")).toDF()
        .writeStream.outputMode("append").trigger(trigger)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          emitted ++= b.select("seq").collect().map(_.getLong(0)); ()
        }.start()

    // run 1: exactly the first rate-limited batch (frames 0-7: header +
    // begin + inserts, NO commit), then stop mid-transaction. A long
    // ProcessingTime interval gives one immediate batch; Trigger.Once
    // would ignore the admission limit.
    val q1 = start(Trigger.ProcessingTime(600000))
    val deadline = System.nanoTime() + 60_000_000_000L
    while (q1.recentProgress.length < 1 && System.nanoTime() < deadline)
      Thread.sleep(100)
    q1.stop()
    GraftSession.awaitFinished(q1, 120000)
    assert(emitted.isEmpty, s"nothing may emit before the commit, got $emitted")

    val q2 = start(Trigger.AvailableNow()) // restart: drains the rest
    GraftSession.awaitFinished(q2, 120000)
    // AssembledChange.seq is the global frame index: header 0-3, begin 4,
    // the six inserts are frames 5-10 (commit 11)
    assert(emitted.sorted.toSeq == (5L to 10L).toSeq,
      s"restart must emit the spanning txn exactly once, got $emitted")
  }

  test("P1: stale open transaction is evicted after the processing-time TTL") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[ChangeMsg]
    val evicted = spark.sparkContext.longAccumulator("txn_evicted")
    val q = TxnAssembler.assemble(ms.toDF(), staleTxnTtl = Some("1 second"),
        evictedCounter = Some(evicted)).toDF()
      .writeStream.format("memory").queryName("t_ttl")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    // NOTE: with ProcessingTimeTimeout the query never quiesces
    // (timeouts must get a chance to fire), so processAllAvailable would
    // hang — poll with deadlines instead.
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60_000_000_000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for: $what")
    }

    // an open txn that will never commit, plus a healthy committed one
    ms.addData(
      msgRow(0, 400, 1, "begin"),
      msgRow(1, 400, 1, "insert", table = Some("user"), rec = Some(Map("id" -> "1"))),
      msgRow(2, 500, 2, "begin"),
      msgRow(3, 500, 2, "insert", table = Some("user"), rec = Some(Map("id" -> "2"))),
      msgRow(4, 500, 2, "commit"))
    await("committed txn emits")(spark.table("t_ttl").count() == 1)
    await("stale txn evicted after TTL")(evicted.value == 1L)

    // the evicted txn's state is gone: its (late) commit finds no begin,
    // and the state store returns to zero
    ms.addData(msgRow(5, 400, 1, "commit"))
    await("state store back to zero")(
      Option(q.lastProgress).exists(_.stateOperators.apply(0).numRowsTotal == 0L))
    assert(spark.table("t_ttl").count() == 1, "late commit after eviction emits nothing")
    q.stop()
  }

  // ---- P3/P6/P7: typed event lane ----

  test("P6/P7: eventsFromAssembled carries source.columns and op-dependent payloads") {
    val assembled = Seq(
      AssembledChange(1, 100, 5000000L, 0, 10, "insert", Some("public"), Some("user"),
        Some(Map("id" -> "1", "k" -> "5")), None, None, None,
        Some(Map("id" -> "int8", "k" -> "int8"))),
      AssembledChange(1, 100, 5000000L, 1, 11, "update", Some("public"), Some("user"),
        Some(Map("id" -> "1", "k" -> "6", "payload" -> null)),
        Some(Map("id" -> "1", "k" -> "5", "payload" -> null)), Some("O"),
        Some(Seq("payload")), Some(Map("id" -> "int8", "k" -> "int8", "payload" -> "text"))),
      AssembledChange(1, 100, 5000000L, 2, 12, "delete", Some("public"), Some("user"),
        None, Some(Map("id" -> "1")), Some("O"), None, Some(Map("id" -> "int8")))
    ).toDF()
    val ev = ChangeStream.eventsFromAssembled(assembled).orderBy("seq").collect()

    assert(ev(0).getAs[Map[String, String]]("new_record")("k") == "5")
    assert(ev(0).isNullAt(ev(0).fieldIndex("old_record")) && ev(0).isNullAt(ev(0).fieldIndex("changes")))
    val src = ev(0).getStruct(ev(0).fieldIndex("source"))
    assert(src.getAs[Map[String, String]]("columns") == Map("id" -> "int8", "k" -> "int8"))

    // TOAST: payload old=null(new also null) but even if differing it is excluded;
    // k changed 5→6 registers
    val chg = ev(1).getAs[Map[String, org.apache.spark.sql.Row]]("changes")
    assert(chg.keySet == Set("k"))
    assert(ev(1).getAs[Long]("timestamp_ms") == 5000L)

    assert(ev(2).isNullAt(ev(2).fieldIndex("new_record")))
    assert(ev(2).getAs[Map[String, String]]("old_record")("id") == "1")
  }

  test("TOAST diff: unchanged-toast cells never register as a change") {
    // old-side sentinel: old cell nulled out, new has a value
    val df = Seq(1).toDF("x").select(
      ChangeStream.changedFields(
        map(lit("a"), lit(null).cast("string"), lit("b"), lit("1")),
        map(lit("a"), lit("big-value"), lit("b"), lit("2")),
        array(lit("a"))).as("chg"))
    val m = df.collect()(0).getMap[String, org.apache.spark.sql.Row](0)
    assert(m.keySet == Set("b"), "toast'd field 'a' must not diff")

    // new-side sentinel (the real pgoutput UPDATE shape): the new cell is
    // nulled out (no usable old image to carry forward), old has the value
    val df2 = Seq(1).toDF("x").select(
      ChangeStream.changedFields(
        map(lit("a"), lit("big-value"), lit("b"), lit("1")),
        map(lit("a"), lit(null).cast("string"), lit("b"), lit("2")),
        array(lit("a"))).as("chg"))
    val m2 = df2.collect()(0).getMap[String, org.apache.spark.sql.Row](0)
    assert(m2.keySet == Set("b"), "new-tuple toast'd field 'a' must not diff")
  }

  // ---- K: dispatch layer ----

  test("K1-K7: handlers receive exactly their filtered events (event_dsl semantics)") {
    val received = scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
    def capture(name: String): DataFrame => Unit = df =>
      received(name) = df.select("type", "name").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq

    val sideFired = new java.util.concurrent.CountDownLatch(1)
    val engine = new Engine()
      .onEvent("*")(capture("all"))
      .onInsert("user")(capture("user_ins"))
      .onUpdate("user", EventFilters(unwatchedFields = Seq("updated_at")),
        sideEffects = Seq(_ => sideFired.countDown()))(capture("user_upd"))
      .onDelete("todo")(capture("todo_del"))

    // hand-built Event view: one insert, one watched update, one
    // updated_at-only update (must drop), one delete on another table
    val events = Seq(
      ("insert", "user", null, Map("id" -> "1")),
      ("update", "user", Map("k" -> ("1", "2")), Map("id" -> "1")),
      ("update", "user", Map("updated_at" -> ("a", "b")), Map("id" -> "2")),
      ("delete", "todo", null, Map("id" -> "3"))
    ).toDF("type", "name", "chg_raw", "new_record")
      .withColumn("changes", when($"chg_raw".isNotNull,
        transform_values($"chg_raw", (_, v) =>
          struct(v.getField("_1").as("old_value"), v.getField("_2").as("new_value")))))
      .withColumn("old_record", lit(null).cast("map<string,string>"))
      .drop("chg_raw")

    engine.dispatch(events, 0L)
    assert(received("all").length == 4)
    assert(received("user_ins") == Seq(("insert", "user")))
    assert(received("user_upd") == Seq(("update", "user")), "updated_at-only update must drop")
    assert(received("todo_del") == Seq(("delete", "todo")))
    assert(sideFired.await(10, java.util.concurrent.TimeUnit.SECONDS), "side effect fired")
  }

  test("K6: side effects see the live batch, driver-materialization-free; ref-count holds persist") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.storage.StorageLevel
    val hold = new CountDownLatch(1)
    val done = new CountDownLatch(2)
    val counted = new java.util.concurrent.atomic.AtomicLong(-1)
    val acc = spark.sparkContext.longAccumulator("k6_rows")
    val engine = new Engine()
      .onEvent("*", sideEffects = Seq(
        // batch-granularity lane: a Spark action over the live filtered
        // view (would recompute-or-fail if the batch were unpersisted and
        // its source gone; the pin + refcount make it block-cache local)
        df => { counted.set(df.count()); hold.await(); done.countDown() },
        // per-event lane: executor-side, reference granularity
        df => { Engine.perEvent(_ => acc.add(1L))(df); done.countDown() }
      ))(_ => ())
    val events = spark.range(10000)
      .select($"id", lit("insert").as("type"), lit("user").as("name"))
    engine.dispatch(events, 0L)
    // dispatch returned while side effect #1 is still parked on the latch:
    // fire-and-forget, and the persisted batch must still be alive for it
    assert(events.storageLevel != StorageLevel.NONE,
      "batch unpersisted while side effects in flight")
    hold.countDown()
    assert(done.await(30, TimeUnit.SECONDS), "side effects did not complete")
    assert(counted.get() == 10000L, s"batch lane saw ${counted.get()}")
    assert(acc.value == 10000L, s"per-event lane delivered ${acc.value}")
    // last release unpersists (async wrt the done latch — poll briefly)
    val deadline = System.nanoTime() + 10e9.toLong
    while (events.storageLevel != StorageLevel.NONE && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(events.storageLevel == StorageLevel.NONE, "refcount leaked the persisted batch")
  }

  test("K6: a throwing handler's side effects are skipped; the batch still unpersists") {
    import org.apache.spark.storage.StorageLevel
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val engine = new Engine(isolateHandlerFailures = true)
      .onEvent("*", sideEffects = Seq(_ => fired.set(true)))(
        _ => throw new RuntimeException("boom"))
    val events = Seq(("insert", "user")).toDF("type", "name")
    engine.dispatch(events, 0L)
    assert(events.storageLevel == StorageLevel.NONE,
      "no side effects scheduled → dispatch's own release must unpersist")
    Thread.sleep(100) // grace: a wrongly-scheduled future would fire by now
    assert(!fired.get(), "side effect fired for a handler that threw")
    assert(engine.failures == 1)
  }

  test("I1: supervisor restarts a failed query from checkpoint and completes delivery") {
    val dir = tmpDir("sup")
    val ckpt = tmpDir("sup-ckpt")
    WalFixture.writeSegments(dir,
      (0 until 6).map(i => mkChange(i, i, "insert", "user", recordId = i)))
    val seen = scala.collection.concurrent.TrieMap.empty[String, Int]
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sup = new Supervisor(maxRestarts = 3, backoffMs = 10)
    sup.runBlocking { () =>
      readStreamFrom(dir).writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!failedOnce.getAndSet(true)) throw new RuntimeException("boom")
          b.filter($"msg" === "insert").collect().foreach { r =>
            seen(r.getAs[Map[String, String]]("record")("id")) = 1
          }
          ()
        }.start()
    }
    assert(sup.restarts == 1)
    assert(seen.keySet == (0 until 6).map(_.toString).toSet)
  }

  test("streaming dedup horizon: dropDuplicatesWithinWatermark dedups within, re-admits past") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val t0 = 3600000L * 700000
    val dedup = ms.toDF().toDF("ts_ms", "k")
      .select(timestamp_millis($"ts_ms").as("ts"), $"k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .select($"k")
    val q = dedup.writeStream.format("memory").queryName("t_dedup_wm")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // duplicate inside the horizon: emitted once
    ms.addData((t0, "a"), (t0 + 1000, "a"), (t0 + 2000, "b"))
    q.processAllAvailable()
    assert(spark.table("t_dedup_wm").groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 1L, "b" -> 1L))

    // advance the watermark far past t0 (evicts 'a'), then replay 'a':
    // past the horizon it is a NEW observation by design
    ms.addData((t0 + 3 * 3600000L, "c"))
    q.processAllAvailable()
    ms.addData((t0 + 3 * 3600000L + 1000, "a"))
    q.processAllAvailable()
    val counts = spark.table("t_dedup_wm").groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("a") == 2L, s"'a' must re-admit past the horizon: $counts")
    q.stop()
  }

  test("watermark closes event-time windows in append mode") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val h0 = 3600000L * 500000 // an exact hour boundary
    val agg = ms.toDF().toDF("ts_ms", "k")
      .select(timestamp_millis($"ts_ms").as("ts"), $"k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"k")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"window.start").as("hour_ms"), $"k", $"n")
    val q = agg.writeStream.format("memory").queryName("t_wm")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    ms.addData((h0 + 300000, "a"), (h0 + 600000, "a"))
    q.processAllAvailable()
    assert(spark.table("t_wm").count() == 0, "open window must not emit")

    ms.addData((h0 + 2 * 3600000L, "a")) // watermark sails past h0+1h
    q.processAllAvailable()
    ms.addData((h0 + 3 * 3600000L, "a")) // nudge a further batch
    q.processAllAvailable()
    val closed = spark.table("t_wm").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(closed.contains((h0, 2L)), s"closed windows: ${closed.toSeq}")
    q.stop()
  }

  test("stream-stream join: late rows past the watermark horizon are dropped from state") {
    // pins the cdc20 contract: INNER-join emission is batch-equivalent for
    // in-horizon pairs, and the watermark bounds state — a match arriving
    // after the watermark passed its partner's range is NOT emitted
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val insMs = MemoryStream[(Long, Long)]
    val delMs = MemoryStream[(Long, Long)]
    val h0 = 3600000L * 600000
    val ins = insMs.toDF().toDF("record_id", "ts_ms")
      .select($"record_id", timestamp_millis($"ts_ms").as("ins_ts"))
      .withWatermark("ins_ts", "10 minutes")
    val del = delMs.toDF().toDF("del_record_id", "ts_ms")
      .select($"del_record_id", timestamp_millis($"ts_ms").as("del_ts"))
      .withWatermark("del_ts", "10 minutes")
    val joined = ins.join(del,
      $"record_id" === $"del_record_id" && $"del_ts" >= $"ins_ts" &&
        $"del_ts" <= $"ins_ts" + expr("interval 2 hours"))
      .select($"record_id")
    val q = joined.writeStream.format("memory").queryName("t_ssj")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    insMs.addData((1L, h0)); delMs.addData((99L, h0))
    q.processAllAvailable()
    // advance both watermarks far past h0 + 2h (insert 1's match range)
    val far = h0 + 10 * 3600000L
    insMs.addData((2L, far)); delMs.addData((98L, far))
    q.processAllAvailable()
    insMs.addData((3L, far)); delMs.addData((97L, far))
    q.processAllAvailable()
    // late delete for record 1 inside its join range but behind the
    // watermark: insert state evicted / row late → no emission
    delMs.addData((1L, h0 + 3600000L))
    q.processAllAvailable()
    assert(spark.table("t_ssj").count() == 0, "late match must not emit")
    // an in-horizon pair still joins (batch-equivalent emission)
    insMs.addData((5L, far + 3600000L)); delMs.addData((5L, far + 3600000L + 60000))
    q.processAllAvailable()
    assert(spark.table("t_ssj").collect().map(_.getLong(0)).toSeq == Seq(5L))
    q.stop()
  }

  test("Graft facade: config-driven pipeline with publication (F8) filtering at the source") {
    val dir = tmpDir("graft")
    WalFixture.writeSegments(dir, Seq(
      mkChange(1, 0, "insert", "user", recordId = 1),
      mkChange(2, 0, "insert", "todo", recordId = 2),
      mkChange(3, 1, "insert", "order", recordId = 3),
      mkChange(4, 1, "update", "user", recordId = 4)))
    // a narrower publication than the default graft_pub: only public.user
    WalSegments.writePublication(dir, "user_only", Seq("public.user"))

    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val engine = new Engine().onEvent("*") { df =>
      seen ++= df.select("type", "name").collect().map(r => (r.getString(0), r.getString(1)))
    }
    val config = GraftConfig("demo", publication = Some("user_only"),
      subscriptions = Seq("user"), maxFramesPerTrigger = Some(1000))
    val q = Graft.start(spark, config, dir, engine, trigger = Trigger.AvailableNow())
    GraftSession.awaitFinished(q, 120000)
    assert(seen.sorted.toSeq == Seq(("insert", "user"), ("update", "user")),
      s"unpublished tables leaked: $seen")
  }

  test("Graft facade: exactlyOnce config arms the delivery ledger next to the checkpoint") {
    val dir = tmpDir("graft-eo")
    val ckpt = tmpDir("graft-eo-ckpt")
    WalFixture.writeSegments(dir, Seq(
      mkChange(1, 0, "insert", "user", recordId = 1),
      mkChange(2, 1, "update", "user", recordId = 1)))
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val engine = new Engine().onEvent("*") { df => seen.addAndGet(df.count().toInt); () }
    val config = GraftConfig("eo_demo", durableSlot = true,
      checkpointDir = Some(ckpt), exactlyOnce = true)
    val q = Graft.start(spark, config, dir, engine, trigger = Trigger.AvailableNow())
    GraftSession.awaitFinished(q, 120000)
    assert(seen.get() == 2)
    // the config path armed the engine, and markers live NEXT TO the
    // checkpoint — same filesystem, same lifecycle
    assert(engine.deliveryLedgerDir.contains(s"$ckpt/_graft_delivery"))
    val names = new java.io.File(s"$ckpt/_graft_delivery").listFiles().map(_.getName)
    assert(names.exists(_.matches("b\\d+_on_event___0")) && names.exists(_.startsWith("_manifest-v")),
      s"ledger not materialized by the facade: ${names.toSeq}")
  }

  test("Graft facade: stateStore=rocksdb runs transaction assembly on the RocksDB provider") {
    val dir = tmpDir("graft-rocks")
    WalFixture.writeSegments(dir, Seq(
      mkChange(1, 0, "insert", "user", recordId = 1),
      mkChange(2, 1, "update", "user", recordId = 1)))
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val engine = new Engine().onEvent("*") { df => seen.addAndGet(df.count().toInt); () }
    val config = GraftConfig("rocks_demo", stateStore = Some("rocksdb"))
    try {
      val q = Graft.start(spark, config, dir, engine, trigger = Trigger.AvailableNow())
      GraftSession.awaitFinished(q, 120000)
      assert(seen.get() == 2)
      // the assembler's stateful operator actually ran on RocksDB: its
      // per-operator custom metrics are provider-specific
      val metricKeys = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .flatMap { so =>
          import scala.jdk.CollectionConverters._
          so.customMetrics.keySet.asScala
        }
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"no RocksDB state metrics — provider not engaged: $metricKeys")
      // the provider conf is SCOPED to the start call: the shared session
      // must come back unchanged, so later queries from other configs
      // don't silently inherit RocksDB
      assert(!spark.sessionState.conf.contains(
        "spark.sql.streaming.stateStore.providerClass"),
        "stateStore provider conf leaked past Graft.start")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("Graft facade: state width is one wave of task slots; a checkpoint keeps its own") {
    import org.apache.spark.sql.streaming.StreamingQuery
    val width = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(width)
    val capped = math.min(session.toInt, spark.sparkContext.defaultParallelism)
    assert(capped < session.toInt,
      s"the spec session must be wider than its task slots: $session vs $capped")
    def stateWidths(q: StreamingQuery): Set[Long] = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numShufflePartitions).toSet
    val dir = tmpDir("width")
    WalFixture.writeSegments(dir,
      (0 until 6).map(i => mkChange(i, i, "insert", "user", recordId = i)))
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val engine = new Engine().onInsert("*") { df =>
      df.select(element_at($"new_record", "id")).collect()
        .foreach(r => ids.add(r.getString(0)))
    }

    // Graft.start and Graft.materialize: capped width, session untouched
    val q = Graft.start(spark, GraftConfig("width_demo"), dir, engine,
      trigger = Trigger.AvailableNow())
    GraftSession.awaitFinished(q, 120000)
    assert(stateWidths(q) == Set(capped.toLong), s"start ran at ${stateWidths(q)}")
    assert(spark.conf.get(width) == session, "Graft.start leaked its width")
    val m = Graft.materialize(spark, GraftConfig("width_matz"), dir,
      tmpDir("width-state"), buckets = 4, trigger = Trigger.AvailableNow())
    GraftSession.awaitFinished(m, 120000)
    assert(stateWidths(m) == Set(capped.toLong), s"materialize ran at ${stateWidths(m)}")
    assert(spark.conf.get(width) == session, "Graft.materialize leaked its width")

    // a durable query created at width 32 (before the cap existed)
    // resumes at 32 through Graft.start and delivers each event once
    ids.clear()
    val config = GraftConfig("width_ckpt", durableSlot = true,
      checkpointDir = Some(tmpDir("width-ckpt")))
    spark.conf.set(width, "32")
    val wide = try engine.start(Graft.events(spark, config, dir),
        checkpoint = config.effectiveCheckpoint, trigger = Trigger.AvailableNow(),
        queryName = "graft-width_ckpt")
      finally spark.conf.set(width, session)
    GraftSession.awaitFinished(wide, 120000)
    assert(stateWidths(wide) == Set(32L))
    val more = (10 until 13).map(i => mkChange(i, 100 + i, "insert", "user", recordId = i))
    val frames = (WalFixture.headerFrames ++
      more.grouped(1).flatMap(g => WalFixture.txnFrames(g))).map(PgOutputEncoder.encode)
    WalSegments.write(WalSegments.segmentPath(dir, WalSegments.nextSegmentIndex(dir)),
      frames.toSeq)
    val resumed = Graft.start(spark, config, dir, engine, trigger = Trigger.AvailableNow())
    GraftSession.awaitFinished(resumed, 120000)
    assert(stateWidths(resumed) == Set(32L),
      s"a checkpoint must keep its recorded width, got ${stateWidths(resumed)}")
    assert(spark.conf.get(width) == session)
    val delivered = ids.toArray.toSeq.map(_.toString.toInt).sorted
    assert(delivered == (0 until 6) ++ (10 until 13),
      s"events lost or duplicated across the resume: $delivered")
  }

  test("change-table polling lane discovers newly-appended files incrementally") {
    val dir = tmpDir("poll")
    def changeRows(from: Int, n: Int, table: String) =
      (from until from + n).map(i => (i.toLong, 1000L + i, i.toLong / 2, "insert",
        table, Map("id" -> i.toString, "v" -> (i * 10).toString)))
        .toDF("seq", "lsn", "xid", "op", "table_name", "record")
    changeRows(0, 3, "user").write.mode("append").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val engine = new Engine().onInsert("user") { df =>
      seen ++= df.select("seq").collect().map(_.getLong(0))
    }
    val q = engine.start(Graft.eventsFromChangeTable(spark, dir, schema),
      queryName = "t_poll")
    q.processAllAvailable()
    assert(seen.sorted.toSeq == Seq(0L, 1L, 2L))

    changeRows(3, 2, "user").write.mode("append").parquet(dir)
    q.processAllAvailable()
    assert(seen.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L), s"got $seen")
    q.stop()
  }

  test("truncate and corrupt frames flow through the pipeline without failing it") {
    import WalMessage._
    val dir = tmpDir("trunc")
    val ts = java.time.Instant.parse("2024-05-01T10:00:00Z")
    val frames: Seq[Array[Byte]] =
      WalFixture.headerFrames.map(PgOutputEncoder.encode) ++ Seq(
        PgOutputEncoder.encode(Begin(Lsn(0, 500), ts, 42L)),
        PgOutputEncoder.encode(Insert(WalFixture.relations("user"),
          IndexedSeq(Cell.Text("1"), Cell.Text("10"), Cell.Null,
            Cell.Text("5"), Cell.Text("99")))),
        // truncate user + todo inside the txn (fans out per relation)
        PgOutputEncoder.encode(Truncate(cascade = true, restartIdentity = false,
          Seq(WalFixture.relations("user"), WalFixture.relations("todo")))),
        Array[Byte](0x7A, 0x01, 0x02), // garbage frame → Unsupported, not fatal
        PgOutputEncoder.encode(Commit(0, Lsn(0, 500), Lsn(0, 556), ts)))
    WalSegments.write(WalSegments.segmentPath(dir, 0), frames)

    runToTable(readStreamFrom(dir), "t_trunc")
    val rows = spark.table("t_trunc").collect()
    assert(rows.count(_.getAs[String]("msg") == "unsupported") == 1)
    val truncs = rows.filter(_.getAs[String]("msg") == "truncate")
      .map(_.getAs[String]("table_name")).sorted
    assert(truncs.toSeq == Seq("todo", "user"))

    // and the assembler carries truncate as a transaction member
    val assembled = TxnAssembler.assemble(readStreamFrom(dir)).toDF()
    val q = assembled.writeStream.format("memory").queryName("t_trunc_asm")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    GraftSession.awaitFinished(q, 120000)
    val ops = spark.table("t_trunc_asm").orderBy("change_idx")
      .collect().map(r => (r.getAs[String]("op"), r.getAs[String]("table_name")))
    assert(ops.toSeq == Seq(("insert", "user"), ("truncate", "user"), ("truncate", "todo")))
  }

  test("delivery ledger: redelivered batches skip completed handlers; crashed ones re-run") {
    import graft.streaming.Engine
    val ledger = tmpDir("ledger")
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    var crashOnce = true
    val engine = new Engine(isolateHandlerFailures = true,
      deliveryLedger = Some(ledger))
      .onEvent("*") { _ => ran += "ok"; () }
      .onEvent("*") { _ =>
        if (crashOnce) { crashOnce = false; ran += "crash"; sys.error("boom") }
        else { ran += "recovered"; () }
      }
    val batch = spark.range(1).selectExpr(
      "'user' AS name", "'insert' AS type",
      "CAST(null AS map<string,struct<old_value:string,new_value:string>>) AS changes",
      "map('id','1') AS new_record",
      "CAST(null AS map<string,string>) AS old_record")
    engine.dispatch(batch, batchId = 7L)
    // crash-after-restart redelivery of the SAME batch: the completed
    // handler is ledger-skipped, the crashed one re-runs to completion
    engine.dispatch(batch, batchId = 7L)
    // a NEW batch delivers to both again
    engine.dispatch(batch, batchId = 8L)
    assert(ran.toSeq == Seq("ok", "crash", "recovered", "ok", "recovered"),
      s"unexpected delivery sequence: $ran")
  }

  test("delivery ledger pruning: markers past retention are dropped, recent ones kept") {
    import graft.streaming.Engine
    val dir = java.nio.file.Paths.get(tmpDir("ledger-prune"))
    val old1 = dir.resolve("b1_on_event_user_0")
    val old2 = dir.resolve(s"b${Engine.LedgerRetention}_on_event_user_0")
    val edge = dir.resolve(s"b${Engine.LedgerRetention + 1}_on_event_user_0")
    val recent = dir.resolve(s"b${2 * Engine.LedgerRetention}_on_event_user_0")
    val alien = dir.resolve("not_a_marker")
    Seq(old1, old2, edge, recent, alien).foreach(java.nio.file.Files.createFile(_))
    val hdir = new org.apache.hadoop.fs.Path(dir.toUri)
    val fs = hdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new Engine(deliveryLedger = Some(dir.toString))
      .pruneLedger(fs, hdir, batchId = 2 * Engine.LedgerRetention + 1)
    // cutoff = retention + 1: strictly-older markers go, the rest stay
    assert(!java.nio.file.Files.exists(old1) && !java.nio.file.Files.exists(old2))
    assert(java.nio.file.Files.exists(edge) && java.nio.file.Files.exists(recent))
    assert(java.nio.file.Files.exists(alien), "non-marker files must be untouched")
  }

  test("delivery ledger speaks Hadoop FileSystem: explicit file:// URI works end to end") {
    import graft.streaming.Engine
    // the checkpoint-adjacent deployment shape: a scheme-qualified Hadoop
    // path (hdfs://, s3a://, or — here — file://), unreachable by java.nio
    // path arithmetic; markers and manifest must round-trip through the
    // FileSystem API
    val ledger = "file://" + tmpDir("ledger-hadoop")
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val engine = new Engine(deliveryLedger = Some(ledger))
      .onEvent("*") { _ => ran += "a"; () }
    val batch = spark.range(1).selectExpr(
      "'user' AS name", "'insert' AS type",
      "CAST(null AS map<string,struct<old_value:string,new_value:string>>) AS changes",
      "map('id','1') AS new_record",
      "CAST(null AS map<string,string>) AS old_record")
    engine.dispatch(batch, batchId = 3L)
    engine.dispatch(batch, batchId = 3L) // redelivery: ledger-skipped
    engine.dispatch(batch, batchId = 4L)
    assert(ran.toSeq == Seq("a", "a"), s"unexpected delivery sequence: $ran")
    val dir = new java.io.File(ledger.stripPrefix("file://"))
    val names = dir.listFiles().map(_.getName).toSet
    // handler "on_event:*" sanitizes to the Hadoop-safe "on_event__"
    assert(names.contains("b3_on_event___0") && names.contains("b4_on_event___0"),
      s"marker files missing: $names")
    assert(names.exists(_.startsWith("_manifest-v")), s"manifest missing: $names")
  }

  test("delivery ledger manifest: appends are accepted, reorders fail fast") {
    import graft.streaming.Engine
    val ledger = tmpDir("ledger-manifest")
    val batch = spark.range(1).selectExpr(
      "'user' AS name", "'insert' AS type",
      "CAST(null AS map<string,struct<old_value:string,new_value:string>>) AS changes",
      "map('id','1') AS new_record",
      "CAST(null AS map<string,string>) AS old_record")
    new Engine(deliveryLedger = Some(ledger))
      .onInsert("user") { _ => () }
      .onUpdate("user") { _ => () }
      .dispatch(batch, 0L)
    // append-only deploy: same prefix + one more handler — accepted, and
    // the manifest is rewritten to the extended shape
    new Engine(deliveryLedger = Some(ledger))
      .onInsert("user") { _ => () }
      .onUpdate("user") { _ => () }
      .onDelete("user") { _ => () }
      .dispatch(batch, 1L)
    // versioned write-then-swap: exactly one live manifest remains after
    // the extension (v1 was retired only after v2 landed)
    val mfs = new java.io.File(ledger).listFiles()
      .filter(_.getName.startsWith("_manifest")).map(_.getName).sorted
    assert(mfs.toSeq == Seq("_manifest-v00000002"), s"expected one live manifest: ${mfs.toSeq}")
    val lines = graft.operators.store.IndexManifest.readMeta(ledger).get.registry
    assert(lines.size == 3 && lines(2).startsWith("on_delete_user"),
      s"manifest not extended: $lines")
    // reordered deploy: delivery history would silently swap — must throw
    val reordered = new Engine(deliveryLedger = Some(ledger))
      .onUpdate("user") { _ => () }
      .onInsert("user") { _ => () }
    val e = intercept[IllegalStateException](reordered.dispatch(batch, 2L))
    assert(e.getMessage.contains("APPENDING"), e.getMessage)
  }

  test("ledger manifest is revalidated on the prune cadence: a swapped ledger dir is caught") {
    import graft.streaming.Engine
    val ledger = tmpDir("ledger-swap")
    val batch = spark.range(1).selectExpr(
      "'user' AS name", "'insert' AS type",
      "CAST(null AS map<string,struct<old_value:string,new_value:string>>) AS changes",
      "map('id','1') AS new_record",
      "CAST(null AS map<string,string>) AS old_record")
    val engine = new Engine(deliveryLedger = Some(ledger))
      .onInsert("user") { _ => () }
    engine.dispatch(batch, 0L)
    // operator error: the ledger directory is REPLACED under the running
    // engine with one from a different deployment. The per-shape cache
    // makes steady-state batches skip the gate...
    new java.io.File(ledger).listFiles().foreach(_.delete())
    graft.operators.store.IndexManifest.commit(ledger,
      graft.operators.store.IndexManifest.Meta(7L, 0, Nil, Nil,
        kind = "ledger", registry = Seq("on_event_other_0")))
    engine.dispatch(batch, 1L) // cached shape — not yet caught (documented)
    // ...but the next revalidation window (batchId % 64 == 0) re-reads it
    val e = intercept[IllegalStateException](engine.dispatch(batch, 64L))
    assert(e.getMessage.contains("APPENDING"), e.getMessage)
  }

  test("delivery ledger IO outage degrades to at-least-once, never to handler failure") {
    import graft.streaming.Engine
    // MarkerFailFs: marker creates throw IOException; manifest/probe ops
    // work. The ADVICE contract: a ledger outage after a SUCCESSFUL handler
    // body must not count as a handler failure or suppress side effects —
    // the handler silently degrades to at-least-once until the FS recovers.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfail.impl", classOf[MarkerFailFs].getName)
    val dir = tmpDir("ledger-iofail")
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val sideFx = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(2)
    val engine = new Engine(isolateHandlerFailures = true,
      deliveryLedger = Some("graftfail://" + dir))
      .onEvent("*", sideEffects = Seq(
        _ => { sideFx.incrementAndGet(); latch.countDown() })) { _ => ran += "a"; () }
    val batch = spark.range(1).selectExpr(
      "'user' AS name", "'insert' AS type",
      "CAST(null AS map<string,struct<old_value:string,new_value:string>>) AS changes",
      "map('id','1') AS new_record",
      "CAST(null AS map<string,string>) AS old_record")
    engine.dispatch(batch, 0L)
    // marker never landed → the same batch redelivers the handler
    engine.dispatch(batch, 0L)
    assert(ran.toSeq == Seq("a", "a"), s"expected at-least-once re-run: $ran")
    assert(engine.failures == 0, "ledger IO errors must not count as handler failures")
    assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
      && sideFx.get() == 2, "side effects of a successful body must still fire")
  }

  test("delivery ledger through a RESTARTED streaming query: Spark-assigned batchIds drive skip/re-run") {
    import graft.streaming.Engine
    val ledger = tmpDir("ledger-restart")
    val ckpt = tmpDir("ledger-restart-ckpt")
    val src = tmpDir("ledger-restart-src")
    spark.range(3).selectExpr(
      "'user' AS name", "'insert' AS type",
      "CAST(null AS map<string,struct<old_value:string,new_value:string>>) AS changes",
      "map('id', CAST(id AS STRING)) AS new_record",
      "CAST(null AS map<string,string>) AS old_record")
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    def events = spark.readStream.schema(schema).parquet(src)
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    var crashOnce = true
    // isolation OFF: handler B's crash fails the micro-batch, so Spark's
    // own replay machinery (offset log without commit log) redelivers it
    val engine = new Engine(deliveryLedger = Some(ledger))
      .onEvent("*") { _ => ran += "a"; () }
      .onEvent("*") { _ =>
        if (crashOnce) { crashOnce = false; ran += "crash"; sys.error("boom") }
        else { ran += "recovered"; () }
      }
    val q1 = engine.start(events, checkpoint = Some(ckpt),
      trigger = Trigger.AvailableNow(), queryName = "ledger-restart-q1")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      GraftSession.awaitFinished(q1, 120000)
    }
    // restart on the SAME checkpoint: Spark re-plans the uncommitted batch
    // under its original batchId; A is ledger-skipped, B re-runs
    val q2 = engine.start(events, checkpoint = Some(ckpt),
      trigger = Trigger.AvailableNow(), queryName = "ledger-restart-q2")
    GraftSession.awaitFinished(q2, 120000)
    assert(ran.toSeq == Seq("a", "crash", "recovered"),
      s"unexpected delivery sequence: $ran")
    // both markers carry SPARK's batchId (0) — the replay reused it
    val names = new java.io.File(ledger).listFiles().map(_.getName).toSet
    assert(names.contains("b0_on_event___0") && names.contains("b0_on_event___1"),
      s"markers should be keyed by the replayed Spark batchId: $names")
  }

  test("replication tailer drops replayed transactions: segment history stays exactly-once") {
    import graft.sources.replication.{PgReplicationClient, ReplicationTailer}
    import WalMessage._
    val dir = tmpDir("tailer-dedup")
    // never connected → acks are no-ops; only the segment writing matters
    val sink = new PgReplicationClient(PgReplicationClient.Endpoint(
      database = "x", user = "x"))
    val ts = java.time.Instant.parse("2024-07-01T10:00:00Z")
    def txn(lsnOff: Int, id: Long): Seq[Array[Byte]] = Seq[WalMessage](
      Begin(Lsn(0, lsnOff), ts, id),
      Insert(WalFixture.relations("user"), IndexedSeq(Cell.Text(id.toString),
        Cell.Text("1"), Cell.Null, Cell.Text("5"), Cell.Text("9"))),
      Commit(0, Lsn(0, lsnOff), Lsn(0, lsnOff + 56), ts)).map(PgOutputEncoder.encode)
    val rel = PgOutputEncoder.encode(WalFixture.relationFrame("user"))
    def feed(t: ReplicationTailer, frames: Seq[Array[Byte]]): Unit =
      frames.foreach(f => t.accept(PgReplicationClient.XLogData(0, 0, 0, f)))
    val t1 = new ReplicationTailer(sink, dir, framesPerSegment = 100)
    feed(t1, rel +: txn(100, 1))
    t1.flush()
    // reconnect after a lost ack: the server re-sends txn@100 (the slot's
    // at-least-once window), then the genuinely-new txn@200. The restarted
    // tailer recovers the floor from disk and must keep only txn@200 —
    // segments are durable replay history, a duplicate would re-deliver on
    // every downstream replay forever
    val t2 = new ReplicationTailer(sink, dir, framesPerSegment = 100)
    feed(t2, rel +: (txn(100, 1) ++ txn(200, 2)))
    t2.flush()
    val segs = graft.sources.cdc.WalSegments.listSegments(dir)
    assert(segs.size == 2, s"expected 2 segments, got ${segs.size}")
    val frames2 = {
      val it = graft.sources.cdc.WalSegments.readFrames(segs.last)
      try it.toList finally it.close()
    }
    assert(frames2.exists(_.headOption.contains('R'.toByte)),
      "segment 2 must replay cached relation metadata")
    val begins = frames2.filter(_.headOption.contains('B'.toByte))
      .map(f => java.nio.ByteBuffer.wrap(f, 1, 8).getLong)
    assert(begins == List(Lsn(0, 200).toLong),
      s"replayed txn leaked into the durable history: $begins")
  }

  test("replication tailer consumer-coupled acks: retention follows committed frames, never past") {
    import graft.sources.replication.{PgReplicationClient, ReplicationTailer}
    import WalMessage._
    val dir = tmpDir("tailer-ackfloor")
    val ackFile = s"$dir/ack.json"
    val sink = new PgReplicationClient(PgReplicationClient.Endpoint(
      database = "x", user = "x"))
    val ts = java.time.Instant.parse("2024-07-01T10:00:00Z")
    def txn(lsnOff: Int, id: Long): Seq[Array[Byte]] = Seq[WalMessage](
      Begin(Lsn(0, lsnOff), ts, id),
      Insert(WalFixture.relations("user"), IndexedSeq(Cell.Text(id.toString),
        Cell.Text("1"), Cell.Null, Cell.Text("5"), Cell.Text("9"))),
      Commit(0, Lsn(0, lsnOff), Lsn(0, lsnOff + 56), ts)).map(PgOutputEncoder.encode)
    val rel = PgOutputEncoder.encode(WalFixture.relationFrame("user"))
    val t = new ReplicationTailer(sink, dir, framesPerSegment = 100,
      consumerAckPath = Some(ackFile))
    def feed(frames: Seq[Array[Byte]], endLsn: Long): Unit =
      frames.foreach(f => t.accept(PgReplicationClient.XLogData(0, endLsn, 0, f)))
    // segment 1: rel + txn@100 = 4 frames; the consumer committed NOTHING
    // yet → no ack leaves, whatever is on disk
    feed(rel +: txn(100, 1), endLsn = Lsn(0, 156).toLong)
    t.flush()
    assert(t.lastAckComputed == 0L, "must not ack ahead of the consumer")
    // consumer commits through segment 1 (4 frames): the ack may now cover
    // exactly that flush's LSN — and segment 2's newer LSN must NOT leak
    // even though it is already on disk
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ackFile),
      """{"committed_frames":4}""")
    feed(txn(200, 2), endLsn = Lsn(0, 256).toLong)
    t.flush()
    assert(t.lastAckComputed == Lsn(0, 156).toLong,
      s"ack must stop at the consumer's committed flush: ${t.lastAckComputed}")
    // consumer catches up through segment 2 (4 + 4 frames): the ack
    // advances on the next flush cycle, with no new traffic needed
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ackFile),
      """{"committed_frames":8}""")
    t.flush()
    assert(t.lastAckComputed == Lsn(0, 256).toLong,
      s"ack must follow the consumer's catch-up: ${t.lastAckComputed}")
  }

  test("replication tailer write-through mode keeps no flush-mark ledger") {
    import graft.sources.replication.{PgReplicationClient, ReplicationTailer}
    import WalMessage._
    val dir = tmpDir("tailer-writethrough")
    val sink = new PgReplicationClient(PgReplicationClient.Endpoint(
      database = "x", user = "x"))
    val ts = java.time.Instant.parse("2024-07-01T10:00:00Z")
    val frames = Seq[WalMessage](
      Begin(Lsn(0, 100), ts, 1),
      Insert(WalFixture.relations("user"), IndexedSeq(Cell.Text("1"),
        Cell.Text("1"), Cell.Null, Cell.Text("5"), Cell.Text("9"))),
      Commit(0, Lsn(0, 100), Lsn(0, 156), ts)).map(PgOutputEncoder.encode)
    // no consumerAckPath: the mark ledger has no reader and no pruner, so
    // recording would leak one entry per flush for the tailer's uptime
    val t = new ReplicationTailer(sink, dir, framesPerSegment = 100)
    frames.foreach(f => t.accept(PgReplicationClient.XLogData(0, Lsn(0, 156).toLong, 0, f)))
    t.flush()
    frames.foreach(f => t.accept(PgReplicationClient.XLogData(0, Lsn(0, 156).toLong, 0, f)))
    t.flush()
    assert(WalSegments.listSegments(dir).nonEmpty)
    assert(t.flushMarks.isEmpty, s"write-through mode leaked ${t.flushMarks.length} marks")
  }

  test("replication tailer auto-retention: consumed segments expire as the consumer commits") {
    import graft.sources.replication.{PgReplicationClient, ReplicationTailer}
    import WalMessage._
    val dir = tmpDir("tailer-retain")
    val ackFile = s"$dir/ack.json"
    val sink = new PgReplicationClient(PgReplicationClient.Endpoint(
      database = "x", user = "x"))
    val ts = java.time.Instant.parse("2024-07-01T10:00:00Z")
    def txn(lsnOff: Int, id: Long): Seq[Array[Byte]] = Seq[WalMessage](
      Begin(Lsn(0, lsnOff), ts, id),
      Insert(WalFixture.relations("user"), IndexedSeq(Cell.Text(id.toString),
        Cell.Text("1"), Cell.Null, Cell.Text("5"), Cell.Text("9"))),
      Commit(0, Lsn(0, lsnOff), Lsn(0, lsnOff + 56), ts)).map(PgOutputEncoder.encode)
    val rel = PgOutputEncoder.encode(WalFixture.relationFrame("user"))
    intercept[IllegalArgumentException] { // retention must follow a consumer
      new ReplicationTailer(sink, dir, retainConsumed = true)
    }
    val t = new ReplicationTailer(sink, dir, framesPerSegment = 100,
      consumerAckPath = Some(ackFile), retainConsumed = true)
    def feed(frames: Seq[Array[Byte]], endLsn: Long): Unit =
      frames.foreach(f => t.accept(PgReplicationClient.XLogData(0, endLsn, 0, f)))
    feed(rel +: txn(100, 1), endLsn = Lsn(0, 156).toLong)
    t.flush() // segment 0: 4 frames
    feed(txn(200, 2), endLsn = Lsn(0, 256).toLong)
    t.flush() // segment 1: rel replay + 3 = 4 frames
    assert(WalSegments.listSegments(dir).size == 2)
    // consumer commits through segment 0 → the next flush cycle expires it
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ackFile),
      """{"committed_frames":4}""")
    t.flush()
    assert(WalSegments.listSegments(dir).map(_.getName) ==
      Seq(WalSegments.segmentName(1)), "consumed segment must be expired")
    assert(WalSegments.readRetention(
      WalSegments.fsFor(dir)._1, new org.apache.hadoop.fs.Path(dir))
      .contains(WalSegments.Retention(4L, 1)))
    // the ack floor is unaffected by the expiry: consumer at 4 frames maps
    // to the first flush's commit end LSN
    assert(t.lastAckComputed == Lsn(0, 156).toLong, s"ack: ${t.lastAckComputed}")
    // new traffic lands at the NEXT sequential index, past the survivors
    feed(txn(300, 3), endLsn = Lsn(0, 356).toLong)
    t.flush()
    assert(WalSegments.listSegments(dir).map(_.getName) ==
      Seq(WalSegments.segmentName(1), WalSegments.segmentName(2)))
  }

  test("Hadoop FS lane: explicit file:/// walDir round-trips write/list/stream") {
    // the segment lane speaks the Hadoop FileSystem API end-to-end: an
    // explicit file:/// URI (not a bare local path) must plan, read and
    // decode — the same resolution path hdfs:// and s3a:// take on a
    // cluster, where executors have no shared POSIX mount
    val local = tmpDir("hadoop-fs")
    val uri = "file://" + local
    val changes = Seq(
      mkChange(1, 0, "insert", "user", recordId = 21),
      mkChange(2, 1, "update", "todo", k = Some(9), recordId = 22))
    WalFixture.writeSegments(uri, changes, txnsPerSegment = 1)
    // write went through the FS API: segments visible, no .tmp residue
    val segs = WalSegments.listSegments(uri)
    assert(segs.size == 2, s"expected 2 segments via file:///, got $segs")
    assert(!new java.io.File(local).listFiles().exists(_.getName.endsWith(".tmp")),
      "tmp+rename must leave no residue")
    assert(WalSegments.countFrames(segs.head) == 7) // 3 rel + type + B/I/C
    runToTable(readStreamFrom(uri), "t_hadoop_fs")
    val rows = spark.table("t_hadoop_fs").collect()
    assert(rows.count(_.getAs[String]("msg") == "insert") == 1 &&
      rows.count(_.getAs[String]("msg") == "update") == 1,
      "executors must decode segments opened through the Hadoop FS API")
  }

  test("segment sidecar index: O(1) startup metadata, scan fallback agrees") {
    import graft.sources.replication.ReplicationTailer
    val dir = tmpDir("seg-index")
    val changes = Seq(
      mkChange(1, 0, "insert", "user", recordId = 31),
      mkChange(2, 1, "update", "todo", k = Some(3), recordId = 32),
      mkChange(3, 2, "delete", "user", k = Some(4), recordId = 33))
    WalFixture.writeSegments(dir, changes, txnsPerSegment = 1)
    val (fs, _) = WalSegments.fsFor(dir)
    val segs = WalSegments.listSegments(dir)
    assert(segs.size == 3)
    // every written segment carries an index whose numbers equal the scan
    segs.foreach { p =>
      val idx = WalSegments.readIndex(fs, p).getOrElse(
        fail(s"missing sidecar index for $p"))
      val frames = { val it = WalSegments.readFrames(fs, p); try it.toList finally it.close() }
      assert(idx.frames == frames.length, s"$p frame count")
      assert((idx.lastCommitLsn, idx.lastCommitEndLsn) == WalSegments.commitInfo(frames),
        s"$p commit info")
      assert(idx.lastCommitLsn > 0L, s"$p: every fixture segment ends in a Commit")
    }
    // the three index consumers agree with their own scan fallbacks:
    // delete the LAST segment's index and everything still matches
    val floorWithIdx = ReplicationTailer.lastCommitLsn(dir)
    val marksWithIdx = ReplicationTailer.rebuildFlushMarks(dir)
    val countsWithIdx = segs.map(WalSegments.countFrames(fs, _))
    fs.delete(WalSegments.indexPath(segs.last), false)
    assert(WalSegments.readIndex(fs, segs.last).isEmpty)
    assert(ReplicationTailer.lastCommitLsn(dir) == floorWithIdx,
      "replay floor must not depend on the index")
    assert(ReplicationTailer.rebuildFlushMarks(dir) == marksWithIdx,
      "flush-mark rebuild must not depend on the index")
    assert(segs.map(WalSegments.countFrames(fs, _)) == countsWithIdx,
      "offset planning must not depend on the index")
    // the rebuilt ladder's cumulative counts tile the per-segment counts
    assert(marksWithIdx.map(_._1) == countsWithIdx.scanLeft(0L)(_ + _).tail,
      "flush-mark frame cumulative must tile the segment counts")
  }

  test("replication tailer idle flush keeps an in-flight txn prefix off disk") {
    import graft.sources.replication.{PgReplicationClient, ReplicationTailer}
    import WalMessage._
    val dir = tmpDir("tailer-prefix")
    val sink = new PgReplicationClient(PgReplicationClient.Endpoint(
      database = "x", user = "x"))
    val ts = java.time.Instant.parse("2024-07-01T10:00:00Z")
    def enc(m: WalMessage) = PgOutputEncoder.encode(m)
    val rel = enc(WalFixture.relationFrame("user"))
    def ins(id: Long) = enc(Insert(WalFixture.relations("user"),
      IndexedSeq(Cell.Text(id.toString), Cell.Text("1"), Cell.Null,
        Cell.Text("5"), Cell.Text("9"))))
    def txn(lsnOff: Int, id: Long): Seq[Array[Byte]] = Seq(
      enc(Begin(Lsn(0, lsnOff), ts, id)), ins(id),
      enc(Commit(0, Lsn(0, lsnOff), Lsn(0, lsnOff + 56), ts)))
    def feed(t: ReplicationTailer, frames: Seq[Array[Byte]]): Unit =
      frames.foreach(f => t.accept(PgReplicationClient.XLogData(0, 0, 0, f)))
    // session 1: one complete txn@100, then the connection dies mid-txn@200
    // (Begin + Insert, no Commit). The idle flush fires — the completed
    // txn must land, the headless prefix must NOT
    val t1 = new ReplicationTailer(sink, dir, framesPerSegment = 100)
    feed(t1, rel +: (txn(100, 1) ++ Seq(enc(Begin(Lsn(0, 200), ts, 2L)), ins(2))))
    t1.flush() // = runUntilIdle's idle-window flush
    val afterIdle = {
      val segs = WalSegments.listSegments(dir)
      assert(segs.size == 1, s"expected exactly the completed txn's segment: $segs")
      val it = WalSegments.readFrames(segs.head)
      try it.toList finally it.close()
    }
    assert(!afterIdle.exists(f => f(0) == 'B'.toByte &&
      java.nio.ByteBuffer.wrap(f, 1, 8).getLong == Lsn(0, 200).toLong),
      "a headless transaction prefix must never be persisted")
    // session 2 (reconnect): the slot never acked txn@200, so the server
    // re-sends it WHOLE. The commit-granular replay floor (=100) admits
    // it — and because the prefix never hit disk, history stays exactly-once
    val t2 = new ReplicationTailer(sink, dir, framesPerSegment = 100)
    feed(t2, rel +: txn(200, 2))
    t2.flush()
    val allInserts = WalSegments.listSegments(dir).flatMap { p =>
      val it = WalSegments.readFrames(p)
      try it.toList.filter(_(0) == 'I'.toByte) finally it.close()
    }
    assert(allInserts.length == 2,
      s"txn@200's insert must appear exactly once (plus txn@100's): ${allInserts.length}")
  }

  test("restarted tailer rebuilds flush marks: consumer acks advance past pre-restart segments") {
    import graft.sources.replication.{PgReplicationClient, ReplicationTailer}
    import WalMessage._
    val dir = tmpDir("tailer-rebuild")
    val ackFile = s"$dir/ack.json"
    val sink = new PgReplicationClient(PgReplicationClient.Endpoint(
      database = "x", user = "x"))
    val ts = java.time.Instant.parse("2024-07-01T10:00:00Z")
    def txn(lsnOff: Int, id: Long): Seq[Array[Byte]] = Seq[WalMessage](
      Begin(Lsn(0, lsnOff), ts, id),
      Insert(WalFixture.relations("user"), IndexedSeq(Cell.Text(id.toString),
        Cell.Text("1"), Cell.Null, Cell.Text("5"), Cell.Text("9"))),
      Commit(0, Lsn(0, lsnOff), Lsn(0, lsnOff + 56), ts)).map(PgOutputEncoder.encode)
    val rel = PgOutputEncoder.encode(WalFixture.relationFrame("user"))
    // session 1 writes two segments (4 frames each), then the tailer dies
    val t1b = new ReplicationTailer(sink, dir, framesPerSegment = 100,
      consumerAckPath = Some(ackFile))
    (rel +: txn(100, 1)).foreach(f => t1b.accept(PgReplicationClient.XLogData(0, 0, 0, f)))
    t1b.flush()
    txn(200, 2).foreach(f => t1b.accept(PgReplicationClient.XLogData(0, 0, 0, f)))
    t1b.flush()
    assert(WalSegments.listSegments(dir).size == 2)
    // RESTART: the new tailer has never flushed — under in-memory-only
    // marks a lagging consumer's commits could not be mapped to an LSN and
    // retention would pin until the consumer passed the restart point
    val t2 = new ReplicationTailer(sink, dir, framesPerSegment = 100,
      consumerAckPath = Some(ackFile))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ackFile),
      """{"committed_frames":4}""")
    t2.flush() // no new traffic — rebuilt marks must cover the old segments
    assert(t2.lastAckComputed == Lsn(0, 156).toLong,
      s"rebuilt marks must map pre-restart commits to their LSN: ${t2.lastAckComputed}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ackFile),
      """{"committed_frames":8}""")
    t2.flush()
    assert(t2.lastAckComputed == Lsn(0, 256).toLong,
      s"rebuilt marks must cover every pre-restart segment: ${t2.lastAckComputed}")
  }

  test("isolateHandlerFailures: a crashing handler is skipped, the rest deliver") {
    val delivered = new java.util.concurrent.atomic.AtomicInteger(0)
    val engine = new Engine(isolateHandlerFailures = true)
      .onEvent("*")(_ => throw new RuntimeException("user code boom"))
      .onEvent("*")(df => delivered.addAndGet(df.count().toInt))
    val events = Seq(("insert", "user")).toDF("type", "name")
      .withColumn("changes", lit(null).cast("map<string,struct<old_value:string,new_value:string>>"))
      .withColumn("new_record", lit(null).cast("map<string,string>"))
      .withColumn("old_record", lit(null).cast("map<string,string>"))
    engine.dispatch(events, 0L)
    assert(delivered.get() == 1 && engine.failures == 1)
  }

  test("typed Dataset[Event] lane binds the Event view by name") {
    val dir = tmpDir("typed")
    WalFixture.writeSegments(dir, Seq(
      mkChange(1, 0, "insert", "user", recordId = 7),
      mkChange(2, 1, "update", "todo", k = Some(9), recordId = 8)))
    val config = GraftConfig("typed-demo", publication = Some("graft_pub"))
    val collected = scala.collection.mutable.ArrayBuffer.empty[Event]
    val q = Graft.typedEvents(spark, config, dir)
      .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Event], _: Long) =>
        collected ++= b.collect(); ()
      }.start()
    GraftSession.awaitFinished(q, 120000)
    val byOp = collected.sortBy(_.seq)
    assert(byOp.map(_.`type`) == Seq("insert", "update"))
    assert(byOp.head.new_record.get("id") == "7")
    assert(byOp.head.source.columns.get("val_cents") == "int8")
    assert(byOp(1).changes.get.contains("k"))
    assert(byOp(1).changes.get("k") == FieldChange(Some("8"), Some("9")))
  }

  test("end-to-end: source → assembly → events → engine over a real stream") {
    val dir = tmpDir("e2e")
    val changes = Seq(
      mkChange(1, 0, "insert", "user", recordId = 1),
      mkChange(2, 0, "update", "user", k = Some(9), recordId = 1),
      mkChange(3, 1, "delete", "todo", recordId = 2),
      mkChange(4, 2, "insert", "order", recordId = 3))
    WalFixture.writeSegments(dir, changes, txnsPerSegment = 2)

    val inserts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val engine = new Engine().onInsert("user") { df =>
      inserts ++= df.select(element_at($"new_record", "id")).collect().map(_.getString(0).toLong)
    }
    val events = ChangeStream.eventsFromAssembled(
      TxnAssembler.assemble(readStreamFrom(dir)).toDF())
    val q = engine.start(events, trigger = Trigger.AvailableNow(), queryName = "t_e2e")
    GraftSession.awaitFinished(q, 120000)
    assert(inserts.toSeq == Seq(1L))
  }

  test("session_window gap boundary: diff == gap merges, diff == gap+1ms splits") {
    // cdc21's DuckDB oracle encodes session_window's CLOSED-interval
    // semantics (an event merges iff its gap to the previous event is <=
    // the gap duration — measured here, not assumed); the driver fixture
    // may never land an exact-boundary pair, so pin the boundary where it
    // is constructed deliberately. Batch session_window shares the
    // streaming implementation's merge logic.
    import org.apache.spark.sql.functions.{col, count, lit, session_window, timestamp_millis, unix_millis}
    val gapMs = 30L * 60 * 1000
    val base = 1704067200000L // 2024-01-01T00:00Z
    val rows = Seq(
      (1L, base), (1L, base + gapMs + 1),     // 1ms past the gap → SPLIT
      (2L, base), (2L, base + gapMs),         // exactly gap apart → MERGE
      (3L, base), (3L, base + gapMs), (3L, base + 2 * gapMs) // chain merges
    ).toDF("record_id", "ms").select(col("record_id"),
      timestamp_millis(col("ms")).as("ts"))
    val got = rows
      .groupBy(session_window(col("ts"), "30 minutes"), col("record_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("record_id"), unix_millis(col("session_window.start")).as("s"),
        unix_millis(col("session_window.end")).as("e"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, base, base + gapMs, 1L),                       // closes at start + gap
      (1L, base + gapMs + 1, base + 2 * gapMs + 1, 1L),   // past-gap event: NEW session
      (2L, base, base + 2 * gapMs, 2L),                   // boundary event merges; end = last + gap
      (3L, base, base + 3 * gapMs, 3L)                    // chained boundary extension, one session
    ), s"session_window boundary semantics drifted: $got")
  }

  test("Graft.materialize: one call maintains a current-state replica from the WAL stream") {
    import graft.streaming.{Graft, GraftConfig, Materializer}
    import org.apache.spark.sql.functions.{col, element_at}
    val dir = tmpDir("matz")
    WalFixture.writeSegments(dir, Seq(
      mkChange(1, 1, "insert", "user", recordId = 1, valCents = 100),
      mkChange(2, 1, "insert", "user", recordId = 2, valCents = 200),
      mkChange(3, 1, "insert", "todo", recordId = 3, valCents = 300),
      mkChange(4, 2, "update", "user", recordId = 1, valCents = 150),
      mkChange(5, 2, "delete", "user", recordId = 2, valCents = 200)))
    val state = tmpDir("matz-state")
    val config = GraftConfig("matz", publication = Some("graft_pub"))
    val q = Graft.materialize(spark, config, dir, state,
      buckets = 4, trigger = Trigger.AvailableNow())
    GraftSession.awaitFinished(q, 600000)
    val got = Materializer.currentState(spark, state, Graft.materializeSpec(4))
      .select(col("table_name"), col("record_key"),
        element_at(col("record"), "val_cents"))
      .as[(String, String, String)].collect().toSet
    // rec 1 at its updated value, rec 2 deleted, rec 3 intact
    assert(got == Set(("user", "1", "150"), ("todo", "3", "300")),
      s"replica state wrong: $got")
  }

  // ---- cdc24: retraction-aware aggregation composes over the stream ----

  test("cdc24 streaming parity: signed-delta aggregation over micro-batches equals batch") {
    import graft.operators.cdc.ChangeStream
    import org.apache.spark.sql.functions.{col, sum}
    // change rows in the `changes` shape signedDeltas consumes; an update
    // that MOVES groups (k 8→9 retracts bucket 0, adds bucket 1) and a
    // delete that retracts entirely
    val rows = Seq(
      ("user", "insert", Some(8L), 1000L),
      ("user", "insert", Some(16L), 2000L),
      ("user", "update", Some(9L), 1150L),  // old image: k=8, val=1000
      ("todo", "insert", Some(5L), 500L),
      ("todo", "delete", Some(5L), 500L),
      ("user", "update", Some(16L), 2000L)) // k%5≠0 → old k=15: migrates buckets
    def aggOf(df: DataFrame): DataFrame =
      ChangeStream.signedDeltas(df)
        .groupBy(col("table_name"), (col("ck") % 8).as("k_bucket"))
        .agg(sum(col("sign")).as("row_delta"),
          sum(col("sign") * col("cv")).as("cents_delta"))
    val batchDf = rows.toDF("table_name", "op", "k", "val_cents")
    val expected = aggOf(batchDf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String, Option[Long], Long)]
    val stream = ms.toDF().toDF("table_name", "op", "k", "val_cents")
    val q = aggOf(stream)
      .writeStream.format("memory").queryName("t_cdc24")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    rows.grouped(2).foreach { slice => ms.addData(slice: _*); q.processAllAvailable() }
    val got = spark.table("t_cdc24")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(got == expected,
      s"stream/batch divergence: stream=$got batch=$expected")
    // the fixture really exercised the interesting paths: the k 16→16
    // update retracted its old image (k=15) OUT of bucket 7 (a bucket
    // nothing was ever added to — pure migration retraction), and todo's
    // insert+delete netted to exactly zero
    assert(expected.contains(("user", 7L, -1L, -1850L)),
      s"migration retraction missing: $expected")
    assert(expected.contains(("todo", 5L, 0L, 0L)),
      s"insert+delete must net to zero: $expected")
  }

  test("DataSourceRegister short names: format(\"graft-cdc\") starts the stream without Scala") {
    // the pure-config front door: PySpark/SQL deployments spell the short
    // name, never the provider class — the whole stream runs through it
    val dir = tmpDir("shortname")
    WalFixture.writeSegments(dir,
      Seq(mkChange(1, 0, "insert", "user", recordId = 41)),
      txnsPerSegment = 1)
    runToTable(
      spark.readStream.format("graft-cdc").option("path", dir).load(),
      "t_shortname")
    val rows = spark.table("t_shortname").collect()
    assert(rows.exists(r => r.getAs[String]("msg") == "insert" &&
      r.getAs[Map[String, String]]("record")("id") == "41"))
    // the JDBC polling lane resolves by short name too (schema comes from
    // the provider; no connection happens at load time)
    val jdbc = spark.readStream.format("graft-cdc-jdbc")
      .option("table", "graft_changes").load()
    assert(jdbc.schema.fieldNames.contains("record_json"))
  }
}

/** Fault injector for the ledger IO-degrade spec: creates of MARKER files
  * (name `b<batchId>_…`) throw IOException; everything else — manifest
  * writes, existence probes, mkdirs — behaves as the local filesystem.
  * Registered under the `graftfail://` scheme via `fs.graftfail.impl`.
  */
/** An `s3a`-scheme stand-in for the direct-PUT spec: IO is the local
  * filesystem, but `rename` throws — object-store writes must never rely
  * on it (S3A rename is a nonatomic copy+delete).
  */
class FakeObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("s3a:///")
  override def getScheme: String = "s3a"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    throw new UnsupportedOperationException(
      s"rename($src, $dst) must not be used on object-store schemes")
}

/** Listing counter for the incremental-discovery spec: every directory
  * listing through the `graftcount://` scheme increments a static counter;
  * all IO behaves as the local filesystem.
  */
class CountingListFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    CountingListFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingListFs {
  val listings = new java.util.concurrent.atomic.AtomicInteger(0)
}

class MarkerFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfail:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (f.getName.startsWith("b"))
      throw new java.io.IOException("injected marker outage")
    else super.create(f, overwrite)
}
