package graft

import graft.streaming.Materializer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed current-state store: merge semantics (latest-by-seq,
  * tombstoned deletes), idempotent redelivery, no-resurrection under
  * out-of-order replay, bucket pruning (untouched buckets keep their leaf
  * versions), crash-residue sweep, tombstone compaction — all over an
  * EXPLICIT `file:///` Hadoop path so the storage contract stays the
  * FileSystem API, not `java.nio`.
  */
class MaterializerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val spec = Materializer.Spec(
    keyCols = Seq("table_name", "record_id"), buckets = 8)

  private def freshDir(tag: String): String =
    "file://" + java.nio.file.Files.createTempDirectory(s"mat_$tag").toString

  private def chg(rows: (String, Long, Long, String, Long)*): DataFrame =
    rows.toSeq.toDF("table_name", "record_id", "seq", "op", "val_cents")

  private def state(dir: String, tombstones: Boolean = false): Seq[(String, Long, Long, String, Long)] =
    Materializer.currentState(spark, dir, spec, keepTombstones = tombstones)
      .select("table_name", "record_id", "seq", "op", "val_cents")
      .as[(String, Long, Long, String, Long)].collect().toSeq.sorted

  test("merge lifecycle: insert, update replaces, delete tombstones") {
    val dir = freshDir("life")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 10L, "insert", 100L),
      ("user", 2L, 11L, "insert", 200L),
      ("todo", 1L, 12L, "insert", 300L)), spec)
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 20L, "update", 150L),   // replaces
      ("user", 2L, 21L, "delete", 200L),   // tombstones
      ("order", 9L, 22L, "insert", 900L)), spec)
    assert(state(dir) == Seq(
      ("order", 9L, 22L, "insert", 900L),
      ("todo", 1L, 12L, "insert", 300L),
      ("user", 1L, 20L, "update", 150L)))
    // the delete is retained as a tombstone, not dropped
    val withT = state(dir, tombstones = true)
    assert(withT.contains(("user", 2L, 21L, "delete", 200L)))
  }

  test("redelivered batch is a no-op (exactly-once state from at-least-once delivery)") {
    val dir = freshDir("redeliver")
    val b1 = chg(("user", 1L, 10L, "insert", 100L), ("user", 2L, 11L, "insert", 200L))
    val b2 = chg(("user", 1L, 20L, "update", 150L), ("user", 2L, 21L, "delete", 200L))
    Materializer.applyBatch(spark, dir, b1, spec)
    Materializer.applyBatch(spark, dir, b2, spec)
    val once = state(dir, tombstones = true)
    Materializer.applyBatch(spark, dir, b2, spec) // foreachBatch replay after restart
    assert(state(dir, tombstones = true) == once)
  }

  test("out-of-order replay cannot resurrect a deleted record") {
    val dir = freshDir("zombie")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 10L, "insert", 100L),
      ("user", 1L, 30L, "delete", 100L)), spec)
    // a replayed OLDER change (seq 20 < the tombstone's 30) arrives late
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 20L, "update", 999L)), spec)
    assert(state(dir).isEmpty, "tombstone must win over older replayed change")
  }

  test("bucket pruning: untouched buckets keep their leaf version across applies") {
    val dir = freshDir("prune")
    // pick a second record id from a DIFFERENT bucket than record 1's
    val buckets = bucketsFor(1L to 64L)
    val b1 = buckets(1L)
    val id2 = (2L to 64L).find(i => buckets(i) != b1).get
    Materializer.applyBatch(spark, dir,
      chg(("user", 1L, 10L, "insert", 1L), ("user", id2, 11L, "insert", 2L)), spec)
    val m1 = Materializer.readManifest(dir)
    assert(m1.leaves.size == 2)
    // touch ONLY record 1's bucket
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 20L, "update", 3L)), spec)
    val m2 = Materializer.readManifest(dir)
    val untouched = m1.leaves.keySet - b1
    assert(untouched.nonEmpty &&
      untouched.forall(b => m2.leaves(b) == m1.leaves(b)),
      s"untouched buckets rewrote: $m1 -> $m2")
    assert(m2.leaves(b1) != m1.leaves(b1), "touched bucket must version forward")
  }

  /** bucket per record id (table "user"), one job for the whole range */
  private def bucketsFor(ids: Seq[Long]): Map[Long, Int] =
    ids.map(i => ("user", i)).toDF("table_name", "record_id")
      .select(col("record_id"), Materializer.bucketCol(spec).as("b"))
      .as[(Long, Long)].collect().map { case (i, b) => i -> b.toInt }.toMap

  test("crash residue: unreferenced leaf directories are swept by the next apply") {
    val dir = freshDir("sweep")
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 10L, "insert", 1L)), spec)
    // plant residue of a crashed attempt (written leaves, manifest never swapped)
    val (fs, root) = graft.sources.cdc.WalSegments.fsFor(dir)
    val orphan = new org.apache.hadoop.fs.Path(root, "leaf-b00007-v99999999")
    fs.mkdirs(orphan)
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 20L, "update", 2L)), spec)
    assert(!fs.exists(orphan), "crash residue must be swept")
    assert(state(dir) == Seq(("user", 1L, 20L, "update", 2L)))
  }

  test("crash residue: a torn write at the next version is dropped, not merged into the retry") {
    val dir = freshDir("torn")
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 10L, "insert", 1L)), spec)
    val next = Materializer.readManifest(dir).version + 1
    val bucket = bucketsFor(Seq(1L))(1L)
    // a crashed attempt at the next version wrote its partition dir (a
    // stale row for the same key) and never committed
    chg(("user", 1L, 15L, "update", 99L)).drop("table_name", "record_id")
      .withColumn("table_name", lit("user")).withColumn("record_id", lit(1L))
      .write.parquet(f"$dir/_leaf=b$bucket%05d-v$next%08d")
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 20L, "update", 2L)), spec)
    assert(state(dir, tombstones = true) == Seq(("user", 1L, 20L, "update", 2L)),
      "the retry must not publish the torn attempt's rows")
  }

  test("schema evolution: a batch with a new column widens state; old rows read null") {
    val dir = freshDir("evolve")
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 10L, "insert", 100L)), spec)
    // mid-stream ADD COLUMN: the next batch carries `email`
    val widened = Seq(("user", 2L, 20L, "insert", 200L, "a@x"))
      .toDF("table_name", "record_id", "seq", "op", "val_cents", "email")
    Materializer.applyBatch(spark, dir, widened, spec)
    val got = Materializer.currentState(spark, dir, spec)
      .select("record_id", "val_cents", "email")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got == Set((1L, 100L, None), (2L, 200L, Some("a@x"))),
      s"widened state wrong: $got")
    // and a batch MISSING the new column still applies (its rows null it)
    Materializer.applyBatch(spark, dir, chg(("user", 3L, 30L, "insert", 300L)), spec)
    val after = Materializer.currentState(spark, dir, spec)
      .select("record_id", "email").as[(Long, Option[String])].collect().toSet
    assert(after == Set((1L, None), (2L, Some("a@x")), (3L, None)))
  }

  private def widenedChg(rows: (String, Long, Long, String, Long, String)*): DataFrame =
    rows.toSeq.toDF("table_name", "record_id", "seq", "op", "val_cents", "email")

  private def recordedColumns(dir: String): Seq[String] =
    Materializer.readManifest(dir).schema.map(_.fieldNames.toSeq).getOrElse(Nil)

  test("recorded schema: a widening survives compact and rebucket") {
    val dir = freshDir("evolve_maint")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 10L, "insert", 100L),
      ("user", 3L, 11L, "insert", 300L)), spec)
    Materializer.applyBatch(spark, dir,
      widenedChg(("user", 2L, 20L, "insert", 200L, "a@x")), spec)
    // a narrow delete, then a compaction that rewrites only its bucket
    Materializer.applyBatch(spark, dir, chg(("user", 3L, 30L, "delete", 300L)), spec)
    Materializer.compact(spark, dir, spec, floor = 30L)
    assert(recordedColumns(dir).contains("email"), "compact narrowed the record")
    Materializer.rebucket(spark, dir, spec, newBuckets = 3)
    assert(recordedColumns(dir).contains("email"), "rebucket narrowed the record")
    val got = Materializer.currentState(spark, dir, spec.copy(buckets = 3))
      .select("record_id", "email").as[(Long, Option[String])].collect().toSet
    assert(got == Set((1L, None), (2L, Some("a@x"))), s"head after maintenance: $got")
  }

  test("recorded schema: an as-of read of a pre-widening version reads narrow") {
    val dir = freshDir("evolve_asof")
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 10L, "insert", 100L)), spec)
    val narrow = Materializer.readManifest(dir).version
    Materializer.applyBatch(spark, dir,
      widenedChg(("user", 2L, 20L, "insert", 200L, "a@x")), spec)
    val before = Materializer.currentStateAt(spark, dir, spec, narrow)
    assert(!before.columns.contains("email"),
      s"v$narrow predates the widening: ${before.columns.mkString(",")}")
    assert(before.select("record_id").as[Long].collect().toSeq == Seq(1L))
    assert(Materializer.currentState(spark, dir, spec).columns.contains("email"))
  }

  test("recorded schema: a replayed sink batch and an older narrower one change nothing") {
    val dir = freshDir("evolve_replay")
    val s = Materializer.sink(dir, spec)
    val older = chg(("user", 1L, 10L, "insert", 100L), ("user", 2L, 11L, "insert", 200L))
    val wide = widenedChg(
      ("user", 2L, 20L, "update", 250L, "b@x"),
      ("user", 3L, 21L, "insert", 300L, "c@x"))
    s(older, 0L)
    s(wide, 1L)
    def snapshot = (state(dir, tombstones = true),
      Materializer.currentState(spark, dir, spec).select("record_id", "email")
        .as[(Long, Option[String])].collect().toSet,
      Materializer.readManifest(dir).schema)
    val once = snapshot
    assert(once._3.exists(_.fieldNames.contains("email")))
    s(wide, 1L)  // the same frame again: foreachBatch replay
    assert(snapshot == once, "replaying the widening batch changed the store")
    s(older, 0L) // an older, narrower batch replayed after it
    assert(snapshot == once, "replaying the older narrow batch changed the store")
  }

  test("one file per bucket: every leaf an apply writes is a single parquet file") {
    val dir = freshDir("onefile")
    // 4 shuffle partitions and 8 buckets: without bucket-clustered
    // writes each bucket would take a file from every task
    val rows = (1L to 200L).map(i => ("user", i, i, "insert", i))
    Materializer.applyBatch(spark, dir, chg(rows: _*), spec)
    Materializer.applyBatch(spark, dir,
      chg(rows.take(50).map { case (t, i, q, _, v) => (t, i, q + 1000L, "update", v) }: _*),
      spec)
    val (fs, _) = graft.sources.cdc.WalSegments.fsFor(dir)
    val leaves = Materializer.readManifest(dir).leaves
    assert(leaves.size == spec.buckets, s"want every bucket populated: $leaves")
    leaves.values.foreach { leaf =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir, leaf))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$leaf holds ${files.length} data files")
    }
    assert(state(dir).size == 200)
  }

  test("truncate: O(1) metadata commit kills the table's old rows, later inserts live") {
    val dir = freshDir("trunc")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 10L, "insert", 100L),
      ("todo", 1L, 11L, "insert", 200L),
      ("todo", 2L, 12L, "insert", 300L)), spec)
    val preLeaves = Materializer.readManifest(dir).leaves
    Materializer.applyTruncate(dir, "todo", upToSeq = 12L, spec)
    val m = Materializer.readManifest(dir)
    // metadata-only: same leaf set, version forward, watermark recorded
    assert(m.leaves == preLeaves && m.truncates == Map("todo" -> 12L))
    assert(state(dir) == Seq(("user", 1L, 10L, "insert", 100L)),
      "all todo rows at/below the watermark must die; user untouched")
    // post-truncate WAL repopulates: a fresh insert (and a survivor whose
    // change outruns the watermark) live
    Materializer.applyBatch(spark, dir, chg(
      ("todo", 2L, 20L, "update", 999L),
      ("todo", 7L, 21L, "insert", 700L)), spec)
    assert(state(dir) == Seq(
      ("todo", 2L, 20L, "update", 999L),
      ("todo", 7L, 21L, "insert", 700L),
      ("user", 1L, 10L, "insert", 100L)))
    // re-applying the truncate (foreachBatch replay) is a semantic no-op
    Materializer.applyTruncate(dir, "todo", upToSeq = 12L, spec)
    assert(state(dir).size == 3)
    // time travel: the pre-truncate version still shows the truncated rows
    val preTruncVersion = m.version - 1
    val timeTravel = Materializer.currentStateAt(spark, dir, spec, preTruncVersion)
      .select("table_name", "record_id").as[(String, Long)].collect().toSet
    assert(timeTravel == Set(("user", 1L), ("todo", 1L), ("todo", 2L)),
      s"pre-truncate snapshot must include truncated rows: $timeTravel")
  }

  test("truncate: watermark keys and manifest params round-trip any characters") {
    val dir = freshDir("trunc_json")
    Materializer.applyBatch(spark, dir, chg(
      ("public.we}ird", 1L, 10L, "insert", 100L),
      ("a\"b", 1L, 11L, "insert", 200L),
      ("user", 1L, 12L, "insert", 300L)), spec)
    Materializer.applyTruncate(dir, "public.we}ird", 10L, spec)
    Materializer.applyTruncate(dir, "a\"b", 11L, spec)
    assert(Materializer.readManifest(dir).truncates ==
      Map("public.we}ird" -> 10L, "a\"b" -> 11L))
    assert(state(dir) == Seq(("user", 1L, 12L, "insert", 300L)),
      "truncated rows must stay hidden on the next read")
    // a store param holding JSON punctuation survives commit -> readMeta
    import graft.operators.store.IndexManifest
    val idx = freshDir("param_json")
    val odd = """x,"y"}z]"""
    IndexManifest.commit(idx,
      IndexManifest.Meta(1L, 4, Nil, Nil, Map("note" -> odd)))
    assert(IndexManifest.readMeta(idx).get.params == Map("note" -> odd))
  }

  test("truncate: watermark matches a NON-STRING first key column by explicit string cast") {
    // watermark keys round-trip through the JSON manifest as strings; the
    // predicate must compare the key column AS A STRING explicitly — with
    // implicit coercion a long-typed first key could silently match or
    // miss ("1" vs 1 vs "01")
    val longKeySpec = Materializer.Spec(keyCols = Seq("tenant_id", "record_id"),
      buckets = 4)
    val dir = freshDir("trunclong")
    Materializer.applyBatch(spark, dir,
      Seq((7L, 1L, 10L, "insert", 100L),
        (7L, 2L, 11L, "insert", 200L),
        (8L, 1L, 12L, "insert", 300L))
        .toDF("tenant_id", "record_id", "seq", "op", "val_cents"), longKeySpec)
    Materializer.applyTruncate(dir, "7", upToSeq = 11L, longKeySpec)
    val live = Materializer.currentState(spark, dir, longKeySpec)
      .select("tenant_id", "record_id").as[(Long, Long)].collect().toSet
    assert(live == Set((8L, 1L)),
      s"tenant 7's rows at/below the watermark must die: $live")
    // deletedRecords sees the truncate-dead rows through the same cast
    val deadKeys = Materializer.deletedRecords(spark, dir, longKeySpec)
      .select("tenant_id", "record_id").as[(Long, Long)].collect().toSet
    assert(deadKeys == Set((7L, 1L), (7L, 2L)), s"delete feed: $deadKeys")
  }

  test("truncate: compact physically drops dead rows; read view unchanged") {
    val dir = freshDir("trunccomp")
    Materializer.applyBatch(spark, dir, chg(
      ("todo", 1L, 10L, "insert", 100L),
      ("todo", 2L, 11L, "insert", 200L),
      ("user", 1L, 12L, "insert", 300L)), spec)
    Materializer.applyTruncate(dir, "todo", upToSeq = 11L, spec)
    // dead rows are still physically present pre-compact (raw view)
    assert(state(dir, tombstones = true).count(_._1 == "todo") == 2)
    Materializer.compact(spark, dir, spec, floor = 0L)
    assert(state(dir, tombstones = true).count(_._1 == "todo") == 0,
      "compact must drop truncated rows physically at ANY floor")
    assert(state(dir) == Seq(("user", 1L, 12L, "insert", 300L)))
    // a replayed pre-truncate batch cannot resurrect: the watermark rides
    // every manifest version forever
    Materializer.applyBatch(spark, dir, chg(("todo", 1L, 10L, "insert", 100L)), spec)
    assert(state(dir) == Seq(("user", 1L, 12L, "insert", 300L)))
  }

  test("truncate: sink applies in-stream truncate rows at their seq boundary") {
    val dir = freshDir("truncsink")
    val s = Materializer.sink(dir, spec)
    s(chg(
      ("todo", 1L, 10L, "insert", 100L),
      ("user", 1L, 11L, "insert", 200L)), 0L)
    // one batch carries pre-truncate rows, the TRUNCATE itself, and a
    // post-truncate repopulating insert — WAL order within the batch
    s(chg(
      ("todo", 2L, 20L, "insert", 300L),   // dies: seq ≤ the truncate's 21
      ("todo", 0L, 21L, "truncate", 0L),   // the truncate event
      ("todo", 3L, 22L, "insert", 400L)),  // lives: arrived after
      1L)
    assert(state(dir) == Seq(
      ("todo", 3L, 22L, "insert", 400L),
      ("user", 1L, 11L, "insert", 200L)),
      "sink must ratchet the watermark and keep only post-truncate rows")
    val m = Materializer.readManifest(dir)
    assert(m.truncates == Map("todo" -> 21L))
  }

  test("compact drops tombstones at or below the floor, keeps newer ones") {
    val dir = freshDir("compact")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 10L, "insert", 1L),
      ("user", 2L, 11L, "insert", 2L),
      ("user", 3L, 12L, "insert", 3L),
      ("todo", 9L, 13L, "insert", 9L)), spec) // survives every compaction
    Materializer.applyBatch(spark, dir, chg(
      ("user", 2L, 20L, "delete", 2L),
      ("user", 3L, 40L, "delete", 3L)), spec)
    Materializer.compact(spark, dir, spec, floor = 30L)
    val t = state(dir, tombstones = true)
    assert(!t.exists(r => r._2 == 2L), "tombstone below floor must compact away")
    assert(t.contains(("user", 3L, 40L, "delete", 3L)),
      "tombstone above floor must survive (replays can still reach it)")
    assert(state(dir) == Seq(
      ("todo", 9L, 13L, "insert", 9L), ("user", 1L, 10L, "insert", 1L)))
    // a bucket whose EVERY row expires simply leaves the manifest (an
    // absent entry IS the empty bucket) and the store keeps working
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 50L, "delete", 1L)), spec)
    Materializer.compact(spark, dir, spec, floor = 60L)
    assert(state(dir, tombstones = true) == Seq(("todo", 9L, 13L, "insert", 9L)),
      "only the never-deleted record survives full compaction")
  }

  // ---- writer fencing: the slot-takeover contract on storage ----

  test("fence: second acquire takes over, first applier fails fast, no bucket lost") {
    val dir = freshDir("fence")
    val w1 = Some(Materializer.acquire(dir))
    Materializer.applyBatch(spark, dir,
      chg(("user", 1L, 10L, "insert", 100L)), spec, token = w1)
    // takeover: a second applier (misconfigured stream, restarted driver)
    val w2 = Some(Materializer.acquire(dir))
    // the zombie's next batch is refused BEFORE it can interleave a swap
    val e = intercept[Materializer.FencedWriterException] {
      Materializer.applyBatch(spark, dir,
        chg(("user", 1L, 20L, "update", 999L)), spec, token = w1)
    }
    assert(e.getMessage.contains("another applier"))
    // the winner applies; every committed bucket is intact
    Materializer.applyBatch(spark, dir,
      chg(("user", 2L, 30L, "insert", 200L)), spec, token = w2)
    assert(state(dir) == Seq(
      ("user", 1L, 10L, "insert", 100L),   // w1's committed batch survives
      ("user", 2L, 30L, "insert", 200L)))  // w2's batch lands
    // the zombie's compact is refused too
    intercept[Materializer.FencedWriterException] {
      Materializer.compact(spark, dir, spec, floor = 99L, token = w1)
    }
  }

  test("fence: unfenced writes are refused on an acquired store; allowed before") {
    val dir = freshDir("fence_legacy")
    // pre-fence (legacy) store: token-less applies work
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 1L, "insert", 1L)), spec)
    Materializer.acquire(dir)
    intercept[Materializer.FencedWriterException] {
      Materializer.applyBatch(spark, dir,
        chg(("user", 2L, 2L, "insert", 2L)), spec)
    }
    assert(state(dir) == Seq(("user", 1L, 1L, "insert", 1L)))
  }

  test("fence backstop: the manifest commit is an exclusive create — one winner per version") {
    val dir = freshDir("fence_cas")
    val m = Materializer.Manifest(7L, Map(0 -> "leaf-b00000-v00000007"))
    Materializer.commitManifest(dir, m)
    // a racer committing the SAME version must lose, having published nothing
    intercept[Materializer.FencedWriterException] {
      Materializer.commitManifest(dir,
        m.copy(leaves = Map(1 -> "leaf-b00001-v00000007")))
    }
    assert(Materializer.readManifest(dir).leaves == m.leaves,
      "the winner's manifest is untouched by the loser's attempt")
  }

  test("retention: the directory stays bounded across many applies (no manifest/leaf growth)") {
    val dir = freshDir("bounded")
    val (fs, root) = graft.sources.cdc.WalSegments.fsFor(dir)
    val w = Some(Materializer.acquire(dir))
    (1 to 15).foreach { i =>
      Materializer.applyBatch(spark, dir,
        chg(("user", (i % 3).toLong, i.toLong, "update", i.toLong)), spec,
        token = w)
      // a crash loop leaves unreferenced leaves; simulate one per apply
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir, f"leaf-b00000-v${9000 + i}%08d"))
    }
    val names = fs.listStatus(root).map(_.getPath.getName)
    val leafDirs = names.filter(_.startsWith("leaf-")).toSet
    // every on-disk leaf is either referenced by SOME retained manifest
    // (the reader grace window — superseded leaves live as long as a
    // manifest naming them does) or THIS round's planted residue, which
    // the next apply sweeps
    val retained = graft.operators.store.IndexManifest.retainedRefs(dir)
    val unref = leafDirs -- retained
    assert(unref.forall(_.contains("-v000090")),
      s"leaves beyond the retained-manifest window must not accumulate: $unref")
    // manifests are retired past the grace window, not kept forever
    assert(names.count(_.startsWith("_manifest-v")) <= 10,
      s"manifest versions must be bounded: ${names.toSeq.sorted}")
    // one more apply sweeps the planted crash residue (it is referenced by
    // no manifest at all); retained superseded leaves survive
    Materializer.applyBatch(spark, dir,
      chg(("user", 0L, 99L, "update", 99L)), spec, token = w)
    val after = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("leaf-")).toSet
    assert(after == graft.operators.store.IndexManifest.retainedRefs(dir),
      "apply must sweep down to exactly the leaves retained manifests reference")
    // and the retained set is itself bounded: ≤ window+1 manifests, each
    // naming ≤ spec.buckets leaves
    assert(after.size <=
        (graft.operators.store.IndexManifest.RetainedManifests + 2) * spec.buckets,
      s"retained leaf set unbounded: ${after.size}")
  }

  test("time travel: currentStateAt reads any retained version; retired ones throw") {
    val dir = freshDir("timetravel")
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 10L, "insert", 100L)), spec)
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 20L, "update", 150L)), spec)
    Materializer.applyBatch(spark, dir, chg(("user", 1L, 30L, "delete", 150L)), spec)
    def at(v: Long) = Materializer.currentStateAt(spark, dir, spec, v)
      .select("record_id", "seq").as[(Long, Long)].collect().toSet
    assert(at(1L) == Set((1L, 10L)), "v1 must show the insert")
    assert(at(2L) == Set((1L, 20L)), "v2 must show the update")
    assert(at(3L).isEmpty, "v3's delete filters the record")
    // a version past the retention window is retired and refuses loudly
    val e = intercept[IllegalArgumentException] {
      Materializer.currentStateAt(spark, dir, spec, 99L)
    }
    assert(e.getMessage.contains("no retained manifest"))
  }

  test("rebucket re-keys the whole store; mismatched Specs are refused after") {
    val dir = freshDir("rebucket")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 10L, "insert", 100L),
      ("user", 2L, 11L, "insert", 200L),
      ("user", 3L, 30L, "delete", 300L), // tombstone must survive the re-key
      ("todo", 9L, 12L, "insert", 900L)), spec)
    val before = state(dir, tombstones = true)
    Materializer.rebucket(spark, dir, spec, newBuckets = 3)
    // same rows, new geometry: every leaf carries the new version, the
    // manifest records the new count
    val m = Materializer.readManifest(dir)
    assert(m.nbuckets == 3 && m.leaves.keySet.forall(_ < 3),
      s"manifest not re-keyed: $m")
    val spec3 = spec.copy(buckets = 3)
    assert(Materializer.currentState(spark, dir, spec3, keepTombstones = true)
      .select("table_name", "record_id", "seq", "op", "val_cents")
      .as[(String, Long, Long, String, Long)].collect().toSeq.sorted == before)
    // an applier still using the OLD bucket count is refused — it would
    // scatter keys across wrong buckets and silently fork the state
    val e = intercept[IllegalStateException] {
      Materializer.applyBatch(spark, dir, chg(("user", 4L, 40L, "insert", 4L)), spec)
    }
    assert(e.getMessage.contains("bucketed at 3"))
    // the RIGHT spec keeps applying
    Materializer.applyBatch(spark, dir, chg(("user", 4L, 40L, "insert", 4L)), spec3)
    assert(Materializer.currentState(spark, dir, spec3)
      .filter($"record_id" === 4L).count() == 1)
  }

  test("snapshot isolation with grace: a reader planned before later commits still collects") {
    val dir = freshDir("grace")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 10L, "insert", 100L),
      ("user", 2L, 11L, "insert", 200L)), spec)
    // the reader plans its scan against the CURRENT manifest (v1)…
    val planned = Materializer.currentState(spark, dir, spec)
      .select("record_id", "seq")
    // …then the applier keeps committing: each apply supersedes record 1's
    // bucket leaf and runs the sweep (pre-fix, the v1 leaf was deleted
    // here and the reader died with FILE_NOT_EXIST mid-scan)
    (1 to 3).foreach { i =>
      Materializer.applyBatch(spark, dir,
        chg(("user", 1L, (20 + i).toLong, "update", i.toLong)), spec)
    }
    val got = planned.as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 11L)),
      s"reader across commits must see its planned snapshot, got $got")
    // a FRESH read sees the latest commit
    val fresh = Materializer.currentState(spark, dir, spec)
      .select("record_id", "seq").as[(Long, Long)].collect().toSet
    assert(fresh == Set((1L, 23L), (2L, 11L)), s"fresh read wrong: $fresh")
  }

  test("retention: Graft.compactState follows the consumer-ack floor") {
    val dir = freshDir("compactstate")
    val ackDir = java.nio.file.Files.createTempDirectory("mat_ack")
    val ack = ackDir.toString + "/committed.json"
    val config = graft.streaming.GraftConfig(
      appName = "compactstate", ackPath = Some(ack))
    val gspec = graft.streaming.Graft.materializeSpec(buckets = 8)
    def gchg(rows: (String, String, Long, String, Long)*): DataFrame =
      rows.toSeq.toDF("table_name", "record_key", "seq", "op", "val_cents")
    Materializer.applyBatch(spark, dir, gchg(
      ("user", "1", 10L, "insert", 100L),
      ("user", "2", 11L, "insert", 200L)), gspec)
    Materializer.applyBatch(spark, dir, gchg(
      ("user", "1", 20L, "delete", 100L),
      ("user", "2", 40L, "delete", 200L)), gspec)
    // consumer not committed yet → no-op
    assert(graft.streaming.Graft.compactState(spark, config, dir, 8).isEmpty)
    // consumer committed past frame 20 but not 40: only the first
    // tombstone is dead weight
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ack),
      """{"committed_frames":31}""")
    assert(graft.streaming.Graft.compactState(spark, config, dir, 8)
      .contains(30L))
    val t = Materializer.currentState(spark, dir, gspec, keepTombstones = true)
      .select("record_key", "seq").as[(String, Long)].collect().toSet
    assert(t == Set(("2", 40L)),
      "tombstone below the ack floor compacts away; the newer one survives")
  }

  test("fence: sink() acquires on first batch — a second sink fences the first") {
    val dir = freshDir("fence_sink")
    val sink1 = Materializer.sink(dir, spec)
    val sink2 = Materializer.sink(dir, spec)
    sink1(chg(("user", 1L, 1L, "insert", 1L)), 0L)
    sink2(chg(("user", 2L, 2L, "insert", 2L)), 0L) // takes over
    intercept[Materializer.FencedWriterException] {
      sink1(chg(("user", 3L, 3L, "insert", 3L)), 1L)
    }
    assert(state(dir) == Seq(
      ("user", 1L, 1L, "insert", 1L), ("user", 2L, 2L, "insert", 2L)))
  }

  test("retention is a per-store dial: retirement and time-travel reach follow it") {
    val dir = freshDir("retdial")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 10L, "insert", 100L)), spec)                       // v1
    Materializer.setRetention(dir, 2)                                 // v2
    (1 to 6).foreach { i =>                                           // v3..v8
      Materializer.applyBatch(spark, dir, chg(
        ("user", 1L, 100L + i, "update", 100L + i)), spec)
    }
    val head = Materializer.readManifest(dir)
    assert(head.version == 8L && head.retain == 2,
      s"the dial must ride every later commit: $head")
    // on-disk manifests = the dialed window + head
    assert(Materializer.currentStateAt(spark, dir, spec, 6L)
      .count() == 1L, "the dialed window must still serve v(n-2)")
    val e = intercept[IllegalArgumentException] {
      Materializer.currentStateAt(spark, dir, spec, 5L)
    }
    assert(e.getMessage.contains("(6..8]"),
      s"the as-of error must quote the DIALED window: ${e.getMessage}")
    // dialing UP widens reach for subsequent commits
    Materializer.setRetention(dir, 4)                                 // v9
    (1 to 3).foreach { i =>                                           // v10..v12
      Materializer.applyBatch(spark, dir, chg(
        ("user", 1L, 200L + i, "update", 200L + i)), spec)
    }
    assert(Materializer.currentStateAt(spark, dir, spec, 8L)
      .count() == 1L, "reach must widen with the new dial")
    // an acquired store requires the applier's token for the dial commit
    val token = Materializer.acquire(dir)
    intercept[Materializer.FencedWriterException] {
      Materializer.setRetention(dir, 3)
    }
    Materializer.setRetention(dir, 3, token = Some(token))
    assert(Materializer.readManifest(dir).retain == 3)
  }

  test("retention dial survives compact() and rebucket() maintenance commits") {
    val dir = freshDir("retmaint")
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 1L, "insert", 10L),
      ("user", 2L, 2L, "insert", 20L)), spec)                         // v1
    Materializer.setRetention(dir, 5)                                 // v2
    Materializer.applyBatch(spark, dir, chg(
      ("user", 1L, 3L, "delete", 10L)), spec)                         // v3
    // compact() drops the tombstone — the dial must ride its manifest
    Materializer.compact(spark, dir, spec, floor = 3L)                // v4
    assert(Materializer.readManifest(dir).retain == 5,
      "compact() must propagate the retention dial")
    // rebucket() rewrites the whole store — the dial must ride too
    Materializer.rebucket(spark, dir, spec, newBuckets = 4)           // v5
    val head = Materializer.readManifest(dir)
    assert(head.retain == 5 && head.nbuckets == 4,
      s"rebucket() must propagate the retention dial: $head")
    // and the dialed window is still honored by the NEXT apply's retirement
    val spec4 = spec.copy(buckets = 4)
    (1 to 6).foreach { i =>                                           // v6..v11
      Materializer.applyBatch(spark, dir, chg(
        ("user", 2L, 10L + i, "update", 20L + i)), spec4)
    }
    assert(Materializer.currentStateAt(spark, dir, spec4, 6L).count() == 1L,
      "the dialed 5-version window must survive maintenance commits")
  }
}
