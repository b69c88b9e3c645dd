package graft.operators.cdc

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's CDC dataflow re-expressed as declarative Spark operators
  * (SURVEY §2.3-2.4): tuple→record projection (P3), change diff (P5), event
  * cast (P7), LSN formatting (P8), relation/op/subscription filters
  * (F1-F5), unwatched-fields (F6) and unwatched-records (F7) filters, and
  * per-transaction assembly (P1, batch form — rows arrive already
  * committed, so grouping by xid per micro-batch suffices; the
  * cross-batch stateful variant lives in graft.streaming).
  *
  * The driver testdata has no live Postgres, so the canonical change set is
  * *derived deterministically* from the `events` table (the stand-in the
  * harness designates for CDC streams — TESTDATA.md). Everything below is
  * a pure column expression: filters/projections reach the parquet scan and
  * the whole pipeline stays in whole-stage codegen — at 100 TB the scan cost
  * dominates and nothing here shuffles except the explicit txn groupBy.
  */
object ChangeStream {

  /** Canonical change table derived from `events`:
    * op: signup→insert, error→delete, else update (deterministic stand-in
    * for the WAL message type, reference Changes.* structs changes.ex:11-33);
    * lsn: monotone 64-bit with a non-zero high word (file=user_id);
    * xid: groups of ≤10 consecutive changes form one transaction.
    */
  def changes(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.select(
      col("event_id").as("seq"),
      (col("user_id") * lit(4294967296L) + col("event_id")).as("lsn"),
      expr("event_id DIV 10").as("xid"),
      when(col("event_type") === "signup", "insert")
        .when(col("event_type") === "error", "delete")
        .otherwise("update").as("op"),
      lit("public").as("schema_name"),
      when(col("user_id") % 3 === 0, "user")
        .when(col("user_id") % 3 === 1, "todo")
        .otherwise("order").as("table_name"),
      Tables.eventTsMs(ev).as("commit_ms"),
      expr("""CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)""").as("k"),
      round(col("value") * 100).cast("long").as("val_cents"),
      col("user_id").as("record_id"))
  }

  /** P3/P7 record payloads as generic map<string,string> lanes (the
    * schema-agnostic mode; typed per-table StructTypes come from
    * RelationRegistry when a real Relation message is available).
    * UPDATE old images differ from new on `val_cents` (unless k%3=0),
    * `k` (unless k%5=0) and always on `updated_at` — giving F6 real work.
    */
  def withRecords(ch: DataFrame): DataFrame = {
    val newRec = map(
      lit("id"), col("record_id").cast("string"),
      lit("val_cents"), col("val_cents").cast("string"),
      lit("k"), col("k").cast("string"),
      lit("updated_at"), col("commit_ms").cast("string"))
    val oldRec = map(
      lit("id"), col("record_id").cast("string"),
      lit("val_cents"),
      (col("val_cents") - when(col("k") % 3 === 0, 0).otherwise(150)).cast("string"),
      lit("k"), (col("k") - when(col("k") % 5 === 0, 0).otherwise(1)).cast("string"),
      lit("updated_at"), (col("commit_ms") - 1000).cast("string"))
    ch.withColumn("new_record", when(col("op") =!= "delete", newRec))
      .withColumn("old_record",
        when(col("op") === "update", oldRec)
          .when(col("op") === "delete", newRec))
  }

  /** P5: old-vs-new per-field diff → map(field -> struct(old_value,
    * new_value)) keeping only changed fields
    * (reference: transaction_filter.ex:209-222). Null-safe equality so
    * NULL→value transitions register; built entirely from map_zip_with/
    * map_filter so Catalyst codegens it.
    */
  def changedFields(oldRec: Column, newRec: Column): Column =
    changedFields(oldRec, newRec, lit(null).cast("array<string>"))

  /** TOAST-aware variant: a field whose OLD cell was the unchanged-TOAST
    * sentinel must NOT register as a change (reference decoder.ex:226-227 +
    * SURVEY hard-part (b)) — without the exclusion the nulled-out old cell
    * would diff against the new value. `toastUnchanged` is the source's
    * per-row array of such column names (null/empty = none).
    *
    * Runs as the native [[graft.plans.MapChangedFields]] expression — the
    * equivalent `map_filter(map_zip_with(…))` pipeline dispatches through
    * interpreted higher-order functions per field per row, an interpreter
    * tax on the engine's hottest path (every UPDATE carries a diff).
    */
  def changedFields(oldRec: Column, newRec: Column, toastUnchanged: Column): Column =
    graft.plans.MapDiffCols.mapChangedFields(oldRec, newRec,
      coalesce(toastUnchanged, array().cast("array<string>")))

  /** The Event view (P7): reference Event struct (event.ex:6-17) with
    * Source metadata (source.ex:4-14). UPDATE carries `changes`; INSERT
    * only new_record; DELETE only old_record (README.md:215-216 semantics).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val ch = withRecords(changes(spark, sfDir))
    ch.select(
      col("seq"), col("xid"), col("lsn"),
      col("table_name").as("name"),
      col("op").as("type"),
      when(col("op") =!= "delete", col("new_record")).as("new_record"),
      when(col("op") === "delete", col("old_record")).as("old_record"),
      when(col("op") === "update", changedFields(col("old_record"), col("new_record")))
        .as("changes"),
      col("commit_ms").as("timestamp_ms"),
      lsnString(col("lsn")).as("lsn_str"),
      struct(
        lit("graft").as("source_name"),
        lit("0.1.0").as("version"),
        lit("testdata").as("db"),
        col("schema_name").as("schema"),
        col("table_name").as("table"),
        // P6: column-name → pg-type map (transaction_filter.ex:224-229);
        // constant per table in this synthetic lane, carried per-row from
        // the Relation message in the streaming lane (eventsFromAssembled).
        map_from_arrays(
          array(lit("id"), lit("val_cents"), lit("k"), lit("updated_at")),
          array(lit("int8"), lit("int8"), lit("int8"), lit("int8"))).as("columns"))
        .as("source"))
  }

  /** P7 over the streaming lane: AssembledChange rows (TxnAssembler output)
    * → the same Event view as [[events]], with `source.columns` (P6) taken
    * from the Relation message's column types and TOAST-aware diffs.
    * INSERT keeps only new_record, UPDATE keeps new_record+changes, DELETE
    * keeps only old_record (event.ex:43-127, README.md:215-216).
    */
  def eventsFromAssembled(assembled: DataFrame): DataFrame =
    assembled.select(
      col("seq"), col("xid"), col("commit_lsn").as("lsn"),
      col("table_name").as("name"),
      col("op").as("type"),
      when(col("op") =!= "delete", col("record")).as("new_record"),
      when(col("op") === "delete", col("old_record")).as("old_record"),
      when(col("op") === "update",
        changedFields(col("old_record"), col("record"), col("toast_unchanged")))
        .as("changes"),
      (col("commit_ts_us") / 1000).cast("long").as("timestamp_ms"),
      lsnString(col("commit_lsn")).as("lsn_str"),
      struct(
        lit("graft").as("source_name"),
        lit("0.1.0").as("version"),
        lit("testdata").as("db"),
        col("schema_name").as("schema"),
        col("table_name").as("table"),
        col("col_types").as("columns")).as("source"))

  /** P8: packed lsn long → "HI/LO" upper-hex display form
    * (reference: event.ex:170-175).
    */
  def lsnString(lsn: Column): Column =
    concat(hex(shiftright(lsn, 32)), lit("/"), hex(lsn.bitwiseAND(lit(0xFFFFFFFFL))))

  // ---- Filter operators (F1-F7) ----

  /** F1: parse "schema:table" / "schema" / "*" → (schemaOpt, tableOpt)
    * (reference: transaction_filter.ex:97-108).
    */
  def parseRelationFilter(s: String): Either[String, (Option[String], Option[String])] =
    s.split(":", -1).toList match {
      case ("*" | "") :: Nil => Right((None, None))
      case sch :: Nil        => Right((Some(sch), None))
      case sch :: tbl :: Nil => Right((Some(sch), Some(tbl)))
      case _                 => Left(s"invalid relation filter: $s")
    }

  /** F2/F3/F5: op+relation predicate; "*" wildcards
    * (reference: transaction_filter.ex:57-76,113-155).
    */
  def matchesFilter(op: String = "*", schema: String = "*", table: String = "*"): Column = {
    val opP  = if (op == "*") lit(true) else col("op") === op.toLowerCase
    val schP = if (schema == "*") lit(true) else col("schema_name") === schema
    val tblP = if (table == "*") lit(true) else col("table_name") === table
    opP && schP && tblP
  }

  /** F4: subscription filter — table ∈ subscribed set
    * (reference: transaction_filter.ex:132-135,157-161). Plain `isin` so it
    * pushes to the scan as an IN filter.
    */
  def subscribed(tables: Seq[String]): Column =
    if (tables.isEmpty) lit(true) else col("table_name").isin(tables: _*)

  /** F6: drop UPDATE events whose only changed fields are unwatched
    * (e.g. trigger-touched `updated_at`); events without a changes map pass
    * (reference: transaction_filter.ex:175-187).
    *
    * Native short-circuit expression
    * ([[graft.plans.AnyChangedKeyNotIn]]) — semantics of
    * `changes.isNull || size(map_filter(changes, (k,_) =>
    * !k.isin(unwatched)))>0` without the per-field interpreted lambda
    * dispatch, early-exiting at the first watched key.
    */
  def watchedFieldsPredicate(changes: Column, unwatched: Seq[String]): Column =
    graft.plans.ChangeFilterCols.anyChangedKeyNotIn(changes, unwatched)

  /** F6 fused over (op, old, new, toast): for pipelines that would compute
    * the change map ONLY to filter on it, [[graft.plans
    * .AnyWatchedFieldChanged]] decides pass/drop in one early-exit loop
    * without materializing the diff — non-update events (no diff defined)
    * pass, matching `when(op === "update", changedFields(…))`'s null.
    */
  def watchedFieldsPredicate(op: Column, oldRec: Column, newRec: Column,
      toastUnchanged: Column, unwatched: Seq[String]): Column =
    // op.isNull passes explicitly: the when(op === "update", …) formulation
    // gives a NULL changes map for a NULL op, and null-changes events pass
    // F6 — a bare op =!= "update" would evaluate NULL and drop them
    op.isNull || op =!= "update" ||
      graft.plans.ChangeFilterCols.anyWatchedFieldChanged(
        oldRec, newRec, coalesce(toastUnchanged, array().cast("array<string>")),
        unwatched)

  /** F7: drop events whose record matches ALL key=value pairs; uses
    * new_record, falling back to old_record for deletes
    * (reference: transaction_filter.ex:189-207).
    */
  def unwatchedRecordsPredicate(rec: Column, unwatched: Map[String, String]): Column =
    if (unwatched.isEmpty) lit(true)
    else !unwatched.map { case (k, v) => element_at(rec, k) <=> lit(v) }.reduce(_ && _)

  /** cdc22 — SCD Type 2 dimension maintenance from the change stream: the
    * warehouse pattern every CDC consumer builds by hand. Each
    * insert/update becomes a VERSION row valid from its commit until the
    * record's next change (any op — a delete closes the last version
    * without opening one); the open version is flagged current. One
    * window over (table, record) ordered by seq — a single sort-shuffle
    * keyed by the record identity, the same partitioning a MERGE INTO
    * target would use; no self-join, no driver state. At 100 TB the
    * stream is processed per record-key partition exactly like any
    * warehouse apply job.
    */
  def scdType2(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("table_name"), col("record_id"))
      .orderBy(col("seq"))
    changes(spark, sfDir)
      .withColumn("valid_to_ms", lead(col("commit_ms"), 1).over(w))
      .filter(col("op") =!= "delete") // deletes close versions, never open one
      .select(col("table_name"), col("record_id"),
        col("seq").as("version_seq"), col("op"),
        col("commit_ms").as("valid_from_ms"), col("valid_to_ms"),
        col("valid_to_ms").isNull.as("is_current"))
      .orderBy(col("table_name"), col("record_id"), col("version_seq"))
  }

  /** cdc24 — retraction-aware incremental aggregate maintenance: keep
    * per-group aggregates of the CURRENT table in sync from the change
    * stream alone, never replaying the table. Each change becomes signed
    * delta rows — insert → +new, delete → −old, update → −old AND +new —
    * so an update that MOVES a row between groups retracts from the old
    * group and adds to the new one (the case plain streaming `groupBy`
    * cannot express: Spark has no retraction in append/update modes; this
    * is the dataflow "retraction" pattern as a pure column transform).
    * Summing the deltas per group yields the net aggregate movement —
    * exactly what a downstream MERGE adds to its running aggregate table.
    *
    * Shape at 100 TB: explode to ≤ 2 narrow delta rows per change
    * (sign, group key, measure — no payloads), then ONE map-side-combined
    * groupBy on the group key. All-integer arithmetic, so partial-agg
    * order can never drift. The same select composes unchanged over the
    * live stream in update output mode (StreamingCdcSpec pins
    * batch/stream parity).
    *
    * The old-image values mirror [[withRecords]]' deterministic deltas
    * (old val_cents = new − 150 unless k%3=0; old k = new − 1 unless
    * k%5=0); a delete retracts its carried final image
    * (reference delete events carry old_record only, README.md:215-216).
    */
  /** Signed delta rows for [[incrementalGroupAgg]] — exposed separately so
    * the streaming spec can aggregate the identical contributions lane.
    */
  def signedDeltas(ch: DataFrame): DataFrame = {
    val oldK = col("k") - when(col("k") % 5 === 0, 0).otherwise(1)
    val oldVal = col("val_cents") - when(col("k") % 3 === 0, 0).otherwise(150)
    val addNew = struct(lit(1L).as("sign"), col("k").as("ck"),
      col("val_cents").as("cv"))
    val retractOld = struct(lit(-1L).as("sign"), oldK.as("ck"), oldVal.as("cv"))
    val retractSelf = struct(lit(-1L).as("sign"), col("k").as("ck"),
      col("val_cents").as("cv"))
    ch.select(col("table_name"), explode(
      when(col("op") === "insert", array(addNew))
        .when(col("op") === "delete", array(retractSelf))
        .otherwise(array(retractOld, addNew))).as("c"))
      .select(col("table_name"), col("c.sign").as("sign"),
        col("c.ck").as("ck"), col("c.cv").as("cv"))
  }

  def incrementalGroupAgg(spark: SparkSession, sfDir: String): DataFrame =
    signedDeltas(changes(spark, sfDir))
      .groupBy(col("table_name"), (col("ck") % 8).as("k_bucket"))
      .agg(sum(col("sign")).as("row_delta"),
        sum(col("sign") * col("cv")).as("cents_delta"))
      .orderBy(col("table_name"), col("k_bucket"))

  /** cdc26 — [[incrementalGroupAgg]] run as a MAINTAINED MATERIALIZED
    * VIEW: change batches arrive as a stream and the per-group aggregate
    * table is FOLDED forward per micro-batch — state(b+1) = groupwise sum
    * of (state(b) ∪ batch deltas) — instead of re-aggregating the change
    * history. This is incremental view maintenance (the DBSP/differential-
    * dataflow discipline): because the deltas are signed and the merge is
    * an integer sum (associative, commutative), the folded state after N
    * batches EQUALS the one-shot aggregate over all N batches' changes —
    * cdc26 shares cdc24's oracle verbatim; the merge identity is the
    * gated claim (the txt21 device on the aggregate lane).
    *
    * Scale shape per batch: signed-delta explode is narrow; ONE map-side-
    * combined groupBy of the BATCH (≤ 2 rows per change in, ≤ |groups|
    * out); the merge touches |groups| state rows — O(view), never
    * O(history). State versions are written per batch id with overwrite,
    * so at-least-once foreachBatch replay recomputes the same version —
    * idempotent (the dd13 fold discipline). In production the state
    * lands in the Materializer's bucketed store keyed by group; the
    * versioned-directory form here keeps the identity inspectable.
    */
  def streamingGroupAggFold(spark: SparkSession, sfDir: String,
      nBatches: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val tmp = Tables.scratchDir("graft_cdc26")
    val stateDir = s"$tmp/state"
    val stageDir = s"$tmp/arrivals"
    changes(spark, sfDir).repartition(nBatches, col("seq"))
      .write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    def vdir(b: Long): String = f"$stateDir%s/v$b%05d"
    val stateSchema = StructType(Seq(
      StructField("table_name", StringType), StructField("k_bucket", LongType),
      StructField("row_delta", LongType), StructField("cents_delta", LongType)))
    val q = graft.GraftSession.withStreamShuffle(spark) {
      stream.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val s = batch.sparkSession
          val deltas = signedDeltas(batch)
            .groupBy(col("table_name"), (col("ck") % 8).as("k_bucket"))
            .agg(sum(col("sign")).as("row_delta"),
              sum(col("sign") * col("cv")).as("cents_delta"))
          val prior =
            if (batchId == 0L)
              s.createDataFrame(
                s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
            else s.read.parquet(vdir(batchId))
          prior.unionByName(deltas)
            .groupBy(col("table_name"), col("k_bucket"))
            .agg(sum(col("row_delta")).as("row_delta"),
              sum(col("cents_delta")).as("cents_delta"))
            .write.mode("overwrite").parquet(vdir(batchId + 1))
          ()
        }
        .start()
    }
    graft.GraftSession.awaitFinished(q)
    val latest = new java.io.File(stateDir).listFiles()
      .filter(_.getName.startsWith("v")).map(_.getName).max
    spark.read.parquet(s"$stateDir/$latest")
      .orderBy(col("table_name"), col("k_bucket"))
  }

  /** cdc30 — incremental JOIN-VIEW maintenance: cdc26 maintains an
    * AGGREGATE under change streams; this maintains a JOIN — the other
    * half of materialized-view maintenance, and the one that needs
    * retraction PROPAGATION: when the dimension side changes, every fact
    * row joined to it must update without touching the rest of the view.
    * Shape: two Materializer stores (order facts, user accounts — an
    * order's account is `(record_id div 3)·3`, the user-table key it
    * points at), and per micro-batch the AFFECTED-KEY recompute rule —
    * affected = the batch's order keys ∪ stored orders whose account the
    * batch touched; recompute exactly those view rows from the two
    * stores' current states (left join: an absent account reads NULL),
    * tombstone affected keys whose order died. The folded view equals
    * the one-shot join of the final states EXACTLY (the txt21/cdc26
    * merge-identity device on the join axis), so cdc30's oracle is the
    * independent DuckDB join of the two last-change derivations. Deletes
    * on BOTH sides propagate: a dead order leaves the view, a dead user
    * NULLs its orders' account columns.
    *
    * Scale shape per batch: store applies are bucket-pruned (cdc25's
    * discipline); the recompute set is bounded by the batch's keys, not
    * the view size; view upserts stamp a monotone batch version so
    * foreachBatch replay is idempotent. The one full-state touch is the
    * account→orders lookup (stored orders joined to the batch's touched
    * accounts) — at 100 TB that wants a secondary index keyed by account
    * (a second bucketing of the fact store), the standard IVM index;
    * here it is a LEFT SEMI join against the batch's account set, which
    * AQE broadcasts.
    */
  def joinViewMaintained(spark: SparkSession, sfDir: String,
      nBatches: Int = 4): DataFrame = {
    import graft.streaming.Materializer
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val tmp = Tables.scratchDir("graft_cdc30")
    val stageDir = s"$tmp/arrivals"
    changes(spark, sfDir).repartition(nBatches, col("seq"))
      .write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val (uDir, oDir, vDir) = (s"$tmp/users", s"$tmp/orders", s"$tmp/view")
    val kSpec = Materializer.Spec(keyCols = Seq("record_id"), buckets = 16)
    val sideSchema = StructType(Seq(
      StructField("record_id", LongType), StructField("seq", LongType),
      StructField("op", StringType), StructField("val_cents", LongType)))
    def stateOrEmpty(s: SparkSession, dir: String): DataFrame =
      try Materializer.currentState(s, dir, kSpec)
      catch { case _: IllegalStateException =>
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          sideSchema)
      }
    val acct = expr("(record_id DIV 3) * 3")
    val q = graft.GraftSession.withStreamShuffle(spark) {
      stream.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val s = batch.sparkSession
          def side(t: String) = batch.filter(col("table_name") === t)
            .select(col("record_id"), col("seq"), col("op"), col("val_cents"))
          // disjoint stores — overlap the two applies (guide §2.6)
          graft.GraftSession.concurrently(Seq(
            () => Materializer.applyBatch(s, uDir, side("user"), kSpec),
            () => Materializer.applyBatch(s, oDir, side("order"), kSpec)),
            maxPar = 2)
          // each store state and the affected set have 2-3 consumers in
          // this batch body — persist so the bucket leaves are read and
          // max-seq-merged ONCE per batch, not per consumer (the
          // applyBatch batchLatest discipline)
          val curU = stateOrEmpty(s, uDir).persist()
          val curO = stateOrEmpty(s, oDir).withColumn("account", acct)
            .persist()
          val touchedAcc = side("user").select(col("record_id").as("account"))
            .distinct()
          val affected = side("order").select("record_id").distinct()
            .unionByName(curO.join(touchedAcc, Seq("account"), "left_semi")
              .select("record_id"))
            .distinct()
            .persist()
          try if (!affected.isEmpty) {
            val alive = curO.join(affected, Seq("record_id"), "left_semi")
              .select(col("record_id"), col("seq").as("order_seq"),
                col("val_cents").as("order_cents"), col("account"))
              .join(curU.select(col("record_id").as("account"),
                col("val_cents").as("account_cents"),
                lit(true).as("account_present")), Seq("account"), "left")
              .select(col("record_id"), lit(batchId).as("seq"),
                lit("upsert").as("op"), col("order_seq"), col("order_cents"),
                col("account"),
                col("account_cents"),
                coalesce(col("account_present"), lit(false))
                  .as("account_present"))
            val dead = affected.join(curO, Seq("record_id"), "left_anti")
              .select(col("record_id"), lit(batchId).as("seq"),
                lit("delete").as("op"), lit(null).cast("long").as("order_seq"),
                lit(null).cast("long").as("order_cents"),
                lit(null).cast("long").as("account"),
                lit(null).cast("long").as("account_cents"),
                lit(null).cast("boolean").as("account_present"))
            Materializer.applyBatch(s, vDir, alive.unionByName(dead), kSpec)
          } finally {
            affected.unpersist(); curO.unpersist(); curU.unpersist()
          }
          ()
        }
        .start()
    }
    graft.GraftSession.awaitFinished(q)
    Materializer.currentState(spark, vDir, kSpec)
      .select(col("record_id"), col("order_seq"), col("order_cents"),
        col("account"), col("account_cents"), col("account_present"))
      .orderBy(col("record_id"))
  }

  /** cdc23 — point-in-time snapshot reconstruction ("time travel"): the
    * state of every record at an LSN cut = its LAST change at or below
    * the cut, dropped if that change was a delete. The cut here is the
    * stream's midpoint seq, derived IN-PLAN from a one-row broadcast
    * aggregate so the query stays a pure function of the data at any sf.
    * Shape: one map-side-combined `max_by(struct, seq)` per (table,
    * record) — ids and the packed row ride the single shuffle; no window,
    * no sort. This is the replay primitive behind "rebuild the table as
    * of LSN X" on a segment directory's retained history.
    */
  def snapshotAtMidpoint(spark: SparkSession, sfDir: String): DataFrame = {
    val ch = changes(spark, sfDir)
    val cut = ch.agg(expr("max(seq) DIV 2").as("cut_seq")) // floor div: engine-exact
    ch.crossJoin(broadcast(cut)) // one-row scalar side
      .filter(col("seq") <= col("cut_seq"))
      .groupBy(col("table_name"), col("record_id"))
      .agg(max_by(
        struct(col("op"), col("seq"), col("commit_ms"), col("k"),
          col("val_cents")), col("seq")).as("s"))
      .select(col("table_name"), col("record_id"),
        col("s.seq").as("as_of_seq"), col("s.op").as("last_op"),
        col("s.commit_ms").as("commit_ms"), col("s.k").as("k"),
        col("s.val_cents").as("val_cents"))
      .filter(col("last_op") =!= "delete")
      .orderBy(col("table_name"), col("record_id"))
  }

  /** cdc28 — mid-stream SCHEMA EVOLUTION through the current-state store:
    * the replica's table gains a column while the apply loop is running
    * (ALTER TABLE ... ADD COLUMN upstream; the reference's relation
    * registry re-reads the Relation message mid-stream — reference:
    * lib/walex/decoder.ex Relation handling — and decoded maps simply
    * carry the new key from then on). The STORE must widen without a
    * rebuild: this operator applies the change set in two phases — the
    * pre-DDL prefix WITHOUT `val_cents` (the column does not exist yet),
    * the post-DDL suffix WITH it — into one Materializer store, and reads
    * the evolved state back: a key whose last change predates the DDL
    * surfaces `val_cents` NULL (its leaf parquet has no such column — the
    * read with the manifest's recorded schema supplies it); keys touched
    * after the DDL carry real values. The phase boundary (`max(seq) div 2`, both engines derive
    * it) and the null/echo arithmetic are the gated relation, so a store
    * that dropped old rows, rewrote them, or mis-merged schemas all fail
    * the hash.
    *
    * Scale shape: exactly cdc25's apply loop (bucketed max_by merge,
    * O(affected-buckets) leaf writes) — schema widening adds NO pass over
    * old data: untouched buckets keep their narrow-schema leaves and
    * widen lazily at read time (the Delta/Iceberg ADD COLUMN metadata-only
    * discipline).
    */
  def schemaEvolutionStore(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.Materializer
    val ch = changes(spark, sfDir)
      .select(col("seq"), col("op"), col("table_name"), col("k"),
        col("val_cents"), col("record_id"))
    // metadata-sized driver scalar (one long), the affected-bucket
    // discipline — NOT a data collect
    val cut = ch.agg(expr("max(seq) DIV 2")).head().getLong(0)
    val stateDir = Tables.scratchDir("graft_cdc28")
    val spec = Materializer.Spec(
      keyCols = Seq("table_name", "record_id"), buckets = 16)
    // phase A: the world before the DDL — val_cents does not exist
    Materializer.applyBatch(spark, stateDir,
      ch.filter(col("seq") <= cut).drop("val_cents"), spec)
    // phase B: the DDL landed; decoded records carry the new column
    Materializer.applyBatch(spark, stateDir, ch.filter(col("seq") > cut), spec)
    Materializer.currentState(spark, stateDir, spec)
      .select(col("table_name"), col("record_id"), col("seq").as("last_seq"),
        col("k"), col("val_cents"),
        // from the seq boundary, NOT val_cents.isNull: a post-DDL row
        // whose new column is genuinely NULL is not a pre-DDL row
        (col("seq") <= cut).as("pre_ddl_row"), lit(cut).as("ddl_seq"))
      .orderBy(col("table_name"), col("record_id"))
  }

  /** cdc29 — TRUNCATE through the current-state store: the one reference
    * change type (reference: lib/walex/changes.ex TruncatedRelation;
    * decoded by D-lane as WalMessage.Truncate) the store could not apply
    * until now. A TRUNCATE carries no per-row tombstones — at 100 TB the
    * table being truncated may hold billions of rows, so the apply MUST
    * be O(1): [[graft.streaming.Materializer.applyTruncate]] commits a
    * (table → seq) watermark in the manifest, dead rows filter at read
    * and drop physically at the next compact. This operator applies the
    * change set with a TRUNCATE of the `todo` table at the midpoint seq:
    * `todo` records whose LAST change predates the truncate vanish even
    * though no delete ever targeted them; `todo` records touched after it
    * survive (Postgres semantics — only post-truncate WAL can repopulate);
    * other tables are untouched. The watermark and each row's survival
    * arithmetic are the gated relation.
    */
  def truncateApplyStore(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.Materializer
    val ch = changes(spark, sfDir)
      .select(col("seq"), col("op"), col("table_name"), col("k"),
        col("val_cents"), col("record_id"))
    val cut = ch.agg(expr("max(seq) DIV 2")).head().getLong(0) // one long
    val stateDir = Tables.scratchDir("graft_cdc29")
    val spec = Materializer.Spec(
      keyCols = Seq("table_name", "record_id"), buckets = 16)
    Materializer.applyBatch(spark, stateDir, ch.filter(col("seq") <= cut), spec)
    // the TRUNCATE lands between batches, exactly where WAL order puts it
    Materializer.applyTruncate(stateDir, "todo", cut, spec)
    Materializer.applyBatch(spark, stateDir, ch.filter(col("seq") > cut), spec)
    Materializer.currentState(spark, stateDir, spec)
      .select(col("table_name"), col("record_id"), col("seq").as("last_seq"),
        col("k"), col("val_cents"), lit(cut).as("trunc_seq"))
      .orderBy(col("table_name"), col("record_id"))
  }

  /** cdc27 — TRANSACTION-consistent snapshot: [[snapshotAtMidpoint]]'s
    * raw seq cut can land MID-transaction (the fixture's xid groups ten
    * consecutive seqs, so a midpoint cut splits one transaction roughly
    * 9 times in 10) — a replica built at that cut shows a torn write,
    * which is exactly the anomaly the reference exists to prevent: walex
    * delivers whole transactions or nothing (reference:
    * lib/walex/transaction_filter.ex — messages group by transaction;
    * the consumer never observes a commit's partial effect). This
    * operator aligns the cut to the last COMMIT boundary at or below the
    * requested seq — `aligned_seq = max(commit_seq ≤ cut)` where
    * `commit_seq = max(seq) per xid` — and snapshots the aligned prefix.
    * Because a transaction's rows are contiguous in WAL order, filtering
    * `seq <= aligned_seq` includes exactly the fully-committed
    * transactions: no torn writes, by construction. The aligned cut and
    * the count of rows the alignment excluded (`torn_rows`, the split
    * transaction's visible half) ride every output row so the alignment
    * arithmetic — not just the surviving states — is part of the gated
    * relation.
    *
    * Scale shape: three one-row broadcast aggregates (cut, aligned cut,
    * torn count — the commit-boundary table shuffles xid+seq only), then
    * cdc23's single map-side-combined `max_by` per (table, record). No
    * window, no sort, nothing new on the data path at 100 TB.
    */
  def snapshotTxnConsistent(spark: SparkSession, sfDir: String,
      cutAt: Option[Long] = None): DataFrame = {
    val ch = changes(spark, sfDir)
    val cut = cutAt match {
      case Some(c) => spark.range(1).select(lit(c).as("cut_seq"))
      case None    => ch.agg(expr("max(seq) DIV 2").as("cut_seq"))
    }
    val aligned = ch.groupBy(col("xid")).agg(max(col("seq")).as("commit_seq"))
      .crossJoin(broadcast(cut))
      .filter(col("commit_seq") <= col("cut_seq"))
      .agg(max(col("commit_seq")).as("aligned_seq"))
    val torn = ch.crossJoin(broadcast(cut)).crossJoin(broadcast(aligned))
      .filter(col("seq") > col("aligned_seq") && col("seq") <= col("cut_seq"))
      .agg(count(lit(1)).as("torn_rows"))
    ch.crossJoin(broadcast(aligned))
      .filter(col("seq") <= col("aligned_seq"))
      .groupBy(col("table_name"), col("record_id"))
      .agg(max_by(
        struct(col("op"), col("seq"), col("commit_ms"), col("k"),
          col("val_cents")), col("seq")).as("s"),
        max(col("aligned_seq")).as("aligned_seq"))
      .crossJoin(broadcast(torn))
      .select(col("table_name"), col("record_id"),
        col("s.seq").as("as_of_seq"), col("s.op").as("last_op"),
        col("s.commit_ms").as("commit_ms"), col("s.k").as("k"),
        col("s.val_cents").as("val_cents"),
        col("aligned_seq"), col("torn_rows"))
      .filter(col("last_op") =!= "delete")
      .orderBy(col("table_name"), col("record_id"))
  }
}
