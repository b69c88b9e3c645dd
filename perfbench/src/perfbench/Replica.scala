package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.cdc.WalSegments
import graft.streaming.{Graft, GraftConfig, Materializer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** replica_upsert: a `Graft.materialize` replica preloaded with `Keys`
  * keys, then fed change batches of `BatchSize` (80% update, 10% insert,
  * 10% delete). The preload is the stream's first batch, so it is also
  * the warm-up. Closed loop: the next batch's WAL segment is published
  * when the previous batch has been applied, until `--seconds` have been
  * measured. One reader thread runs point lookups through
  * `Materializer.currentState(...).filter(key)` meanwhile, pausing
  * `ReadGapMs` after each, so that it shares the cores with the apply
  * rather than taking them.
  */
object Replica extends Workload {
  val Keys = 20000L
  val BatchSize = 2000
  val MaxBatches = 12
  val Buckets = 8
  val ReadGapMs = 500L
  val Pub = "graft_pub"

  def digest(a: Args): (String, Map[String, Any]) = {
    val b = Gen.replica(a.seed, Keys, MaxBatches, BatchSize)
    val d = new Gen.Digest
    b.segments.foreach(_.foreach(d.add))
    (d.hex, props(b))
  }

  private def props(b: Gen.ReplicaBatches): Map[String, Any] = Map(
    "keys" -> Keys, "payload_bytes" -> 150, "buckets" -> Buckets,
    "read_gap_ms" -> ReadGapMs, "preload_frames" -> b.segments.head.size,
    "batch_changes" -> BatchSize, "batches_generated" -> (b.segments.size - 1),
    "changes_generated" -> b.changes, "bytes_generated" -> b.bytes,
    "mix" -> Map("insert" -> b.inserts, "update" -> b.updates, "delete" -> b.deletes))

  def run(a: Args, rec: Rec, spark: SparkSession): Unit = {
    import spark.implicits._
    val gen = Gen.replica(a.seed, Keys, MaxBatches, BatchSize)
    rec.set("inputs", props(gen))
    rec.set("setup.generated_us", Clock.nowUs)
    val walDir = s"${a.work}/wal"
    val stateDir = s"${a.work}/state"
    val spec = Graft.materializeSpec(Buckets)
    val (fs, wal) = WalSegments.fsFor(walDir)
    fs.mkdirs(wal)
    WalSegments.writePublication(walDir, Pub, Seq("public.r"))

    val config = GraftConfig(appName = "perfbench_replica", publication = Some(Pub))
    val obs = new Layers.Observed(spark, a.trace)
    val queryName = s"graft-materialize-${config.appName}"
    val query: StreamingQuery =
      if (a.trace) tracedMaterialize(spark, config, walDir, stateDir, rec)
      else Graft.materialize(spark, config, walDir, stateDir, buckets = Buckets)
    rec.set("setup.query_started_us", Clock.nowUs)

    var published = 0
    /** Publish the next batch's segment and wait until it is applied. */
    def step(): Double = {
      val before = obs.progress.dataBatches(queryName).size
      val t0 = Clock.nowUs
      Layers.writeSegment(walDir, published, gen.segments(published))
      published += 1
      while (obs.progress.dataBatches(queryName).size == before) {
        if (!query.isActive) throw new IllegalStateException(
          s"materialize query stopped: ${query.exception.map(_.toString).getOrElse("")}")
        obs.progress.awaitChange(50)
      }
      (Clock.nowUs - t0) / 1000.0
    }
    // warm-up: the preload, one batch through the whole path
    step()
    rec.set("ready_us", Clock.nowUs)
    obs.progress.clear()
    obs.counts.reset()
    val gc0 = Jvm.gcMs

    @volatile var reading = true
    val readFailures = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      val r = new SplittableRandom(a.seed * 31 + 5)
      while (reading) {
        val key = r.nextLong(Keys).toString
        val t0 = Clock.nowUs
        try {
          val df = Materializer.currentState(spark, stateDir, spec)
            .filter(col("table_name") === "r" && col("record_key") === key)
          val rows = df.select(col("record")("payload")).collect()
          val t1 = Clock.nowUs
          rec.sample("read_ms", (t1 - t0) / 1000.0)
          rec.span("streaming.Materializer.read", t0, t1)
          rec.sample("materializer.read_leaves",
            df.inputFiles.map(f => new java.io.File(f).getParentFile.getName).distinct.length)
          if (rows.length > 1) rec.check("reader saw one row per key", ok = false, key)
        } catch { case e: Throwable =>
          readFailures.incrementAndGet()
          rec.check("reader", ok = false, e.toString)
        }
        Thread.sleep(ReadGapMs)
      }
    }, "perfbench-reader")
    reader.start()
    val applyStart = Clock.nowUs
    val firstTimed = published
    try while (published < gen.segments.size &&
        (published == firstTimed || Clock.nowUs - applyStart < a.seconds * 1000000L)) {
      rec.sample("batch_ms", step())
    } finally reading = false
    val applySecs = (Clock.nowUs - applyStart) / 1e6
    reader.join()
    rec.set("jvm.gc_ms", Jvm.gcMs - gc0)
    rec.set("measured_us", Clock.nowUs)
    query.stop()
    val timedBatches = published - firstTimed
    val applied = timedBatches.toLong * BatchSize
    rec.attempted = applied
    rec.set("batches_timed", timedBatches)
    rec.set("changes_applied", applied)
    rec.set("throughput_per_s", applied / applySecs)
    rec.set("read_failures", readFailures.get)
    rec.failed += readFailures.get
    Layers.engine(rec, obs, queryName, inner = "streaming.Materializer.apply")

    // final state == the generator's last image per key, compared in
    // this JVM: the preload's image is Gen.replicaPayload on this side
    val image = gen.images(published - 1)
    val want = mutable.HashMap[String, (String, String)]()
    (0L until Keys).foreach(id => want(id.toString) = ((id % 4).toString, Gen.replicaPayload(a.seed, id)))
    image.foreach {
      case (k, Some((g, p))) => want(k.toString) = (g.toString, p)
      case (k, None) => want.remove(k.toString)
    }
    val state = Materializer.currentState(spark, stateDir, spec)
      .select(col("record_key"), col("record")("grp"), col("record")("payload"))
      .as[(String, String, String)].collect()
    val got = state.groupBy(_._1)
    val extra = got.count { case (k, rows) => rows.length > 1 || !want.get(k).contains((rows.head._2, rows.head._3)) }
    val lost = want.keysIterator.count(k => !got.contains(k))
    rec.check("final currentState equals the generator's last image per key",
      extra == 0 && lost == 0, s"unexpected=$extra missing=$lost")
    rec.failed += extra + lost
    if (a.trace) storeFigures(rec, stateDir, applied)
    obs.close()
  }

  /** `Graft.materialize`'s pipeline rebuilt from its public parts so the
    * function returned by `Materializer.sink` can be timed per batch;
    * also records leaves changed and bytes written per manifest version.
    */
  private def tracedMaterialize(spark: SparkSession, config: GraftConfig,
      walDir: String, stateDir: String, rec: Rec): StreamingQuery = {
    val ev = Graft.events(spark, config, walDir)
    val r = coalesce(col("new_record"), col("old_record"))
    val rows = ev.select(col("name").as("table_name"),
      element_at(r, "id").as("record_key"), col("seq"), col("type").as("op"),
      col("lsn"), col("timestamp_ms"), r.as("record"))
    val sink = Materializer.sink(stateDir, Graft.materializeSpec(Buckets))
    rows.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      val before = Materializer.readManifest(stateDir)
      val t0 = Clock.nowUs
      sink(b, id)
      val t1 = Clock.nowUs
      val changed = Materializer.readManifest(stateDir).leaves
        .filter { case (k, v) => !before.leaves.get(k).contains(v) }.values
      if (id > 0) { // batch 0 is the preload, the warm-up
        rec.span("streaming.Materializer.apply", t0, t1, -1, id)
        rec.sample("materializer.apply_ms", (t1 - t0) / 1000.0)
        rec.sample("materializer.changes_per_batch", b.count().toDouble)
        rec.sample("materializer.buckets_touched_frac", changed.size.toDouble / Buckets)
        rec.add("materializer.bytes_written",
          changed.map(l => Jvm.duBytes(new java.io.File(stateDir, l))).sum)
      }
    }.queryName(s"graft-materialize-${config.appName}").start()
  }

  private def storeFigures(rec: Rec, stateDir: String, applied: Long): Unit = {
    val m = Materializer.readManifest(stateDir)
    val newest = m.leaves.values.map(l => Jvm.duBytes(new java.io.File(stateDir, l))).sum
    rec.set("materializer.store_bytes_ratio",
      Jvm.duBytes(new java.io.File(stateDir)).toDouble / math.max(1L, newest))
    rec.set("materializer.bytes_written_per_change",
      rec.get("materializer.bytes_written").map(_.asInstanceOf[Long]).getOrElse(0L).toDouble /
        math.max(1L, applied))
  }
}
