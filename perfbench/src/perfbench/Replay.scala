package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.sources.cdc.WalSegments
import graft.streaming.{Engine, EventFilters, Graft, GraftConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** replay_backlog: a seeded pgoutput backlog on disk, drained to
  * completion by `Graft.start` (AvailableNow, 50k frames per trigger)
  * into the same three handlers as live_steady. The backlog is drained
  * by a fresh query, at least once and until `--seconds` have passed;
  * throughput is the median over drains, and each change's latency is
  * its delay from drain start to its handler call.
  */
object Replay extends Workload {
  // about 61k frames: the first 50k-frame batch holds over four fifths
  // of the changes, so the delivery p50 falls in the first batch and the
  // p90 in the second for every seed instead of flipping at a batch
  // boundary
  val Changes = 52000
  val WarmupChanges = 6000
  val MaxFrames = 50000L
  val Pub = "graft_pub"

  def digest(a: Args): (String, Map[String, Any]) = {
    val b = Gen.replay(a.seed, Changes)
    val d = new Gen.Digest
    b.segments.foreach(_.foreach(d.add))
    (d.hex, props(b))
  }

  private def props(b: Gen.Backlog): Map[String, Any] = Map(
    "changes" -> b.changes, "txns" -> b.txns, "frames" -> b.frames, "bytes" -> b.bytes,
    "segments" -> b.segments.size, "txn_sizes" -> b.txnSizes,
    "tables" -> Gen.ReplayTables.size, "columns" -> Gen.ReplayCols.size,
    "expected_handler_counts" -> b.expected, "max_frames_per_trigger" -> MaxFrames)

  private def writeBacklog(dir: String, b: Gen.Backlog): Unit = {
    b.segments.zipWithIndex.foreach { case (s, i) => Layers.writeSegment(dir, i, s) }
    WalSegments.writePublication(dir, Pub, Gen.ReplayTables.map(t => s"public.$t"))
  }

  def run(a: Args, rec: Rec, spark: SparkSession): Unit = {
    val backlog = Gen.replay(a.seed, Changes)
    rec.set("inputs", props(backlog))
    val walDir = s"${a.work}/wal"
    writeBacklog(walDir, backlog)
    val warmDir = s"${a.work}/wal_warm"
    val warm = Gen.replay(a.seed + 1000003L, WarmupChanges)
    writeBacklog(warmDir, warm)

    // (handler time, events) of the catch-all handler, per micro-batch
    val delivered = mutable.ArrayBuffer[(Long, Long)]()
    val all = new AtomicLong; val upd = new AtomicLong; val del = new AtomicLong
    val engine = new Engine()
      .onEvent("*") { ev =>
        rec.timed("streaming.Engine.handler") {
          val n = ev.count()
          all.addAndGet(n)
          delivered += ((Clock.nowUs, n))
          rec.sample("engine.events_per_batch", n.toDouble)
        }
      }
      .onUpdate("*", EventFilters(unwatchedFields = Gen.ReplayUnwatched)) { ev =>
        rec.timed("streaming.Engine.handler")(upd.addAndGet(ev.count()))
      }
      .onDelete("*", EventFilters(unwatchedRecords = Map("grp" -> "0"))) { ev =>
        rec.timed("streaming.Engine.handler")(del.addAndGet(ev.count()))
      }
    val config = GraftConfig(appName = "perfbench_replay", publication = Some(Pub),
      maxFramesPerTrigger = Some(MaxFrames))
    val queryName = s"graft-${config.appName}"
    val obs = new Layers.Observed(spark, a.trace)

    /** One drain: a fresh query over the whole directory; returns its
      * wall seconds and checks the handler counts it produced.
      */
    def drain(dir: String, expected: Map[String, Long], timed: Boolean): Double = {
      all.set(0); upd.set(0); del.set(0)
      delivered.clear()
      val t0 = Clock.nowUs
      val q = Graft.start(spark, config, dir, engine, Trigger.AvailableNow())
      q.awaitTermination()
      val secs = (Clock.nowUs - t0) / 1e6
      // each change's delay from drain start to its handler call
      if (timed) delivered.foreach { case (t, n) =>
        val ms = (t - t0) / 1000.0
        (0L until n).foreach(_ => rec.sample("delivery_ms", ms))
      }
      val got = Map("all" -> all.get, "update_watched" -> upd.get, "delete_watched" -> del.get)
      expected.foreach { case (k, v) =>
        if (got(k) != v) {
          rec.failed += 1
          rec.check(s"handler count $k", ok = false, s"got ${got(k)} want $v")
        }
      }
      secs
    }

    drain(warmDir, warm.expected, timed = false)
    rec.set("ready_us", Clock.nowUs)
    if (a.trace) Layers.sampleBacklog(rec, obs, walDir)
    obs.progress.clear()
    obs.counts.reset()
    val gc0 = Jvm.gcMs
    val runStart = Clock.nowUs
    var drains = 0
    while (drains < 1 || (Clock.nowUs - runStart) < a.seconds * 1000000L) {
      val secs = drain(walDir, backlog.expected, timed = true)
      drains += 1
      rec.attempted += backlog.changes
      rec.sample("drain_s", secs)
      rec.sample("replay_changes_per_s", backlog.changes / secs)
    }
    rec.set("jvm.gc_ms", Jvm.gcMs - gc0)
    rec.set("measured_us", Clock.nowUs)
    rec.set("drains", drains)
    rec.check("per-handler counts match the generator", rec.failed == 0,
      s"$drains drains of ${backlog.changes} changes; expected ${backlog.expected}")
    Layers.engine(rec, obs, queryName)
    if (a.trace) {
      rec.set("changes_traced", backlog.changes * drains)
      Layers.decodeRate(rec, backlog.segments.flatten)
    }
    obs.close()
  }
}
