package perfbench

import scala.collection.mutable

import graft.sources.cdc.WalSegments
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-layer figures read from outside the program: Spark's progress
  * reports and scheduler events, the WAL directory, and spans the
  * benchmark records around its own calls.
  */
object Layers {

  /** Epoch microseconds of a progress report's trigger start. */
  def startUs(ts: String): Long = {
    val i = java.time.Instant.parse(ts)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Registers the listeners a workload needs; tracing adds the Spark
    * scheduler counter.
    */
  final class Observed(spark: SparkSession, trace: Boolean) {
    val progress = new ProgressLog
    val counts = new SparkCounts
    spark.streams.addListener(progress)
    if (trace) spark.sparkContext.addSparkListener(counts)
    def close(): Unit = {
      spark.streams.removeListener(progress)
      if (trace) spark.sparkContext.removeSparkListener(counts)
    }
  }

  /** Frames on disk in a WAL directory (segment frame counts are cached:
    * segments are immutable).
    */
  final class FramesOnDisk(walDir: String) {
    private val cache = mutable.HashMap[String, Long]()
    def apply(): Long = synchronized {
      val (fs, _) = WalSegments.fsFor(walDir)
      WalSegments.listSegments(walDir).map { p =>
        cache.getOrElseUpdate(p.getName, WalSegments.countFrames(fs, p))
      }.sum
    }
  }

  private val FramesRe = "\"frames\"\\s*:\\s*(\\d+)".r
  private val PlainRe = "^\\s*(\\d+)\\s*$".r

  /** Committed frame count of a CDC source offset (json or plain). */
  def offsetFrames(json: String): Option[Long] =
    Option(json).flatMap(j => FramesRe.findFirstMatchIn(j).map(_.group(1).toLong)
      .orElse(PlainRe.findFirstMatchIn(j).map(_.group(1).toLong)))

  /** Engine, CDC-source and assembler figures of one query's data
    * batches, plus their spans: the trigger, and inside it the
    * latest-offset, planning and addBatch phases Spark reports
    * durations for (placed in Spark's phase order: latestOffset first,
    * addBatch just before the offset commit that ends the trigger).
    * Spans named `inner` (the benchmark's own per-batch code) become
    * children of the addBatch span that contains them. `cdcSource`
    * false: the query reads another source, so no `cdc.*` figures.
    */
  def engine(rec: Rec, obs: Observed, query: String,
      inner: String = "streaming.Engine.handler", cdcSource: Boolean = true): Unit = {
    val batches = obs.progress.dataBatches(query)
    rec.add("engine.batches", batches.size.toLong)
    batches.foreach { case (_, p) =>
      def d(k: String): Option[Long] = Option(p.durationMs.get(k)).map(_.longValue)
      d("triggerExecution").foreach(v => rec.sample("engine.trigger_ms", v.toDouble))
      d("queryPlanning").foreach(v => rec.sample("engine.planning_ms", v.toDouble))
      d("addBatch").foreach(v => rec.sample("engine.add_batch_ms", v.toDouble))
      if (cdcSource) {
        d("latestOffset").foreach(v => rec.sample("cdc.latest_offset_ms", v.toDouble))
        rec.add("cdc.rows_in", p.numInputRows)
      }
      p.stateOperators.foreach { s =>
        rec.sample("assembler.state_rows", s.numRowsTotal.toDouble)
        rec.sample("assembler.state_bytes", s.memoryUsedBytes.toDouble)
        rec.sample("assembler.state_commit_ms", s.commitTimeMs.toDouble)
      }
      val t0 = startUs(p.timestamp)
      val end = t0 + d("triggerExecution").getOrElse(0L) * 1000L
      val root = rec.span("streaming.Engine.trigger", t0, end, -1, p.batchId)
      rec.span("sources.cdc.latestOffset", t0,
        t0 + d("latestOffset").getOrElse(0L) * 1000L, root, p.batchId)
      val addEnd = end - d("commitOffsets").getOrElse(0L) * 1000L
      val addStart = addEnd - d("addBatch").getOrElse(0L) * 1000L
      rec.span("streaming.Engine.addBatch", addStart, addEnd, root, p.batchId)
      rec.span("streaming.Engine.planning",
        addStart - d("queryPlanning").getOrElse(0L) * 1000L, addStart, root, p.batchId)
    }
    if (rec.trace) {
      obs.counts.perBatchJobs.foreach(v => rec.sample("spark.jobs_per_batch", v.toDouble))
      obs.counts.perBatchTasks.foreach(v => rec.sample("spark.tasks_per_batch", v.toDouble))
      rec.set("spark.shuffle_write_bytes", obs.counts.shuffleWriteBytes.get)
    }
    rec.adopt(inner, "streaming.Engine.addBatch")
  }

  /** Backlog sampler: at each data batch's progress report, frames on
    * disk minus the frames the query has committed. Growth means the
    * input rate is not sustainable.
    */
  def sampleBacklog(rec: Rec, obs: Observed, walDir: String): Unit = {
    val onDisk = new FramesOnDisk(walDir)
    obs.progress.hook = p =>
      if (p.numInputRows > 0) p.sources.headOption.flatMap(s => offsetFrames(s.endOffset))
        .foreach(committed => rec.sample("cdc.backlog_frames", (onDisk() - committed).toDouble))
  }

  /** Single-thread `PgOutputDecoder.decode` throughput over `frames`,
    * repeated until at least `minMs` of decoding has been timed.
    */
  def decodeRate(rec: Rec, frames: IndexedSeq[Array[Byte]], minMs: Long = 300L): Unit = {
    if (frames.isEmpty) return
    var n = 0L
    val t0 = System.nanoTime()
    var sink = 0
    while ((System.nanoTime() - t0) < minMs * 1000000L || n < frames.length) {
      frames.foreach { f =>
        sink ^= graft.sources.pgoutput.PgOutputDecoder.decode(f).hashCode
        n += 1
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    rec.set("decode.frames_per_s", n / secs)
    // recorded so the JIT cannot drop the decode calls as dead code
    rec.set("decode.checksum", sink)
  }

  /** Frames of every segment in a WAL directory, in order. */
  def framesOf(walDir: String): IndexedSeq[Array[Byte]] = {
    val (fs, _) = WalSegments.fsFor(walDir)
    WalSegments.listSegments(walDir).flatMap { p =>
      val it = WalSegments.readFrames(fs, p)
      try it.toIndexedSeq finally it.close()
    }.toIndexedSeq
  }

  def segmentCount(walDir: String): Int = WalSegments.listSegments(walDir).size

  def writeSegment(dir: String, idx: Int, frames: Seq[Array[Byte]]): Unit = {
    val (fs, d) = WalSegments.fsFor(dir)
    fs.mkdirs(d)
    WalSegments.write(fs, new Path(d, WalSegments.segmentName(idx)), frames)
  }
}
