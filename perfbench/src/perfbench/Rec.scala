package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch microseconds, monotone within the process: one
  * epoch anchor plus `nanoTime` deltas, so due times, poll times and
  * handler times are all on the same clock.
  */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
  def sleepUntilUs(t: Long): Unit = {
    var left = t - nowUs
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left * 1000L)
      left = t - nowUs
    }
  }
}

/** One span: a timed call into a layer. `parent` is the index of the
  * enclosing span (-1 for a root) and `runId` groups the spans of one
  * change or one micro-batch.
  */
final case class Span(name: String, startUs: Long, endUs: Long, parent: Int, runId: Long)

/** Everything one run measures, kept in memory and written as one JSON
  * document when the run ends. Statistics are computed from this raw
  * record by `stats.py`, so the JVM only collects.
  */
final class Rec(val trace: Boolean) {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val values = mutable.LinkedHashMap[String, Any]()
  private val spanBuf = mutable.ArrayBuffer[Span]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  }
  def set(name: String, v: Any): Unit = synchronized { values(name) = v }
  def add(name: String, v: Long): Unit = synchronized {
    values(name) = values.getOrElse(name, 0L).asInstanceOf[Long] + v
  }
  def get(name: String): Option[Any] = synchronized { values.get(name) }

  /** Record a span; returns its index so children can name it. A no-op
    * returning -1 when tracing is off.
    */
  def span(name: String, startUs: Long, endUs: Long, parent: Int = -1,
      runId: Long = -1L): Int = synchronized {
    if (!trace) -1
    else { spanBuf += Span(name, startUs, endUs, parent, runId); spanBuf.length - 1 }
  }

  /** Set the end of a span opened with `span(name, t, t, ...)`. */
  def end(idx: Int, endUs: Long): Unit = synchronized {
    if (idx >= 0) spanBuf(idx) = spanBuf(idx).copy(endUs = endUs)
  }

  /** Time `body` as a span (only recorded when tracing). */
  def timed[A](name: String, parent: Int = -1, runId: Long = -1L)(body: => A): A = {
    val t0 = Clock.nowUs
    try body finally span(name, t0, Clock.nowUs, parent, runId)
  }

  /** Give every parentless `child` span the `parent` span that contains
    * it in time (spans recorded on different threads, e.g. handler
    * bodies inside a micro-batch, learn their parent after the fact).
    */
  def adopt(child: String, parent: String): Unit = synchronized {
    val parents = spanBuf.indices.filter(i => spanBuf(i).name == parent)
      .sortBy(i => spanBuf(i).startUs)
    spanBuf.indices.foreach { i =>
      val s = spanBuf(i)
      if (s.name == child && s.parent < 0)
        parents.find(j => spanBuf(j).startUs <= s.startUs && s.endUs <= spanBuf(j).endUs + 1000)
          .foreach(j => spanBuf(i) = s.copy(parent = j, runId = spanBuf(j).runId))
    }
  }

  def check(name: String, ok: Boolean, detail: String): Unit = synchronized {
    checks += ((name, ok, detail))
  }

  def toJson(extra: Map[String, Any]): String = synchronized {
    val spans = spanBuf.map(s => Seq(s.name, s.startUs, s.endUs, s.parent, s.runId))
    Json.write(extra ++ Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> values.toMap,
      "spans" -> spans.toSeq))
  }
}

/** JSON for the raw record (jackson with its Scala module, from Spark's
  * jars): maps, sequences, strings, numbers, booleans and options.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Collects `StreamingQueryProgress` events (Spark's public per-trigger
  * report: durations, input rows, state operators, source offsets).
  */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  private val lock = new Object
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  /** Runs on the listener thread for every report, before it is logged. */
  @volatile var hook: StreamingQueryProgress => Unit = _ => ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    hook(e.progress)
    events.add((Clock.nowUs, e.progress))
    lock.synchronized(lock.notifyAll())
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    lock.synchronized(lock.notifyAll())
  def all: Seq[(Long, StreamingQueryProgress)] = events.asScala.toSeq
  /** Progress reports that carried data, for one query name. */
  def dataBatches(query: String): Seq[(Long, StreamingQueryProgress)] =
    all.filter { case (_, p) => p.name == query && p.numInputRows > 0 }
  def awaitChange(ms: Long): Unit = lock.synchronized(lock.wait(ms))
  def clear(): Unit = events.clear()
}

/** Counts Spark jobs, tasks and shuffle bytes (a `SparkListener`, Spark's
  * public scheduler hook). Jobs carry the micro-batch id as a local
  * property, so counts attribute to batches exactly.
  */
final class SparkCounts extends SparkListener {
  val shuffleWriteBytes = new AtomicLong
  private val jobsByBatch = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val tasksByBatch = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private def key(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")).map(b =>
      Option(p.getProperty("sql.streaming.queryId")).getOrElse("") + "/" + b))
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    key(e.properties).foreach { k =>
      jobsByBatch.computeIfAbsent(k, _ => new AtomicLong).incrementAndGet()
      e.stageIds.foreach(s => stageBatch.put(s, k))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageBatch.get(e.stageId)).foreach(k =>
      tasksByBatch.computeIfAbsent(k, _ => new AtomicLong).incrementAndGet())
    Option(e.taskMetrics).foreach(m =>
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
  }
  def perBatchJobs: Seq[Long] = jobsByBatch.values.asScala.map(_.get).toSeq
  def perBatchTasks: Seq[Long] = tasksByBatch.values.asScala.map(_.get).toSeq
  def reset(): Unit = {
    shuffleWriteBytes.set(0)
    jobsByBatch.clear(); tasksByBatch.clear(); stageBatch.clear()
  }
}

object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  def duBytes(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(duBytes).sum).getOrElse(0L)
}

object Sessions {
  def spark(cpus: Int): SparkSession = {
    val s = graft.GraftSession.local(cpus.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
