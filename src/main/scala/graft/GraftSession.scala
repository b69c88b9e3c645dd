package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + testdata table loaders.
  *
  * Scale posture (local[`cpus`] here, a cluster in production):
  *  - AQE on: runtime re-plan handles skew joins and shuffle coalescing.
  *  - shuffle.partitions=32 is a fixed batch width, whatever `cpus` is
  *    (the default master is local[8]); AQE coalesces batch shuffles
  *    below it. Stateful streaming operators are never coalesced, so the
  *    Graft facade starts its queries at min(32, defaultParallelism)
  *    state partitions. On a real cluster the batch width is 2-3× total
  *    cores (or left to AQE's coalescing with a high initial).
  *  - All testdata reads are parquet with pushdown/pruning left to Catalyst:
  *    operators must keep filters/projections declarative so they reach the
  *    scan (checked via .explain in BenchSpec/Inspect).
  */
object GraftSession {

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")): SparkSession = {
    // withExtensions wires the 17 native SQL functions + the index-store
    // TVFs at build time; getOrCreate on an EXISTING session skips it —
    // GraftExtensions.registerIndexTableFunctions covers that lane
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bounded-fixture state width for the query pack's streaming lanes
    * (see QueryPack.withStreamShuffle's scaladoc for the sizing
    * rationale and measurements): scopes `spark.sql.shuffle.partitions`
    * to a streaming START call and restores it after — the
    * StreamingQueryManager clones the session synchronously inside
    * start(), so only that query pins the scoped width.
    * `SPARK_GRAFT_STREAM_SHUFFLE` overrides; ≤ 0 leaves the session
    * value untouched.
    */
  private val streamShuffle: Int =
    sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE").map(_.trim.toInt).getOrElse(8)

  private[graft] def withStreamShuffle[A](spark: SparkSession)(body: => A): A =
    if (streamShuffle <= 0) body
    else {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, streamShuffle.toString)
      try body finally spark.conf.set(key, prev)
    }

  /** Await a bounded streaming query and FAIL LOUDLY on timeout:
    * `awaitTermination(ms)` returning false means the query is still
    * running — a caller that ignores the boolean and reads its output
    * directory gets a silently PARTIAL result. Every bounded
    * (AvailableNow) lane in the library awaits through here: on timeout
    * the query is stopped and the lane throws instead of returning
    * truncated data.
    */
  private[graft] def awaitFinished(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long = 600000L): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      try q.stop()
      catch { case _: Exception => () }
      throw new IllegalStateException(
        s"streaming query '${q.name}' did not finish within ${timeoutMs} ms" +
          " — refusing to read a partial output")
    }

  /** BOUNDED persist: pin `df` (MEMORY_AND_DISK) and enroll it in a
    * fixed-size FIFO of session pins — when the registry exceeds its
    * bound the OLDEST pin is released (non-blocking unpersist; an
    * in-flight plan that still referenced it just recomputes, never
    * misreads). This is the lifecycle for pins whose consumers the
    * library cannot see the end of: a screen's shingle frame and a
    * mismatch audit's kept lane both feed the CALLER's terminal
    * action(s) — and consumers legitimately run several actions over
    * the same returned plan (Verify counts, then collects rows for
    * hashing), so releasing on "first action referencing the pin"
    * would silently re-execute the lane per action, the exact
    * recompute the pin exists to prevent. A hard bound keeps the
    * guarantee that matters instead: a long-lived session that screens
    * or audits forever holds O(bound) cache entries, not O(calls) —
    * previously these pins leaked until clearCache(). The bound is
    * sized ≫ any one query's simultaneous pins (the widest audit pins
    * 6 lanes + 2 screen frames with 4-way overlap).
    */
  private val pinBound: Int =
    sys.env.get("SPARK_GRAFT_PIN_BOUND").flatMap(_.trim.toIntOption)
      .filter(_ >= 1).getOrElse(24)
  private val pinQueue =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private[graft] def pinBounded(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinQueue.add(df)
    while (pinQueue.size > pinBound) {
      val old = pinQueue.poll()
      if (old != null) {
        try { old.unpersist(blocking = false); () }
        catch { case _: Exception => () }
      }
    }
    df
  }

  /** Run INDEPENDENT Spark actions concurrently (optimization guide
    * §2.6 — overlap independent jobs: actions are only sequential
    * because driver code calls them sequentially, and each small job's
    * tail leaves most executors idle; a few jobs in flight back-fill
    * them). Callers must pass thunks with NO mutual data or store
    * dependency — disjoint store directories, pre-materialized shared
    * inputs (a shared `cache()` is safe: CacheManager locks per
    * partition). Results keep thunk order. Every thunk SETTLES before
    * the first failure propagates — cancelling mid-flight store commits
    * would strand torn leaves for every sibling, and the manifest
    * discipline only guarantees crash-residue cleanup per store.
    * Parallelism is bounded (2-3 jobs in flight is plenty to fill a
    * tail; more just contend for the scheduler).
    */
  private[graft] def concurrently[A](thunks: Seq[() => A],
      maxPar: Int = 4): Seq[A] = {
    // DEADLOCK GUARD (measured, not theoretical): the maintenance TVFs
    // are effectful at PLAN time — the analyzer invokes them INSIDE
    // SessionCatalog.lookupFunction, i.e. while this thread HOLDS the
    // catalog monitor. Worker threads then can't analyze their own
    // plans (analysis takes the same monitor) and the caller waits on
    // their futures forever — a thread dump of the hang shows exactly
    // this cycle. When the calling thread already holds the catalog
    // lock, run in-thread instead: sequential under the analyzer is
    // the price of plan-time effects, a hang is not.
    // …and the guard must look past the ACTIVE session: foreachBatch
    // hands callers a CLONED session whose catalog is a different
    // monitor, so a caller holding the default session's catalog (or a
    // clone's, reachable as the active one inside the batch) would
    // otherwise bypass the check.
    val underCatalogLock =
      (org.apache.spark.sql.SparkSession.getActiveSession.toSeq ++
        org.apache.spark.sql.SparkSession.getDefaultSession.toSeq)
        .exists(s => Thread.holdsLock(s.sessionState.catalog))
    if (thunks.lengthCompare(1) <= 0 || underCatalogLock) thunks.map(_())
    else {
      // named daemon threads: nested use (pipe14 overlaps overlapped
      // boots) spawns several pools, and a hang thread-dump should read
      // "graft-concurrently-…", not pool-7-thread-2; daemon so a torn
      // run never blocks JVM exit on an orphaned worker
      val seq = new java.util.concurrent.atomic.AtomicInteger()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxPar, thunks.size),
        (r: Runnable) => {
          val t = new Thread(r, s"graft-concurrently-${seq.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      try {
        val futs = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[A] {
            def call(): A = t()
          })
        }
        val results = futs.map(f => scala.util.Try(f.get()))
        results.foreach {
          case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
            throw e.getCause
          case scala.util.Failure(e) => throw e
          case _ => ()
        }
        results.map(_.get)
      } finally { pool.shutdown(); () }
    }
  }

  /** Confs any externally-provided session needs before touching testdata.
    * The legacy flag only matters for TIMESTAMP(NANOS) testdata vintages
    * (read as LongType behind it); current vintages ship MICROS — see
    * [[Tables.eventTsMs]] — and ignore it. Kept so either vintage reads.
    */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }
}

/** Loaders for the driver-generated testdata tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema cache: `spark.read.parquet` without an explicit schema
    * submits footer-inference jobs on EVERY call, so a query constructor
    * referencing n tables pays 2n tiny jobs just to build its plan. Caching
    * the StructType per path keeps constructors lazy (zero jobs once a
    * path's schema is known) and trims hundreds of no-op jobs off a
    * Verify/Bench run. Keyed by full path; testdata schemas are immutable.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    GraftSession.prepare(spark)
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Drop cached inferred schemas — one path, or all. The cache is keyed
    * by path and never expires (testdata is immutable), so a session that
    * REWRITES a fixture directory with a different schema in the same JVM
    * must invalidate here or [[load]] serves the stale footer schema
    * (null columns / analysis errors).
    */
  def invalidateSchemaCache(path: Option[String] = None): Unit = path match {
    case Some(p) => schemaCache.remove(p); ()
    case None    => schemaCache.clear()
  }

  def lineitem(spark: SparkSession, d: String): DataFrame   = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame     = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame   = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame   = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame       = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame     = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame     = load(spark, d, "region")
  /** NOTE: `ts` has shipped as parquet TIMESTAMP(NANOS) (read as LongType
    * nanos under the legacy flag, see GraftSession.prepare) and as
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) across testdata vintages —
    * consume it through [[eventTsMs]], never raw.
    */
  def events(spark: SparkSession, d: String): DataFrame     = load(spark, d, "events")

  /** Millisecond epoch of the events table's `ts`, exact under every
    * testdata vintage: nanos-as-long divides down in integer math;
    * timestamp micros go through unix_millis (NTZ cast is identity under
    * the session's pinned UTC zone). Both truncate toward negative
    * infinity on the sub-ms tail, matching DuckDB's epoch_ms.
    */
  def eventTsMs(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, unix_millis}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => expr("ts DIV 1000000")
      case TimestampNTZType => unix_millis(col("ts").cast("timestamp"))
      case TimestampType    => unix_millis(col("ts"))
      case t => throw new IllegalArgumentException(
        s"events.ts arrived as unsupported type $t")
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame  = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Register all tables as temp views (for spark.sql surfaces / Inspect). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))

  /** Spread a compute-bound scan across the cluster when the file layout
    * under-splits it (the testdata is single-row-group parquet — an
    * unsplittable scan that would pin per-row-heavy operators like
    * shingling/minhash/cosine to ONE core). No-op when the scan already
    * yields enough partitions — the 100 TB case, where thousands of
    * row groups split naturally and an extra shuffle would be pure cost.
    * Only use under operators whose per-row compute dominates the scan.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Scratch directory removed recursively at JVM exit. The self-recall
    * harness lanes (dd13/ann06-09/cdc25) build one throwaway index/state
    * dir per invocation; a long-lived driver running them repeatedly
    * (bench passes, notebooks) would otherwise accumulate them in /tmp.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  // ONE hook draining the queue, registered lazily on first use — a
  // long-lived driver allocating scratch dirs in a loop holds O(1)
  // hook threads, not one per dir
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      var p = scratchDirs.poll()
      while (p != null) { rm(p.toFile); p = scratchDirs.poll() }
    }))
  }

  private[graft] def scratchDir(prefix: String): String = {
    scratchHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }
}
