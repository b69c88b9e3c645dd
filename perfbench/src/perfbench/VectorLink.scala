package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.operators.ann.KnnGraph
import graft.streaming.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** vector_link: the graph crawl loop `Graft.searchAndLink` at its
  * defaults (k=3, hops=2, beam=8, nSeeds=16). A clustered corpus is
  * bootstrapped in set-up; then fixed-size batches are published one at
  * a time (closed loop) until `--seconds` have been measured, at least
  * `MinTimed`. Recall@3 of the warm-up batch and the first `MinTimed`
  * timed batches is measured against brute force over the vectors linked
  * before each batch.
  */
object VectorLink extends Workload {
  val Dim = 64
  val Corpus = 1500
  val BatchSize = 200
  val MaxBatches = 20
  val MinTimed = 2
  val K = 3
  val QueryName = "graft-search-and-link"

  def digest(a: Args): (String, Map[String, Any]) = {
    val v = Gen.vectors(a.seed, Dim, Corpus, MaxBatches, BatchSize)
    val d = new Gen.Digest
    (v.corpus ++ v.batches.flatten).foreach { x =>
      val bb = java.nio.ByteBuffer.allocate(4 * x.length)
      x.foreach(bb.putFloat)
      d.add(bb.array())
    }
    (d.hex, props(v))
  }

  private def props(v: Gen.Vectors): Map[String, Any] = Map(
    "dim" -> v.dim, "corpus" -> v.corpus.size, "batch_vectors" -> BatchSize,
    "batches_generated" -> v.batches.size, "clusters" -> Gen.Clusters,
    "k" -> K, "hops" -> 2, "beam" -> 8, "n_seeds" -> 16)

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  def run(a: Args, rec: Rec, spark: SparkSession): Unit = {
    import spark.implicits._
    val gen = Gen.vectors(a.seed, Dim, Corpus, MaxBatches, BatchSize)
    rec.set("inputs", props(gen))
    val all: IndexedSeq[Array[Float]] = gen.corpus ++ gen.batches.flatten
    // batch 0 is the corpus (bootstraps the empty store); batch i>0 is
    // generated batch i-1
    val starts = (0 to gen.batches.size).map(i => if (i == 0) 0L else Corpus + (i - 1L) * BatchSize)
    val staging = s"${a.work}/staging"
    val inDir = s"${a.work}/in"
    val indexDir = s"${a.work}/graph"
    val matchesDir = s"${a.work}/matches"
    val rows = all.indices.map { i =>
      val b = if (i < Corpus) 0 else 1 + (i - Corpus) / BatchSize
      (i.toLong, all(i), b)
    }
    rows.toDF("vec_id", "embedding", "b").repartition(col("b"))
      .write.partitionBy("b").parquet(staging)
    val embProvider = spark.read.schema(schema).parquet(s"$staging/b=*")
    new java.io.File(inDir).mkdirs()
    val vecs = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(inDir)

    val obs = new Layers.Observed(spark, a.trace)
    val query =
      if (a.trace) tracedLoop(spark, vecs, indexDir, matchesDir, embProvider, rec)
      else Graft.searchAndLink(vecs, indexDir, matchesDir, embProvider)

    var published = 0
    def step(): Double = {
      val before = obs.progress.dataBatches(QueryName).size
      val t0 = Clock.nowUs
      val src = new java.io.File(s"$staging/b=$published").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath,
        java.nio.file.Paths.get(inDir, f".batch-$published%04d.tmp"))
      java.nio.file.Files.move(java.nio.file.Paths.get(inDir, f".batch-$published%04d.tmp"),
        java.nio.file.Paths.get(inDir, f"batch-$published%04d.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      published += 1
      while (obs.progress.dataBatches(QueryName).size == before) {
        if (!query.isActive) throw new IllegalStateException(
          s"searchAndLink stopped: ${query.exception.map(_.toString).getOrElse("")}")
        obs.progress.awaitChange(50)
      }
      (Clock.nowUs - t0) / 1000.0
    }
    rec.set("setup.query_started_us", Clock.nowUs)
    step() // bootstrap: KnnGraph.build over the corpus
    rec.set("setup.bootstrapped_us", Clock.nowUs)
    step() // warm-up: one search-and-link batch
    rec.set("ready_us", Clock.nowUs)
    obs.progress.clear()
    obs.counts.reset()
    val gc0 = Jvm.gcMs
    val bytes0 = Jvm.duBytes(new java.io.File(indexDir))
    val firstTimed = published
    val t0 = Clock.nowUs
    while (published <= gen.batches.size &&
        (published - firstTimed < MinTimed || Clock.nowUs - t0 < a.seconds * 1000000L))
      rec.sample("batch_ms", step())
    val secs = (Clock.nowUs - t0) / 1e6
    rec.set("jvm.gc_ms", Jvm.gcMs - gc0)
    rec.set("measured_us", Clock.nowUs)
    query.stop()
    val timed = firstTimed until published
    val nVec = timed.size.toLong * BatchSize
    rec.attempted = nVec
    rec.set("batches_timed", timed.size)
    rec.set("throughput_per_s", nVec / secs)
    Layers.engine(rec, obs, QueryName, inner = "operators.ann.batch", cdcSource = false)
    if (a.trace) {
      rec.set("graph.leaves", KnnGraph.leafCount(indexDir))
      rec.set("graph.bytes_written_per_vector",
        (Jvm.duBytes(new java.io.File(indexDir)) - bytes0).toDouble / nVec)
    }

    // outputs: queries x k matches over every searched batch (the
    // warm-up batch too); recall against brute force over the warm-up and
    // the first MinTimed timed batches, a set that does not depend on how
    // many batches the host's speed let run
    val searched = 1 until published
    val lo = starts(searched.head); val hi = starts(published - 1) + BatchSize
    val matches = spark.read.parquet(matchesDir)
      .filter(col("query_id") >= lo && col("query_id") < hi)
      .select(col("query_id"), col("rnk"), col("vec_id")).as[(Long, Int, Long)].collect()
    val wantRows = searched.size.toLong * BatchSize * K
    rec.check("matches row count == queries x k", matches.length == wantRows,
      s"got ${matches.length} want $wantRows")
    if (matches.length != wantRows) rec.failed += math.abs(matches.length - wantRows) / K + 1
    val found = matches.groupBy(_._1).map { case (q, ms) => q -> ms.sortBy(_._2).map(_._3).toSeq }
    val exact = mutable.LinkedHashMap[Long, Seq[Long]]()
    (1 until firstTimed + MinTimed).foreach { b =>
      val base = all.take(starts(b).toInt)
      (starts(b) until starts(b) + BatchSize).foreach { q =>
        exact(q) = Gen.exactTopK(all(q.toInt), base, K)
      }
    }
    rec.set("recall_found", found.map { case (k, v) => k.toString -> v })
    rec.set("recall_exact", exact.map { case (k, v) => k.toString -> v })
    obs.close()
  }

  /** `Graft.searchAndLink`'s per-batch body rebuilt from the public
    * `KnnGraph` calls, with a span around each: the search (materialized,
    * so its span holds the search work) and the two consumers of its
    * result, run concurrently as the library does.
    */
  private def tracedLoop(spark: SparkSession, vecs: DataFrame, indexDir: String,
      matchesDir: String, embProvider: DataFrame, rec: Rec): StreamingQuery = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    vecs.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val t0 = Clock.nowUs
      val root = rec.span("operators.ann.batch", t0, t0, -1, bid)
      val emb = embProvider.unionByName(batch.select(col("vec_id"), col("embedding")))
      if (KnnGraph.leafCount(indexDir) == 0) {
        rec.timed("operators.ann.build", root, bid) {
          val n = batch.count()
          KnnGraph.build(batch, indexDir, f"b$bid%06d",
            nlist = math.max(1L, math.min(256L, n / 64L)).toInt)
        }
      } else {
        val s0 = Clock.nowUs
        val found = KnnGraph.searchForLink(spark, indexDir, emb, batch, 16, 2, 8, K)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        found.count()
        val s1 = Clock.nowUs
        rec.span("operators.ann.searchForLink", s0, s1, root, bid)
        if (bid >= 2) rec.sample("graph.search_ms", (s1 - s0) / 1000.0) // 1 is the warm-up
        try {
          val w = Future(rec.timed("operators.ann.matches_write", root, bid)(
            found.write.mode("append").parquet(matchesDir)))
          val l = Future {
            val l0 = Clock.nowUs
            KnnGraph.linkFound(spark, indexDir, found, f"b$bid%06d", K)
            val l1 = Clock.nowUs
            rec.span("operators.ann.linkFound", l0, l1, root, bid)
            if (bid >= 2) rec.sample("graph.link_ms", (l1 - l0) / 1000.0)
          }
          Await.result(w.zip(l), Duration.Inf)
        } finally { found.unpersist(); () }
      }
      rec.end(root, Clock.nowUs)
    }.queryName(QueryName).start()
  }
}
