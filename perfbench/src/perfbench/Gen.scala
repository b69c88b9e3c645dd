package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.pgoutput._
import graft.sources.pgoutput.WalMessage._

/** Seeded input generators. Every workload's inputs are a pure function
  * of `--seed` (and of fixed sizes below): the same seed gives byte-
  * identical WAL segments, SQL and vectors. Nothing here reads a clock.
  */
object Gen {
  private val Alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  def text(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += Alnum.charAt(r.nextInt(Alnum.length)); i += 1 }
    sb.toString
  }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Running digest of generated bytes (the determinism check). */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(b: Array[Byte]): Unit = md.update(b)
    def add(s: String): Unit = md.update(s.getBytes(UTF_8))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Histogram of transaction sizes, for the run record. */
  def sizeHistogram(sizes: Iterable[Int]): Map[String, Int] = {
    def bucket(n: Int): String =
      if (n == 1) "1" else if (n <= 10) "2-10" else if (n <= 100) "11-100" else ">100"
    sizes.groupBy(bucket).map { case (k, v) => k -> v.size }
  }

  // ---------------------------------------------------------------------
  // live_steady: SQL transactions against three 5-column tables

  /** One generated statement. `prev` is the index of the transaction
    * that last wrote the row before this one (-1: the preloaded row), so
    * a DELETE's old image (which carries that write's due stamp) can be
    * matched to the event that delivers it.
    */
  final case class LiveRow(table: Int, op: Char, id: Long, grp: Int,
      note: String, payload: String, loud: Boolean, prev: Int = -1)
  final case class LiveTxn(idx: Int, rows: IndexedSeq[LiveRow])

  val LiveTables: Seq[String] = Seq("t0", "t1", "t2")

  /** Initial rows per table (so updates and deletes have targets) plus
    * `nTxns` transactions: 90% single-statement (INSERT 40%, UPDATE 45%,
    * DELETE 15%), 10% five statements with the same mix. Ids are never
    * reused, so (table, id, due) names a change uniquely.
    */
  def live(seed: Long, nTxns: Int, initialPerTable: Int)
      : (IndexedSeq[LiveRow], IndexedSeq[LiveTxn]) = {
    val r = new SplittableRandom(seed * 31 + 1)
    val alive = IndexedSeq.fill(3)(mutable.ArrayBuffer[Long]())
    val grp = IndexedSeq.fill(3)(mutable.HashMap[Long, Int]())
    val lastWrite = IndexedSeq.fill(3)(mutable.HashMap[Long, Int]())
    val nextId = Array.fill(3)(0L)
    def insert(t: Int, txn: Int): LiveRow = {
      val id = nextId(t); nextId(t) += 1; alive(t) += id
      val g = r.nextInt(4)
      grp(t)(id) = g; lastWrite(t)(id) = txn
      LiveRow(t, 'I', id, g, text(r, 12), text(r, 100), loud = true)
    }
    val initial = for (t <- 0 until 3; _ <- 0 until initialPerTable) yield insert(t, -1)
    def row(txn: Int): LiveRow = {
      val t = r.nextInt(3)
      val p = r.nextInt(100)
      if (p < 40 || alive(t).size < 8) insert(t, txn)
      else if (p < 85) {
        val id = alive(t)(r.nextInt(alive(t).size))
        val loud = r.nextBoolean()
        val prev = lastWrite(t)(id)
        lastWrite(t)(id) = txn
        LiveRow(t, 'U', id, grp(t)(id), text(r, 12), if (loud) text(r, 100) else "",
          loud, prev)
      } else {
        // the id leaves `alive` at once, so no later statement (in this
        // transaction or after) touches a deleted row
        val i = r.nextInt(alive(t).size)
        val id = alive(t)(i)
        alive(t)(i) = alive(t).last; alive(t).remove(alive(t).size - 1)
        LiveRow(t, 'D', id, grp(t)(id), "", "", loud = false, lastWrite(t)(id))
      }
    }
    // exactly one transaction in every ten has five statements, at a
    // seeded position, so every run offers the same number of changes
    var fivePos = r.nextInt(10)
    val txns = (0 until nTxns).map { i =>
      if (i % 10 == 0) fivePos = r.nextInt(10)
      val n = if (i % 10 == fivePos) 5 else 1
      LiveTxn(i, IndexedSeq.fill(n)(row(i)))
    }
    (initial, txns)
  }

  // ---------------------------------------------------------------------
  // replay_backlog and replica_upsert: pgoutput frames written as WAL
  // segments by PgOutputEncoder

  /** 12-column replay table shape (name, type oid). */
  val ReplayCols: IndexedSeq[(String, Int)] = IndexedSeq(
    "id" -> 20, "qty" -> 23, "payload" -> 25, "price" -> 1700,
    "ts" -> 1184, "flag" -> 16, "doc" -> 114, "note" -> 25,
    "grp" -> 23, "amount" -> 1700, "updated_at" -> 1184, "tag" -> 1043)
  val ReplayTables: Seq[String] = Seq("r0", "r1", "r2")
  /** Fields an UPDATE may change without waking the filtered handler. */
  val ReplayUnwatched: Seq[String] = Seq("note", "updated_at")

  def relation(id: Int, name: String, cols: Seq[(String, Int)]): Relation =
    Relation(id, "public", name, ReplicaIdentity.AllColumns,
      cols.map { case (n, oid) => RelationColumn(key = n == "id", n, oid, -1) })

  private val Epoch = Instant.parse("2026-01-01T00:00:00Z")

  private def tsText(us: Long): String = {
    val i = Epoch.plusNanos(us * 1000L)
    val s = i.toString // 2026-01-01T00:00:00.123456Z
    s.replace('T', ' ').replace("Z", "+00")
  }

  private def cells(v: IndexedSeq[String]): IndexedSeq[Cell] =
    v.map(x => if (x == null) Cell.Null else Cell.Text(x))

  /** Splits committed transactions into segments the way the live tailer
    * does: rotate after a Commit once `framesPerSegment` frames are
    * buffered, replaying the relation frames at each segment head.
    */
  final class SegmentBuilder(header: Seq[Array[Byte]], framesPerSegment: Int) {
    val segments = mutable.ArrayBuffer[IndexedSeq[Array[Byte]]]()
    private var cur = mutable.ArrayBuffer[Array[Byte]]()
    var frames = 0L
    var bytes = 0L
    def txn(msgs: Seq[WalMessage]): Unit = {
      msgs.foreach { m =>
        val b = PgOutputEncoder.encode(m)
        cur += b; frames += 1; bytes += b.length
      }
      if (cur.length >= framesPerSegment) cut()
    }
    def cut(): Unit = if (cur.nonEmpty) {
      segments += (header ++ cur).toIndexedSeq
      cur = mutable.ArrayBuffer[Array[Byte]]()
    }
    def result(): IndexedSeq[IndexedSeq[Array[Byte]]] = { cut(); segments.toIndexedSeq }
  }

  final case class Backlog(
      segments: IndexedSeq[IndexedSeq[Array[Byte]]],
      changes: Long, txns: Long, frames: Long, bytes: Long,
      expected: Map[String, Long], txnSizes: Map[String, Int])

  /** Replay backlog: `nChanges` changes over three 12-column tables in
    * transactions of 1 row (70%), 2-10 rows (25%) or 200 rows (5%).
    * Expected per-handler counts are derived here, from what was
    * generated: every change for the catch-all handler; updates that
    * change a watched field; deletes whose `grp` is not "0".
    */
  def replay(seed: Long, nChanges: Int, framesPerSegment: Int = 4096): Backlog = {
    val r = new SplittableRandom(seed * 31 + 2)
    val rels = ReplayTables.zipWithIndex.map { case (t, i) => relation(17001 + i, t, ReplayCols) }
    val sb = new SegmentBuilder(rels.map(PgOutputEncoder.encode), framesPerSegment)
    val rows = IndexedSeq.fill(3)(mutable.HashMap[Long, IndexedSeq[String]]())
    val alive = IndexedSeq.fill(3)(mutable.ArrayBuffer[Long]())
    val nextId = Array.fill(3)(0L)
    var clockUs = 0L
    def image(id: Long, version: Int): IndexedSeq[String] = IndexedSeq(
      id.toString, r.nextInt(1000).toString, text(r, 100),
      f"${r.nextInt(100000) / 100.0}%.2f", tsText(clockUs), if (r.nextBoolean()) "t" else "f",
      s"""{"k":${r.nextInt(50)},"v":"${text(r, 8)}","n":$version}""",
      text(r, 12), r.nextInt(4).toString, f"${r.nextInt(1000000) / 100.0}%.2f",
      tsText(clockUs), text(r, 6))
    var changes = 0; var xid = 0L; var updWatched = 0L; var delWatched = 0L
    val sizes = mutable.ArrayBuffer[Int]()
    while (changes < nChanges) {
      val p = r.nextInt(100)
      val size = math.min(nChanges - changes,
        if (p < 70) 1 else if (p < 95) 2 + r.nextInt(9) else 200)
      xid += 1
      clockUs += 1000
      val lsn = Lsn.fromLong((xid + 1L) << 16)
      val ts = Epoch.plusNanos(clockUs * 1000L)
      val body = (0 until size).map { _ =>
        val t = r.nextInt(3)
        val q = r.nextInt(100)
        val rel = rels(t).id
        if (alive(t).size < 16 || q < 50) {
          val id = nextId(t); nextId(t) += 1
          val img = image(id, 0)
          rows(t)(id) = img; alive(t) += id
          Insert(rel, cells(img))
        } else if (q < 85) {
          val id = alive(t)(r.nextInt(alive(t).size))
          val old = rows(t)(id)
          val loud = r.nextBoolean()
          val fresh = image(id, old(6).length)
          val nu =
            if (loud) fresh.updated(4, old(4))
            else old.updated(7, fresh(7)).updated(10, fresh(10))
          if (loud) updWatched += 1
          rows(t)(id) = nu
          Update(rel, Some('O'), Some(cells(old)), cells(nu))
        } else {
          val i = r.nextInt(alive(t).size)
          val id = alive(t)(i)
          alive(t)(i) = alive(t).last; alive(t).remove(alive(t).size - 1)
          val old = rows(t).remove(id).get
          if (old(8) != "0") delWatched += 1
          Delete(rel, 'O', cells(old))
        }
      }
      sb.txn(Begin(lsn, ts, xid) +: body :+ Commit(0, lsn, Lsn.fromLong(lsn.toLong + 56), ts))
      sizes += size
      changes += size
    }
    val segs = sb.result()
    Backlog(segs, changes, xid, sb.frames, sb.bytes,
      Map("all" -> changes.toLong, "update_watched" -> updWatched,
        "delete_watched" -> delWatched),
      sizeHistogram(sizes))
  }

  // ---- replica_upsert ----

  val ReplicaCols: IndexedSeq[(String, Int)] =
    IndexedSeq("id" -> 20, "grp" -> 23, "payload" -> 25)

  /** Preloaded payload of key `id`: 150 hex characters of SHA-256 over
    * "seed:id". The final-state check rebuilds the preload's image from it.
    */
  def replicaPayload(seed: Long, id: Long): String = {
    val h = sha256Hex(s"$seed:$id")
    (h + h + h).substring(0, 150)
  }

  final case class ReplicaBatches(
      segments: IndexedSeq[IndexedSeq[Array[Byte]]],
      /** per batch: key → final image after that batch (None = deleted) */
      images: IndexedSeq[Map[Long, Option[(Int, String)]]],
      changes: Long, bytes: Long, inserts: Long, updates: Long, deletes: Long)

  /** A preload segment, then `nBatches` batches of `batchSize`
    * single-change transactions: 80% update of a uniform live key, 10%
    * insert of a new key, 10% delete of a uniform live key. Each batch is
    * one WAL segment. The preload inserts keys 0 until `keys`, 100 to a
    * transaction, with the images `replicaPayload` gives; its entry in
    * `images` is empty and it is not counted in `changes`.
    */
  def replica(seed: Long, keys: Long, nBatches: Int, batchSize: Int): ReplicaBatches = {
    val r = new SplittableRandom(seed * 31 + 3)
    val rel = relation(18001, "r", ReplicaCols)
    val header = Seq(PgOutputEncoder.encode(rel))
    val alive = mutable.ArrayBuffer.range(0L, keys)
    val current = mutable.HashMap[Long, (Int, String)]()
    def imageOf(id: Long): (Int, String) =
      current.getOrElse(id, ((id % 4).toInt, replicaPayload(seed, id)))
    var nextId = keys
    var xid = 0L
    var ins = 0L; var upd = 0L; var del = 0L; var bytes = 0L
    val segs = mutable.ArrayBuffer[IndexedSeq[Array[Byte]]]()
    val images = mutable.ArrayBuffer[Map[Long, Option[(Int, String)]]]()
    val touched = mutable.LinkedHashMap[Long, Option[(Int, String)]]()
    def commitLsn(lsn: Lsn) = Lsn.fromLong(lsn.toLong + 56)
    val preload = mutable.ArrayBuffer[Array[Byte]]()
    preload ++= header
    (0L until keys).grouped(100).foreach { ids =>
      xid += 1
      val lsn = Lsn.fromLong((xid + 1L) << 16)
      val ts = Epoch.plusNanos(xid * 1000000L)
      (Begin(lsn, ts, xid) +: ids.map { id =>
        val (g, p) = imageOf(id)
        Insert(rel.id, cells(IndexedSeq(id.toString, g.toString, p)))
      } :+ Commit(0, lsn, commitLsn(lsn), ts)).foreach(m => preload += PgOutputEncoder.encode(m))
    }
    segs += preload.toIndexedSeq
    images += Map.empty
    for (_ <- 0 until nBatches) {
      val frames = mutable.ArrayBuffer[Array[Byte]]()
      frames ++= header
      for (_ <- 0 until batchSize) {
        xid += 1
        val lsn = Lsn.fromLong((xid + 1L) << 16)
        val ts = Epoch.plusNanos(xid * 1000000L)
        val p = r.nextInt(100)
        val change: WalMessage =
          if (p < 10) {
            val id = nextId; nextId += 1
            val img = (r.nextInt(4), text(r, 150))
            alive += id; current(id) = img; touched(id) = Some(img); ins += 1
            Insert(rel.id, cells(IndexedSeq(id.toString, img._1.toString, img._2)))
          } else if (p < 90) {
            val id = alive(r.nextInt(alive.size))
            val old = imageOf(id)
            val img = (old._1, text(r, 150))
            current(id) = img; touched(id) = Some(img); upd += 1
            Update(rel.id, Some('O'),
              Some(cells(IndexedSeq(id.toString, old._1.toString, old._2))),
              cells(IndexedSeq(id.toString, img._1.toString, img._2)))
          } else {
            val i = r.nextInt(alive.size)
            val id = alive(i)
            alive(i) = alive.last; alive.remove(alive.size - 1)
            val old = imageOf(id)
            current.remove(id); touched(id) = None; del += 1
            Delete(rel.id, 'O', cells(IndexedSeq(id.toString, old._1.toString, old._2)))
          }
        Seq(Begin(lsn, ts, xid), change, Commit(0, lsn, commitLsn(lsn), ts))
          .foreach { m => val b = PgOutputEncoder.encode(m); frames += b; bytes += b.length }
      }
      segs += frames.toIndexedSeq
      images += touched.toMap
    }
    ReplicaBatches(segs.toIndexedSeq, images.toIndexedSeq,
      nBatches.toLong * batchSize, bytes, ins, upd, del)
  }

  // ---------------------------------------------------------------------
  // vector_link: clustered unit-ish vectors

  final case class Vectors(dim: Int, corpus: IndexedSeq[Array[Float]],
      batches: IndexedSeq[IndexedSeq[Array[Float]]])

  val Clusters = 16

  /** `corpus` vectors plus `nBatches` batches of `batchSize`, drawn from
    * `Clusters` Gaussian clusters in `dim` dimensions. Ids are positional:
    * corpus 0..corpus-1, then batch after batch.
    */
  def vectors(seed: Long, dim: Int, corpus: Int, nBatches: Int, batchSize: Int): Vectors = {
    val r = new SplittableRandom(seed * 31 + 4)
    def gauss(): Double = {
      // Box-Muller from the splittable stream (java.util.Random's
      // nextGaussian would need a second generator)
      val u1 = math.max(r.nextDouble(), 1e-12); val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centers = IndexedSeq.fill(Clusters)(Array.fill(dim)(gauss()))
    def vec(c: Array[Double]): Array[Float] =
      Array.tabulate(dim)(i => (c(i) + 0.35 * gauss()).toFloat)
    // the corpus interleaves the clusters (id i belongs to cluster
    // i mod Clusters), so the graph's hub seeds, its smallest ids, cover
    // every cluster whatever the seed; arrivals pick clusters at random
    Vectors(dim, IndexedSeq.tabulate(corpus)(i => vec(centers(i % Clusters))),
      IndexedSeq.fill(nBatches)(IndexedSeq.fill(batchSize)(vec(centers(r.nextInt(Clusters))))))
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine among `base` (id = index). Ties break on
    * the smaller id.
    */
  def exactTopK(q: Array[Float], base: IndexedSeq[Array[Float]], k: Int): Seq[Long] = {
    val heap = mutable.PriorityQueue[(Double, Long)]()(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long.reverse).reverse)
    var i = 0
    while (i < base.length) {
      val s = cosine(q, base(i))
      heap.enqueue((s, i.toLong))
      if (heap.size > k) heap.dequeue()
      i += 1
    }
    heap.toSeq.sortBy { case (s, id) => (-s, id) }.map(_._2)
  }
}
