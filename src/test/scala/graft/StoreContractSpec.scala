package graft

import graft.operators.ann.{KnnGraph, PqIndex}
import graft.operators.dedup.Dedup
import graft.operators.multimodal.Multimodal
import graft.operators.store.IndexManifest
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tagged-leaf store contract, one script over every index store
  * kind (dedup, aHash hash, aHash chunk, PQ, graph): two appends, a
  * torn-residue replay, a delete, compact, regroup where the family has
  * it, a merge of two stores, a replay of every tag, and retention
  * sweeps. Each step asserts the shared invariants: a commit is
  * version + 1, a replay is a no-op that adds no rows, committed rows
  * carry no duplicates, replace commits retire the tags they fold,
  * regroup records its dial and refuses old-dial appends, a delete
  * batch is one file of distinct ids, and once `retain` + 1 commits
  * have landed no unreferenced leaf at or below the head remains.
  */
class StoreContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One store kind under test: its data relation directories and the
    * family's public entry points over a set of ids.
    */
  private case class Kind(name: String, rels: Seq[String],
      create: (String, Seq[Long]) => Unit,
      append: (String, Seq[Long], String, Int) => Unit,
      delete: (String, Seq[Long], String) => Unit,
      compact: (String, String) => Unit,
      regroup: Option[(String, Int, String) => Unit],
      merge: (Seq[String], String, String) => Unit)

  private def ids(xs: Seq[Long], col: String): DataFrame = {
    import spark.implicits._
    xs.toDF(col)
  }

  private def docs(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.map(i => (i, s"store contract document $i says " +
      (0 until 6).map(w => s"w${i * 7 + w}").mkString(" "))).toDF("doc_id", "text")
  }

  private def hashes(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.map(i => (i, i * 1000003L % 97L, i * 7919L % 89L))
      .toDF("media_id", "ahash_hi", "ahash_lo")
  }

  private def emb(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.map(i => (i, (0 until 8).map(d =>
        (((i * 31 + d * 17) % 13) - 6).toFloat).toArray))
      .toDF("vec_id", "embedding")
  }

  private val kinds = Seq(
    Kind("dedup", Seq("sets", "bands"),
      (d, xs) => Dedup.dedupIndexAppend(docs(xs), d, "a0"),
      (d, xs, t, g) => Dedup.dedupIndexAppend(docs(xs), d, t, groups = g),
      (d, xs, t) => Dedup.dedupIndexDelete(spark, d, ids(xs, "doc_id"), t),
      (d, t) => Dedup.compactDedupIndex(spark, d, t),
      Some((d, g, t) => Dedup.regroupDedupIndex(spark, d, g, t)),
      (srcs, d, t) => Dedup.mergeDedupIndexes(spark, srcs, d, t)),
    Kind("ahash", Seq("hashes"),
      (d, xs) => Multimodal.ahashIndexAppend(hashes(xs), d, "a0"),
      (d, xs, t, g) => Multimodal.ahashIndexAppend(hashes(xs), d, t, g),
      (d, xs, t) => Multimodal.ahashIndexDelete(spark, d, ids(xs, "media_id"), t),
      (d, t) => Multimodal.compactAhashIndex(spark, d, t),
      Some((d, g, t) => Multimodal.regroupAhashIndex(spark, d, g, t)),
      (srcs, d, t) => Multimodal.mergeAhashIndexes(spark, srcs, d, t)),
    Kind("chunk", Seq("chunks"),
      (d, xs) => Multimodal.ahashChunkIndexAppend(hashes(xs), d, "a0"),
      (d, xs, t, g) => Multimodal.ahashChunkIndexAppend(hashes(xs), d, t, g),
      (d, xs, t) =>
        Multimodal.ahashChunkIndexDelete(spark, d, ids(xs, "media_id"), t),
      (d, t) => Multimodal.compactAhashChunkIndex(spark, d, t),
      Some((d, g, t) => Multimodal.regroupAhashChunkIndex(spark, d, g, t)),
      (srcs, d, t) => Multimodal.mergeAhashChunkIndexes(spark, srcs, d, t)),
    // PQ's first commit is its build; shards of one template merge
    Kind("pq", Seq("codes"),
      (d, xs) => { PqIndex.build(emb(xs), d, m = 2, ksub = 4, dim = 8,
        refineIters = 0, ncells = 2); () },
      (d, xs, t, _) => { PqIndex.append(spark, d, emb(xs), Some(t)); () },
      (d, xs, t) => { PqIndex.delete(spark, d, ids(xs, "vec_id"), Some(t)); () },
      (d, t) => { PqIndex.compact(spark, d, Some(t)); () },
      None,
      (srcs, d, t) => { PqIndex.merge(spark, srcs, d, t); () }),
    Kind("graph", Seq("edges"),
      (d, xs) => KnnGraph.build(emb(xs), d, "a0", nlist = 2),
      (d, xs, t, g) => KnnGraph.build(emb(xs), d, t, nlist = 2, groups = g),
      (d, xs, t) => KnnGraph.delete(spark, d, ids(xs, "vec_id"), t),
      (d, t) => KnnGraph.compact(spark, d, t),
      Some((d, g, t) => KnnGraph.regroup(spark, d, g, t)),
      (srcs, d, t) => KnnGraph.merge(spark, srcs, d, t)))

  private def head(dir: String): IndexManifest.Meta =
    IndexManifest.readMeta(dir).get

  private def version(dir: String): Long = head(dir).version

  /** The committed rows of a relation, `leaf` dropped. */
  private def committed(dir: String, rel: String): DataFrame = {
    val m = head(dir)
    spark.read.parquet(s"$dir/$rel").filter(col("leaf").isin(m.leaves: _*))
      .drop("leaf")
  }

  private def assertNoDuplicates(k: Kind, dir: String): Unit =
    k.rels.foreach { rel =>
      val rows = committed(dir, rel)
      val n = rows.count()
      assert(n > 0 && n == rows.distinct().count(),
        s"${k.name}: $rel at $dir holds duplicate rows")
    }

  /** Every `leaf=` directory under the store's relations. */
  private def leafDirs(dir: String): Seq[Path] = {
    val (fs, _) = graft.sources.cdc.WalSegments.fsFor(dir)
    Seq("*/*/leaf=*", "*/leaf=*").flatMap(p =>
      Option(fs.globStatus(new Path(s"$dir/$p"))).toSeq.flatten)
      .filter(_.isDirectory).map(_.getPath)
  }

  /** Plant a torn write of the leaf the next commit under `tag` will
    * name: a copy of a committed leaf, which a residue-blind append
    * would commit as duplicate rows.
    */
  private def plantResidue(dir: String, tag: String): Unit = {
    val (fs, _) = graft.sources.cdc.WalSegments.fsFor(dir)
    val src = head(dir).leaves.head
    val torn = IndexManifest.leafName(version(dir) + 1, tag)
    leafDirs(dir).filter(_.getName == s"leaf=$src").foreach { p =>
      FileUtil.copy(fs, p, fs, new Path(p.getParent, s"leaf=$torn"), false,
        fs.getConf)
    }
  }

  private def commits(dir: String)(step: => Unit): Unit = {
    val v = version(dir)
    step
    assert(version(dir) == v + 1, s"$dir: a commit must be version + 1")
  }

  private def noOp(dir: String)(step: => Unit): Unit = {
    val v = version(dir)
    val rows = head(dir).leaves
    step
    assert(version(dir) == v && head(dir).leaves == rows,
      s"$dir: a replayed tag must be a no-op")
  }

  kinds.foreach { k =>
    test(s"${k.name} store: the tagged-leaf contract") {
      val root = graft.Tables.scratchDir(s"store_contract_${k.name}")
      val a = s"$root/a"
      // two appends, each one commit; a replay adds nothing
      k.create(a, 1L to 30L)
      assert(version(a) == 1L)
      commits(a)(k.append(a, 31L to 40L, "a1", 32))
      commits(a)(k.append(a, 41L to 50L, "a2", 32))
      noOp(a)(k.append(a, 41L to 50L, "a2", 32))
      assertNoDuplicates(k, a)
      // a torn write at the next leaf name is dropped, not committed
      plantResidue(a, "a3")
      commits(a)(k.append(a, 51L to 60L, "a3", 32))
      assertNoDuplicates(k, a)
      // a delete batch is one file of distinct ids
      commits(a)(k.delete(a, Seq(3L, 5L, 3L, 5L, 7L), "d1"))
      val tomb = leafDirs(a).find(_.getName == s"leaf=${head(a).tombs.last}").get
      val (fs, _) = graft.sources.cdc.WalSegments.fsFor(a)
      val files = fs.listStatus(tomb).map(_.getPath.getName)
        .filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"${k.name}: delete wrote ${files.toSeq}")
      val tombRows = spark.read.parquet(tomb.toString)
      assert(tombRows.count() == tombRows.distinct().count() &&
        tombRows.count() == 3L, s"${k.name}: delete ids are not distinct")
      noOp(a)(k.delete(a, Seq(3L), "d1"))
      // compaction folds to one leaf and retires the folded tags
      commits(a)(k.compact(a, "c1"))
      assert(head(a).leaves.size == 1)
      Seq("a1", "a2", "a3").foreach(t => noOp(a)(k.append(a, 61L to 62L, t, 32)))
      assertNoDuplicates(k, a)
      // regroup records the dial and refuses old-dial appends
      k.regroup.foreach { regroup =>
        commits(a)(regroup(a, 8, "r1"))
        assert(head(a).groups == 8)
        val e = intercept[IllegalStateException](k.append(a, 70L to 71L, "old", 32))
        assert(e.getMessage.contains("grouped at 8"), e.getMessage)
        noOp(a)(regroup(a, 8, "r1"))
      }
      val dial = head(a).groups
      // a merge of two stores commits one leaf; its replay no-ops
      val b = s"$root/b"
      if (k.name == "pq") PqIndex.buildShardFrom(spark, a, emb(101L to 120L), b)
      else k.create(b, 101L to 120L)
      val m = s"$root/merged"
      k.merge(Seq(a, b), m, "m1")
      assert(version(m) == 1L && head(m).leaves.size == 1)
      assertNoDuplicates(k, m)
      noOp(m)(k.merge(Seq(a, b), m, "m1"))
      // every tag replays as a no-op
      Seq("a1", "a2", "a3").foreach(t => noOp(a)(k.append(a, 61L to 62L, t, dial)))
      noOp(a)(k.delete(a, Seq(9L), "d1"))
      noOp(a)(k.compact(a, "c1"))
      k.regroup.foreach(r => noOp(a)(r(a, 8, "r1")))
      // retention: after retain + 1 commits every leaf at or below the
      // head is referenced by a retained manifest
      IndexManifest.setRetention(a, 2)
      (1 to 3).foreach(i =>
        commits(a)(k.append(a, Seq(200L + 2 * i, 201L + 2 * i), s"p$i", dial)))
      val refs = IndexManifest.retainedRefs(a)
      val stale = leafDirs(a).map(_.getName.stripPrefix("leaf="))
        .filter(l => l.matches("v\\d+-.*") &&
          l.drop(1).takeWhile(_.isDigit).toLong <= version(a))
        .filterNot(refs)
      assert(stale.isEmpty, s"${k.name}: unreferenced leaves remain: $stale")
    }
  }
}
