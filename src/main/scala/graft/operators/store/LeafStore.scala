package graft.operators.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types.StructType

import IndexManifest.Meta

/** The ONE tagged-leaf store every persisted index family commits
  * through — the dedup band/set index, the multimodal aHash hash and
  * chunk indexes, the IVF-PQ codes and the k-NN edge store. It is the
  * only code that reads, writes, commits and sweeps a tagged leaf; a
  * family declares its relations ([[Family]]) and keeps its encoders,
  * its search/screen code and its own semantics.
  *
  * The discipline, stated once:
  *
  *  - **Layout.** A relation is one partitioned parquet table
  *    `<dir>/<rel>/<group>=<g>/leaf=v<N>-<tag>/` (grouped data relations)
  *    or `<dir>/<rel>/leaf=v<N>-<tag>/` (the flat tombstone relation).
  *    The group is a pure function of the row and the store's dial
  *    ([[Meta.groups]]), so a batch prunes its scan to the groups its
  *    keys touch; every relation has a declared schema, commits cast
  *    rows to it and reads use it (no schema-inference job per read).
  *  - **Reads are committed-only.** [[read]] restricts a relation to the
  *    leaves one manifest names (`leaf` is a partition column, so this
  *    is a `PartitionFilters` prune): head reads and as-of reads ([[at]])
  *    are the same call, and crash residue is invisible before any sweep.
  *  - **Every commit is one shape:** tag check → idempotency check
  *    (`isDone` for a leaf commit, `isDoneTomb` for a tomb commit — a
  *    replayed tag is a no-op) → dial check → drop the torn residue at
  *    the leaf name about to be written (mode("append") would otherwise
  *    duplicate its rows) → write one leaf per relation → exclusive
  *    manifest commit (the commit point; [[IndexManifest.commit]]) →
  *    sweep of leaves no retained manifest references
  *    ([[IndexManifest.sweep]]). The commits are [[append]],
  *    [[tombstone]], [[rewrite]] (compact, regroup, refine, retrain) and
  *    [[merge]].
  *  - **Replace commits retire tags.** A rewrite erases the leaves it
  *    folds; their tags move to `donetags`, so a checkpoint-replayed
  *    fold whose leaf was folded away still no-ops.
  *  - **The manifest names the family** (`kind`), so catalogs and
  *    maintenance dispatch read one recorded fact instead of probing
  *    relation directories.
  */
object LeafStore {

  /** One stored relation: its directory name, its stored schema (data
    * columns, then the group column if any, then `leaf`) and, for a
    * grouped relation, the group column's name and its key as a
    * function of the dial, evaluated over the typed data columns.
    */
  final case class Rel(name: String, schema: StructType,
      group: Option[(String, Int => Column)] = None)

  /** A store family: the `kind` its manifests record, its data
    * relations (every commit writes all of them under one tag), its
    * tombstone relation (keyed by its first column) and the dial an
    * empty store starts at.
    */
  final case class Family(kind: String, rels: Seq[Rel], tombs: Rel,
      defaultGroups: Int) {
    def key: String = tombs.schema.fieldNames.head
    def relNames: Seq[String] = rels.map(_.name) :+ tombs.name
  }

  /** Extra manifest params a commit records, computed after its leaves
    * are written: (the manifest the commit builds on, the new leaf name).
    */
  type Params = (Meta, String) => Map[String, String]

  private val noParams: Params = (_, _) => Map.empty

  /** The head manifest, or the empty store at the family's dial. */
  def head(dir: String, fam: Family): Meta =
    IndexManifest.readMetaOrEmpty(dir, fam.defaultGroups)

  /** A retained manifest version, or a loud refusal naming the store's
    * grace window — the resolution behind every as-of read.
    */
  def at(dir: String, version: Long): Meta =
    IndexManifest.readMetaAt(dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"manifest version $version is not retained at $dir — " +
          s"time travel reaches the ${IndexManifest.retentionWindow(dir)}-" +
          "version grace window"))

  /** Committed data-leaf count (0 on an empty store). */
  def leafCount(dir: String): Int =
    IndexManifest.readMeta(dir).map(_.leaves.size).getOrElse(0)

  /** Relation `rel` as `meta` committed it, with its stored schema
    * (group and `leaf` columns included). A relation with no committed
    * leaf reads as an empty relation of that schema.
    */
  def read(spark: SparkSession, dir: String, rel: Rel, meta: Meta): DataFrame = {
    val live = meta.liveOf(rel.name)
    if (live.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), rel.schema)
    else IndexManifest.committedOnly(
      spark.read.schema(rel.schema).parquet(s"$dir/${rel.name}"), live)
  }

  /** The committed tombstone rows (data columns, as stored: an id
    * tombstoned under two tags appears twice), or None when `meta`
    * holds no tomb leaf — zero cost on a search path.
    */
  def tombRows(spark: SparkSession, dir: String, fam: Family,
      meta: Meta): Option[DataFrame] =
    if (meta.tombs.isEmpty) None
    else Some(read(spark, dir, fam.tombs, meta).drop("leaf"))

  /** The head's tombstoned ids, distinct (empty when none): the diff base
    * a reconcile job compares a replica against.
    */
  def tombstonedIds(spark: SparkSession, dir: String, fam: Family): DataFrame =
    tombRows(spark, dir, fam, head(dir, fam))
      .map(_.select(col(fam.key)).distinct())
      .getOrElse(spark.range(0).select(col("id").as(fam.key)))

  /** The head's searchable ids under KILL-ALL tombstones: the distinct
    * keys of `rel` minus every tombstoned id.
    */
  def liveIds(spark: SparkSession, dir: String, fam: Family,
      rel: Rel): DataFrame = {
    val meta = head(dir, fam)
    val ids = read(spark, dir, rel, meta).select(col(fam.key)).distinct()
    tombRows(spark, dir, fam, meta).fold(ids)(t =>
      ids.join(broadcast(t.select(col(fam.key))), Seq(fam.key), "left_anti"))
  }

  /** `rows` as relation `rel` stores them: declared columns cast to their
    * stored types, the group recomputed at `groups`, the leaf stamped.
    */
  private def stored(rows: DataFrame, rel: Rel, groups: Int,
      leaf: String): DataFrame = {
    val typed = rows.select(rows.columns.toSeq
      .filter(c => c != "leaf" && rel.schema.fieldNames.contains(c))
      .map(c => col(c).cast(rel.schema(c).dataType)): _*)
    val grouped = rel.group.fold(typed) { case (g, key) =>
      typed.withColumn(g, key(groups)) }
    grouped.withColumn("leaf", lit(leaf))
      .select(rel.schema.fieldNames.toSeq.map(col): _*)
  }

  /** Write one leaf of `rel`: a grouped relation repartitions by its
    * group (one file per (group, leaf) instead of one per (task,
    * group)); the flat tombstone relation writes its distinct rows as
    * one file — a delete batch is id-sized.
    */
  private def writeLeaf(dir: String, rel: Rel, groups: Int, leaf: String,
      rows: DataFrame): Unit = {
    val out = stored(rows, rel, groups, leaf)
    rel.group match {
      case Some((g, _)) =>
        out.repartition(col(g)).write.partitionBy(g, "leaf")
          .mode("append").parquet(s"$dir/${rel.name}")
      case None =>
        out.distinct().coalesce(1).write.partitionBy("leaf")
          .mode("append").parquet(s"$dir/${rel.name}")
    }
  }

  private def writeAll(dir: String, groups: Int, leaf: String,
      rows: Seq[(Rel, DataFrame)]): Unit = {
    IndexManifest.dropResidue(dir, rows.map(_._1.name), leaf)
    val writes = rows.map { case (rel, df) =>
      () => writeLeaf(dir, rel, groups, leaf, df) }
    // relations of one leaf write disjoint directories: overlap them
    if (writes.size > 1)
      graft.GraftSession.concurrently(writes, maxPar = writes.size)
    else writes.foreach(_())
  }

  private def requireDial(dir: String, meta: Meta, groups: Int): Unit =
    if (meta.groups != groups)
      throw new IllegalStateException(
        s"$dir is grouped at ${meta.groups} but the write says $groups — " +
          "a mismatched writer scatters keys across wrong groups; use the " +
          "store's dial, or regroup offline")

  /** Publish `next` as the next version under the family's kind, then
    * sweep.
    */
  private def commitAndSweep(dir: String, fam: Family, next: Meta): Meta = {
    val m = next.copy(kind = fam.kind)
    IndexManifest.commit(dir, m)
    IndexManifest.sweep(dir, fam.relNames, m.version)
    m
  }

  /** A metadata-only commit: `meta` republished as the next version
    * with `params` merged in — no leaf changes, so nothing to sweep.
    */
  def setParams(dir: String, meta: Meta, params: Map[String, String]): Meta = {
    val m = meta.copy(version = meta.version + 1, params = meta.params ++ params)
    IndexManifest.commit(dir, m)
    m
  }

  /** Drop the `cleared` tomb leaves from the head's tombstone set — a
    * commit that writes no leaf (the cleared directories follow through
    * the sweep once no retained manifest names them).
    */
  def clearTombs(dir: String, fam: Family, meta: Meta,
      cleared: Set[String]): Meta =
    commitAndSweep(dir, fam, meta.copy(version = meta.version + 1,
      tombs = meta.tombs.filterNot(cleared)))

  /** APPEND one leaf per relation under `tag` at the store's dial
    * `groups` (recorded by the first commit; a mismatch is refused).
    * Returns the committed manifest, or the head unchanged when `tag`
    * already committed.
    */
  def append(dir: String, fam: Family, tag: String, groups: Int,
      rows: Seq[(Rel, DataFrame)], params: Params = noParams): Meta = {
    IndexManifest.requireTag(tag, "leaf tag")
    val meta = IndexManifest.readMetaOrEmpty(dir, groups)
    if (meta.isDone(tag)) return meta
    requireDial(dir, meta, groups)
    val leaf = IndexManifest.leafName(meta.version + 1, tag)
    writeAll(dir, groups, leaf, rows)
    commitAndSweep(dir, fam, meta.copy(version = meta.version + 1,
      leaves = meta.leaves :+ leaf,
      params = meta.params ++ params(meta, leaf)))
  }

  /** TOMBSTONE the distinct rows of `ids` (the tomb relation's columns)
    * as one tomb leaf under `tag`; no committed data leaf is rewritten.
    */
  def tombstone(dir: String, fam: Family, tag: String, ids: DataFrame): Meta = {
    IndexManifest.requireTag(tag, "tombstone tag")
    val meta = head(dir, fam)
    if (meta.isDoneTomb(tag)) return meta
    val leaf = IndexManifest.leafName(meta.version + 1, tag)
    writeAll(dir, meta.groups, leaf, Seq(fam.tombs -> ids))
    commitAndSweep(dir, fam, meta.copy(version = meta.version + 1,
      tombs = meta.tombs :+ leaf))
  }

  /** REWRITE the store as one fresh leaf per relation at dial `groups`
    * — the replace commit behind compaction, regroup, refine and
    * retrain. `rows` builds the new content from the head manifest (it
    * runs only when `tag` has not committed). Every erased leaf's tag
    * retires; with `clearTombs` the tombstone set clears too (the rows
    * it killed were dropped by `rows`), otherwise it carries over.
    * `params` may also REPLACE params of the head (retrain's artifacts).
    */
  def rewrite(dir: String, fam: Family, tag: String,
      rows: Meta => Seq[(Rel, DataFrame)], clearTombs: Boolean,
      groups: Option[Int] = None, params: Params = noParams): Meta = {
    IndexManifest.requireTag(tag, "rewrite tag")
    val meta = head(dir, fam)
    if (meta.isDone(tag)) return meta
    val dial = groups.getOrElse(meta.groups)
    val leaf = IndexManifest.leafName(meta.version + 1, tag)
    writeAll(dir, dial, leaf, rows(meta))
    val base = meta.retiring(
      if (clearTombs) meta.leaves ++ meta.tombs else meta.leaves)
    commitAndSweep(dir, fam, base.copy(version = meta.version + 1,
      groups = dial, leaves = Seq(leaf),
      tombs = if (clearTombs) Nil else meta.tombs,
      params = base.params ++ params(meta, leaf)))
  }

  /** MERGE the committed rows of `srcDirs` into `destDir` as ONE leaf
    * per data relation, groups recomputed at the destination's dial
    * (mixed-dial sources merge fine); a source without a manifest
    * contributes nothing. Tombstones ride as destination tomb leaves:
    * one per part `splitTombs` cuts each source's tomb rows into
    * (`<tag>-t<source>-<part>`). One commit publishes every leaf.
    */
  def merge(spark: SparkSession, srcDirs: Seq[String], destDir: String,
      fam: Family, tag: String, groups: Int,
      splitTombs: DataFrame => Seq[DataFrame] = t => Seq(t),
      params: Params = noParams): Meta = {
    require(srcDirs.nonEmpty, "merge needs at least one source")
    IndexManifest.requireTag(tag, "merge tag")
    val dest = IndexManifest.readMetaOrEmpty(destDir, groups)
    if (dest.isDone(tag)) return dest
    requireDial(destDir, dest, groups)
    val v = dest.version + 1
    val srcs = srcDirs.flatMap(d => IndexManifest.readMeta(d).map(d -> _))
    val leaf = IndexManifest.leafName(v, tag)
    writeAll(destDir, groups, leaf, fam.rels.flatMap { rel =>
      srcs.filter(_._2.leaves.nonEmpty)
        .map { case (d, m) => read(spark, d, rel, m) }
        .reduceOption(_ unionByName _).map(rel -> _)
    })
    val tombLeaves = srcDirs.zipWithIndex.flatMap { case (d, i) =>
      srcs.find(_._1 == d).flatMap { case (_, m) => tombRows(spark, d, fam, m) }
        .toSeq.flatMap(splitTombs).zipWithIndex.map { case (part, j) =>
          val tl = IndexManifest.leafName(v, s"$tag-t$i-$j")
          writeAll(destDir, groups, tl, Seq(fam.tombs -> part))
          tl
        }
    }
    commitAndSweep(destDir, fam, dest.copy(version = v,
      leaves = dest.leaves :+ leaf, tombs = dest.tombs ++ tombLeaves,
      params = dest.params ++ params(dest, leaf)))
  }
}
