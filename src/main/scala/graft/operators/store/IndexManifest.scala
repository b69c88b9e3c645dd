package graft.operators.store

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.cdc.WalSegments
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The ONE versioned manifest every persisted store in the repo commits
  * through: the partitioned immutable-leaf INDEX stores (the dedup
  * band/set index, the multimodal hash and chunk indexes, the IVF-PQ
  * codes, the k-NN edge store), the [[graft.streaming.Materializer]]
  * replica state store, and the [[graft.streaming.Engine]] delivery
  * ledger. One record ([[Meta]]), one JSON codec, one exclusive-create
  * commit, one retention rule, one file-name scheme — the owning
  * modules keep only a typed view of the record:
  *
  *  - **The manifest is the store's single source of truth.** A tiny
  *    immutable JSON file `_manifest-v<N>` lists the live leaf names
  *    plus the store's partition dial; readers resolve the highest
  *    committed version and restrict their scans to its leaves (`leaf`
  *    is a partition column on the index stores, so the restriction is
  *    a `PartitionFilters` prune, and uncommitted crash residue is
  *    invisible even before any sweep). A directory with no manifest is
  *    an empty store.
  *  - **Commits are exclusive.** A commit writes a uniquely-named temp
  *    file and publishes it at the immutable versioned name via
  *    [[WalSegments.publishExclusive]] (atomic hard-link claim on local
  *    POSIX, rename-to-existing on HDFS, PUT-if-absent on object
  *    stores): of two writers racing a version exactly one wins, the
  *    loser throws [[CommitConflict]] having published nothing and its
  *    just-written leaf is unreferenced residue.
  *  - **Leaves are version-named.** An index leaf's partition value is
  *    `v<version>-<tag>` where `tag` is the caller's idempotency tag
  *    (foreachBatch batch id, compaction tag): the version prefix
  *    gives the sweep its safety rule, the tag suffix gives replays
  *    their no-op check — exact tag equality, never substring.
  *  - **Retention is the read grace window.** [[retentionOf]] manifest
  *    versions stay on disk after a commit, and [[sweep]] deletes ONLY
  *    leaf directories that (a) no retained manifest references and (b)
  *    carry a version at or below the current committed one (an
  *    unreferenced HIGHER version may belong to a writer mid-commit). A
  *    reader that planned its scan against any retained manifest
  *    therefore finds every file it needs while commits — including
  *    COMPACTIONS — keep landing: this is what makes compaction
  *    online-safe instead of offline-only.
  */
object IndexManifest {

  /** The committed state of one store.
    *
    * @param version     monotone commit counter
    * @param groups      hash-range partition count the store was built
    *                    with (the state store's bucket count) — recorded
    *                    so writers and readers can refuse a mismatched
    *                    dial (a mismatched writer scatters keys across
    *                    wrong groups and silently forks the store)
    * @param leaves      live data-leaf names, shared by every data
    *                    relation of the store (relations are written
    *                    together under one tag per commit)
    * @param tombs       live tombstone-leaf names (separate lifecycle:
    *                    compaction RETAINS them as the replay guard; a
    *                    retention floor clears them)
    * @param params      store-specific parameters beyond the group dial
    *                    (the `retain` window, the PqIndex geometry and
    *                    artifact directory names) — opaque strings the
    *                    owning module interprets
    * @param kind        which family of store wrote the manifest: an
    *                    index family ([[LeafStore.Family.kind]]: `dedup`,
    *                    `ahash`, `hamming`, `vector`, `graph`), `state`
    *                    or `ledger`; `index` when none was recorded
    * @param truncates   the state store's TRUNCATE watermarks (first key
    *                    column value → seq)
    * @param writerEpoch the state store's writer fence: epoch and id of
    * @param writerId    the applier that last acquired the store
    * @param registry    the delivery ledger's handler-key sequence
    */
  final case class Meta(version: Long, groups: Int,
      leaves: Seq[String], tombs: Seq[String],
      params: Map[String, String] = Map.empty,
      kind: String = "index",
      truncates: Map[String, Long] = Map.empty,
      writerEpoch: Long = 0L, writerId: String = "",
      registry: Seq[String] = Nil) {
    def hasLeafTag(tag: String): Boolean = leaves.exists(tagOf(_) == tag)
    def hasTombTag(tag: String): Boolean = tombs.exists(tagOf(_) == tag)
    /** The committed leaves of relation `rel`: the tombstone relation
      * prunes on the tomb list, every data relation on the leaf list.
      */
    def liveOf(rel: String): Seq[String] = if (rel == "tombs") tombs else leaves
    /** Tags RETIRED by replace commits (a compaction, refine, regroup or
      * retrain rewrites the store as one fresh leaf, which would
      * otherwise erase every earlier commit's tag), kept in the
      * `donetags` param so tag idempotency survives the rewrite: a
      * checkpoint-replayed fold whose leaf was folded away still no-ops.
      * Growth is one short tag per retired commit.
      */
    def doneTags: Set[String] =
      params.get("donetags").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet
    /** Has `tag` committed — as a live leaf, or retired since? The
      * idempotency check of every fold.
      */
    def isDone(tag: String): Boolean = hasLeafTag(tag) || doneTags(tag)
    /** [[isDone]] for tombstone folds. */
    def isDoneTomb(tag: String): Boolean = hasTombTag(tag) || doneTags(tag)
    /** This record with the tags of the `erased` leaves retired into
      * `donetags` — what a replace commit publishes.
      */
    def retiring(erased: Seq[String]): Meta = copy(params = params +
      ("donetags" -> (doneTags ++ erased.map(tagOf)).toSeq.sorted.mkString(",")))
  }

  /** Thrown by [[commit]] when another writer already published the
    * version: the loser published nothing and must re-read.
    */
  final class CommitConflict(msg: String) extends IllegalStateException(msg)

  /** Tags become leaf and manifest names: one alphabet for all of them. */
  def requireTag(tag: String, what: String): Unit =
    require(tag.matches("[0-9A-Za-z_\\-]+"), s"invalid $what: $tag")

  private val ManifestVRe = "_manifest-v(\\d+)".r

  private def manifestFile(v: Long): String = f"_manifest-v$v%08d"

  /** `v<version>-<tag>`: version-prefixed for the sweep's safety rule,
    * tag-suffixed for replay idempotency.
    */
  def leafName(version: Long, tag: String): String = f"v$version%08d-$tag"

  /** The tag back out of a leaf name — structural, not positional:
    * `f"v$version%08d"` WIDENS past 1e8 versions instead of truncating,
    * so a fixed `drop(10)` would return garbage there; a name without a
    * version prefix is its own tag.
    */
  def tagOf(leaf: String): String = leaf.replaceFirst("^v\\d+-", "")

  private val LeafVRe = "v(\\d+)-.*".r

  private def versionOf(leaf: String): Option[Long] = leaf match {
    case LeafVRe(v) => Some(v.toLong)
    case _          => None
  }

  /** Default manifest versions retained after a commit — the read grace
    * window for manifests and leaves alike. Per store, the `retain`
    * manifest param OVERRIDES this ([[retentionOf]] / [[setRetention]] —
    * the Delta/Iceberg per-table-retention move): a crawl loop committing
    * per micro-batch burns a version per batch, so its time-travel reach
    * in WALL time is `retain × commit cadence` — a store whose audit
    * cadence is nightly but whose commit cadence is minutes must dial
    * `retain` up or its reproducibility window is minutes, not days.
    */
  private[graft] val RetainedManifests = 8

  /** The store's dialed read-grace window: the `retain` manifest param,
    * defaulting to [[RetainedManifests]]. 0 keeps the head alone (the
    * delivery ledger: nothing ever reads a superseded registry).
    */
  def retentionOf(meta: Meta): Int =
    meta.params.get("retain").flatMap(_.toIntOption)
      .filter(_ >= 0).getOrElse(RetainedManifests)

  /** The dialed window of a store by directory — what an out-of-window
    * time-travel error should quote.
    */
  def retentionWindow(indexDir: String): Int =
    readMeta(indexDir).map(retentionOf).getOrElse(RetainedManifests)

  /** Dial the store's retention window — a metadata-only commit (no
    * leaves change) publishing `retain` into the manifest params, which
    * every LATER commit's retirement honors ([[commit]]) and the sweep
    * follows for free (it keeps whatever any on-disk manifest
    * references). Dialing DOWN takes effect on the next data commit's
    * retirement; already-retired versions never come back — reach can
    * only shrink to what is still on disk.
    */
  def setRetention(indexDir: String, retain: Int): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val meta = readMeta(indexDir).getOrElse(throw new IllegalStateException(
      s"$indexDir holds no committed manifest — dial retention on a " +
        "committed store"))
    commit(indexDir, meta.copy(version = meta.version + 1,
      params = meta.params + ("retain" -> retain.toString)))
  }

  private val json = new ObjectMapper()

  private def encode(m: Meta): Array[Byte] = {
    val o = json.createObjectNode()
    o.put("version", m.version).put("kind", m.kind).put("groups", m.groups)
    def arr(k: String, xs: Seq[String]) = xs.foldLeft(o.putArray(k))(_.add(_))
    arr("leaves", m.leaves)
    arr("tombs", m.tombs)
    m.params.toSeq.sorted.foldLeft(o.putObject("params")) {
      case (p, (k, v)) => p.put(k, v) }
    m.truncates.toSeq.sorted.foldLeft(o.putObject("truncates")) {
      case (t, (k, v)) => t.put(k, v) }
    o.put("writerEpoch", m.writerEpoch).put("writerId", m.writerId)
    arr("registry", m.registry)
    json.writeValueAsBytes(o)
  }

  /** Parse a manifest; a malformed file throws an IOException (Jackson's
    * parse errors are IOExceptions), which every lenient reader below
    * treats like a missing file.
    */
  private def decode(bytes: Array[Byte]): Meta = {
    val o = json.readTree(bytes)
    def strs(k: String) = o.path(k).asScala.map(_.asText).toList
    def fields(k: String) =
      o.path(k).properties.asScala.map(e => e.getKey -> e.getValue)
    Meta(o.path("version").asLong, o.path("groups").asInt,
      strs("leaves"), strs("tombs"),
      fields("params").map { case (k, v) => k -> v.asText }.toMap,
      o.path("kind").asText("index"),
      fields("truncates").map { case (k, v) => k -> v.asLong }.toMap,
      o.path("writerEpoch").asLong, o.path("writerId").asText,
      strs("registry"))
  }

  private def read(fs: FileSystem, p: Path): Meta = {
    val in = fs.open(p)
    try decode(in.readAllBytes()) finally in.close()
  }

  /** The highest committed manifest, or None on an empty store. */
  def readMeta(indexDir: String,
      conf: Configuration = WalSegments.localConf): Option[Meta] = {
    val (fs, _) = WalSegments.fsFor(indexDir, conf)
    retainedVersions(indexDir, conf).lastOption
      .map(v => read(fs, new Path(indexDir, manifestFile(v))))
  }

  /** The head manifest, or the empty version-0 store at `groups` that a
    * first commit starts from.
    */
  def readMetaOrEmpty(indexDir: String, groups: Int): Meta =
    readMeta(indexDir).getOrElse(Meta(0L, groups, Nil, Nil))

  /** A SPECIFIC retained manifest version — TIME TRAVEL: any reader can
    * re-run a screen/search/state read against the exact snapshot a past
    * commit published, because retained manifests keep their leaves on
    * disk ([[sweep]]'s rule). None when the version was never committed
    * or has left the store's grace window — time travel reaches exactly
    * as far as retention does, never silently further.
    */
  def readMetaAt(indexDir: String, version: Long,
      conf: Configuration = WalSegments.localConf): Option[Meta] = {
    val (fs, _) = WalSegments.fsFor(indexDir, conf)
    try Some(read(fs, new Path(indexDir, manifestFile(version))))
    catch { case _: java.io.IOException => None }
  }

  /** The manifest versions currently on disk, ascending — what
    * [[readMetaAt]] can reach (the time-travel catalog; Delta's
    * DESCRIBE HISTORY move). At most the store's dialed window + 1
    * entries ([[retentionOf]]).
    */
  def retainedVersions(indexDir: String,
      conf: Configuration = WalSegments.localConf): Seq[Long] = {
    val (fs, root) = WalSegments.fsFor(indexDir, conf)
    try fs.listStatus(root).iterator.map(_.getPath.getName)
      .collect { case ManifestVRe(v) => v.toLong }.toSeq.sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Every retained manifest, ascending by version — the one history
    * read behind the SQL history surfaces. A version retired between
    * the listing and its read is simply absent.
    */
  def history(indexDir: String,
      conf: Configuration = WalSegments.localConf): Seq[Meta] =
    retainedVersions(indexDir, conf).flatMap(readMetaAt(indexDir, _, conf))

  /** Commit `meta` as the next manifest version: exclusive publish (one
    * winner per version — the loser throws [[CommitConflict]] having
    * published nothing), then retire manifests past the store's grace
    * window (best-effort — readers only ever resolve the max, and leaf
    * retention follows the retained set).
    */
  def commit(indexDir: String, meta: Meta,
      conf: Configuration = WalSegments.localConf): Unit = {
    val (fs, root) = WalSegments.fsFor(indexDir, conf)
    fs.mkdirs(root)
    val dest = new Path(indexDir, manifestFile(meta.version))
    val tmp = new Path(indexDir,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(encode(meta)) finally out.close()
    if (!WalSegments.publishExclusive(fs, tmp, dest))
      throw new CommitConflict(
        s"lost index-manifest commit race for version ${meta.version} at " +
          s"$indexDir — another writer won; re-read and retry")
    try {
      val floor = meta.version - retentionOf(meta)
      retainedVersions(indexDir, conf).filter(_ < floor).foreach { v =>
        try fs.delete(new Path(indexDir, manifestFile(v)), false)
        catch { case _: java.io.IOException => () }
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Union of every leaf/tomb name referenced by ANY manifest version
    * still on disk — the live set for every sweep. A manifest that fails
    * to read contributes nothing (fail-open would retain garbage
    * forever; the next sweep retries).
    */
  private[graft] def retainedRefs(indexDir: String,
      conf: Configuration = WalSegments.localConf): Set[String] =
    history(indexDir, conf).flatMap(m => m.leaves ++ m.tombs).toSet

  /** Directories matching `pattern` under `indexDir` — absent paths and
    * IO errors read as none.
    */
  private def globDirs(fs: FileSystem, indexDir: String,
      pattern: String): Seq[Path] =
    try Option(fs.globStatus(new Path(s"$indexDir/$pattern")))
      .toSeq.flatten.filter(_.isDirectory).map(_.getPath)
    catch { case _: java.io.IOException => Seq.empty }

  /** Delete every `leaf=v<N>-<tag>` directory under the given relations
    * that NO retained manifest references and whose `N` is at or below
    * the current committed version (an unreferenced higher version may
    * belong to a writer mid-commit). Handles both nested
    * (`rel/<grp>=g/leaf=…`) and flat (`rel/leaf=…`) layouts; a
    * directory without a version prefix is never touched.
    */
  def sweep(indexDir: String, rels: Seq[String], currentVersion: Long): Unit = {
    val (fs, _) = WalSegments.fsFor(indexDir)
    val referenced = retainedRefs(indexDir)
    rels.flatMap(rel => globDirs(fs, indexDir, s"$rel/*/leaf=*") ++
        globDirs(fs, indexDir, s"$rel/leaf=*")).foreach { p =>
      val leaf = p.getName.stripPrefix("leaf=")
      versionOf(leaf) match {
        case Some(v) if !referenced.contains(leaf) && v <= currentVersion =>
          try fs.delete(p, true) catch { case _: java.io.IOException => () }
        case _ => ()
      }
    }
  }

  /** EXPORT a retained snapshot as a STANDALONE store — the compliance
    * clone ("ship the index exactly as the nightly mark saw it" to an
    * audit cluster, a staging environment, or cold storage): copy every
    * leaf and tombstone directory the pinned manifest references —
    * relative layout preserved, so group/cell partition pruning works
    * unchanged on the clone — plus that manifest file itself. The clone
    * reads as a normal store whose HEAD is the snapshot (screens,
    * searches, and further commits all work; version numbering
    * continues from the snapshot's), and the source store is never
    * touched. Cost is one copy of the snapshot's live bytes —
    * retired/unreferenced leaves and other versions do not ship. Throws
    * when `version` is not retained (the time-travel reach rule) or the
    * destination already holds a manifest (never silently merge into an
    * existing store); a manifest-LESS non-empty destination is a torn
    * prior export's residue and is cleared before copying, so a crashed
    * export is safely retryable (kill-mid-export → retry reads
    * identical to a clean export — spec-pinned).
    */
  def exportSnapshot(indexDir: String, version: Long,
      destDir: String): Unit = {
    val meta = readMetaAt(indexDir, version).getOrElse(
      throw new IllegalArgumentException(
        s"manifest version $version is not retained at $indexDir — " +
          s"export reaches the ${retentionWindow(indexDir)}-version " +
          "grace window"))
    val (fs, root) = WalSegments.fsFor(indexDir)
    val (dfs, droot) = WalSegments.fsFor(destDir)
    if (readMeta(destDir).isDefined) throw new IllegalArgumentException(
      s"$destDir already holds a committed index manifest — export " +
        "refuses to merge into an existing store")
    // torn-export residue: the manifest copies LAST, so an export that
    // died mid-copy leaves a manifest-less, non-empty destination. A
    // retry must CLEAR it first — Hadoop FileUtil.copy into an existing
    // directory NESTS (checkDest resolves dst/leaf=X → dst/leaf=X/leaf=X),
    // which would commit a clone with duplicated partition levels. The
    // residue is un-committed bytes, garbage by definition (the
    // dropResidue discipline applied to the whole clone).
    try {
      if (dfs.getFileStatus(droot).isDirectory &&
          dfs.listStatus(droot).nonEmpty)
        dfs.delete(droot, true)
    } catch { case _: java.io.FileNotFoundException => () }
    val wanted = (meta.leaves ++ meta.tombs).map(l => s"leaf=$l").toSet
    val conf = new org.apache.hadoop.conf.Configuration()
    // relation dirs = every non-metadata child; leaves sit at
    // <rel>/leaf=X (flat, e.g. tombs) or <rel>/<grp>/leaf=X (grouped)
    val rels =
      try fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    rels.foreach { rel =>
      val leafDirs = globDirs(fs, indexDir, s"$rel/leaf=*") ++
        globDirs(fs, indexDir, s"$rel/*/leaf=*")
      // a child dir holding plain data FILES and no leaf layout is an
      // out-of-leaf ARTIFACT (the PqIndex codebooks/coarse-quantizer
      // parquet datasets, named by the manifest's params) — immutable
      // after build, shared by every version, required by the clone's
      // searches: copy it wholesale
      val isArtifact = leafDirs.isEmpty &&
        fs.listStatus(new Path(root, rel))
          .exists(st => st.isFile && !st.getPath.getName.startsWith("."))
      if (isArtifact) {
        if (!org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root, rel),
            dfs, new Path(droot, rel), false, conf))
          throw new java.io.IOException(
            s"could not copy artifact dir $rel to $destDir")
      } else leafDirs
        .filter(p => wanted.contains(p.getName)).foreach { src =>
          // re-derive the root-relative path (rel[/grp]/leaf=X)
          val grp = src.getParent.getName
          val relPath =
            if (grp == rel) s"$rel/${src.getName}"
            else s"$rel/$grp/${src.getName}"
          val dst = new Path(droot, relPath)
          dfs.mkdirs(dst.getParent)
          if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, dfs, dst,
              false, conf))
            throw new java.io.IOException(s"could not copy $src to $dst")
        }
    }
    if (!org.apache.hadoop.fs.FileUtil.copy(fs,
        new Path(indexDir, manifestFile(version)),
        dfs, new Path(droot, manifestFile(version)), false, conf))
      throw new java.io.IOException(
        s"could not copy the v$version manifest to $destDir")
  }

  /** Restrict an index relation to the committed leaves (`leaf` is a
    * partition column, so this is a partition prune); an empty list is a
    * committed-empty store and reads no rows.
    */
  def committedOnly(df: org.apache.spark.sql.DataFrame,
      live: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (live.isEmpty) df.filter(lit(false))
    else df.filter(col("leaf").isin(live: _*))
  }

  /** Delete any directory named exactly `leaf=<leaf>` under the given
    * relations — crash residue of a torn write carrying the name the
    * retry is about to (re)write; mode("append") would otherwise
    * duplicate its rows.
    */
  def dropResidue(indexDir: String, rels: Seq[String], leaf: String): Unit = {
    val (fs, _) = WalSegments.fsFor(indexDir)
    rels.flatMap(rel => globDirs(fs, indexDir, s"$rel/*/leaf=$leaf") ++
        globDirs(fs, indexDir, s"$rel/leaf=$leaf")).foreach { p =>
      try fs.delete(p, true) catch { case _: java.io.IOException => () }
    }
  }
}
