package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The versioned segment chain every persisted table commits through:
  * IVF-PQ codes and the kNN graph ([[VectorIndex]]), MinHash band
  * postings ([[TextIndex]]), BM25 postings ([[RetrievalIndex]]) and the
  * CDC MERGE table ([[graft.streaming.StreamOps.applyCdcBatch]]). This
  * scaladoc is the one statement of the on-disk, commit, crash-safety
  * and read-lease contract, and this file the only code that reads or
  * writes a marker; a family only decides what its segments hold and how
  * they merge.
  *
  * Layout under a root:
  *   - `v<n>/<segment>/` — version n's data directories. A BASE version
  *     owns the family's base segment (`codes`, `edges`, `postings` or
  *     `table`) and is self-contained. Every other version is a chain
  *     link whose segments (`*-delta`, `tombstones`, signed
  *     `vocab-delta` / `stats-delta`, or none at all for a marker-only
  *     commit) apply on top of the nearest lower base, in commit order.
  *     Every CDC commit writes the whole merged table, so each of its
  *     versions is a base and its chains have depth 0.
  *   - `_commit-<n>` — version n's commit marker. Its content is the
  *     stamp `batchId\nincarnation`: the stream batch id and stream
  *     incarnation for sink commits, a negative id plus a tag for
  *     everything else (`(-3, "<format>:<fingerprint>")` for builds,
  *     `(-2, "optimize")` for folds and OPTIMIZE rewrites).
  *
  * Commit ([[SegmentChain.commit]]): create the root, wipe any `v<n>` a
  * crashed attempt left at the same number, write the segments, flip the
  * marker with one file rename, prune. The wipe matters because base
  * resolution walks data directories, not markers: a torn base segment
  * left at a reused number would otherwise be adopted as the base. Data
  * first, marker last, so a crash anywhere before the rename leaves the
  * previous version live and the partial directory invisible. Readers
  * resolve the newest marker ([[SegmentChain.resolve]]) and never
  * observe a torn version. Versions are the chain's own counter, never
  * stream batch ids: a stream restarted on a fresh checkpoint numbers
  * its batches from 0 again. Single writer: the next version number is
  * resolved, not locked.
  *
  * Exactly-once: a mutation whose stamp equals the live marker's is a
  * redelivery of the commit that produced the live version and no-ops
  * ([[SegmentChain.isRetry]]). The comparison is equality with the live
  * marker only, and the stamp carries the incarnation beside the batch
  * id: batch ids alone collide across incarnations, and an ordering
  * test would drop every batch of a restarted stream. A crash before the
  * flip leaves no stamp, so the redelivered batch re-applies on the
  * previous version. Ensure paths reuse the live version when its marker
  * carries the wanted stamp and build otherwise
  * ([[SegmentChain.ensure]]). The stamp tag encodes the corpus
  * fingerprint and any mutation rule, so changed data or a changed rule
  * rebuilds instead of reusing.
  *
  * Chain shape: at most one `tombstones` segment per chain, committed
  * directly on the base (a family compacts rather than stack a second),
  * so tombstones shade only the base segment and an id re-added in a
  * later delta stays live. A chain folds into a new base once
  * live − base ≥ [[SegmentChain.AppendFoldThreshold]]; every version
  * counts, tombstone and marker-only ones included, because a reader
  * resolves through each of them.
  *
  * Fold rule ([[SegmentChain.fold]], every index family's
  * `compactIndex`): a fold writes the live view as a new base stamped
  * `(-2, "optimize")` at live + 1, unless the live version already is
  * its own base (depth 0: no deltas, no tombstones, no marker-only
  * links). Then the fold is a no-op: it writes nothing, launches no
  * Spark job and returns the live version, whose stamp stays in place —
  * so a mutation that itself folded the chain (a compacting forget or
  * delete) is still recognised as a retry after the maintenance fold. A
  * base write clusters its rows by the bucket column before
  * `partitionBy`, so a base holds one file per bucket however many files
  * its inputs had.
  *
  * Read lease: the newest `retain` markers (default 2: live plus one
  * superseded; at least 1) stay resolvable, together with every data
  * directory from the oldest retained version's base upward
  * ([[pruneChainVersions]]). A reader holding a resolved snapshot
  * therefore keeps its exact view across retain − 1 later commits;
  * deployments with slower readers widen `retain`.
  */
private[graft] final class SegmentChain(baseSegment: String) {

  /** The live chain: lists each `v<n>` from the live version down to
    * (and including) the nearest version that owns the base segment,
    * once. Throws before the first commit, and when the base the live
    * version references was pruned.
    */
  def resolve(s: SparkSession, root: String): SegmentChain.Snapshot =
    resolveOption(s, root).getOrElse(throw new IllegalStateException(
      s"no committed index version under $root — build first"))

  /** [[resolve]], None before the first commit. */
  def resolveOption(s: SparkSession, root: String): Option[SegmentChain.Snapshot] = {
    val (fs, rootP) = SegmentChain.fsOf(s, root)
    SegmentChain.latest(s, root).map { live =>
      val (links, rest) = Iterator.iterate(live)(_ - 1).takeWhile(_ >= 0)
        .map(v => v -> SegmentChain.children(fs, new Path(rootP, s"v$v")))
        .span { case (_, names) => !names(baseSegment) }
      val linkSegments = links.toMap
      val base = rest.nextOption().map(_._1).getOrElse(
        throw new IllegalStateException(
          s"no $baseSegment directory reachable from v$live under $root — " +
            "the referenced base version was pruned"))
      SegmentChain.Snapshot(root, live, base, linkSegments)
    }
  }

  /** Commit version `ver` stamped `stamp`: create the root, wipe a
    * crashed attempt's `v<ver>`, `write` the segments into it, flip the
    * marker, prune to the `retain` lease. Returns `ver`. A `retain`
    * below 1 throws before anything is written: it would leave no
    * marker to prune to, so the root would grow without bound.
    */
  def commit(s: SparkSession, root: String, ver: Long, stamp: (Long, String),
      retain: Int)(write: Path => Unit): Long = {
    require(retain >= 1, s"retain must keep at least the live version, got $retain")
    val (fs, rootP) = SegmentChain.fsOf(s, root)
    fs.mkdirs(rootP)
    val dir = new Path(rootP, s"v$ver")
    fs.delete(dir, true)
    write(dir)
    SegmentChain.flipCommitMarker(s, root, ver, stamp)
    SegmentChain.pruneChainVersions(fs, rootP, retain, baseSegment)
    ver
  }

  /** Fold the live chain into one base: `write` puts the live view of
    * the resolved chain into the new version's directory, committed at
    * live + 1 stamped `(-2, "optimize")`. A depth-0 chain already is
    * that base, so the fold returns the live version untouched. None
    * before the first commit.
    */
  def fold(s: SparkSession, root: String, retain: Int)(
      write: (SegmentChain.Snapshot, Path) => Unit): Option[Long] =
    resolveOption(s, root).map { c =>
      if (c.depth == 0) c.live
      else commit(s, root, c.live + 1, (-2L, "optimize"), retain)(write(c, _))
    }
}

private[graft] object SegmentChain {

  /** Chain depth (live − base) at which an append folds the chain into
    * a new base: bounds both the segments a reader resolves through and
    * the prune window's tail.
    */
  val AppendFoldThreshold = 8

  /** One resolved chain. `segments` holds the directory names of each
    * version in (base, live].
    */
  final case class Snapshot(root: String, live: Long, base: Long,
      segments: Map[Long, Set[String]]) {

    def dir(v: Long, segment: String): String = s"$root/v$v/$segment"

    def has(v: Long, segment: String): Boolean =
      segments.get(v).exists(_.contains(segment))

    /** The versions above the base, oldest first. */
    def links: Seq[Long] = (base + 1) to live

    /** `segment`'s directories in (base, live], in commit order. */
    def deltas(segment: String): Seq[String] =
      links.filter(has(_, segment)).map(dir(_, segment))

    /** The chain's single `tombstones` segment, if any. */
    def tombstones: Option[String] =
      links.reverseIterator.find(has(_, "tombstones")).map(dir(_, "tombstones"))

    def depth: Long = live - base

    def shouldFold: Boolean = depth >= AppendFoldThreshold

    /** The union-with-tombstones merge: the base segment minus the
      * tombstoned `key`s, unioned with every `deltaSegment` in commit
      * order. `read` opens one segment directory with its declared
      * schema, so a partition filter on the result reaches every scan.
      */
    def unionLive(s: SparkSession, key: String, baseSegment: String,
        deltaSegment: String)(read: String => DataFrame): DataFrame = {
      val base0 = read(dir(base, baseSegment))
      val base1 = tombstones.fold(base0) { t =>
        val ids = s.read.schema(StructType(Seq(StructField(key, LongType)))).parquet(t)
        base0.join(broadcast(ids), Seq(key), "left_anti")
      }
      (base1 +: deltas(deltaSegment).map(read)).reduce(_ unionByName _)
    }
  }

  private def fsOf(s: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def children(fs: FileSystem, dir: Path): Set[String] =
    try fs.listStatus(dir).iterator.map(_.getPath.getName).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  private val CommitPrefix = "_commit-"

  private def marker(root: Path, ver: Long): Path = new Path(root, s"$CommitPrefix$ver")

  /** A stamp as its marker holds it: `batchId\nincarnation`. */
  private def stampText(stamp: (Long, String)): String = s"${stamp._1}\n${stamp._2}"

  /** The versions whose markers are under `root`, none before the first. */
  private def committed(fs: FileSystem, root: Path): Seq[Long] =
    children(fs, root).toSeq.filter(_.startsWith(CommitPrefix))
      .map(_.stripPrefix(CommitPrefix).toLong)

  /** The newest committed version under `root`, None before the first. */
  def latest(s: SparkSession, root: String): Option[Long] = {
    val (fs, rootP) = fsOf(s, root)
    committed(fs, rootP).maxOption
  }

  /** The version a fresh build commits as: one past the newest. */
  def next(s: SparkSession, root: String): Long =
    latest(s, root).map(_ + 1).getOrElse(0L)

  /** Whether version `ver`'s marker carries `stamp` — true means the
    * mutation stamped `stamp` already produced `ver`. A missing or
    * unreadable marker is not a retry, so the mutation applies again.
    */
  def isRetry(s: SparkSession, root: String, ver: Long,
      stamp: (Long, String)): Boolean = {
    val (fs, rootP) = fsOf(s, root)
    try {
      val in = fs.open(marker(rootP, ver))
      try new String(in.readAllBytes(), "UTF-8") == stampText(stamp)
      finally in.close()
    } catch { case _: java.io.IOException => false }
  }

  /** The commit point: write `stamp` to a temporary file and rename it
    * to version `ver`'s marker, one filesystem operation.
    */
  private[graft] def flipCommitMarker(s: SparkSession, root: String,
      ver: Long, stamp: (Long, String)): Unit = {
    val (fs, rootP) = fsOf(s, root)
    val tmp = new Path(rootP, s".commit-$ver.tmp")
    val out = fs.create(tmp, true)
    try out.write(stampText(stamp).getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, marker(rootP, ver)),
      s"commit marker flip failed for version $ver under $root")
  }

  /** The live version if its marker carries `stamp`, else `build`'s. */
  def ensure(s: SparkSession, root: String, stamp: (Long, String))(
      build: => Long): Long =
    latest(s, root).filter(isRetry(s, root, _, stamp)).getOrElse(build)

  /** Cheap deterministic corpus fingerprint for ensure stamps: row count
    * and `idCol` sum in one aggregate (an empty corpus sums to 0).
    */
  def fingerprint(df: DataFrame, idCol: String): String = {
    val r = df.agg(count(lit(1)), sum(idCol)).head()
    s"n=${r.getLong(0)};s=${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** `<tmpdir>/<family>/<dataDir slug>`: a default index root keyed by
    * the full data path, so two corpora never share an index.
    */
  def tmpRoot(family: String, dataDir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      family + "/" + dataDir.replaceAll("[^A-Za-z0-9._-]", "_"))
      .getAbsolutePath

  /** A `foreachBatch` sink that hands each micro-batch to `apply` with
    * its (batch id, incarnation) stamp. The incarnation is the stream's
    * query id, or one id per sink construction when Spark sets none.
    */
  def stampedSink(df: DataFrame)(apply: (DataFrame, Long, String) => Unit)
      : DataStreamWriter[Row] = {
    val fallbackIncarnation = java.util.UUID.randomUUID().toString
    df.writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
      val incarnation = Option(b.sparkSession.sparkContext
          .getLocalProperty(StreamingQueryIdKey)).getOrElse(fallbackIncarnation)
      apply(b.toDF(), id, incarnation)
    }
  }

  private val StreamingQueryIdKey = "sql.streaming.queryId"

  /** Reference-aware prune. The newest `retain` markers stay; every
    * older marker goes. Data directories stay from the oldest retained
    * version's base (the nearest lower version owning `baseSegment`) up
    * to the newest marker, so a reader that resolved any retained marker
    * still reaches its base and every link above it. Without the floor a
    * delete-then-append chain (v0 codes, v1 tombstones, v2 delta) would
    * lose v0 while v1 is still inside the lease. Directories above the
    * newest marker (a crashed attempt's partial `v<n>`) are swept too.
    * Where every version owns the base segment (the CDC table) the floor
    * is the oldest kept marker, and since a crashed attempt's number is
    * wiped and reused, kept markers are consecutive: exactly their own
    * data directories stay.
    */
  private[graft] def pruneChainVersions(fs: FileSystem, root: Path,
      retain: Int, baseSegment: String): Unit = {
    val keep = committed(fs, root).sorted(Ordering[Long].reverse).take(retain).toSet
    if (keep.isEmpty) return
    def baseOf(v: Long): Long =
      Iterator.iterate(v)(_ - 1).takeWhile(_ >= 0)
        .find(c => fs.exists(new Path(root, s"v$c/$baseSegment")))
        .getOrElse(0L)
    val floor = keep.map(baseOf).min
    val ceil = keep.max
    fs.listStatus(root).foreach { st =>
      val nm = st.getPath.getName
      val isMarker = nm.startsWith(CommitPrefix)
      val isData = !isMarker && nm.startsWith("v") && nm.drop(1).nonEmpty &&
        nm.drop(1).forall(_.isDigit)
      val stale =
        (isMarker && !keep.contains(nm.stripPrefix(CommitPrefix).toLong)) ||
          (isData && { val ver = nm.drop(1).toLong; ver < floor || ver > ceil })
      if (stale) {
        // marker before data, so resolution never points at a missing
        // directory mid-sweep
        if (isData) fs.delete(marker(root, nm.drop(1).toLong), false)
        fs.delete(st.getPath, true)
      }
    }
  }
}
