package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The generation store behind every persisted index of the engine: the
  * one place that names, orders, lists and commits generations.
  *
  * LAYOUT — a store is one directory holding
  *  - committed generations `compacted_<seq>_<nonce>` (ordered by `seq`),
  *  - deltas `batch_<id>` appended between commits (ordered by `id`),
  *  - at most a hidden `_compact_<seq>_<nonce>.tmp` of an in-flight
  *    commit; the leading `_` keeps it out of every parquet listing.
  *
  * COMMIT ([[commit]]) — (0) sweep tmps stranded by a crashed earlier
  * commit, (1) write the new generation into a fresh hidden tmp,
  * (2) ONE same-dir rename to `compacted_<...>` makes it visible, throwing
  * `IOException` if the rename fails, (3) delete what it consumed. A
  * [[midCommitHook]] seam fires `"pre-rename"` between 1 and 2 and
  * `"post-rename"` between 2 and 3. The rename is atomic on posix/HDFS; on
  * S3A it is a bounded copy of this generation's files, so a reader there
  * can transiently see a partial new generation.
  *
  * CRASH STATES — before 2: the store is unchanged plus a hidden tmp the
  * next commit sweeps; between 2 and 3: the consumed entries AND the new
  * generation are both visible; after 3: the new generation only.
  *
  * READER CONTRACT — read the max-seq generation ([[Listing.latest]])
  * plus the `batch_*` deltas, never two generations; a recursive reader
  * of the whole directory ([[Listing.visible]]) must tolerate the "both"
  * window's duplicates. Each user states how it does:
  *  - [[graft.operators.Dedup.compactBandIndex]] — band index, recursive
  *    reader; the probe aggregate is invariant under duplicate rows;
  *  - [[graft.streaming.Streams.compactEdges]] — webgraph edges,
  *    recursive reader; every consumer re-`distinct`s;
  *  - [[graft.streaming.Streams.annIngestStream]] and
  *    [[graft.streaming.Streams.retireIvfVectors]] — IVF index; the
  *    generation copy of a vector wins over a delta's
  *    ([[graft.streaming.Streams.annIndexSnapshot]]);
  *  - [[graft.operators.Similarity.buildGraphIndex]],
  *    [[graft.operators.Similarity.retireGraphVectors]] and
  *    [[graft.streaming.Streams.knnIngestStream]] — kNN-graph index;
  *    folds re-`distinct` edges and keep one row per vector and bucket.
  */
object CommitEpoch {

  /** One listing of a store: its generations and deltas in order, and
    * every visible entry (what a recursive parquet reader scans). */
  final case class Listing(generations: Seq[Path], deltas: Seq[Path], visible: Seq[Path]) {
    /** The max-seq generation — the one a reader picks. */
    def latest: Option[Path] = generations.lastOption
  }

  private val Gen = "compacted_"
  private val Delta = "batch_"

  // the leading digits after `prefix`; -1 when there are none
  private def seqOf(p: Path, prefix: String): Long =
    p.getName.stripPrefix(prefix).takeWhile(_.isDigit) match {
      case "" => -1L
      case d => BigInt(d).min(Long.MaxValue - 1).toLong
    }

  /** One listing of the store at `dir`. */
  def list(fs: FileSystem, dir: Path): Listing = {
    val visible = fs.listStatus(dir).map(_.getPath).toSeq
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    Listing(visible.filter(_.getName.startsWith(Gen)).sortBy(seqOf(_, Gen)),
            visible.filter(_.getName.startsWith(Delta)).sortBy(seqOf(_, Delta)),
            visible)
  }

  /** The union of part `name` over `dirs` (a generation and its deltas),
    * in order, skipping dirs that lack it; None when none has it. */
  def readPart(s: SparkSession, fs: FileSystem, dirs: Seq[Path], name: String): Option[DataFrame] =
    dirs.map(new Path(_, name)).filter(fs.exists(_))
      .map(p => s.read.parquet(p.toString)).reduceOption(_ unionByName _)

  /** Commit one generation into `dir` (steps 0-3 above): `write` fills
    * the hidden tmp it is given, and `consumed` — listed by the caller
    * before the commit — is deleted once the new generation is visible.
    * The name is `<seq>_<nonce>`: `seq` is one past the highest committed
    * (listing-derived, so it survives restarts with no extra state) and
    * the random nonce keeps two writers that raced to the same seq from
    * colliding on the rename. Returns the committed generation. */
  def commit(fs: FileSystem, dir: Path, consumed: Seq[Path])(write: Path => Unit): Path = {
    val entries = fs.listStatus(dir).map(_.getPath)
    entries.filter(p => p.getName.startsWith("_compact_") && p.getName.endsWith(".tmp"))
      .foreach(fs.delete(_, true))
    val seq = 1L + entries.filter(_.getName.startsWith(Gen))
      .map(seqOf(_, Gen)).foldLeft(0L)(math.max)
    val epoch = s"${seq}_${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = new Path(dir, s"_compact_$epoch.tmp")
    write(tmp)
    midCommitHook("pre-rename")
    val fin = new Path(dir, s"$Gen$epoch")
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"commit rename failed: $tmp -> $fin")
    midCommitHook("post-rename")
    consumed.foreach(fs.delete(_, true))
    fin
  }

  /** Write width for a compacted relation, derived from the INPUT size
    * over the scan-split target (`spark.sql.files.maxPartitionBytes`):
    * the rewritten files come back at full scan parallelism instead of
    * being capped at whatever the session's shuffle width was when the
    * compaction happened to run (r13 verdict: a conf-width write bakes
    * a parallelism cap into the file layout at 100 TB). Slightly
    * overestimates (pre-distinct bytes) — harmless, the splitter
    * coalesces small files. No input gives width 1. */
  def widthFor(fs: FileSystem, inputs: Seq[Path], spark: SparkSession): Int = {
    val bytes = inputs.map(p => fs.getContentSummary(p).getLength).sum
    val target = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    math.max(1L, math.min(1 << 20, (bytes + target - 1) / math.max(1L, target))).toInt
  }

  /** Test seam: invoked with `"pre-rename"` after the hidden tmp write
    * and `"post-rename"` after the commit rename but before the consumed
    * deletes — lets a spec read the store mid-commit and prove the
    * old-or-both-or-new visibility claim. No-op in production. */
  @volatile private[graft] var midCommitHook: String => Unit = _ => ()
}
