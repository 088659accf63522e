package graft.store

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import SnapshotStore.{BucketEntry, Manifest, checkpointRenameHook, commitsDir, fileSystem,
  isObjectStore, manifestPath, newToken}
import Claims.arbitratedCreate

/** The commit log's file format and read caches: the format-5
  * manifest codec ([[ManifestLog.manifestText]] and
  * [[ManifestLog.parseManifestFile]], `enc`/`dec`, stats encoding),
  * header and terminator reads, the reconstructed-manifest LRU and the
  * columnar checkpoints that bound a manifest chain's replay.
  * [[SnapshotStore.readManifest]] folds what this reads into a
  * [[SnapshotStore.Manifest]]; `Commit.writeManifestAtomic` publishes
  * what it encodes.
  */
private[graft] object ManifestLog {

  private[store] def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private[store] def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** The value of header line `<field>:` of version `v`'s manifest,
    * None when the header has no such line. Header-only: at most the
    * first 8 lines are read (the fields sit in the first four; the
    * slack covers a grown header). A missing manifest throws
    * [[java.io.FileNotFoundException]].
    */
  private[store] def headerField(fs: FileSystem, root: String, v: Long,
                                 field: String): Option[String] =
    Breadcrumbs.readLines(fs, manifestPath(root, v))(_.take(8).collectFirst {
      case l if l.startsWith(field + ":") => l.stripPrefix(field + ":").trim
    })

  /** Manifest format (line-oriented, tab-separated, values URL-encoded):
    * {{{
    *   buckets:<n>
    *   format:<v>                  (format marker, always 5)
    *   ts:<epochMillis>            (commit wall-clock instant,
    *                                monotonic per table)
    *   epoch:1                     (this version STARTS a contract
    *                                epoch — a REPLACE or a cross-epoch
    *                                restore; its committer swaps
    *                                `_schema`/`_props`/ledger after the
    *                                manifest commit and stamps
    *                                `graft.schema.epoch` to this version
    *                                as the swap's LAST step, so
    *                                flag+stamp together certify the
    *                                swap completed)
    *   delta:<base>                (delta manifests: entries below are a
    *                                DELTA on version <base> = this-1)
    *   keys:<k1>,<k2>,...          (the table's merge-identity columns,
    *                                URL-encoded; absent on a keyless table)
    *   stats:<name>:<tag>,...      (absent when no stats cols declared)
    *   txn:<writerId>\t<batchId>   (0..many; always the FULL map)
    *   <bucket>\t<dir>[\t<min>,<max>,<min>,<max>,...]
    *   fstats:<bucket>\t<fileName>\t<min>,<max>,...   (0..many, after their bucket line)
    *   rows:<bucket>\t<n>           (bucket row count, exact as of the
    *                                 bucket's last rewrite)
    *   tomb:<bucket>\t<dir>         (0..many, one per unfolded delete sidecar)
    *   del:<bucket>                 (delta manifests: bucket removed vs base)
    *   end:<token>:<lineCount>
    * }}}
    *
    * A manifest without `delta:` is the FULL state (every bucket
    * listed). A delta manifest lists only the buckets its commit
    * changed (each with its complete entry: dir + stats + fstats +
    * rows + tombs) plus `del:` removals — so commit METADATA cost is
    * O(touched buckets' files), not O(table files); at 10⁵–10⁶ files
    * per table, full per-commit manifests are the first real 100×
    * bottleneck. State is reconstructed by [[SnapshotStore.readManifest]] from the
    * nearest full base (a columnar CHECKPOINT — parquet snapshot of the
    * whole state written every [[checkpointInterval]] commits — or a
    * full manifest, v0 at worst) plus the delta chain above it.
    *
    * The `format:` marker exists so a manifest this reader does not
    * understand is refused instead of silently misread: a manifest
    * with no marker, or with any format other than
    * [[ManifestFormat]], fails [[parseManifestFile]] with an error
    * naming its version and format.
    */
  private[store] val ManifestFormat = 5

  /** The text of manifest `m` in [[ManifestFormat]], closed by its
    * terminator `end:<token>:<lineCount>`. With a `base` (which must be
    * `m`'s predecessor) it is a DELTA: only the bucket entries that
    * differ from `base`, plus `del:` lines for removed buckets;
    * without one it lists the full state.
    */
  private[store] def manifestText(m: Manifest, base: Option[Manifest],
                                  epochStart: Boolean, token: String): String = {
    val keysLine =
      if (m.keys.isEmpty) Seq.empty
      else Seq("keys:" + m.keys.map(enc).mkString(","))
    val statsLine =
      if (m.statsCols.isEmpty) Seq.empty
      else Seq("stats:" + m.statsCols.map { case (n, t) => s"${enc(n)}:$t" }.mkString(","))
    val txnLines = m.txns.toSeq.sortBy(_._1)
      .map { case (id, b) => s"txn:${enc(id)}\t$b" }
    val (written, delLines, deltaLine) = base match {
      case Some(bm) =>
        (m.buckets.filter { case (b, e) => !bm.buckets.get(b).contains(e) },
          (bm.buckets.keySet -- m.buckets.keySet).toSeq.sorted.map(b => s"del:$b"),
          Seq(s"delta:${bm.version}"))
      case None => (m.buckets, Seq.empty[String], Seq.empty[String])
    }
    val bucketLines = written.toSeq.sortBy(_._1).flatMap { case (b, e) =>
      val main = if (m.statsCols.isEmpty) s"$b\t${e.dir}"
        else s"$b\t${e.dir}\t${encStats(e.stats)}"
      val files = e.fileStats.toSeq.sortBy(_._1).map { case (name, st) =>
        s"fstats:$b\t${enc(name)}\t${encStats(st)}"
      }
      val tombs = e.tombstones.map(d => s"tomb:$b\t$d")
      (main +: files :+ s"rows:$b\t${e.rows}") ++ tombs
    }
    val epochLine = if (epochStart) Seq("epoch:1") else Seq.empty
    val bodyLines = Seq(s"buckets:${m.numBuckets}", s"format:$ManifestFormat",
      s"ts:${m.commitTsMillis}") ++ epochLine ++
      deltaLine ++ keysLine ++ statsLine ++ txnLines ++ bucketLines ++ delLines
    bodyLines.mkString("", "\n", "\n") + s"end:$token:${bodyLines.size}\n"
  }

  /** Write a full-state checkpoint every this-many commits (the
    * Delta-parquet-checkpoint cadence knob).
    */
  private[store] def checkpointInterval: Long =
    sys.props.get("graft.snapshot.checkpointInterval").map(_.toLong).getOrElse(8L)

  /** One parsed manifest FILE (possibly a delta, not yet a state). */
  private[store] final case class RawManifest(version: Long, numBuckets: Int,
                                       statsCols: Seq[(String, String)],
                                       txns: Map[String, Long],
                                       entries: Map[Int, BucketEntry],
                                       deleted: Set[Int],
                                       deltaBase: Option[Long],
                                       keys: Seq[String],
                                       commitTsMillis: Long,
                                       epochStart: Boolean)

  private def parseStats(s: String): Seq[Option[(String, String)]] =
    if (s.isEmpty) Seq.empty
    else s.split(",", -1).grouped(2).map {
      case Array("", "") => None
      case Array(mn, mx) => Some((dec(mn), dec(mx)))
    }.toSeq

  private[store] def parseManifestFile(fs: FileSystem, root: String, v: Long): RawManifest = {
    Breadcrumbs.readLines(fs, manifestPath(root, v)) { lines =>
      val header = lines.next() // "buckets:<n>"
      val numBuckets = header.stripPrefix("buckets:").trim.toInt
      def refuse(why: String) = new IllegalStateException(
        s"manifest for version $v at $root $why; this reader understands " +
          s"format $ManifestFormat only — refusing to misread it")
      var statsCols = Seq.empty[(String, String)]
      var complete = false
      var marked = false
      var deltaBase: Option[Long] = None
      var keys = Seq.empty[String]
      var commitTs: Option[Long] = None
      var epochStart = false
      val txns = mutable.Map.empty[String, Long]
      val entries = mutable.Map.empty[Int, (String, Seq[Option[(String, String)]])]
      val deleted = mutable.Set.empty[Int]
      val fstats = mutable.Map.empty[Int, mutable.Map[String, Seq[Option[(String, String)]]]]
      val rowCounts = mutable.Map.empty[Int, Long]
      val tombs = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]
      lines.filter(_.nonEmpty)
        .foreach {
          case l if l.startsWith("format:") =>
            val f = l.stripPrefix("format:").trim.toInt
            if (f != ManifestFormat) throw refuse(s"is format $f")
            marked = true
          case l if l.startsWith("delta:") =>
            deltaBase = Some(l.stripPrefix("delta:").trim.toLong)
          case l if l.startsWith("keys:") =>
            keys = l.stripPrefix("keys:").split(",").toSeq
              .filter(_.nonEmpty).map(dec)
          case l if l.startsWith("ts:") =>
            commitTs = Some(l.stripPrefix("ts:").trim.toLong)
          case l if l.startsWith("epoch:") =>
            epochStart = l.stripPrefix("epoch:").trim == "1"
          case l if l.startsWith("rows:") =>
            val Array(b, n) = l.stripPrefix("rows:").split("\t", 2)
            rowCounts(b.toInt) = n.toLong
          case l if l.startsWith("stats:") =>
            statsCols = l.stripPrefix("stats:").split(",").toSeq
              .filter(_.nonEmpty).map { part =>
                val Array(n, t) = part.split(":", 2)
                (dec(n), t)
              }
          case l if l.startsWith("txn:") =>
            val Array(id, b) = l.stripPrefix("txn:").split("\t", 2)
            txns(dec(id)) = b.toLong
          case l if l.startsWith("end:") =>
            complete = true
          case l if l.startsWith("fstats:") =>
            val Array(b, name, st) = l.stripPrefix("fstats:").split("\t", 3)
            fstats.getOrElseUpdate(b.toInt, mutable.Map.empty)(dec(name)) =
              parseStats(st)
          case l if l.startsWith("tomb:") =>
            val Array(b, dir) = l.stripPrefix("tomb:").split("\t", 2)
            tombs.getOrElseUpdate(b.toInt, mutable.ArrayBuffer.empty) += dir
          case l if l.startsWith("del:") =>
            deleted += l.stripPrefix("del:").trim.toInt
          case l =>
            val parts = l.split("\t", 3)
            val stats = if (parts.length < 3 || parts(2).isEmpty) Seq.empty
              else parseStats(parts(2))
            entries(parts(0).toInt) = (parts(1), stats)
        }
      if (!complete)
        throw new IllegalStateException(
          s"manifest for version $v at $root has no terminator — " +
            "written by a crashed committer; it is not a committed version")
      if (!marked) throw refuse("has no format: marker (format 2)")
      val withF = entries.map { case (b, (dir, stats)) =>
        b -> BucketEntry(dir, stats, fstats.get(b).map(_.toMap).getOrElse(Map.empty),
          tombs.get(b).map(_.toSeq).getOrElse(Nil),
          rowCounts.getOrElse(b, throw refuse(s"has no rows: line for bucket $b")))
      }
      RawManifest(v, numBuckets, statsCols, txns.toMap, withF.toMap, deleted.toSet,
        deltaBase, keys, commitTs.getOrElse(throw refuse("has no ts: line")), epochStart)
    }
  }

  /** Reconstructed-manifest LRU: manifests are immutable once
    * committed (reclaim only ever replaces INCOMPLETE files, which
    * never parse successfully, so never land here), making this safe
    * WITHIN one table's life. A hit is validated against the manifest
    * file's (length, mtime) fingerprint — one getFileStatus, the same
    * cost the plain existence check paid — so both a VACUUMED version
    * (file gone) and a table dropped-and-recreated at the same path by
    * another process (same version number, different file) miss
    * instead of serving the dead table's state.
    */
  private[store] val manifestCache =
    new java.util.LinkedHashMap[(String, Long), (Manifest, Long, Long)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: JMapEntry[(String, Long), (Manifest, Long, Long)]): Boolean =
        size() > 64
    }
  private type JMapEntry[K, V] = java.util.Map.Entry[K, V]
  private def cacheKey(fs: FileSystem, root: String, v: Long): (String, Long) =
    (fs.makeQualified(new Path(root)).toString, v)
  private[store] def manifestFingerprint(fs: FileSystem, root: String, v: Long)
      : Option[(Long, Long)] =
    try {
      val st = fs.getFileStatus(manifestPath(root, v))
      Some((st.getLen, st.getModificationTime))
    } catch { case _: java.io.IOException => None }
  private[store] def cacheGet(fs: FileSystem, root: String, v: Long): Option[Manifest] =
    manifestCache.synchronized(Option(manifestCache.get(cacheKey(fs, root, v))))
      .collect { case (m, len, mtime)
        if manifestFingerprint(fs, root, v).contains((len, mtime)) => m }
  private[store] def cachePut(fs: FileSystem, root: String, m: Manifest): Unit =
    manifestFingerprint(fs, root, m.version).foreach { case (len, mtime) =>
      manifestCache.synchronized {
        manifestCache.put(cacheKey(fs, root, m.version), (m, len, mtime)): Unit
      }
    }

  /** How long a checkpoint writer defers to another writer's live
    * `claim-cp-<v>` before writing its own attempt anyway. Checkpoint
    * DATA writes take seconds (one metadata-sized parquet task), so
    * this is deliberately much shorter than the 10-minute manifest
    * lease [[SnapshotStore.ReclaimGraceMs]] — a claimer that crashed mid-write must
    * not stall every cadence-commit writer of that version for
    * minutes. The claim is work-dedup only (see [[writeCheckpoint]]);
    * correctness rides on each attempt's private tmp dir + atomic
    * publish rename, so giving up on a claim early is always safe.
    */
  private val CheckpointClaimGraceMs: Long =
    sys.props.get("graft.snapshot.checkpointClaimGraceMs").map(_.toLong).getOrElse(15000L)

  private[store] def checkpointDir(root: String, v: Long) =
    new Path(commitsDir(root), f"cp-$v%020d")

  private def encStats(stats: Seq[Option[(String, String)]]): String = stats.map {
    case Some((mn, mx)) => s"${enc(mn)},${enc(mx)}"
    case None => ","
  }.mkString(",")

  /** Write the FULL state at `m.version` as one parquet snapshot under
    * `_commits/cp-<v>` — the columnar metadata the text manifests
    * checkpoint into (micro-partition-metadata / Delta-checkpoint
    * analog). Rows are (kind, bucket, name, value, stats):
    * `meta` (numBuckets / statsCols), `txn`, `bucket`, `fstat`,
    * `tomb`. Best-effort: a failed or torn checkpoint (no _SUCCESS) is
    * ignored by readers, whose walk-back just continues to the next
    * base — checkpoints are an optimization of read cost, never a
    * correctness dependency. Vacuum's retention-floor checkpoint is
    * the one exception and verifies its own write.
    */
  private[store] def writeCheckpoint(spark: SparkSession, root: String, m: Manifest): Unit = {
    val fs = fileSystem(spark, root)
    val done = new Path(checkpointDir(root, m.version), "_SUCCESS")
    // a checkpoint's content is a pure function of the manifest, so
    // one completed write answers for every caller
    if (fs.exists(done)) return
    // The claim ([[Claims.createExclusive]] on `claim-cp-<v>`) is WORK DEDUP
    // only: in the common case one Spark job computes the bytes while
    // racers wait. It is no longer a correctness gate — every attempt
    // writes its own private `cp-<v>.tmp-<token>` dir and atomically
    // RENAMES it into place ([[writeCheckpointData]]), so two writers
    // can never share a FileOutputCommitter output dir (the r13 chaos
    // crash), and no waiter ever DELETES another's claim — the old
    // reclaim had a TOCTOU where the stale-check/delete pair could
    // remove a freshly re-created claim and admit two claimers. A
    // crashed claimer now costs at most [[CheckpointClaimGraceMs]] of
    // deferral, after which waiters simply write their own attempt;
    // the orphaned claim file is swept by [[SnapshotStore.vacuum]].
    val claim = new Path(commitsDir(root), f"claim-cp-${m.version}%020d")
    // On a plain-PUT store the exclusive create below is check-then-act
    // and two claimers can both "win" — never a correctness hole (the
    // self-validating publish turns a mixed dir into a walked-back
    // checkpoint), but double work and a degraded read until the next
    // cadence. With the arbiter configured the claim row restores
    // single-writer dedup; the marker file still PUTs (overwrite) so
    // waiters' mtime-age deferral works unchanged. One token per call:
    // a same-caller retry re-wins its own row.
    val claimToken = newToken()
    val start = System.currentTimeMillis()
    var defer = true
    while (defer) {
      if (fs.exists(done)) return
      arbitratedCreate(fs, claim, claimToken) match {
        case Some(out) =>
          // conditional-PUT stores surface a lost claim at close();
          // a loser just rejoins the waiters
          val claimed = try { out.close(); true }
            catch { case _: java.io.IOException => false }
          if (claimed) {
            try { writeCheckpointData(spark, root, m); return }
            finally fs.delete(claim, false)
          } else Thread.sleep(50)
        case None =>
          val claimAge =
            try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
            catch { case _: java.io.FileNotFoundException => 0L } // holder just finished or failed; re-loop
          if (claimAge > CheckpointClaimGraceMs ||
            System.currentTimeMillis() - start > CheckpointClaimGraceMs) defer = false
          else Thread.sleep(50)
      }
    }
    // claim stale or deferral budget spent: write our own attempt —
    // safe at any concurrency thanks to the tmp-dir + rename publish
    writeCheckpointData(spark, root, m)
  }

  private def writeCheckpointData(spark: SparkSession, root: String, m: Manifest): Unit = {
    val meta = Seq(
      ("meta", -1, "numBuckets", m.numBuckets.toString, ""),
      ("meta", -1, "statsCols",
        m.statsCols.map { case (n, t) => s"${enc(n)}:$t" }.mkString(","), ""),
      ("meta", -1, "keys", m.keys.map(enc).mkString(","), ""),
      ("meta", -1, "commitTs", m.commitTsMillis.toString, ""))
    val txns = m.txns.toSeq.sortBy(_._1).map { case (id, b) =>
      ("txn", -1, enc(id), b.toString, "")
    }
    val buckets = m.buckets.toSeq.sortBy(_._1).flatMap { case (b, e) =>
      Seq(("bucket", b, "", e.dir, encStats(e.stats))) ++
        e.fileStats.toSeq.sortBy(_._1).map { case (n, st) =>
          ("fstat", b, enc(n), "", encStats(st))
        } ++
        Seq(("rows", b, "", e.rows.toString, "")) ++
        e.tombstones.map(d => ("tomb", b, "", d, ""))
    }
    // one writer task: the checkpoint is metadata-sized relative to
    // the data (≤ files + buckets + txns rows), and one file reads
    // back with one task. Written to a PRIVATE tmp dir, then published
    // by one atomic rename — concurrent attempts (a reclaimed claim, a
    // restore auto-checkpoint racing CALL system.checkpoint) each hold
    // their own output dir, and the first completed rename wins. The
    // bytes are a pure function of the manifest, so even the benign
    // race where a late publisher replaces an already-complete dir
    // converges to equivalent content; readers that catch the swap
    // window just walk back (checkpoints are best-effort by contract).
    val fs = fileSystem(spark, root)
    val dest = checkpointDir(root, m.version)
    val tmp = new Path(commitsDir(root), f"cp-${m.version}%020d.tmp-${newToken()}")
    try {
      spark.createDataFrame(meta ++ txns ++ buckets)
        .toDF("kind", "bucket", "name", "value", "stats")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      if (!fs.exists(new Path(dest, "_SUCCESS"))) {
        if (isObjectStore(fs)) {
          // no atomic dir rename on an object store (copy+delete could
          // surface _SUCCESS before the data objects it vouches for —
          // copy order is listing order). Publish in reader-safe
          // order instead: PUT every data object first, the _SUCCESS
          // marker strictly LAST — a reader that sees the marker sees
          // complete data (read-after-write consistency per key).
          // A torn prior attempt's leftovers must go FIRST: its part
          // files carry different (uuid) names, and a whole-dir read
          // after this publish would consume both generations. An
          // incomplete dest was never reader-visible (no _SUCCESS), so
          // the delete closes no window.
          if (fs.exists(dest)) fs.delete(dest, true)
          val copied = fs.listStatus(tmp).filter(_.isFile)
            .filterNot(_.getPath.getName == "_SUCCESS")
            .map { st =>
              org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
                new Path(dest, st.getPath.getName), false, true, fs.getConf): Unit
              st.getPath.getName
            }
          // marker carries the exact file set it vouches for: a MIXED
          // dir (two same-version writers interleaving where the dedup
          // claim is check-then-act) fails readCheckpoint's validation
          // instead of double-counting both generations
          val out = fs.create(new Path(dest, "_SUCCESS"), true)
          try out.write(copied.sorted.mkString("", "\n", "\n")
            .getBytes(StandardCharsets.UTF_8))
          finally out.close()
        } else {
          // a torn prior attempt (dir present, no _SUCCESS) would make
          // rename nest tmp INSIDE dest — clear it first
          if (fs.exists(dest)) fs.delete(dest, true)
          checkpointRenameHook(dest)
          // Two same-version writers can interleave their delete+rename
          // here (the claim is work-dedup, not a correctness gate):
          // Hadoop's rename onto a dest a rival re-created in this
          // window moves tmp INSIDE it — and still returns true. The
          // rival's publish is complete and correct; only OUR stray
          // `cp-<v>.tmp-<token>` subdir pollutes it (vacuum sweeps only
          // direct children of _commits, and a whole-dir parquet read
          // would trip over or double-count it). Detect the nest and
          // remove the stray. A false return (dest vanished under a
          // concurrent delete) just abandons tmp to the finally-delete.
          if (fs.rename(tmp, dest)) {
            val nested = new Path(dest, tmp.getName)
            if (fs.exists(nested)) fs.delete(nested, true): Unit
          }
        }
      }
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true): Unit // lost the publish race
    }
  }

  private[store] def maybeCheckpoint(spark: SparkSession, root: String, m: Manifest): Unit = {
    cachePut(fileSystem(spark, root), root, m)
    if (m.version > 0 && m.version % checkpointInterval == 0) {
      try writeCheckpoint(spark, root, m)
      catch { case scala.util.control.NonFatal(_) => () } // read chain just stays longer
    }
  }

  /** The checkpointed state at exactly `v`, if a complete checkpoint
    * (_SUCCESS present) exists there.
    */
  private[store] def readCheckpoint(spark: SparkSession, root: String, v: Long): Option[Manifest] = {
    val dir = checkpointDir(root, v)
    val fs = fileSystem(spark, root)
    // no marker = no complete checkpoint here (absent, torn, or
    // swapped out by a concurrent publish — walk back).
    // An object-store publish stamps the marker with the exact file
    // set it copied (the POSIX path's marker is Spark's empty
    // _SUCCESS — its dir renamed into place atomically). A non-empty
    // marker that disagrees with the directory means a MIXED dir: two
    // same-version writers interleaving their delete+copy (possible
    // where the work-dedup claim is check-then-act — plain-PUT
    // stores), or a torn overwrite. Both generations carry identical
    // logical rows under different (uuid) file names, so a whole-dir
    // read would double-count — ignore the checkpoint (manifests
    // reconstruct) and let the next cadence write repair it.
    val marker = Breadcrumbs.text(fs, new Path(dir, "_SUCCESS")).getOrElse(return None)
    if (marker.nonEmpty) {
      val listed = fs.listStatus(dir).filter(_.isFile)
        .map(_.getPath.getName).filterNot(_ == "_SUCCESS").toSet
      if (listed != marker.linesIterator.filter(_.nonEmpty).toSet) return None
    }
    val rows = spark.read.parquet(dir.toString).collect()
    def kind(k: String) = rows.filter(_.getString(0) == k)
    val metas = kind("meta").map(r => r.getString(2) -> r.getString(3)).toMap
    val fstats = kind("fstat").groupBy(_.getInt(1)).map { case (b, rs) =>
      b -> rs.map(r => (dec(r.getString(2)), parseStats(r.getString(4)))).toMap
    }
    val tombs = kind("tomb").groupBy(_.getInt(1)).map { case (b, rs) =>
      b -> rs.map(_.getString(3)).toSeq
    }
    val rowCounts = kind("rows").map(r => r.getInt(1) -> r.getString(3).toLong).toMap
    val buckets = kind("bucket").map { r =>
      val b = r.getInt(1)
      b -> BucketEntry(r.getString(3), parseStats(r.getString(4)),
        fstats.getOrElse(b, Map.empty), tombs.getOrElse(b, Nil),
        rowCounts(b))
    }.toMap
    Some(Manifest(v, metas("numBuckets").toInt,
      metas("statsCols").split(",").toSeq.filter(_.nonEmpty).map { part =>
        val Array(n, t) = part.split(":", 2)
        (dec(n), t)
      },
      kind("txn").map(r => dec(r.getString(2)) -> r.getString(3).toLong).toMap,
      buckets,
      metas("keys").split(",").toSeq.filter(_.nonEmpty).map(dec),
      metas("commitTs").toLong))
  }

  /** The terminator token of a manifest file, or None when the file is
    * absent or incomplete (crashed writer). The terminator is the LAST
    * thing a committer writes and carries the count of preceding
    * lines (`end:<token>:<n>`), so its presence certifies every line
    * arrived AND that no interleaved writer's bytes are mixed in (two
    * local-FS writers that both slipped through a non-atomic create
    * produce a hybrid whose line count cannot match); its token
    * identifies WHICH committer's bytes are on disk (the post-write
    * ownership check below).
    */
  private[store] def readTerminator(fs: FileSystem, p: Path): Option[String] =
    readTerminatorEither(fs, p).getOrElse(None)

  /** Strict variant for callers that must DISTINGUISH "no terminator on
    * disk" from "could not read": Right(token?) is a definitive
    * observation (a vanished file — concurrent reclaim or vacuum —
    * reads as Right(None), a benign race, not a failure); Left is a
    * transient read error carrying NO information about what is on
    * disk. [[readTerminator]] flattens Left to None, which is correct
    * for listing/reclaim decisions but NOT for the post-write
    * ownership check (see [[Commit.writeManifestAtomic]]).
    */
  private[store] def readTerminatorEither(fs: FileSystem, p: Path)
      : Either[java.io.IOException, Option[String]] =
    try {
      // fs.exists/open both inside the try: a concurrent reclaimer or
      // vacuum deleting the file between check and open must read as
      // "no terminator", not throw out of versions()
      if (!fs.exists(p)) return Right(None)
      Breadcrumbs.readLines(fs, p) { it =>
        var last: String = null
        var lines = 0
        it.filter(_.nonEmpty).foreach { l => last = l; lines += 1 }
        Right(Option(last).filter(_.startsWith("end:"))
          .map(_.stripPrefix("end:").split(":", 2))
          .collect { case Array(token, n) if n.forall(_.isDigit) && n.toInt == lines - 1 =>
            token
          })
      }
    } catch {
      case _: java.io.FileNotFoundException => Right(None) // vanished = definitively gone
      case e: java.io.IOException => Left(e)
    }
}
