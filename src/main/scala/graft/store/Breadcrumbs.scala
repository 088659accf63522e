package graft.store

import java.io.{BufferedReader, FileNotFoundException, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import SnapshotStore.{ColStat, TableColStats, fileSystem, isObjectStore, schemeOf}

/** The table's small non-manifest metadata files — `_props`,
  * `_colstats`, `_schema`, `_clone_source`, `_branch_base` and the
  * identity-ledger certificate — with the one line reader
  * ([[Breadcrumbs.readLines]]) and the one atomic publisher
  * ([[Breadcrumbs.publish]]) every metadata file goes through — a
  * change-feed query's start files in its checkpoint included.
  *
  * A breadcrumb is mutable and version-less: writers replace it whole
  * through [[Breadcrumbs.publish]], so a reader sees the old bytes or
  * the new, never an empty or torn file; a reader treats a missing
  * file — including one deleted after a listing or existence check —
  * as absent ([[Breadcrumbs.text]]).
  */
private[graft] object Breadcrumbs {

  private val PropsFile = "_props"
  private val ColStatsFile = "_colstats"
  private val SchemaFile = "_schema"
  private val CloneSourceMarker = "_clone_source"
  private val BranchBaseMarker = "_branch_base"

  /** The per-directory completion certificate a ledger MOVE writes
    * last (content = the installing swap's version) — see
    * `Contracts.executeContractSwap` for the torn-copy hole it closes.
    */
  private[store] val LedgerCert = "_installed_by"

  /** Does the ledger directory `dir` carry swap `v`'s certificate? */
  private[store] def ledgerCertified(fs: FileSystem, dir: Path, v: Long): Boolean =
    text(fs, new Path(dir, LedgerCert)).exists(_.trim == v.toString)

  /** Certify `<root>/<dir>` as installed by swap `v` (written last). */
  private[store] def certifyLedger(spark: SparkSession, root: String,
                                   dir: String, v: Long): Unit =
    publish(spark, root, s"$dir/$LedgerCert", s"$v\n")

  /** The one line reader of the store: `f` consumes the lines of the
    * UTF-8 file `p` (terminators stripped) and the file is closed
    * after it. A missing file throws [[java.io.FileNotFoundException]]
    * — manifest and checkpoint reads rely on that loud failure.
    */
  private[store] def readLines[A](fs: FileSystem, p: Path)(f: Iterator[String] => A): A =
    readLines(fs.open(p))(f)

  /** `readLines` over a stream the caller already opened (and so
    * told an open failure apart from a read failure); closes it.
    */
  private[store] def readLines[A](stream: InputStream)(f: Iterator[String] => A): A = {
    val in = new BufferedReader(new InputStreamReader(stream, StandardCharsets.UTF_8))
    try f(Iterator.continually(in.readLine()).takeWhile(_ != null))
    finally in.close()
  }

  /** Full text of a small metadata file (lines joined by `\n`), None
    * when absent. There is no existence check before the open: a file
    * deleted concurrently (`writeProps` of no properties, a release, a
    * vacuum) reads as absent instead of failing the caller with an
    * I/O error.
    */
  private[graft] def text(fs: FileSystem, p: Path): Option[String] =
    try Some(readLines(fs, p)(_.mkString("\n")))
    catch { case _: FileNotFoundException => None }

  /** Republish a mutable small file at `<root>/<name>` atomically in
    * place: readers observe the previous content or `body`, never a
    * truncated or half-written file (a plain `create(overwrite)`
    * truncates first).
    *
    * On a CHECKSUMMED local filesystem, a rename-with-OVERWRITE moves
    * the file and its `.crc` sidecar as TWO separate steps, so a
    * concurrent reader can pair fresh bytes with a stale checksum
    * (`ChecksumException` — found live by the contract-op chaos hunt),
    * and two racing publishers can interleave their file/crc renames
    * into a persistently mismatched pair. Local publishes therefore
    * write the temp file RAW (no sidecar), delete any stale sidecar a
    * pre-raw publish left at the destination, and swap in with one
    * POSIX `rename(2)` — atomic for every reader; a missing checksum
    * is skipped by readers, never mismatched.
    */
  private[graft] def publish(spark: SparkSession, root: String,
                             name: String, body: String): Unit = {
    val p = new Path(root, name)
    val fs = fileSystem(spark, root)
    val tmp = new Path(root, name + ".tmp-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    def write(to: FileSystem, at: Path): Unit = {
      val out = to.create(at, true)
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    if (schemeOf(fs) == "file") {
      val writeFs = fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case f => f
      }
      write(writeFs, tmp)
      val crc = new Path(p.getParent, s".${p.getName}.crc")
      if (writeFs.exists(crc)) writeFs.delete(crc, false): Unit
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else if (isObjectStore(fs)) {
      // one direct PUT: an object store makes the key visible
      // atomically when the upload completes, so the overwrite create
      // IS the publish — readers observe the old bytes or the new,
      // never a mix. The tmp+rename dance would be strictly worse
      // here: rename is copy+delete, giving every reader a window
      // where the file is GONE (readProps → empty, epoch stamp
      // invisible) and a crash strands the delete half-done.
      write(fs, p)
    } else {
      write(fs, tmp)
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          p.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: UnsupportedOperationException =>
          fs.delete(p, false)
          require(fs.rename(tmp, p), s"could not publish $name at $root")
      }
    }
  }

  /** The table's `_props` (see [[SnapshotStore.writeProps]]); empty
    * when there is none.
    */
  private[store] def props(fs: FileSystem, root: String): Map[String, String] = {
    val p = new Path(root, PropsFile)
    text(fs, p).fold(Map.empty[String, String])(parseProps(_, p.toString))
  }

  /** Replace `_props` whole; no properties removes the file. */
  private[store] def publishProps(spark: SparkSession, root: String,
                                  props: Map[String, String]): Unit =
    if (props.isEmpty) fileSystem(spark, root).delete(new Path(root, PropsFile), false): Unit
    else publish(spark, root, PropsFile, propsText(props))

  /** `_props` text: one `key<TAB>value` line per property, sorted. */
  private[store] def propsText(props: Map[String, String]): String =
    props.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n")

  /** Inverse of [[propsText]]; `where` names the file in errors. */
  private[store] def parseProps(text: String, where: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"malformed props line at $where: '$line'")
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap

  /** `_props` values are one-per-line TSV, so control whitespace must
    * be escaped — generation expressions arrive with the user's DDL
    * formatting (newlines) intact. Reversible percent-encoding of
    * exactly the four dangerous characters; [[decPropValue]] inverts.
    */
  private[graft] def encPropValue(v: String): String =
    v.replace("%", "%25").replace("\t", "%09")
      .replace("\n", "%0A").replace("\r", "%0D")
  private[graft] def decPropValue(v: String): String =
    v.replace("%0D", "\r").replace("%0A", "\n")
      .replace("%09", "\t").replace("%25", "%")

  /** The persisted ANALYZE result (`_colstats`): a
    * `version<TAB>v<TAB>rows<TAB>n` header, then one line per column —
    * name, ndv, null count, min, max, average and max length, an empty
    * field for an absent value.
    */
  private[store] def colStats(fs: FileSystem, root: String): Option[TableColStats] =
    text(fs, new Path(root, ColStatsFile))
      .map(_.linesIterator.filter(_.nonEmpty).toVector).filter(_.nonEmpty).map { lines =>
        val head = lines.head.split("\t")
        require(head.length == 4 && head(0) == "version" && head(2) == "rows",
          s"malformed _colstats header at $root: '${lines.head}'")
        val cols = lines.tail.map { l =>
          val parts = l.split("\t", -1)
          require(parts.length == 7, s"malformed _colstats line at $root: '$l'")
          def opt(s: String) = if (s.isEmpty) None else Some(s)
          parts(0) -> ColStat(parts(1).toLong, parts(2).toLong,
            opt(parts(3)), opt(parts(4)),
            opt(parts(5)).map(_.toLong), opt(parts(6)).map(_.toLong))
        }.toMap
        TableColStats(head(1).toLong, head(3).toLong, cols)
      }

  private[store] def publishColStats(spark: SparkSession, root: String,
                                     ts: TableColStats): Unit = {
    val body = (s"version\t${ts.version}\trows\t${ts.rows}" +:
      ts.cols.toSeq.sortBy(_._1).map { case (n, c) =>
        Seq(n, c.ndv, c.nullCount, c.min.getOrElse(""), c.max.getOrElse(""),
          c.avgLen.fold("")(_.toString), c.maxLen.fold("")(_.toString)).mkString("\t")
      }).mkString("\n")
    publish(spark, root, ColStatsFile, body)
  }

  /** Retire the ANALYZE result (a contract swap changes what it measured). */
  private[store] def dropColStats(fs: FileSystem, root: String): Unit =
    fs.delete(new Path(root, ColStatsFile), false): Unit

  /** The catalog-declared schema (`_schema` breadcrumb, written at
    * CREATE and evolved by ALTER) — the carrier of declarations data
    * footers cannot hold: column order, NOT NULL, DEFAULT metadata.
    * None for path-created tables, which have no declarations.
    */
  private[graft] def declaredSchema(spark: SparkSession, root: String): Option[StructType] =
    text(fileSystem(spark, root), new Path(root, SchemaFile))
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])

  /** Record the declared schema (CREATE, ALTER). */
  private[graft] def writeDeclaredSchema(spark: SparkSession, root: String,
                                         schema: StructType): Unit =
    publish(spark, root, SchemaFile, schema.json)

  /** `_schema` as stored, for contract archives and comparisons. */
  private[store] def declaredSchemaText(fs: FileSystem, root: String): Option[String] =
    text(fs, new Path(root, SchemaFile))

  /** Install `_schema` text verbatim (a contract swap); None removes
    * it — the table then declares nothing.
    */
  private[store] def installDeclaredSchemaText(spark: SparkSession, root: String,
                                               json: Option[String]): Unit = json match {
    case Some(t) => publish(spark, root, SchemaFile, t)
    case None => fileSystem(spark, root).delete(new Path(root, SchemaFile), false): Unit
  }

  /** The source root a clone's retention consumer is registered on
    * (`_clone_source`, written by [[SnapshotStore.cloneTable]]); None
    * for a table that is not an un-released clone.
    */
  private[store] def cloneSourceOf(fs: FileSystem, root: String): Option[String] =
    text(fs, new Path(root, CloneSourceMarker))
      .flatMap(_.linesIterator.nextOption()).filter(_.nonEmpty)

  private[store] def markCloneSource(spark: SparkSession, root: String, src: String): Unit =
    publish(spark, root, CloneSourceMarker, src)

  private[store] def clearCloneSource(fs: FileSystem, root: String): Unit =
    fs.delete(new Path(root, CloneSourceMarker), false): Unit

  /** `_branch_base`: the fork base on main, then the branch instance
    * token.
    */
  private[store] def writeBranchBase(spark: SparkSession, br: String,
                                     base: Long, instance: String): Unit =
    publish(spark, br, BranchBaseMarker, s"$base\n$instance\n")

  /** A branch's fork base on main (`_branch_base` line 1). */
  private[store] def branchBase(fs: FileSystem, br: String): Option[Long] =
    text(fs, new Path(br, BranchBaseMarker)).flatMap(_.linesIterator.nextOption())
      .map(_.trim).filter(_.nonEmpty).map(_.toLong)

  /** The branch's instance token ([[SnapshotStore.createBranch]] line
    * 2); None on a pre-R16 branch or a torn base marker (treated as "no
    * successor check possible" — instance-scoped drops then behave like
    * the unconditional drop).
    */
  private[graft] def branchInstance(fs: FileSystem, br: String): Option[String] =
    text(fs, new Path(br, BranchBaseMarker))
      .flatMap(_.linesIterator.drop(1).nextOption())
      .map(_.trim).filter(_.nonEmpty)
}
