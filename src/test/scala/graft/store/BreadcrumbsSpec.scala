package graft.store

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkSpec

/** The table's small metadata files ("breadcrumbs") under concurrent
  * readers and writers:
  *
  *  1. `_schema` is published like every other breadcrumb — a temp file
  *     renamed over the live one — so a commit reading it (the write
  *     guards consult the declared NOT NULL columns and types) never
  *     sees the empty or half-written file a truncating
  *     `create(overwrite)` exposes.
  *  2. A breadcrumb deleted between a reader's listing or existence
  *     check and its open (ALTER TABLE UNSET of the last property
  *     deletes `_props`) reads as absent, not as an I/O error that
  *     fails the racing commit.
  *
  * Both run on `bcfs://`, a local-disk double outside the `file`
  * scheme (so publishes take the temp-file + rename path, not the
  * local raw-rename one) that records every write-open and rename
  * target and can delete a file at the moment it is opened.
  */
class BreadcrumbsSpec extends SparkSpec {
  import spark.implicits._

  locally {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.bcfs.impl", classOf[BreadcrumbFS].getName)
    conf.set("fs.AbstractFileSystem.bcfs.impl", classOf[BreadcrumbAfs].getName)
  }

  test("CREATE and ALTER TABLE publish _schema by temp file + rename, never by rewriting the live file") {
    val local = Files.createTempDirectory("graft-bc-wh").toString
    spark.conf.set("spark.sql.catalog.bc", classOf[graft.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bc.root", "bcfs://" + local)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bc.ns")
    BreadcrumbFS.reset()
    try {
      spark.sql("""CREATE TABLE bc.ns.t (k BIGINT, v STRING)
                   USING graft TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
      spark.sql("ALTER TABLE bc.ns.t ADD COLUMN c BIGINT")
      val schemaFile = s"$local/ns/t/_schema"
      val opened = BreadcrumbFS.writeOpened.asScala.toSeq
      val renamed = BreadcrumbFS.renamedTo.asScala.toSeq
      assert(!opened.contains(schemaFile),
        s"the live _schema was opened for writing (a reader can see it empty): $opened")
      assert(renamed.count(_ == schemaFile) == 2,
        s"CREATE and ALTER must each rename a complete temp file over _schema: $renamed")
      assert(spark.table("bc.ns.t").columns.toSeq == Seq("k", "v", "c"))
    } finally BreadcrumbFS.reset()
  }

  test("a breadcrumb deleted between a reader's check and its open reads as absent") {
    val local = Files.createTempDirectory("graft-bc-vanish").toString
    val root = "bcfs://" + local
    val merge = SnapshotStore.upsertMerge(Seq("k"))
    SnapshotStore.init(spark, root, Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    def writeBreadcrumbs(): Unit = {
      SnapshotStore.writeProps(spark, root, Map("owner" -> "ops"))
      val declared = new StructType().add("k", LongType).add("v", StringType)
      Files.write(Paths.get(local, "_schema"), declared.json.getBytes(StandardCharsets.UTF_8))
    }
    writeBreadcrumbs()
    SnapshotStore.analyze(spark, root)
    // every breadcrumb exists when a reader checks for it, and is gone
    // by the time the reader opens it
    BreadcrumbFS.vanishOnOpen = p => Set("_props", "_colstats", "_schema")(p.getName)
    try {
      assert(SnapshotStore.readColStats(spark, root).isEmpty)
      assert(SnapshotStore.readProps(spark, root).isEmpty)
      // the commit path reads `_props` and `_schema` on every write: a
      // racing deletion of either must not fail the commit
      writeBreadcrumbs()
      val v = SnapshotStore.commitDelta(spark, root, Seq((2L, "b")).toDF("k", "v"),
        Seq("k"), merge)
      assert(v == 1L)
      assert(SnapshotStore.read(spark, root).count() == 2L)
    } finally BreadcrumbFS.reset()
  }
}

/** Recorder and fault switch shared by every [[BreadcrumbFS]] instance
  * (the FileSystem cache and the FileContext delegate each make their
  * own).
  */
object BreadcrumbFS {
  val writeOpened = new ConcurrentLinkedQueue[String]()
  val renamedTo = new ConcurrentLinkedQueue[String]()
  @volatile var vanishOnOpen: Path => Boolean = _ => false
  def reset(): Unit = {
    writeOpened.clear()
    renamedTo.clear()
    vanishOnOpen = _ => false
  }
}

class BreadcrumbFS extends RawLocalFileSystem {
  override def getUri: URI = URI.create("bcfs:///")
  override def getScheme: String = "bcfs"

  private def opened(f: Path): Unit = BreadcrumbFS.writeOpened.add(f.toUri.getPath): Unit

  // every create overload must record (RawLocalFileSystem short-circuits
  // some past the 7-arg permission variant)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    opened(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    opened(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    opened(f)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short,
                                  blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    opened(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    BreadcrumbFS.renamedTo.add(dst.toUri.getPath)
    super.rename(src, dst)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (BreadcrumbFS.vanishOnOpen(f)) super.delete(f, false)
    super.open(f, bufferSize)
  }
}

/** The `FileContext` face of [[BreadcrumbFS]], which publishes rename
  * through.
  */
class BreadcrumbAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new BreadcrumbFS, conf, "bcfs", false)
