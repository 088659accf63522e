package graft.connector

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.store.{Footers, SnapshotStore}

/** Inspection views as SELECT-able relations: `cat.ns.t.meta_<kind>`
  * (the identifier convention `branch_`/`tag_` already use — a real
  * table always wins the name; these never list or accept writes).
  * `CALL system.detail/history/tags/branches` return the same rows,
  * but a CALL's output is terminal — the identifier form composes
  * ("newest version before noon": `SELECT max(version) FROM
  * t.meta_history WHERE committed_at < …`), which is how operators
  * actually drive restore/vacuum decisions.
  *
  * All kinds are metadata-sized (buckets / versions / files / refs /
  * props — never data rows) and build on the driver via [[LocalScan]],
  * the same shape the procedures use: a distributed scan over a
  * file-listing would be ceremony.
  */
object GraftMetadataTable {
  val Kinds: Set[String] =
    Set("history", "detail", "files", "tags", "branches", "props", "stats")

  /** Kinds that answer under `VERSION AS OF` / `TIMESTAMP AS OF`: the
    * table-state views, pinned to what the table WAS at the version —
    * `history` (versions up to the pin, `is_current` = the pin),
    * `props` (the contracts that GOVERNED the pinned version, resolved
    * through the same `propsAsOf` epoch logic as DESCRIBE — below a
    * REPLACE epoch an auditor gets that epoch's CHECK/DEFAULT/IDENTITY
    * declarations, never the replacement's), `detail`/`files` (the
    * pinned manifest's physical census). `tags`/`branches` are REFS
    * (they point AT versions, they don't live inside one) and `stats`
    * is the last ANALYZE (already version-stamped in its own rows) —
    * pinning those would be an answer to a question nobody asked, so
    * they keep the loud refusal.
    */
  val VersionableKinds: Set[String] = Set("history", "props", "detail", "files")

  private def str(s: String) = UTF8String.fromString(s)

  def schemaOf(kind: String): StructType = kind match {
    case "history" => new StructType()
      .add("version", LongType)
      .add("committed_at", TimestampType)
      .add("is_current", BooleanType)
      // this version STARTED a contract epoch (REPLACE / cross-epoch
      // restore) — the boundary change-feed consumers must re-sync
      // across; "where do I refresh from" is a SQL query, not a log dig
      .add("is_epoch_start", BooleanType)
    case "detail" => new StructType()
      .add("bucket", IntegerType)
      .add("files", IntegerType)
      .add("bytes", LongType)
      .add("rows", LongType)
      .add("tombstone_dirs", IntegerType)
      .add("tombstone_bytes", LongType)
    case "files" => new StructType()
      .add("bucket", IntegerType)
      .add("path", StringType)
      .add("bytes", LongType)
      .add("kind", StringType) // data | tombstone
    case "tags" => new StructType()
      .add("name", StringType)
      .add("version", LongType)
    case "branches" => new StructType()
      .add("name", StringType)
      .add("base_version", LongType)
      .add("branch_version", LongType)
    case "props" => new StructType()
      .add("key", StringType)
      .add("value", StringType)
    case "stats" => new StructType() // last ANALYZE; empty = never ran
      .add("column", StringType)
      .add("analyzed_version", LongType)
      .add("is_fresh", BooleanType) // analyzed version == current
      .add("rows", LongType)
      .add("ndv", LongType)
      .add("null_count", LongType)
      .add("min", StringType) // catalyst-internal rendering (ANALYZE doc)
      .add("max", StringType)
      .add("avg_len", LongType)
      .add("max_len", LongType)
    case other => throw new IllegalArgumentException(
      s"unknown graft metadata view '$other' — available: " +
        Kinds.toSeq.sorted.map("meta_" + _).mkString(", "))
  }

  private def dataFiles(spark: SparkSession, root: String, rel: String) =
    Footers.dataFiles(
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration),
      SnapshotStore.dataPath(root, rel))

  def rowsOf(spark: SparkSession, root: String, kind: String,
             versionAsOf: Option[Long] = None): Array[InternalRow] = {
    versionAsOf.foreach { v =>
      require(VersionableKinds(kind),
        s"metadata view meta_$kind reflects the CURRENT table state — " +
          "VERSION/TIMESTAMP AS OF does not apply")
      val vs = SnapshotStore.versions(spark, root)
      require(vs.contains(v),
        s"version $v is not in $root's retained history " +
          s"(have: ${vs.headOption.getOrElse("-")}..${vs.lastOption.getOrElse("-")})")
    }
    val rows: Seq[InternalRow] = kind match {
      case "history" =>
        val vs = SnapshotStore.versions(spark, root)
        val cur = versionAsOf.orElse(vs.lastOption).getOrElse(
          throw new IllegalStateException(s"no committed graft table at $root"))
        vs.filter(_ <= cur).map(v => new GenericInternalRow(Array[Any](
          v, SnapshotStore.commitTimeMillis(spark, root, v) * 1000L, v == cur,
          SnapshotStore.isEpochStart(spark, root, v))))
      case "detail" =>
        val m = GraftTable.manifestAt(spark, root, versionAsOf)
        m.buckets.toSeq.sortBy(_._1).map { case (b, e) =>
          val files = dataFiles(spark, root, e.dir)
          val tombBytes = e.tombstones.flatMap(dataFiles(spark, root, _))
            .map(_.getLen).sum
          new GenericInternalRow(Array[Any](
            b, files.length, files.map(_.getLen).sum,
            e.rows,
            e.tombstones.size, tombBytes))
        }
      case "files" =>
        val m = GraftTable.manifestAt(spark, root, versionAsOf)
        m.buckets.toSeq.sortBy(_._1).flatMap { case (b, e) =>
          dataFiles(spark, root, e.dir).map(st => new GenericInternalRow(
            Array[Any](b, str(st.getPath.toString), st.getLen, str("data")))) ++
          e.tombstones.flatMap(t => dataFiles(spark, root, t).map(st =>
            new GenericInternalRow(Array[Any](
              b, str(st.getPath.toString), st.getLen, str("tombstone")))))
        }
      case "tags" =>
        SnapshotStore.listTags(spark, root).map { case (n, v) =>
          new GenericInternalRow(Array[Any](str(n), v))
        }
      case "branches" =>
        SnapshotStore.listBranches(spark, root).map { case (n, b, v) =>
          new GenericInternalRow(Array[Any](str(n), b, v))
        }
      case "props" =>
        // epoch-honest: below a REPLACE epoch, the pinned version's own
        // epoch's archived contracts — the same resolution DESCRIBE /
        // SHOW CREATE / constraints() use for pinned reads
        SnapshotStore.propsAsOf(spark, root, versionAsOf).toSeq.sortBy(_._1)
          .map {
            case (k, v) => new GenericInternalRow(Array[Any](str(k), str(v)))
          }
      case "stats" =>
        val cur = SnapshotStore.latestVersion(spark, root)
        SnapshotStore.readColStats(spark, root).toSeq.flatMap { ts =>
          ts.cols.toSeq.sortBy(_._1).map { case (c, st) =>
            new GenericInternalRow(Array[Any](
              str(c), ts.version, cur.contains(ts.version), ts.rows,
              st.ndv, st.nullCount,
              st.min.map(str).orNull, st.max.map(str).orNull,
              st.avgLen.map(java.lang.Long.valueOf).orNull,
              st.maxLen.map(java.lang.Long.valueOf).orNull))
          }
        }
    }
    rows.toArray
  }
}

final class GraftMetadataTable(root: String, kind: String,
                               versionAsOf: Option[Long] = None)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft.`$root`.meta_$kind" +
      versionAsOf.map(v => s" VERSION AS OF $v").getOrElse("")
  override def schema(): StructType = GraftMetadataTable.schemaOf(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new LocalScan {
      // built at scan time, not table-resolution time: repeated
      // queries over a cached relation still observe fresh metadata
      private val out =
        GraftMetadataTable.rowsOf(SparkSession.active, root, kind, versionAsOf)
      override def readSchema(): StructType = GraftMetadataTable.schemaOf(kind)
      override def rows(): Array[InternalRow] = out
    }
}
