package graft.connector

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable}
import org.apache.spark.sql.types.StructType

import graft.store.Contracts

object GraftStagedTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

/** The staged half of atomic CTAS / RTAS (`StagingTableCatalog`): a
  * full graft table living under the namespace's hidden `_staging/`
  * directory — the planner's write lands there through the ordinary
  * write builder — whose `commitStagedChanges` makes it visible in one
  * atomic step:
  *
  *  - CREATE: one directory rename into the real name. A concurrent
  *    create of the same name is detected by an ownership breadcrumb
  *    (FS rename-into-existing-directory semantics would otherwise
  *    silently nest the staged dir inside the winner's table) and
  *    withdrawn cleanly.
  *  - REPLACE: [[Contracts.adoptAsReplace]] — the staged content
  *    commits as the NEXT VERSION of the existing table (zero-copy
  *    rename adoption, history preserved, keys/layout/schema free to
  *    change).
  *
  * `abortStagedChanges` (a failed or cancelled SELECT) deletes the
  * staging directory; nothing was ever visible.
  */
final class GraftStagedTable(spark: SparkSession, ident: Identifier,
                             stagedDir: Path, targetDir: Path,
                             mode: GraftStagedTable.Mode, tableSchema: StructType)
    extends GraftTable(stagedDir.toString, None, tableSchema, fromCatalog = true)
    with StagedTable {

  import GraftStagedTable._

  private def fs = targetDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Ownership breadcrumb: present in the staged dir from birth, so
    * after the commit rename "did OUR dir land at the target?" is a
    * one-file check — the winner of a create race never carries a
    * loser's marker at its top level.
    */
  private val marker = "_staged-" + stagedDir.getName
  fs.create(new Path(stagedDir, marker), true).close()

  override def name(): String = ident.toString

  override def commitStagedChanges(): Unit = mode match {
    case Create => commitCreate()
    case Replace => commitReplace(orCreate = false)
    case CreateOrReplace => commitReplace(orCreate = true)
  }

  /** A cancelled write's STRAGGLER tasks can re-create the staging
    * directory after the delete (task-side file creation mkdirs its
    * parents), so one delete is not a clean abort — keep deleting
    * until the directory stays absent across consecutive checks. The
    * commit paths use the plain [[cleanup]]: they only run after a
    * SUCCESSFUL write, when every task has already finished. The
    * catalog's staging TTL sweep is the backstop for stragglers that
    * outlive this grace window.
    */
  override def abortStagedChanges(): Unit = {
    fs.delete(stagedDir, true)
    var absentStreak = 0
    var i = 0
    while (i < 50 && absentStreak < 3) {
      Thread.sleep(100)
      if (fs.exists(stagedDir)) {
        fs.delete(stagedDir, true)
        absentStreak = 0
      } else absentStreak += 1
      i += 1
    }
  }

  private def cleanup(): Unit = fs.delete(stagedDir, true): Unit

  private def isTable(p: Path): Boolean = fs.exists(new Path(p, "_commits"))

  private def commitCreate(): Unit = {
    if (fs.exists(targetDir)) {
      cleanup()
      throw new TableAlreadyExistsException(ident.toString)
    }
    fs.mkdirs(targetDir.getParent)
    val renamed = fs.rename(stagedDir, targetDir)
    val ownMarker = new Path(targetDir, marker)
    if (renamed && fs.exists(ownMarker)) {
      fs.delete(ownMarker, false)
      return
    }
    // lost a concurrent create: either the rename failed outright, or
    // (rename-into-existing-directory semantics) the staged dir landed
    // INSIDE the winner's table dir — detect via the breadcrumb and
    // withdraw without touching the winner's files
    val misplaced = new Path(targetDir, stagedDir.getName)
    if (fs.exists(new Path(misplaced, marker))) fs.delete(misplaced, true): Unit
    cleanup()
    throw new TableAlreadyExistsException(ident.toString)
  }

  private def commitReplace(orCreate: Boolean): Unit = {
    if (!isTable(targetDir)) {
      if (orCreate) commitCreate()
      else { cleanup(); throw new NoSuchTableException(ident) }
    } else {
      try Contracts.adoptAsReplace(spark, targetDir.toString,
        stagedDir.toString): Unit
      finally cleanup()
    }
  }
}
