package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import SnapshotStore.{ReclaimGraceMs, claimWriteHook, fileSystem, latestVersion, manifestArbiter,
  newToken, readProps, schemaEpoch}
import Claims.{arbitratedCreate, supersededBy}
import Contracts.unstampedEpochStart

/** Identity columns (the AUTOINCREMENT analog; reference: every
  * entity table mints an AUTOINCREMENT surrogate key, e.g.
  * `09 Order Entity.sql:71`): the `identity.<col>` declarations and the
  * block ledger under `<root>/_identity/<col>/` that reserves id ranges
  * by exclusive create.
  */
private[graft] object Identity {

  /** Parsed `identity.<col>` property (recorded at CREATE from
    * `GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY (START WITH s
    * INCREMENT BY i)`).
    */
  private[graft] final case class IdentitySpec(start: Long, step: Long,
                                               allowExplicit: Boolean)

  private[graft] def identitySpecs(props: Map[String, String])
      : Seq[(String, IdentitySpec)] =
    props.toSeq.sortBy(_._1).collect {
      case (k, v) if k.startsWith("identity.") =>
        val parts = v.split(",")
        require(parts.length == 3, s"malformed identity property '$k' = '$v'")
        k.stripPrefix("identity.") ->
          IdentitySpec(parts(0).toLong, parts(1).toLong, parts(2).toBoolean)
    }

  /** Spec/tooling seam for the allocator protocol below — production
    * minting rides the write path ([[Footers.writeVersionData]]);
    * specs exercise the claim/reclaim/fence schedules directly through
    * this.
    */
  private[graft] def reserveIdentity(spark: SparkSession, root: String,
                                     col: String, count: Long): Long =
    reserveIdentityBlock(spark, root, col,
      IdentitySpec(1L, 1L, allowExplicit = false), count)

  /** Reserve a block of `count` identity VALUES (in step units) for
    * one write: `<root>/_identity/<col>/block-<seq>_<first>` files form
    * an append-only ledger, each claimed by EXCLUSIVE CREATE — the
    * same arbiter primitive as manifest commits, and for the same
    * reason: every contender for seq n+1 derives the IDENTICAL
    * filename (first = the predecessor chain's frontier), so the
    * create is a true mutex; the loser re-lists and takes n+2. The
    * block's SIZE (this writer's count) is the file's payload,
    * terminator-marked like a manifest: a torn payload means the
    * claimer crashed mid-write (it had not returned, so it minted
    * nothing) — readers WAIT inside the reclaim grace window and
    * reclaim (delete, freeing the seq) past it; the claimer re-reads
    * its own payload before returning, so a grace-defying reclaim
    * turns into a retry, never a double-mint. Two writers can NEVER
    * mint the same id, at any cluster size, with zero coordination
    * beyond the filesystem. Blocks reserved by aborted writes simply
    * become gaps — AUTOINCREMENT promises uniqueness and per-writer
    * monotonicity, never density (Snowflake documents the same).
    */
  private[store] def reserveIdentityBlock(spark: SparkSession, root: String,
                                   col: String, spec: IdentitySpec,
                                   count: Long): Long = {
    val fs = fileSystem(spark, root)
    val dir = new Path(root, s"_identity/$col")
    // SWAP-AWARE minting (r18 — found by the identity hunt's REPLACE op
    // on its first blast): a REPLACE / cross-epoch restore ARCHIVES the
    // live ledger and INSTALLS another (executeContractSwap: delete,
    // per-block copy, certificate — the epoch stamp lands LAST). A mint
    // racing that install can list a PARTIAL chain (frontier too low)
    // or extend a chain about to be displaced, and the ids it hands out
    // would be re-minted by the installed chain: silent duplicates. The
    // commit-path epoch fence cannot cover the interleave where the
    // write was planned AT the epoch-start version itself (base never
    // advances past it), so the MINT is fenced: it refuses to run while
    // a swap is in flight, verifies the caller's spec still IS the
    // table's declaration, and brackets each claim with stamp reads —
    // movement releases the unreturned block (a legal gap) and retries
    // against the installed chain.
    def swapState(): (Long, Boolean) = {
      val stamp =
        try schemaEpoch(spark, root)
        catch { case _: Exception => -2L } // unreadable = indeterminate
      val inFlight =
        try latestVersion(spark, root)
          .exists(h => unstampedEpochStart(spark, root, h) >= 0)
        catch { case _: Exception => true }
      (stamp, inFlight)
    }
    var attempt = 0
    while (attempt < 256) {
      attempt += 1
      val s0 = swapState()
      if (s0._1 == -2L || s0._2) Thread.sleep(200) // install in flight — wait it out
      else {
        // a stale plan minting under a DIFFERENT current declaration
        // would extend the installed chain with the old spec's
        // arithmetic — refuse loudly (retry-able); the redeclared
        // ledger restarts numbering by design. Only enforced when the
        // table DECLARES the column (the allocator seam also runs on
        // bare ledger dirs with no table props — nothing to mismatch).
        val declared =
          try identitySpecs(readProps(spark, root)).toMap.get(col)
          catch { case _: Exception => None }
        declared.foreach { d =>
          if (d != spec)
            throw new java.util.ConcurrentModificationException(
              s"identity column '$col' at $root was re-declared " +
                s"($d vs this write's $spec) — the table was REPLACED " +
                "after this write was planned; re-run the statement")
        }
        if (!fs.exists(dir)) fs.mkdirs(dir)
        val frontier =
          try ledgerFrontier(fs, dir, spec)
          catch { // the live dir deleted under us: the install's first step
            case _: java.io.FileNotFoundException => None
          }
        frontier match {
          case None => Thread.sleep(200) // payload in flight — settle or age out
          case Some((lastSeq, base)) =>
            val win = claimBlock(fs, dir, lastSeq + 1, base, count)
            if (win.isDefined) {
              if (swapState() == s0) return base
              // a swap moved across this claim: the chain the block
              // extends may be partial or displaced — release it
              // (nothing was minted from it) and retry on the new
              // chain. Release the arbiter ROW too: a freed name left
              // claimed bricks any restarted chain that re-derives it
              // for the whole staleness grace (plain-PUT stores)
              val mine = new Path(dir, f"block-${lastSeq + 1}%020d" + s"_$base")
              try { fs.delete(mine, false): Unit }
              catch { case _: java.io.IOException => () }
              manifestArbiter.foreach(
                _.release(fs.makeQualified(mine).toString, win.get))
              Thread.sleep(100)
            } else
              // jittered backoff on a lost tip race (see
              // syncIdentityFrontier) — keeps a contended herd from
              // burning the attempt budget inside one hot window
              Thread.sleep(5L + java.util.concurrent.ThreadLocalRandom
                .current().nextLong(35L))
        }
      }
    }
    // the attempts were consumed WAITING on in-flight swaps / releasing
    // bracket-raced claims — under sustained REPLACE/restore churn this
    // is the documented retry-able conflict (same posture as schema
    // resolution under churn), never a corruption
    throw new java.util.ConcurrentModificationException(
      s"identity block reservation for '$col' at $root stayed blocked " +
        "across 256 attempts (sustained REPLACE/restore contract churn " +
        "or allocator contention) — re-run the statement when the churn " +
        "subsides")
  }

  /** One claim attempt at an exact (seq, first): exclusive create of
    * the deterministic name, payload write, then READ-Back — only a
    * payload that survived on disk is a win (defense against a
    * grace-defying reclaim deleting the claim mid-write).
    *
    * Returns the winning claim TOKEN (None = lost): a caller that
    * RELEASES a won block (the swap bracket in
    * [[reserveIdentityBlock]]) must also release its arbiter row, or
    * on plain-PUT stores the freed (seq, first) name stays claimed for
    * the whole staleness grace and a restarted chain re-deriving the
    * same name is bricked (found by IdentityChaosBlast's plain-PUT
    * personality on the REPLACE op's first sweep).
    */
  private def claimBlock(fs: FileSystem, dir: Path, seq: Long, first: Long,
                         count: Long): Option[String] = {
    val target = new Path(dir, f"block-$seq%020d" + s"_$first")
    // atomic claim ([[Claims.arbitratedCreate]]): a local check-then-act
    // create would let two allocators both "win" the same (seq, first)
    // and mint overlapping identity ranges. On plain-PUT stores the
    // configured [[ClaimArbiter]] row serializes the create for the
    // same reason (SURVEY §5 matrix row 2 — an overlapping identity
    // range is silent data corruption, same severity as a lost
    // manifest).
    val token = newToken()
    val created = arbitratedCreate(fs, target, token)
    created match {
      case Some(out) =>
        claimWriteHook("identity", target)
        // a write/close failure is a definitive LOSS, not a readback
        // question: on conditional-PUT stores close() is where the
        // lost race surfaces, and the content readback alone cannot
        // arbitrate — a racing claimer of the same (seq, first) may
        // write the same count, so "payload matches" would declare
        // both winners and mint overlapping identity ranges
        val landed =
          try { try out.write(s"$count\tend".getBytes(StandardCharsets.UTF_8))
                finally out.close(); true }
          catch { case _: java.io.IOException => false }
        val won = landed && blockCount(fs, target).contains(count)
        // ZOMBIE FENCE (arbiter mode): a claimer suspended past the
        // staleness grace whose late PUT completes after a superseder
        // acknowledged this (seq, first) clobbers the superseder's
        // payload — and if the counts DIFFER, the ledger frontier now
        // advances by the zombie's count while the superseder already
        // minted per its own: overlapping ranges. The payload readback
        // cannot see this (it reads the zombie's own bytes back), so
        // the row is the fence — a superseded claimer must fail LOUDLY
        // (its clobber may have corrupted the chain tip), never report
        // a win or a clean loss.
        if (won) supersededBy(fs, target, token).foreach { holder =>
          throw new IllegalStateException(
            s"identity block claim (seq=$seq, first=$first) under $dir " +
              s"is INDETERMINATE: this claimer was superseded (claim " +
              s"now held by $holder) while suspended, and its late " +
              "write may have replaced the superseding allocator's " +
              "payload with a different count — verify the block file " +
              "against minted ids before further allocation; do NOT " +
              "treat as a clean loss")
        }
        if (won) Some(token) else None
      case None =>
        // under an arbiter a lost row can belong to a crashed claimer
        // that never PUT anything (no file to age-check) — pace the
        // retry loop so waiters don't burn their attempt budget inside
        // one staleness grace
        if (manifestArbiter.isDefined && !fs.exists(target)) Thread.sleep(50)
        None
    }
  }

  /** (last claimed seq, next first id) — the allocator's view of the
    * chain tip. None while the tip's payload is IN FLIGHT (younger
    * than the reclaim grace): the caller waits; past the grace the
    * torn claim is reclaimed (its claimer crashed before minting
    * anything) and the next listing sees the freed seq.
    */
  private def ledgerFrontier(fs: FileSystem, dir: Path,
                             spec: IdentitySpec): Option[(Long, Long)] = {
    // unparseable names are ignored defensively (they reserve nothing,
    // so skipping them can only widen a gap, never collide)
    val tip = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .flatMap(parseIdentityBlock).sortBy(_._1).lastOption
    tip match {
      case None => Some((-1L, spec.start))
      case Some((seq, first)) =>
        val p = new Path(dir, f"block-$seq%020d" + s"_$first")
        blockCount(fs, p) match {
          case Some(c) => Some((seq, first + spec.step * c))
          case None =>
            val age = try System.currentTimeMillis() -
              fs.getFileStatus(p).getModificationTime
            catch { case _: java.io.FileNotFoundException =>
              return None } // reclaimed under us — re-list
            if (age >= ReclaimGraceMs) fs.delete(p, false): Unit
            None
        }
    }
  }

  /** The claimed size of a block, or None for a torn/missing payload. */
  private def blockCount(fs: FileSystem, p: Path): Option[Long] = {
    val in = try fs.open(p) catch { case _: java.io.IOException => return None }
    Breadcrumbs.readLines(in)(_.nextOption()).map(_.split("\t"))
      .collect { case Array(c, "end") => c }.flatMap(_.toLongOption)
  }

  private def parseIdentityBlock(name: String): Option[(Long, Long)] = {
    if (!name.startsWith("block-")) None
    else {
      val parts = name.stripPrefix("block-").split("_")
      if (parts.length != 2) None
      else try Some((parts(0).toLong, parts(1).toLong))
      catch { case _: NumberFormatException => None }
    }
  }

  /** The branch ledger's reserved frontier for one identity column:
    * where the NEXT mint would start (last block's first + step·count).
    */
  private[store] def identityFrontierOf(spark: SparkSession, root: String,
                                 col: String, spec: IdentitySpec): Option[Long] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(new Path(root, "_identity"), col)
    if (!fs.exists(dir)) return None
    var attempt = 0
    while (attempt < 256) {
      attempt += 1
      ledgerFrontier(fs, dir, spec) match {
        case Some((_, f)) => return Some(f)
        case None => Thread.sleep(200) // tip payload in flight
      }
    }
    throw new IllegalStateException(
      s"identity ledger tip for '$col' at $root stayed unreadable")
  }

  /** Advance main's identity ledger to at least `target`: an ORDINARY
    * reservation of exactly the deficit, so the claim filename is the
    * same one any concurrent writer would race for — exclusive create
    * arbitrates, the loser (either side) re-lists and retries. No-op
    * when main is already at or past the target in step direction.
    */
  private[store] def syncIdentityFrontier(spark: SparkSession, root: String,
                                   col: String, spec: IdentitySpec,
                                   target: Long): Unit = {
    val fs = fileSystem(spark, root)
    val dir = new Path(new Path(root, "_identity"), col)
    fs.mkdirs(dir)
    var attempt = 0
    while (attempt < 256) {
      attempt += 1
      ledgerFrontier(fs, dir, spec) match {
        case None => Thread.sleep(200) // payload in flight
        case Some((lastSeq, cur)) =>
          val deficitUnits = (target - cur) / spec.step // lattice-aligned
          if (deficitUnits <= 0L) return
          if (claimBlock(fs, dir, lastSeq + 1, cur, deficitUnits).isDefined)
            return
          // jittered backoff on a lost claim: a publish burning a large
          // frontier races EVERY live minter for the chain tip, and a
          // hot retry loop can lose the tip race hundreds of times in a
          // row against a thundering herd (seen at blast intensity) —
          // a few ms of jitter de-synchronizes the contenders
          Thread.sleep(5L + java.util.concurrent.ThreadLocalRandom
            .current().nextLong(35L))
      }
    }
    // exhausted attempts = contention/churn, not corruption — the
    // documented retry-able conflict (the branch is untouched: frontier
    // burns run before the publish marker and any rename)
    throw new java.util.ConcurrentModificationException(
      s"could not sync identity frontier for '$col' at $root after 256 " +
        "attempts (sustained allocator contention or contract churn) — " +
        "re-run the publish when the churn subsides")
  }
}
