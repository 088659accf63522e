package graft.connector

import java.nio.file.Files

import graft.SparkSpec
import graft.store.ObjectStoreSim

/** Suite-resident identity-ledger chaos (r16 verdict item 3): body in
  * [[IdentityChaosOps]] — concurrent identity minting on main AND a
  * long-lived branch (cloned ledger!) under publish / re-fork /
  * restore / vacuum churn, both dml modes. Default intensity keeps
  * suite time bounded; `graft.tools.IdentityChaosBlast` shakes the
  * same body harder across all three store personalities.
  */
class IdentityChaosSpec extends SparkSpec {

  locally {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.osim.impl", classOf[ObjectStoreSim].getName)
  }

  Seq("cow", "delta").foreach { mode =>
    test(s"identity-ledger chaos hunt ($mode, POSIX, 4 threads x 10 ops)") {
      val warehouse =
        Files.createTempDirectory(s"graft-idchaos-$mode").toString
      val cat = s"gic${mode.head}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", warehouse)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
      IdentityChaosOps.hunt(spark, cat, warehouse, s"ih${mode.head}",
        seed = if (mode == "cow") 60 else 61,
        nThreads = 4, opsPer = 10, info = info(_), dmlMode = mode): Unit
    }
  }

  test("a mint racing a REPLACE's ledger archive/install yields the INSTALLED chain, never the displaced one") {
    // Deterministic pin of the r18 blast find (IdentityChaosBlast
    // 4x8x22, seed 6000, first run of the REPLACE op): a REPLACE's
    // contract swap archives the live `_identity` ledger and installs
    // the new declaration's — delete, per-block copy, certificate,
    // stamp LAST. Pre-fix, a mint landing inside that window listed
    // the DISPLACED (or partial) chain and handed out ids the
    // installed chain would re-mint — silent future duplicates that
    // the commit-path epoch fence cannot catch when the write was
    // planned at the epoch-start version itself. The mint now refuses
    // to run while a swap is in flight (flagged epoch-start, stamp
    // pending) and brackets its claim with swap-state reads.
    val warehouse = Files.createTempDirectory("graft-idmint").toString
    val cat = "gimf"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    spark.sql(s"""CREATE TABLE $cat.ns.mf (
                    sid BIGINT GENERATED ALWAYS AS IDENTITY,
                    k BIGINT, v BIGINT) USING graft
                  TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    spark.sql(s"INSERT INTO $cat.ns.mf (k, v) SELECT id, id FROM range(0, 5)")
    val root = s"$warehouse/ns/mf"
    val minted = new java.util.concurrent.atomic.AtomicLong(-1L)
    val mintDone = new java.util.concurrent.CountDownLatch(1)
    val hookSeen = new java.util.concurrent.CountDownLatch(1)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    graft.store.SnapshotStore.ledgerMoveHook = { dst =>
      // the ARCHIVE copy of the swap: the displaced live chain is still
      // fully listable, the stamp is pending — the exact window the
      // blast's mint hit
      if (dst.getName.startsWith("_identity_upto_") &&
          fired.compareAndSet(false, true)) {
        val t = new Thread({ () =>
          minted.set(graft.store.Identity.reserveIdentity(
            spark, root, "sid", 1L))
          mintDone.countDown()
        }: Runnable)
        t.setDaemon(true); t.start()
        hookSeen.countDown()
        Thread.sleep(800) // hold the install window open under the mint
      }
    }
    try {
      spark.sql(s"""REPLACE TABLE $cat.ns.mf (
                      sid BIGINT GENERATED ALWAYS AS IDENTITY,
                      k BIGINT, v BIGINT) USING graft
                    TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
      assert(hookSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the REPLACE never reached the ledger archive — test staging broke")
      assert(mintDone.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "the racing mint never returned")
      // pre-fix: minted = 6 (the DISPLACED chain's frontier) and the
      // installed chain then re-mints 1..6 — `next` lands at 1 <= 6.
      // post-fix: the mint waited out the install and minted from the
      // installed chain, so the next mint sits strictly above it.
      val next = graft.store.Identity.reserveIdentity(spark, root, "sid", 1L)
      assert(next > minted.get(),
        s"the installed ledger re-mints id ${next} at or below the " +
          s"racing mint's ${minted.get()} — the mid-install mint read " +
          "the displaced chain (silent future duplicates)")
    } finally graft.store.SnapshotStore.ledgerMoveHook = _ => ()
  }

  test("identity-ledger chaos hunt (osim:// conditional-PUT)") {
    val warehouse =
      "osim://" + Files.createTempDirectory("graft-idchaos-osim").toString
    val cat = "gico"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    try IdentityChaosOps.hunt(spark, cat, warehouse, "iho", seed = 62,
      nThreads = 4, opsPer = 10, info = info(_)): Unit
    finally ObjectStoreSim.reset()
  }
}
