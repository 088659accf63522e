package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based laws for the core operators: randomized inputs
  * (scalacheck Gens driven with fixed seeds — reproducible), invariants
  * that must hold for every dataset shape.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g(Gen.Parameters.default, Seed(i.toLong)))

  private val feedGen: Gen[List[(Long, Long, Int, String)]] =
    Gen.listOfN(60, for {
      k <- Gen.choose(1L, 8L)        // few keys → many collisions
      id <- Gen.choose(1L, 1000000L) // unique-ish version id
      t <- Gen.choose(0, 50)         // coarse ts → ties likely
      v <- Gen.alphaStr.map(_.take(5))
    } yield (k, id, t, v))

  test("Scd1.latestByKey: one row per key, and it is the max by (ts, id)") {
    samples(feedGen, 8).foreach { rows =>
      val dedup = rows.distinctBy(_._2) // unique version ids
      val df = dedup.toDF("k", "id", "t", "v")
      val out = Scd1.latestByKey(df, Seq("k"), Seq(col("t").desc, col("id").desc))
        .select("k", "id").as[(Long, Long)].collect().toMap
      val expect = dedup.groupBy(_._1).map { case (k, g) =>
        k -> g.maxBy(r => (r._3, r._2))._2
      }
      assert(out == expect)
    }
  }

  test("mergeWithDeletes over random batched event streams == naive ordered fold") {
    // events: (key, version-id, ts, value, isDelete); applied in
    // (ts, tombstone-beats-live, later-batch-beats-earlier) order —
    // the operator's documented total order
    val eventsGen: Gen[List[(Long, Long, Int, String, Boolean)]] =
      Gen.listOfN(50, for {
        k <- Gen.choose(1L, 6L)
        id <- Gen.choose(1L, 1000000L)
        t <- Gen.choose(0, 20) // coarse ts → exact ties exercised
        v <- Gen.alphaStr.map(_.take(4))
        del <- Gen.prob(0.3)
      } yield (k, id, t, v, del))
    samples(eventsGen, 6).foreach { raw =>
      val events = raw.distinctBy(_._2)
      // split into 3 ordered batches by version id (arbitrary but fixed)
      val batches = events.sortBy(_._2).grouped((events.size + 2) / 3).toList
      // Spark side: fold batches through merge with deleteCol
      val del = "_del"
      def frame(b: Seq[(Long, Long, Int, String, Boolean)]) =
        b.toDF("k", "id", "t", "v", del)
      val empty = frame(Nil)
      val sparkState = batches.foldLeft(empty) { (base, b) =>
        Scd1.merge(base.withColumn(del, lit(false)), frame(b),
          Seq("k"), Seq(col("t").desc, col("id").desc), Some(del))
      }.select("k", "id").as[(Long, Long)].collect().toMap
      // naive oracle: per key, replay batches in order; within a batch
      // the winner is max by (t, id) with tombstones beating live rows
      // on exact (t, id) ties; base-beats-delta on full ties is
      // unreachable (ids are unique)
      val expect = scala.collection.mutable.Map.empty[Long, (Long, Int, String, Boolean)]
      batches.foreach { b =>
        b.groupBy(_._1).foreach { case (k, g) =>
          val cands = expect.get(k).map(s => (k, s._1, s._2, s._3, s._4)).toSeq ++ g
          val w = cands.maxBy(r => (r._3, r._2, r._5)) // ts, id, tombstone wins tie
          if (w._5) expect.remove(k) else expect(k) = (w._2, w._3, w._4, w._5)
        }
      }
      assert(sparkState == expect.map { case (k, s) => k -> s._1 }.toMap)
    }
  }

  test("Cdc.snapshotDiff round-trip: old + diff == new") {
    val snapGen = Gen.listOfN(40, for {
      id <- Gen.choose(1L, 25L)
      v <- Gen.choose(0, 5).map(_.toString)
    } yield (id, v))
    samples(Gen.zip(snapGen, snapGen), 8).foreach { case (o, n) =>
      val oldSnap = o.distinctBy(_._1).toDF("id", "v")
      val newSnap = n.distinctBy(_._1).toDF("id", "v")
      val diff = Cdc.snapshotDiff(oldSnap, newSnap, Seq("id"), Seq("v"))
        .select("id", "action", "new_v").as[(Long, String, Option[String])]
        .collect()
      val applied = diff.foldLeft(o.distinctBy(_._1).toMap) {
        case (m, (id, "D", _)) => m - id
        case (m, (id, _, Some(v))) => m.updated(id, v)
        case (m, _) => m
      }
      assert(applied == n.distinctBy(_._1).toMap)
    }
  }

  test("Scd2.buildHistory: per key, one current row and contiguous intervals") {
    samples(feedGen, 8).foreach { rows =>
      val dedup = rows.distinctBy(_._2)
      val df = dedup.toDF("k", "id", "t", "v")
        .withColumn("ts", col("t").cast("timestamp"))
      val h = Scd2.buildHistory(df, Seq("k"), "ts", "id")
        .select($"k", $"id", $"eff_start_ts".cast("long"),
          $"eff_end_ts".cast("long"), $"current_flag")
        .as[(Long, Long, Long, Option[Long], Boolean)].collect()
      h.groupBy(_._1).foreach { case (_, versions) =>
        assert(versions.count(_._5) == 1)                  // one current row
        assert(versions.filter(_._5).forall(_._4.isEmpty)) // current has no end
        val sorted = versions.sortBy(v => (v._3, v._2))
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._4.contains(b._3)) // end == next start
          case _ => ()
        }
      }
    }
  }

  test("Scd2.applyDelta ≡ full rebuild on randomized base/delta splits") {
    samples(Gen.zip(feedGen, Gen.choose(1, 99)), 8).foreach { case (rows, cut) =>
      val dedup = rows.distinctBy(_._2)
      val (b, d) = dedup.splitAt(dedup.size * cut / 100)
      if (b.nonEmpty && d.nonEmpty) {
        def mk(xs: Seq[(Long, Long, Int, String)]) =
          xs.toDF("k", "id", "t", "v").withColumn("ts", col("t").cast("timestamp"))
        def canon(df: org.apache.spark.sql.DataFrame) = df
          .select($"k", $"id", $"eff_start_ts".cast("long"),
            $"eff_end_ts".cast("long"), $"current_flag")
          .as[(Long, Long, Long, Option[Long], Boolean)].collect().sortBy(r => (r._1, r._2))
        val full = Scd2.buildHistory(mk(dedup), Seq("k"), "ts", "id")
        val inc = Scd2.applyDelta(
          Scd2.buildHistory(mk(b), Seq("k"), "ts", "id"), mk(d), Seq("k"), "ts", "id")
        assert(canon(inc).toSeq == canon(full).toSeq)
      }
    }
  }

  test("Dedup.hamming: symmetric, zero iff equal") {
    samples(Gen.listOfN(15, Gen.choose(Long.MinValue, Long.MaxValue)), 4).foreach { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "h")
      val pairs = df.toDF("id_a", "ha").crossJoin(df.toDF("id_b", "hb"))
        .select($"id_a", $"id_b",
          Dedup.hamming($"ha", $"hb").as("d_ab"),
          Dedup.hamming($"hb", $"ha").as("d_ba"),
          ($"ha" === $"hb").as("eq"))
        .as[(Long, Long, Int, Int, Boolean)].collect()
      pairs.foreach { case (_, _, ab, ba, eq) =>
        assert(ab == ba)
        assert((ab == 0) == eq)
      }
    }
  }
}
