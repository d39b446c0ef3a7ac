package graft.tracking

import java.sql.Timestamp
import graft.SparkTestBase
import graft.util.AtomicSwap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class SnapshotTableSpec extends SparkTestBase {
  import spark.implicits._

  private val t1 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2026-02-01 00:00:00")
  private val t3 = Timestamp.valueOf("2026-03-01 00:00:00")

  private def snap() =
    new SnapshotTable(spark, tmpDir("snap"), "id", Seq("seg", "score"))

  test("first snapshot opens one interval per row") {
    val s = snap()
    s.snapshot(Seq((1L, "A", 10), (2L, "B", 20)).toDF("id", "seg", "score"), t1)
    val rows = s.read().orderBy("id").collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getTimestamp(3) === t1)
      assert(r.isNullAt(4), "first intervals must be open")
    }
  }

  test("changed rows close and reopen; unchanged and absent rows stay open") {
    val s = snap()
    s.snapshot(Seq((1L, "A", 10), (2L, "B", 20), (3L, "C", 30)).toDF("id", "seg", "score"), t1)
    // 1 changes, 2 unchanged, 3 absent, 4 arrives
    s.snapshot(Seq((1L, "A2", 10), (2L, "B", 20), (4L, "D", 40)).toDF("id", "seg", "score"), t2)
    val rows = s.read().orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(3),
        Option(r.getTimestamp(4))))
    assert(rows === Array(
      (1L, "A", t1, Some(t2)), (1L, "A2", t2, None),
      (2L, "B", t1, None),
      (3L, "C", t1, None),
      (4L, "D", t2, None)))
  }

  test("a swap that crashed between its two renames keeps the history") {
    val s = snap()
    s.snapshot(Seq((1L, "A", 10), (2L, "B", 20)).toDF("id", "seg", "score"), t1)
    s.snapshot(Seq((1L, "A2", 10), (2L, "B", 20)).toDF("id", "seg", "score"), t2)
    // the crash: live data renamed to the backup, the new data not yet in
    val data = new Path(s.path, "data")
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(data, AtomicSwap.backupFor(data)))
    s.snapshot(Seq((1L, "A2", 10), (2L, "B2", 20)).toDF("id", "seg", "score"), t3)
    val rows = s.read().orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(3), Option(r.getTimestamp(4))))
    assert(rows === Array(
      (1L, "A", t1, Some(t2)), (1L, "A2", t2, None),
      (2L, "B", t1, Some(t3)), (2L, "B2", t3, None)))
  }

  test("re-running the identical batch is a no-op (idempotent snapshots)") {
    val s = snap()
    val batch = Seq((1L, "A", 10), (2L, "B", 20)).toDF("id", "seg", "score")
    s.snapshot(batch, t1)
    s.snapshot(batch, t2)
    s.snapshot(batch, t3)
    assert(s.read().count() === 2)
    assert(s.read().filter(col("valid_to").isNotNull).count() === 0)
  }

  test("null-safe change detection: NULL -> value and value -> NULL both close") {
    val s = new SnapshotTable(spark, tmpDir("snap"), "id", Seq("seg"))
    s.snapshot(Seq((1L, Option.empty[String]), (2L, Some("B"))).toDF("id", "seg"), t1)
    s.snapshot(Seq((1L, Some("X")), (2L, Option.empty[String])).toDF("id", "seg"), t2)
    val closed = s.read().filter(col("valid_to").isNotNull).count()
    assert(closed === 2)
    val open = s.read().filter(col("valid_to").isNull).orderBy("id").collect()
    assert(open.map(r => Option(r.getString(1))).toSeq === Seq(Some("X"), None))
  }

  test("random batch sequences match a driver-side SCD2 reference") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val s = new SnapshotTable(spark, tmpDir(s"snap$trial"), "id", Seq("seg"))
      // independent reference: map id -> list of (seg, from, to)
      val ref = scala.collection.mutable.Map.empty[Long, List[(Option[String], Timestamp, Option[Timestamp])]]
      (1 to 4).foreach { gen =>
        val asOf = Timestamp.valueOf(f"2026-0$gen%d-01 00:00:00")
        val ids = (1L to 8L).filter(_ => rnd.nextBoolean())
        val batch = ids.map(id => (id, if (rnd.nextBoolean()) Some(s"s${rnd.nextInt(3)}") else None))
        s.snapshot(batch.toDF("id", "seg"), asOf)
        batch.foreach { case (id, seg) =>
          ref.get(id) match {
            case None => ref(id) = List((seg, asOf, None))
            case Some(hist) =>
              val (curSeg, curFrom, _) = hist.head
              if (curSeg != seg)
                ref(id) = (seg, asOf, None) :: (curSeg, curFrom, Some(asOf)) :: hist.tail
          }
        }
      }
      val got = s.read().collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getTimestamp(2),
          Option(r.getTimestamp(3)))).toSet
      val expected = ref.flatMap { case (id, hist) =>
        hist.map { case (seg, from, to) => (id, seg, from, to) }
      }.toSet
      assert(got === expected, s"trial $trial: ${got.diff(expected)} vs ${expected.diff(got)}")
    }
  }

  test("asOf time travel reproduces each generation; pruneHistory keeps current state") {
    val s = new SnapshotTable(spark, tmpDir("snap"), "id", Seq("seg"))
    s.snapshot(Seq((1L, "A"), (2L, "B")).toDF("id", "seg"), t1)
    s.snapshot(Seq((1L, "A2"), (2L, "B")).toDF("id", "seg"), t2)
    s.snapshot(Seq((1L, "A3"), (2L, "B2")).toDF("id", "seg"), t3)
    def state(ts: Timestamp) = s.asOf(ts).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state(t1) === Set((1L, "A"), (2L, "B")))
    assert(state(t2) === Set((1L, "A2"), (2L, "B")))
    assert(state(t3) === Set((1L, "A3"), (2L, "B2")))
    // between t1 and t2 the t1 state still holds
    assert(state(Timestamp.valueOf("2026-01-15 00:00:00")) === state(t1))

    s.pruneHistory(t3)
    // current state intact; only intervals that ENDED before t3 are gone
    assert(state(t3) === Set((1L, "A3"), (2L, "B2")))
    // survivors: A2 [t2,t3) and B [t1,t3) close exactly at the horizon
    assert(s.read().filter(col("valid_to").isNotNull).count() === 2)
    // pre-horizon reads see only what the retained intervals still cover
    assert(state(t1) === Set((2L, "B")), "A's pre-horizon interval is pruned")
  }

  test("three generations stack into a contiguous interval chain") {
    val s = new SnapshotTable(spark, tmpDir("snap"), "id", Seq("seg"))
    s.snapshot(Seq((1L, "A")).toDF("id", "seg"), t1)
    s.snapshot(Seq((1L, "B")).toDF("id", "seg"), t2)
    s.snapshot(Seq((1L, "C")).toDF("id", "seg"), t3)
    val rows = s.read().orderBy("valid_from").collect()
      .map(r => (r.getString(1), r.getTimestamp(2), Option(r.getTimestamp(3))))
    assert(rows === Array(("A", t1, Some(t2)), ("B", t2, Some(t3)), ("C", t3, None)))
  }
}
