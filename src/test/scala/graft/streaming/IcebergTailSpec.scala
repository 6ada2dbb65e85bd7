package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{IcebergRead, IcebergWrite}

/** Contract of IcebergTail: one sink call per NEW snapshot with exactly
  * its appended rows, metadata versions without a new snapshot are
  * no-ops, resume picks up only unseen versions, and non-append
  * snapshots in the tail reject loudly. */
class IcebergTailSpec extends SparkSpec {
  import spark.implicits._

  private def dirs(): (String, String) = {
    val d = Files.createTempDirectory("graft_ice_tail")
    (d.resolve("t").toString, d.resolve("cp").toString)
  }

  private def rows(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("id", "s")

  private def drain(t: String, cp: String,
                    got: scala.collection.mutable.Map[Long, Long]): Unit = {
    val q = IcebergTail.stream(spark, t, cp,
      (df: DataFrame, sid: Long) => { got(sid) = df.count() })
    q.processAllAvailable(); q.stop()
  }

  test("one batch per snapshot; resume sees only new ones; expiry is a no-op") {
    val (t, cp) = dirs()
    IcebergWrite.write(rows(1 to 10), t)  // s1
    IcebergWrite.write(rows(11 to 13), t) // s2
    val got = scala.collection.mutable.Map[Long, Long]()
    drain(t, cp, got)
    assert(got == Map(1L -> 10L, 2L -> 3L))
    got.clear()
    IcebergWrite.write(rows(14 to 15), t) // s3
    drain(t, cp, got)
    assert(got == Map(3L -> 2L)) // resume: only the new snapshot
    got.clear()
    IcebergWrite.expireSnapshots(t, keepLast = 1) // metadata-only version
    drain(t, cp, got)
    assert(got.isEmpty) // no new snapshot -> no batch
  }

  test("batch rows match the snapshot's appended slice exactly") {
    val (t, cp) = dirs()
    IcebergWrite.write(rows(1 to 5), t)
    IcebergWrite.write(rows(6 to 8), t)
    val seen = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = IcebergTail.stream(spark, t, cp, (df: DataFrame, sid: Long) =>
      { seen(sid) = df.select("id").as[Long].collect().toSet })
    q.processAllAvailable(); q.stop()
    assert(seen(1L) == (1L to 5L).toSet)
    assert(seen(2L) == (6L to 8L).toSet)
  }

  test("overwrite in the tail rejects loudly instead of dropping rows") {
    val (t, cp) = dirs()
    IcebergWrite.write(rows(1 to 5), t)
    val got = scala.collection.mutable.Map[Long, Long]()
    drain(t, cp, got)
    IcebergWrite.write(rows(6 to 9), t, mode = "overwrite")
    val ex = intercept[Exception] { drain(t, cp, got) }
    def messages(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("append-only")))
  }

  test("MoR delete in the tail rejects loudly") {
    val (t, cp) = dirs()
    IcebergWrite.write(rows(1 to 5), t)
    val got = scala.collection.mutable.Map[Long, Long]()
    drain(t, cp, got)
    IcebergWrite.deleteWhere(spark, t, col("id") % 2 === 0)
    val ex = intercept[Exception] { drain(t, cp, got) }
    def messages(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("append-only")))
  }

  /** a frame's column names and its rows, sorted, for an exact comparison */
  private def frame(df: DataFrame): (Seq[String], Seq[String]) =
    (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)

  test("each tail batch equals the batch read of its snapshot, across a rollback") {
    val (t, cp) = dirs()
    IcebergWrite.write(rows(1 to 10), t)  // s1
    IcebergWrite.write(rows(11 to 15), t) // s2, rolled over below
    IcebergWrite.rollback(t, 1L)
    val s3 = IcebergWrite.write(rows(16 to 18), t) // parent s1, array predecessor s2
    val appended = scala.collection.mutable.LinkedHashMap[Long, (Seq[String], Seq[String])]()
    val q = IcebergTail.stream(spark, t, cp,
      (df: DataFrame, sid: Long) => appended.synchronized { appended(sid) = frame(df) })
    try q.processAllAvailable() finally q.stop()

    IcebergWrite.merge(spark, t, Seq((1L, "patched"), (100L, "new")).toDF("id", "s"),
      Seq("id"))                                        // overwrite, parent s3
    IcebergWrite.deleteWhere(spark, t, col("id") === 12L || col("id") === 17L) // MoR delete
    val changed = scala.collection.mutable.LinkedHashMap[Long, (Seq[String], Seq[String])]()
    val qc = IcebergTail.streamChanges(spark, t, s"$cp-changes",
      (df: DataFrame, sid: Long) => changed.synchronized { changed(sid) = frame(df) })
    try qc.processAllAvailable() finally qc.stop()

    val parent = IcebergRead.metadataTable(spark, t, "snapshots")
      .select("snapshot_id", "parent_id").as[(Long, Option[Long])].collect().toMap
    assert(parent(s3).contains(1L))
    assert(appended.keys.toSeq == Seq(1L, 2L, s3))
    appended.foreach { case (sid, got) =>
      assert(got == frame(IcebergRead.readAppends(spark, t, parent(sid).getOrElse(0L), sid)),
        s"snapshot $sid")
    }
    assert(changed.keys.toSeq == parent.keys.toSeq.sorted)
    changed.foreach { case (sid, got) =>
      assert(got == frame(IcebergRead.readChanges(spark, t, parent(sid).getOrElse(0L), sid)),
        s"snapshot $sid")
    }
    // the merge diffs against its parent's rows (s1's, through s3), never s2's
    val merged = parent.collectFirst { case (id, Some(p)) if p == s3 => id }.get
    assert(changed(merged)._2.exists(_.startsWith("[1,v1,delete,")))
    assert(!changed(merged)._2.exists(_.contains("v11")))
  }

  test("a micro-batch reads one row per metadata file, not one per line") {
    val (t, cp) = dirs()
    IcebergWrite.write(rows(1 to 10), t)
    IcebergWrite.write(rows(11 to 13), t)
    val versions = Files.list(java.nio.file.Paths.get(t, "metadata"))
    val n = try versions.iterator().asScala.count(_.getFileName.toString.matches("v.*\\.metadata\\.json"))
      finally versions.close()
    val q = IcebergTail.stream(spark, t, cp, (_: DataFrame, _: Long) => ())
    val read = try { q.processAllAvailable(); q.recentProgress.map(_.numInputRows) }
      finally q.stop()
    assert(n >= 2 && read.filter(_ > 0).toSeq == Seq.fill(n)(1L), (n, read.toSeq))
  }
}
