package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{DeltaFixture, DeltaRead, DeltaWrite}

/** DeltaTail's declared scope: append-only tails. Non-append commits
  * (overwrites, DV deletes) must fail the stream loudly — silently
  * streaming rows a concurrent writer suppressed is the failure mode the
  * scope exists to prevent. */
class DeltaTailSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(): String =
    Files.createTempDirectory("graft_tail_spec").resolve("t").toString

  private def drain(t: String, cp: String,
                    sink: (DataFrame, Long) => Unit = (_, _) => ()): Unit = {
    val q = DeltaTail.stream(spark, t, cp, sink)
    try { q.processAllAvailable(); q.stop() }
    finally if (q.isActive) q.stop()
  }

  test("append commits stream in version order with partition values restored") {
    val t = tbl()
    DeltaWrite.write(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), t, Seq("p"))
    DeltaWrite.write(Seq((3L, "a")).toDF("id", "p"), t)
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Set[(Long, String)])]()
    drain(t, s"$t/../cp1", (df, v) =>
      seen.synchronized { seen += ((v, df.as[(Long, String)].collect().toSet)): Unit })
    assert(seen.map(_._1).toSeq == Seq(0L, 1L))
    assert(seen.head._2 == Set((1L, "a"), (2L, "b")))
    assert(seen(1)._2 == Set((3L, "a")))
  }

  test("a remove action (overwrite) in the tail fails the stream loudly") {
    val t = tbl()
    DeltaWrite.write(Seq((1L, "a")).toDF("id", "p"), t, Seq("p"))
    DeltaWrite.write(Seq((9L, "z")).toDF("id", "p"), t, mode = "overwrite")
    val e = intercept[Exception] { drain(t, s"$t/../cp2") }
    assert(Option(e.getMessage).exists(_.contains("append-only")) ||
      Option(e.getCause).exists(c =>
        Option(c.getMessage).exists(_.contains("append-only"))),
      s"want append-only rejection, got $e")
  }

  test("a deletion vector in the tail fails the stream loudly") {
    val t = tbl()
    DeltaWrite.write(spark.range(0, 10).select($"id"), t)
    DeltaWrite.deleteWhere(spark, t, col("id") < 3)
    val e = intercept[Exception] { drain(t, s"$t/../cp3") }
    assert(e.toString.contains("append-only") ||
      Option(e.getCause).exists(_.toString.contains("append-only")),
      s"want append-only rejection, got $e")
  }

  /** a frame's column names and its rows, sorted, for an exact comparison */
  private def frame(df: DataFrame): (Seq[String], Seq[String]) =
    (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)

  test("each tail batch equals the batch read of its version (column-mapped table)") {
    val t = tbl()
    val base = (1L to 6L).map(i => (i, s"v$i", if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "s", "par")
    DeltaFixture.commitMapped(spark, t, base.schema, Seq("par"), 0L,
      Map("id" -> "col_1", "s" -> "col_2", "par" -> "col_3"),
      Seq("even", "odd").map(p => Map("par" -> p) -> base.filter(col("par") === p))) // v0
    DeltaWrite.write(Seq((7L, "v7", "odd")).toDF("id", "s", "par"), t)             // v1
    DeltaWrite.write(Seq((8L, "v8", "even"), (9L, "v9", "new")).toDF("id", "s", "par"), t) // v2
    val appended = scala.collection.mutable.LinkedHashMap[Long, (Seq[String], Seq[String])]()
    drain(t, s"$t/../cp_parity", (df, v) => appended.synchronized { appended(v) = frame(df) })
    assert(appended.keys.toSeq == Seq(0L, 1L, 2L))
    appended.foreach { case (v, got) =>
      assert(got == frame(DeltaRead.readAppends(spark, t, v - 1, v)), s"version $v")
    }
    assert(appended(2L)._2.size == 2)

    DeltaWrite.write(Seq((10L, "v10", "odd")).toDF("id", "s", "par"), t,
      mode = "overwritePartitions")                                               // v3
    val changed = scala.collection.mutable.LinkedHashMap[Long, (Seq[String], Seq[String])]()
    val q = DeltaTail.streamChanges(spark, t, s"$t/../cp_parity_cdf",
      (df, v) => changed.synchronized { changed(v) = frame(df) })
    try q.processAllAvailable() finally q.stop()
    assert(changed.keys.toSeq == Seq(0L, 1L, 2L, 3L))
    changed.foreach { case (v, got) =>
      assert(got == frame(DeltaRead.readChangeFeed(spark, t, v - 1, v)), s"version $v")
    }
    // v3 replaces partition odd: its four rows leave, one arrives
    assert(changed(3L)._2.size == 5)
  }

  test("a JSON file in the log that is not a commit is not a version") {
    val t = tbl()
    DeltaWrite.write(Seq((1L, "a")).toDF("id", "p"), t) // v0
    DeltaWrite.write(Seq((2L, "b")).toDF("id", "p"), t) // v1
    // the top file of a V2 checkpoint, as a JSON-writing engine names it
    Files.writeString(java.nio.file.Paths.get(t, "_delta_log",
      f"${1L}%020d.checkpoint.3f1e2b4c-0000-4000-8000-000000000000.json"), "{}\n")
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    drain(t, s"$t/../cp_v2", (_, v) => seen.synchronized { seen += v; () })
    assert(seen.toSeq == Seq(0L, 1L))
  }

  test("a micro-batch reads one row per commit file, not one per action line") {
    val t = tbl()
    // v0 holds commitInfo, protocol, metaData and two add lines
    DeltaWrite.write(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), t, Seq("p"))
    DeltaWrite.write(Seq((3L, "a")).toDF("id", "p"), t)
    val q = DeltaTail.stream(spark, t, s"$t/../cp_rows", (_, _) => ())
    val read = try { q.processAllAvailable(); q.recentProgress.map(_.numInputRows) }
      finally q.stop()
    assert(read.filter(_ > 0).toSeq == Seq(1L, 1L), read.toSeq)
  }
}
