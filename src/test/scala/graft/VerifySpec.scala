package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files

/** The loud-failure contract of the driver harness: EVERY registry name
  * must yield a dump — a real result for a working query, a one-row
  * `__error` artifact for a broken one — so broken queries surface as red
  * CORRECTNESS rows instead of vanishing (the round-5 failure mode). */
class VerifySpec extends SparkSpec {

  test("dumpAll writes a dump for every query, error artifact on failure") {
    val out = Files.createTempDirectory("graft-verify-spec").toFile
    out.deleteOnExit()
    val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(3).toDF("id")),
      "boom_analysis" -> ((s, _) => s.range(3).toDF("id").selectExpr("no_such_col + 1")),
      "boom_runtime" -> ((s, _) => {
        import s.implicits._
        s.range(3).toDF("id").filter((_: org.apache.spark.sql.Row) =>
          sys.error("deliberate runtime failure"))
      }))
    val failures = Verify.dumpAll(spark, registry, "/tmp/unused", out.getPath)

    assert(failures.keySet === Set("boom_analysis", "boom_runtime"))
    // every name has a readable parquet dump
    registry.keys.foreach { n =>
      val df = spark.read.parquet(s"${out.getPath}/$n")
      if (failures.contains(n)) {
        assert(df.columns.toSeq === Seq("__error"),
          s"$n: failed query must dump the __error artifact")
        val msg = df.collect().head.getString(0)
        assert(msg.nonEmpty, s"$n: error artifact must carry the message")
      } else {
        assert(df.count() === 3)
      }
    }
    // errors.json lists exactly the failures, and is valid enough JSON for
    // the driver's json.load (no raw control chars)
    val ej = Files.readString(new java.io.File(out, "errors.json").toPath)
    assert(ej.startsWith("{") && ej.endsWith("}"))
    assert(ej.contains("boom_analysis") && ej.contains("boom_runtime"))
    assert(!ej.contains("\"ok\""))
    assert(!ej.exists(c => c < ' '))
  }

  test("jsonQuote escapes quotes, backslashes and control chars") {
    val bs = '\\'.toString
    val in = "a\"b" + bs + "c\nd\te\rf" + 1.toChar + "g"
    val expected =
      "\"a" + bs + "\"b" + bs + bs + "c" + bs + "nd" + bs + "te" + bs + "rf" +
        bs + "u0001g\""
    assert(Verify.jsonQuote(in) === expected)
  }

  test("every oracle key names a registered query") {
    // oracleSql ⊆ queries, names exact (a typo'd oracle key silently
    // downgrades the query to a rows-only check)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys without a query: $orphans")
  }
}
