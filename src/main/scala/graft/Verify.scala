package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * FAILURES ARE LOUD: a query that throws still produces a parquet dump —
  * a single row with one `__error` column — so the driver's compare shows
  * a red row (schema/row mismatch against the oracle) instead of silently
  * skipping the query. The name→error map is also written to
  * `errors.json` in the out dir. Round 5 shipped 8 broken queries that
  * vanished from CORRECTNESS because the old Verify swallowed exceptions.
  */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Oracle SQL yields naive TIMESTAMP in DuckDB; Spark's TimestampType
    * writes parquet isAdjustedToUTC=true (read back as TIMESTAMPTZ), so the
    * driver's schema compare fails. Session TZ is UTC, so the LTZ→NTZ cast
    * is value-preserving and only fixes the parquet annotation. */
  private def ntz(df: DataFrame): DataFrame = df.schema.fields.foldLeft(df) {
    case (d, f) if f.dataType == TimestampType =>
      d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
    case (d, _) => d
  }

  /** Dump every query's result under `outDir/<name>`; on failure dump the
    * one-row `__error` artifact instead. Returns name→error for the
    * failures (empty when all green). Factored out so a spec can drive it
    * with a deliberately broken registry. */
  private[graft] def dumpAll(
      spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String,
      outDir: String): Map[String, String] = {
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      // progress goes to stderr so long runs (scale drills especially) show
      // WHICH query a stall belongs to — the dump dir only reveals it after
      // the fact
      System.err.println(s"[verify] start $name")
      val t0 = System.nanoTime()
      try {
        // repartition(1), NOT coalesce(1): both yield one part file, but
        // coalesce(1) on a shuffle-free plan collapses the WHOLE upstream
        // into a single task (a scan→project→explode query measured 268 s
        // at sf10 where the parallel plan takes ~20 s); repartition adds a
        // shuffle barrier so only the write is single-task.
        // SPARK_GRAFT_DUMP_PARTS>1 (scale drills only — the driver's gate
        // never sets it) parallelizes the dump write so a multi-GB result's
        // wall reflects the PLAN cost, not a single-task parquet encode;
        // DuckDB compares read the dump as a directory glob either way.
        val parts = sys.env.getOrElse("SPARK_GRAFT_DUMP_PARTS", "1").toInt
        ntz(fn(spark, sfDir)).repartition(parts).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] done  $name (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(2000)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        failures(name) = msg
        import spark.implicits._
        try Seq(msg).toDF("__error").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-artifact write failed: ${e2.getMessage}")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failures.map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
        .mkString("{", ",", "}"))
    failures.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // Some query families persist a shared artifact (the LSH candidate
    // chain, the ER pair kernel) that later consumers reread. Verify runs
    // the whole registry in one session, so at large SFs those cached
    // blocks would otherwise pin up to storageFraction of the unified
    // pool while an unrelated query's sort is starving and spill-thrashing
    // (observed at sf10: a window top-k at 30+ min CPU in
    // UnsafeExternalSorter.spill). Correctness runs prefer execution
    // memory over cache residency — let eviction reclaim down to 5%.
    val spark = LocalSpark.builder()
      .config("spark.memory.storageFraction", "0.05").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failures = dumpAll(spark, selected, sfDir, outDir)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size}/${selected.size} queries FAILED: " +
        failures.keys.mkString(", "))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
