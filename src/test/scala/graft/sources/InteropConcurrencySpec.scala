package graft.sources

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Write-concurrency contract of the open-format interop writers: version
  * claims go through a hard-link CAS (the TxLogTable.tryCommit mechanism),
  * so of two writers racing for the same version exactly the winners'
  * commits land, every loser fails LOUDLY with
  * ConcurrentModificationException, and the log/reader state is never
  * torn — no silently replaced commit JSON, no overwritten manifests. */
class InteropConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tbl(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  test("Delta: a version claimed between head-read and commit loses loudly, log intact") {
    val t = tbl("graft_delta_race")
    DeltaWrite.write(spark.range(0, 10).select($"id"), t)
    // another engine claims version 1 AFTER our head read (deterministic
    // stand-in for the race window): pre-create the commit file, then
    // drive the CAS publish step directly — it must refuse, not replace
    val logDir = Paths.get(t, "_delta_log")
    val foreign = """{"commitInfo":{"operation":"WRITE","engineInfo":"other-engine"}}"""
    Files.writeString(logDir.resolve(f"${1L}%020d.json"), foreign)
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaWrite.commitCas(logDir, 1L,
        Seq("""{"commitInfo":{"operation":"WRITE","engineInfo":"graft-delta-write"}}"""))
    }
    assert(e.getMessage.contains("concurrently"))
    // the foreign commit was NOT replaced and the table still reads
    assert(Files.readString(logDir.resolve(f"${1L}%020d.json")) == foreign)
    assert(DeltaRead.read(spark, t).count() == 10L)
  }

  test("Iceberg: a pre-claimed metadata version makes the late writer fail loudly") {
    val t = tbl("graft_ice_race")
    IcebergWrite.write(spark.range(0, 10).select($"id"), t)
    val metaDir = Paths.get(t, "metadata")
    val foreign = Files.readString(metaDir.resolve("v1.metadata.json"))
    Files.writeString(metaDir.resolve("v2.metadata.json"), foreign)
    val e = intercept[java.util.ConcurrentModificationException] {
      IcebergWrite.write(spark.range(10, 20).select($"id"), t)
    }
    assert(e.getMessage.contains("concurrently"))
    assert(Files.readString(metaDir.resolve("v2.metadata.json")) == foreign,
      "the winner's metadata must not be replaced")
    // hint still names a readable version; the reader resolves cleanly
    assert(IcebergRead.read(spark, t).count() == 10L)
  }

  /** the parquet files under table root `t`, Delta's log excluded */
  private def parquetUnder(t: String): Set[Path] = files(Paths.get(t), ".parquet")
    .filterNot(_.startsWith(Paths.get(t, "_delta_log")))

  private def files(dir: Path, suffix: String): Set[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(suffix)).toSet finally s.close()
  }

  /** a pass-through UDF that, on its first evaluation, publishes `content`
    * at `target` — another writer claiming the version this write
    * computed, while the write runs */
  private def claiming(target: Path, content: String) = {
    val at = target.toString
    udf { (x: Long) =>
      try Files.writeString(Paths.get(at), content, StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      x
    }.asNondeterministic()
  }

  test("Delta: a writer that loses the commit race deletes the files it placed") {
    val t = tbl("graft_delta_lost")
    val logDir = Paths.get(t, "_delta_log")
    val foreign = """{"commitInfo":{"operation":"WRITE","engineInfo":"other-engine"}}"""
    def claim(v: Long) = claiming(logDir.resolve(f"$v%020d.json"), foreign)
    DeltaWrite.write(spark.range(0, 10).select($"id"), t)
    DeltaWrite.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    def live = DeltaRead.snapshot(t).files.map(f => Paths.get(t).resolve(f.path)).toSet
    // data files
    intercept[java.util.ConcurrentModificationException] {
      DeltaWrite.write(spark.range(10, 20).select(claim(2L)($"id").as("id")), t)
    }
    assert(parquetUnder(t) === live)
    // a deletion-vector file and `_change_data` files
    intercept[java.util.ConcurrentModificationException] {
      DeltaWrite.deleteWhere(spark, t, claim(3L)($"id") < 3)
    }
    assert(parquetUnder(t) === live)
    assert(files(Paths.get(t), ".bin").isEmpty)
    assert(DeltaRead.read(spark, t).count() === 10L)
  }

  test("Iceberg: a writer that loses the metadata CAS deletes its data files and manifests") {
    val t = tbl("graft_ice_lost")
    val metaDir = Paths.get(t, "metadata")
    IcebergWrite.write(spark.range(0, 10).select($"id"), t)
    val avro = files(metaDir, ".avro")
    def live = IcebergRead.snapshot(t).files.map(f => Paths.get(f.path)).toSet
    def claim(v: Int) = claiming(metaDir.resolve(s"v$v.metadata.json"),
      Files.readString(metaDir.resolve("v1.metadata.json")))
    // data files, the new-files manifest and the manifest list
    intercept[java.util.ConcurrentModificationException] {
      IcebergWrite.write(spark.range(10, 20).select(claim(2)($"id").as("id")), t)
    }
    assert(parquetUnder(t) === live)
    assert(files(metaDir, ".avro") === avro)
    // a position-delete file and its delete manifest
    Files.delete(metaDir.resolve("v2.metadata.json"))
    intercept[java.util.ConcurrentModificationException] {
      IcebergWrite.deleteWhere(spark, t, claim(2)($"id") < 3)
    }
    assert(parquetUnder(t) === live)
    assert(files(metaDir, ".avro") === avro)
    assert(IcebergRead.read(spark, t).count() === 10L)
  }

  test("Delta: N racing writers — winners commit, losers fail, history contiguous") {
    val t = tbl("graft_delta_race_n")
    DeltaWrite.write(spark.range(0, 5).select($"id"), t) // v0, 5 rows
    val n = 6
    val latch = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val results = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          latch.await()
          try Right(DeltaWrite.write(
            spark.range(100L * (i + 1), 100L * (i + 1) + 10).select($"id"), t))
          catch { case e: Throwable => Left(e) }
        }
      })
    }
    latch.countDown()
    val outcomes = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val wins = outcomes.collect { case Right(v) => v }
    val losses = outcomes.collect { case Left(e) => e }
    assert(wins.size + losses.size == n)
    assert(losses.forall(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"losers must fail with CME, got ${losses.map(_.getClass.getName)}")
    // committed versions are distinct and the log is contiguous 0..max
    assert(wins.toSet.size == wins.size)
    val logDir = Paths.get(t, "_delta_log")
    val committed = Files.list(logDir).iterator()
    val versions = scala.jdk.CollectionConverters.IteratorHasAsScala(committed)
      .asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted
    assert(versions == (0L to versions.max))
    // every winner's rows (and only those) are present
    assert(DeltaRead.read(spark, t).count() == 5L + 10L * wins.size)
  }
}
