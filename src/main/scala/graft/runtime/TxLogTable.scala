package graft.runtime

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.sources.{CommitCas, DataFiles, LogFileIndex, LogScan, MergeClauses, StatsSkip}
import graft.sources.StatsSkip.FileStats

/** A minimal log-structured transactional table format over a Parquet
  * directory — the Spark-native answer to the reference's reliance on a
  * transactional warehouse (Databricks `MERGE INTO` / `ALTER TABLE` in
  * `macros/rehashing/single_entities/databricks/rehash_single_hub.sql:84-111,17-26`)
  * without requiring Delta/Iceberg jars.
  *
  * Layout:
  * {{{
  *   <base>/<name>/_log/v00000001.manifest   # one line per live file plus
  *                                           # #-headed metadata lines
  *   <base>/<name>/d-<uuid>/part-*.parquet   # immutable data-file batches
  * }}}
  *
  * A manifest is one [[TxLogTable.Manifest]] value: the column mapping,
  * the live files, per-file stats and blooms, equality deletes, CHECK
  * constraints and txn markers. `Manifest.parse` is the one decoder and
  * `Manifest.lines` the one encoder; every operation reads its head's
  * manifest ([[manifest]], cached parsed) and commits a copy of it.
  *
  * Properties, each asserted by `TxLogTableSpec`:
  *  - **Atomic commits**: a manifest is staged as `.tmp-*` and published via
  *    a hard-link CAS (`Files.createLink` fails if the version already
  *    exists). A crash mid-commit leaves only ignorable tmp files — never a
  *    half-visible table state.
  *  - **Snapshot isolation**: readers resolve a manifest once; data files
  *    are immutable and never deleted by commits, so a DataFrame read before
  *    a concurrent overwrite/merge keeps returning its version's rows.
  *  - **Optimistic concurrency**: two writers racing to commit the same
  *    version — one wins, the loser sees the CAS fail, re-reads the new
  *    state and retries (append) or aborts (overwrite of a stale snapshot).
  *  - **Time travel**: any retained version can be read back by number.
  *  - **Metadata-only DDL**: add/rename/drop column commit a new manifest
  *    and touch ZERO data files — logical names map to immutable physical
  *    names (Delta's column mapping), files predating an added column
  *    null-fill through the typed mapping.
  *  - **Vacuum**: unreferenced files are deleted only when older than the
  *    retained version horizon, so in-flight readers stay valid.
  *
  * File-level MERGE (`replaceFiles`) is the primitive Delta's MERGE compiles
  * to: rewrite the touched files, commit (removed, added) in one version.
  */
final class TxLogTable(val spark: SparkSession, val baseDir: String) extends VaultStore {

  // ---- VaultStore: the store the Runner schedules -----------------------
  def readIfExists(name: String): Option[DataFrame] =
    currentVersion(name).map(readVersion(name, _))
  /** non-CAS overwrite (VaultStore form): last writer wins; pass
    * `expectedVersion` for the guarded read-modify-overwrite contract */
  def overwrite(name: String, df: DataFrame): Unit = overwrite(name, df, None)

  import TxLogTable.{ColMap, EqDelete, Manifest, physicalSchema}

  def root(name: String): Path = Paths.get(baseDir, name)
  private def logDir(name: String): Path = root(name).resolve("_log")

  // tables / registerViews inherit from VaultStore; here exists() demands a
  // committed _log, and each registered view is the table's CURRENT snapshot
  // resolved at registration time (snapshot isolation: re-register to
  // advance past later commits).

  private val ManifestRe = raw"v(\d{8})\.manifest".r

  /** committed versions, ascending (tmp/garbage ignored) */
  def versions(name: String): Seq[Long] = {
    val d = logDir(name)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.flatMap(_.getFileName.toString match {
        case ManifestRe(n) => Some(n.toLong)
        case _             => None
      }).toSeq.sorted
      finally s.close()
    }
  }

  def currentVersion(name: String): Option[Long] = versions(name).lastOption

  def exists(name: String): Boolean = currentVersion(name).isDefined

  private def manifestPath(name: String, v: Long): Path =
    logDir(name).resolve(f"v$v%08d.manifest")

  /** A committed manifest is immutable (writers only ever tryCommit a NEW
    * version), so (name, v) → [[Manifest]] is a pure function — memoize
    * the PARSED value: every operation reads its head's manifest, and a
    * point-probe workload calls metadata ops per key; uncached, 40 bloom
    * probes re-read a multi-MB manifest ~400 times (round-6 bench: >7 s of
    * the bloom query was manifest re-parsing). Parsed once, the `#fstat`
    * JSON of a version is read once. Bounded: manifests of old versions
    * fall out once the cache grows. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Manifest]()

  /** version `v` of `name`; throws when it carries no column mapping
    * (every writer records one) */
  def manifest(name: String, v: Long): Manifest = {
    // Eviction happens OUTSIDE the computeIfAbsent lambda: the CHM
    // contract forbids the mapping function from mutating the map, and a
    // clear() inside it can livelock/corrupt under concurrent metadata
    // ops (exercised by concurrent appends, TxLogTableSpec).
    if (manifestCache.size > 64) manifestCache.clear()
    val m = manifestCache.computeIfAbsent((name, v), { _ =>
      Manifest.parse(Files.readAllLines(manifestPath(name, v)).asScala.toSeq)
    })
    if (m.cols.isEmpty)
      throw new IllegalStateException(
        s"TxLogTable $name: version $v has no column mapping (#col lines)")
    m
  }

  /** live data files of a version, relative to the table root */
  def files(name: String, v: Long): Seq[String] = manifest(name, v).files

  /** the latest committed batchVersion for `appId`, if any */
  def txnVersion(name: String, appId: String): Option[Long] =
    currentVersion(name).flatMap(v => manifest(name, v).txns.get(appId))

  /** Publish `m` as version `v` of `name`. Returns false when `v` was
    * committed concurrently by another writer (CAS lost — re-read, retry). */
  private def tryCommit(name: String, v: Long, m: Manifest): Boolean =
    CommitCas.publish(manifestPath(name, v), m.lines.mkString("\n").getBytes("UTF-8"))

  /** [[tryCommit]] for a writer that does not retry: a lost CAS fails
    * loudly, naming the operation `op` and what the caller should do. */
  private def commitOr(name: String, v: Long, m: Manifest, op: String,
                       hint: String = "retry"): Unit =
    if (!tryCommit(name, v, m))
      throw new IllegalStateException(s"TxLogTable $name: lost commit race on $op — $hint")

  /** identity mapping for a table born from `df`'s schema */
  private def identityMapping(df: DataFrame): Seq[ColMap] =
    df.schema.fields.toIndexedSeq.map(f =>
      ColMap(f.name, f.name, f.dataType.catalogString))

  /** the current version; throws when the table does not exist */
  private def latest(name: String): Long = currentVersion(name).getOrElse(
    throw new IllegalStateException(s"TxLogTable $name does not exist"))

  /** enforce CHECK constraints `checks` on rows about to be written:
    * a row violates when the predicate is FALSE **or NULL** (Delta's
    * constraint semantics — an unknown is not proof of validity). Throws
    * with the per-constraint violation counts; costs one pass over the
    * BATCH, never the table. */
  private def requireChecks(checks: Map[String, String], df: DataFrame, what: String): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce => fcoalesce, expr, lit => flit, sum => fsum, when => fwhen}
    val aggs = checks.toSeq.sortBy(_._1).map { case (n, sql) =>
      fsum(fwhen(!fcoalesce(expr(sql), flit(false)), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bad = checks.keys.toSeq.sorted.zipWithIndex
      .map { case (n, i) => n -> row.getLong(i) }.filter(_._2 > 0)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"CHECK constraint violation on $what: " +
          bad.map { case (n, c) => s"$n (${checks(n)}): $c rows" }.mkString("; "))
  }

  /** ALTER TABLE ADD CONSTRAINT: validates the EXISTING rows first (a
    * constraint the current data violates is refused with the count),
    * then commits the manifest line; all later row-adding writes enforce
    * it. */
  def addCheckConstraint(name: String, constraintName: String, sql: String): Unit = {
    require(!constraintName.exists(c => c == '\t' || c == '\n') &&
      !sql.exists(c => c == '\t' || c == '\n'),
      "constraint name/expression must be free of tabs and line breaks")
    val v = latest(name)
    val m = manifest(name, v)
    requireChecks(Map(constraintName -> sql), rows(name, m, m.files),
      s"$name: existing rows reject new constraint")
    commitOr(name, v + 1, m.copy(checks = m.checks + (constraintName -> sql)),
      "addCheckConstraint")
  }

  def dropCheckConstraint(name: String, constraintName: String): Unit = {
    val v = latest(name)
    val m = manifest(name, v)
    commitOr(name, v + 1, m.copy(checks = m.checks - constraintName), "dropCheckConstraint")
  }

  /** Per-file stats of the stats columns for a just-written batch, read
    * from the parquet FOOTERS through the shared typed reader
    * ([[DataFiles.footerRanges]]) — driver-side metadata work, one footer
    * per file, no Spark job. Types [[StatsSkip]] cannot compare get no
    * stats (unprunable, safe). A file whose footer holds values without
    * usable bounds for a stats column (INT96 timestamps, a writer that
    * dropped stats) falls back to a one-pass scan: same typed values at
    * the cost of a Spark job, which is logged. */
  private def batchStats(name: String, batchFiles: Seq[String], cols: Seq[ColMap],
                         statsCols: Seq[String]): Map[String, FileStats] = {
    if (statsCols.isEmpty || batchFiles.isEmpty) return Map.empty
    val schema = StructType(physicalSchema(cols).filter(f => statsCols.contains(f.name)))
    val conf = spark.sparkContext.hadoopConfiguration
    val footers = batchFiles.map(f => f ->
      DataFiles.footerRanges(conf, root(name).resolve(f), schema).filter(_.unbounded.isEmpty))
    val needScan = footers.collect { case (f, None) => f }
    if (needScan.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"TxLogTable $name batchStats: footer fallback for " +
          s"${needScan.size}/${batchFiles.size} files (INT96/statless)")
    footers.collect { case (f, Some(fr)) => f -> fr.stats }.toMap ++
      scanStats(name, needScan, cols, schema)
  }

  /** The footer fallback: one column-pruned Spark scan over `fs` (the
    * [[relation]], no deletes) collecting per-file count/min/max/nulls,
    * read as Catalyst values and typed like [[DataFiles.footerRanges]]. */
  private def scanStats(name: String, fs: Seq[String], cols: Seq[ColMap],
                        schema: StructType): Map[String, FileStats] = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.functions.{count, max => fmax, min => fmin}
    val use = schema.filter(f => RowOrdering.isOrderable(f.dataType))
    if (fs.isEmpty || use.isEmpty) return Map.empty
    val aggs = count(lit(1)) +: use.flatMap(f =>
      Seq(fmin(col(f.name)), fmax(col(f.name)), count(col(f.name))))
    val manifestPath = byQualified(name, fs)
    relation(name, Manifest(Nil, cols), fs, withFile = true).groupBy(col("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .queryExecution.toRdd.map(_.copy()).collect().toSeq.map { r =>
        val n = r.getLong(1)
        val ranges = use.zipWithIndex.flatMap { case (c, i) =>
          val mn = typedValue(r.get(2 + 3 * i, c.dataType), c.dataType)
          val mx = typedValue(r.get(3 + 3 * i, c.dataType), c.dataType)
          if (mn == null || mx == null) None else Some((c.name, mn, mx))
        }
        manifestPath(r.getUTF8String(0).toString) -> DataFiles.FooterRanges(n,
          ranges.map(x => x._1 -> x._2).toMap, ranges.map(x => x._1 -> x._3).toMap,
          use.zipWithIndex.map { case (c, i) => c.name -> (n - r.getLong(4 + 3 * i)) }.toMap,
          Set.empty).stats
      }.toMap
  }

  /** one Catalyst value in the typed stats domain of
    * [[DataFiles.FooterRanges]]; null for types stats do not carry */
  private def typedValue(v: Any, dt: DataType): Any = {
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (_, null) => null
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        java.lang.Long.valueOf(n.longValue)
      case (FloatType | DoubleType, n: Number) => java.lang.Double.valueOf(n.doubleValue)
      case (StringType, s: org.apache.spark.unsafe.types.UTF8String) => s.toString
      case (BooleanType, b: java.lang.Boolean) => b
      case (DateType, d: Integer) => java.time.LocalDate.ofEpochDay(d.longValue).toString
      case (_: DecimalType, d: Decimal) => d.toJavaBigDecimal
      case (TimestampType | TimestampNTZType, us: java.lang.Long) => us
      case _ => null
    }
  }

  /** Write `df` (LOGICAL names) as a new immutable data-file batch under
    * the mapping's physical names; returns relative paths. */
  private def writeBatch(name: String, df: DataFrame,
                         cols: Seq[ColMap]): Seq[String] = {
    val physical = df.select(cols.map(c =>
      col(c.logical).cast(c.typeDdl).as(c.physical)): _*)
    val batch = s"d-${UUID.randomUUID()}"
    DataFiles.write(physical, root(name).resolve(batch), Nil).map(w => s"$batch/${w.rel}")
  }

  /** Clustered batch write: ONE Spark job whose output files each hold
    * exactly one value of `cluster` (hive-style `partitionBy` on a
    * synthetic column that is dropped from the data pages but decides the
    * directory), after consolidating each cluster value into a single task.
    * This is the write path a Z-order/partition layout wants: per-file
    * min/max stats and blooms get the tightest possible ranges WITHOUT a
    * write job per bucket (the append-per-bucket loop it replaces costs a
    * full job + commit per file — 32 sequential jobs for a 2×16-file
    * layout). Reading individual files never sees `__cluster`: explicit
    * file paths skip partition discovery. */
  private def writeClusteredBatch(name: String, df: DataFrame,
                                  cols: Seq[ColMap], cluster: Column,
                                  buckets: Int): Seq[String] = {
    val clustered = df.withColumn("__cluster", cluster)
    val physical = clustered.select(cols.map(c =>
      col(c.logical).cast(c.typeDdl).as(c.physical)) :+ col("__cluster"): _*)
      .repartition(buckets, col("__cluster"))
    val batch = s"d-${UUID.randomUUID()}"
    DataFiles.write(physical, root(name).resolve(batch), Seq("__cluster"))
      .map(w => s"$batch/${w.rel}")
  }

  /** The [[LogFileIndex]] relation over exactly `fs` under the mapping's
    * physical schema, plus `extra` physical columns the mapping no longer
    * holds (a dropped column an equality delete keys on): pushed data
    * filters prune files by `m`'s stats and blooms. `withFile` adds each
    * row's file as `__fp` ([[LogScan.FilePath]]). Files predating an added
    * column null-fill; the schema comes from the mapping, so no footer
    * inference runs. */
  private def relation(name: String, m: Manifest, fs: Seq[String], withFile: Boolean,
                       extra: Seq[StructField] = Nil): DataFrame = {
    val r = root(name)
    LogScan.scan(spark, new LogFileIndex(spark, Seq(r),
      fs.map(f => LogScan.LiveFile(r.resolve(f), stats = m.stats.get(f))),
      StructType(physicalSchema(m.cols) ++ extra),
      mayContain = lf => bloomKeep(name, m, r.relativize(lf.path).toString)),
      if (withFile) Seq(LogScan.FilePath) else Nil)
  }

  /** The one TxLogTable scan: the LOGICAL rows of `fs` (typed column
    * mapping, renamed columns under their logical names) with the
    * equality deletes applied, plus `__fp` when `withFile`. Each delete
    * matches on its PHYSICAL key columns — physical names are immutable,
    * so deletes survive renames, and a dropped key column is still read
    * for them — gated to the files in its scope by `__fp`, so a key
    * re-inserted after the delete stays visible. Every read, the
    * registered views and `merge` go through it. */
  private def scan(name: String, m: Manifest, fs: Seq[String],
                   withFile: Boolean): DataFrame = {
    val scanned = fs.toSet
    val edels = m.edels.filter(_.scope.exists(scanned))
    val mapped = m.cols.map(_.physical).toSet
    val base = relation(name, m, fs, withFile || edels.nonEmpty,
      edels.flatMap(_.keys).filterNot(k => mapped(k.name)).distinctBy(_.name))
    LogScan.survivors(base, edels.map(e => LogScan.ByKey(deleteKeys(name, e), e.keyPhys,
        nullSafe = false,
        col("__fp").isInCollection(e.scope.intersect(scanned).toSeq.map(qualify(name, _))),
        e.rows)))
      .select(m.cols.map(c => col(c.physical).cast(c.typeDdl).as(c.logical)) ++
        (if (withFile) Seq(col("__fp")) else Nil): _*)
  }

  /** [[scan]] without `__fp`: the rows a reader sees */
  private def rows(name: String, m: Manifest, fs: Seq[String]): DataFrame =
    scan(name, m, fs, withFile = false)

  /** the `_metadata.file_path` form of manifest path `f` */
  private def qualify(name: String, f: String): String =
    LogScan.qualifiedPath(spark, root(name).resolve(f))

  /** qualified path → manifest path, over `fs` */
  private def byQualified(name: String, fs: Seq[String]): Map[String, String] =
    fs.map(f => qualify(name, f) -> f).toMap

  /** The files among `subset` of version `v` holding a row that `keep`
    * retains (`keep` sees [[scan]]'s rows: deletes applied, plus
    * `__fp`). Only the distinct files reach the driver. */
  private[graft] def filesHolding(name: String, v: Long, subset: Seq[String])
                                 (keep: DataFrame => DataFrame): Seq[String] = {
    val manifestPath = byQualified(name, subset)
    keep(scan(name, manifest(name, v), subset, withFile = true)).select("__fp").distinct()
      .collect().map(r => manifestPath(r.getString(0))).toSeq
  }

  /** the deleted-key frame of one equality-delete file, its physical key
    * columns renamed `__del_<key>`, read under the types the delete
    * recorded so no footer-inference job runs. Sound because a delete's
    * scope never covers a retyped file: retype rewrites every live file,
    * and rewritten files leave every scope. */
  private def deleteKeys(name: String, e: EqDelete): DataFrame =
    spark.read.schema(e.keys).parquet(root(name).resolve(e.file).toString)
      .select(e.keyPhys.map(k => col(k).as(s"__del_$k")): _*)

  /** Read the current snapshot (resolves the manifest ONCE — concurrent
    * commits do not move this DataFrame's version). The scan prunes
    * files by the manifest's min/max stats and per-file blooms whenever
    * Catalyst pushes a predicate down ([[LogFileIndex]]), so a
    * plain `spark.sql("SELECT … FROM t WHERE k = 42")` over a registered
    * view schedules only candidate files. */
  def read(name: String): DataFrame = readVersion(name, latest(name))

  /** time travel */
  def readVersion(name: String, v: Long): DataFrame = {
    val m = manifest(name, v)
    rows(name, m, m.files)
  }

  /** RESTORE TABLE ... TO VERSION (Delta RESTORE): re-commit an old
    * version's manifest as the NEW head — a metadata-only undo
    * that touches zero data files and preserves the full history (the
    * bad versions stay time-travelable until vacuum's horizon reclaims
    * them; data files of the restored version are re-referenced, so the
    * same vacuum keeps them live). Roll-forward is equally possible:
    * restore to any retained version, in either direction. */
  def restore(name: String, toVersion: Long): Unit = {
    val head = latest(name)
    require(versions(name).contains(toVersion),
      s"TxLogTable $name: version $toVersion is not retained " +
        s"(have ${versions(name)})")
    if (toVersion == head) return
    commitOr(name, head + 1, manifest(name, toVersion), "restore")
  }

  /** MERGE-ON-READ row-level DELETE (Iceberg equality deletes / Delta
    * deletion vectors): rows of the current snapshot matching `cond` have
    * their `keyCols` written to ONE key file; no data file is touched.
    * Readers anti-join the keys; `compact` (or any rewrite of the scoped
    * files) materializes the delete and drops the tombstone. A later
    * append may re-insert a deleted key and is visible — deletes are
    * scoped to the files live at delete time. Returns the number of
    * distinct deleted keys. */
  def deleteWhere(name: String, cond: org.apache.spark.sql.Column,
                  keyCols: Seq[String]): Long =
    deleteKeysOf(name, keyCols)(_.filter(cond))

  /** [[deleteWhere]] with the doomed keys given as a DATAFRAME instead of
    * a `Column` predicate — the shape a production GDPR/forget batch has
    * (millions of subject keys). The key set stays distributed end to
    * end: it is semi-joined against the current snapshot (so the
    * tombstone only carries keys that exist; a driver-side
    * `isin(keys: _*)` literal breaks the PLAN at ~thousands of keys,
    * long before it breaks the driver). `keyDf` must carry the logical
    * `keyCols`. */
  def deleteWhereKeys(name: String, keyDf: DataFrame,
                      keyCols: Seq[String]): Long =
    deleteKeysOf(name, keyCols) { snapshot =>
      snapshot.join(keyDf.select(keyCols.map(col): _*), keyCols, "leftsemi")
    }

  /** shared MoR-delete tail: derive doomed keys from the current snapshot
    * (existing tombstones applied — a re-delete of an already-dead key is
    * a harmless no-op row), write them as ONE key file, commit the
    * equality-delete scoped to the files live now. Returns the number of
    * distinct deleted keys. */
  private def deleteKeysOf(name: String, keyCols: Seq[String])
      (restrict: DataFrame => DataFrame): Long = {
    val v = latest(name)
    val m = manifest(name, v)
    val phys = keyCols.map(kc => m.cols.find(_.logical == kc).getOrElse(
      throw new IllegalArgumentException(
        s"TxLogTable $name: no column $kc")))
    val keys = restrict(rows(name, m, m.files))
      .select(phys.map(c => col(c.logical).cast(c.typeDdl).as(c.physical)): _*)
      .distinct()
      .localCheckpoint()
    val n = keys.count()
    if (n == 0) return 0L
    val batch = s"ed-${UUID.randomUUID()}"
    val delFile = DataFiles.write(keys.coalesce(1), root(name).resolve(batch), Nil)
      .map(w => s"$batch/${w.rel}").head
    commitOr(name, v + 1,
      m.copy(edels = m.edels :+ EqDelete(delFile, physicalSchema(phys), m.files.toSet, n)),
      "deleteWhere",
      "re-derive from the new head and retry")
    n
  }

  /** S6 — incremental insert: appends never conflict semantically, so a
    * lost CAS re-reads the head and retries against it. */
  def append(name: String, df: DataFrame): Unit = {
    appendTxn(name, df, None, writeBatch(name, df, _)); ()
  }

  /** Append `df` as one CLUSTERED batch: a single write job that lays the
    * rows out one-cluster-value-per-file (see writeClusteredBatch). The
    * commit protocol is identical to `append`. Use after `setStatsColumns`
    * /`setBloomColumn`-style skipping is in play: the layout is what makes
    * per-file pruning bite. `cluster` is evaluated against `df`'s logical
    * columns. */
  def appendClustered(name: String, df: DataFrame, cluster: Column,
                      buckets: Int): Unit = {
    appendTxn(name, df, None, writeClusteredBatch(name, df, _, cluster, buckets)); ()
  }

  /** Append with AUTOMATIC SCHEMA EVOLUTION (Delta's schema-merging
    * write option): columns in `df` the table lacks are added first as
    * metadata-only DDL (older files null-fill), then the batch appends;
    * columns the table has but `df` lacks null-fill the new batch.
    * Existing columns must keep their type — a changed type is a real
    * contract break and throws rather than silently casting. */
  def appendEvolve(name: String, df: DataFrame): Unit = {
    currentVersion(name) match {
      case None => append(name, df)
      case Some(v) =>
        val m = manifest(name, v)
        val incoming = df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
        m.cols.foreach { c =>
          incoming.get(c.logical).foreach { t =>
            require(t == c.typeDdl,
              s"TxLogTable $name: column ${c.logical} is ${c.typeDdl}, " +
                s"incoming batch has $t — schema evolution never retypes")
          }
        }
        val newCols = df.schema.fields
          .filter(f => !m.cols.exists(_.logical == f.name))
        newCols.foreach(f => addColumn(name, f.name, f.dataType.catalogString))
        val after = manifest(name, currentVersion(name).get)
        val aligned = df.select(after.cols.map { c =>
          if (incoming.contains(c.logical)) col(c.logical)
          else lit(null).cast(c.typeDdl).as(c.logical)
        }: _*)
        append(name, aligned)
    }
  }

  /** Exactly-once append (the Delta txnAppId/txnVersion contract): the
    * commit records (appId → batchVersion) in the manifest, and an append
    * whose batchVersion is ≤ the appId's recorded marker is recognized as
    * a REPLAY and skipped (returns false). With monotone batch versions
    * per appId — Spark's foreachBatch batchId is exactly that — task
    * retries, sink restarts, and checkpoint replays all collapse to one
    * committed copy. The check re-runs inside the CAS retry loop, so a
    * concurrent replayer racing this commit cannot double-apply. */
  def appendOnce(name: String, df: DataFrame, appId: String,
                 batchVersion: Long): Boolean = {
    // the marker is one tab-separated manifest line; a tab or line break
    // inside appId would corrupt the manifest for ALL future readers
    // (txnVersions split, or a bogus un-prefixed "file" line)
    require(appId.nonEmpty && !appId.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"appendOnce: appId must be non-empty and free of tabs/line breaks, got ${appId.map(c => if (c.isControl) f"\\u${c.toInt}%04x" else c.toString).mkString}")
    appendTxn(name, df, Some(appId -> batchVersion), writeBatch(name, df, _))
  }

  /** The one append commit loop: `write` the batch under the head's
    * mapping, commit it as the next version, and on a lost CAS re-read
    * the head and retry against it. */
  private def appendTxn(name: String, df: DataFrame, txn: Option[(String, Long)],
                        write: Seq[ColMap] => Seq[String]): Boolean = {
    var done = false
    var batch: Option[(Seq[ColMap], Seq[String])] = None
    while (!done) {
      val head = currentVersion(name)
      val m = head.map(manifest(name, _)).getOrElse(Manifest(Nil, identityMapping(df)))
      // a skipped replay can leave an already-written batch from a lost
      // CAS iteration as orphan files — vacuum's orphan-grace sweep
      // reclaims them, same as any crashed append
      if (txn.exists { case (app, bv) => m.txns.get(app).exists(_ >= bv) }) {
        // SKIPPED, but still CONSUMED: under foreachBatch the plan may
        // carry stateful operators (flatMapGroupsWithState) whose state
        // must advance through EVERY micro-batch — an unexecuted skip
        // leaves a state hole for the first non-replayed batch, and
        // Spark's state-store commit validation fails the query outright
        // ("expected N commits but got 0"). A noop-sink write executes
        // all partitions without landing data. Only on the first CAS
        // iteration (batch == None): if a lost race already wrote the
        // batch, the plan has been executed.
        if (batch.isEmpty) df.write.format("noop").mode("overwrite").save()
        return false // replay — skip
      }
      requireChecks(m.checks, df, s"$name append")
      val added = batch match {
        // reuse the already-written batch on a lost CAS — unless the new
        // head changed the mapping out from under us (DDL race): physical
        // names could differ, so rewrite under the new mapping
        case Some((c, fs)) if c == m.cols => fs
        case _ => val fs = write(m.cols); batch = Some((m.cols, fs)); fs
      }
      done = tryCommit(name, head.getOrElse(0L) + 1, m.copy(files = m.files ++ added,
        stats = m.stats ++ batchStats(name, added, m.cols, m.statsCols),
        txns = m.txns ++ txn))
    }
    true
  }

  /** S5 — table materialization / full refresh: the schema resets to `df`'s
    * (a fresh identity mapping — prior DDL history does not constrain a
    * full rebuild). `expectedVersion` (CAS guard) makes read-modify-
    * overwrite safe: pass the version the new contents were derived from; a
    * concurrent commit aborts loudly instead of silently clobbering it. */
  def overwrite(name: String, df: DataFrame,
                expectedVersion: Option[Long] = None): Unit = {
    val cols = identityMapping(df)
    val head = currentVersion(name)
    // CAS guard BEFORE the batch write: a stale overwrite aborts without
    // having produced an orphaned table-sized batch
    expectedVersion.foreach { ev =>
      require(head.contains(ev) || (ev == 0L && head.isEmpty),
        s"TxLogTable $name: expected version $ev but head is $head — " +
          "concurrent commit detected, re-derive and retry")
    }
    // the (reset, physical = logical) schema keeps the stats and bloom
    // columns it still carries; CHECK constraints (Delta table-property
    // semantics: the replacement rows must already satisfy them) and txn
    // markers (a replayed streaming batch must still be recognized after
    // someone rebuilds the table) survive a full refresh
    val m = head.map(manifest(name, _)).getOrElse(Manifest(Nil, cols))
    requireChecks(m.checks, df, s"$name overwrite")
    val added = writeBatch(name, df, cols)
    val phys = cols.map(_.physical).toSet
    commitOr(name, head.getOrElse(0L) + 1, rewritten(name, m.copy(cols = cols,
      statsCols = m.statsCols.filter(phys),
      bloomCols = m.bloomCols.filter { case (c, _) => phys(c) }), added),
      "overwrite", "re-derive and retry")
  }

  /** S7 — file-level MERGE, the primitive a row-level MERGE compiles to:
    * `rewrite` maps the (logical) rows of the files it touches; files not
    * in `touched` survive untouched. One version swaps (removed, added)
    * atomically; a concurrent commit aborts loudly (rewrites must re-derive
    * from the new head, same contract as Delta's conflict detection). */
  def replaceFiles(name: String, touched: Seq[String],
                   retype: Map[String, String] = Map.empty)
                  (rewrite: DataFrame => DataFrame): Unit = {
    val v = latest(name)
    val m = manifest(name, v)
    val live = m.files
    require(touched.forall(live.contains),
      s"TxLogTable $name: replaceFiles over non-live files " +
        s"${touched.filterNot(live.contains)}")
    // retype commits a column's manifest type WITH the rewrite, atomically.
    // Only sound when every live file is rewritten: a surviving old file
    // would be read back through the new type's cast (e.g. a hex STRING
    // UTF-8-mangled into BINARY), so a partial rewrite + retype refuses.
    retype.keys.foreach(c => require(m.cols.exists(_.logical == c),
      s"TxLogTable $name: retype of unknown column $c"))
    require(retype.isEmpty || touched.toSet == live.toSet,
      s"TxLogTable $name: retype requires rewriting ALL live files")
    val newCols = m.cols.map(c =>
      retype.get(c.logical).fold(c)(t => c.copy(typeDdl = t)))
    val added =
      if (touched.isEmpty) Seq.empty
      // the rewrite sees the DELETE-APPLIED rows of the touched files (and
      // its output files leave every delete's scope), so
      // tombstoned rows can never be resurrected by a rewrite
      else writeBatch(name,
        rewrite(rows(name, m, touched)), newCols)
    commitOr(name, v + 1, m.copy(files = live.filterNot(touched.contains) ++ added,
      cols = newCols, stats = m.stats ++ batchStats(name, added, newCols, m.statsCols)),
      "replaceFiles",
      "re-derive from the new head and retry")
  }

  /** S7 — row-level MERGE compiled onto [[replaceFiles]]' primitive: rows of
    * `name` whose `keyCols` match a `source` row are replaced by it,
    * unmatched `source` rows are inserted — the semantics of the reference's
    * `MERGE INTO` rehash (`rehash_single_hub.sql:84-111`), and the same
    * upsert as Delta's and Iceberg's `merge`: [[MergeClauses.touchedFiles]]
    * finds the files that hold a source key (key-range stats prune, then a
    * semi-join over [[scan]]), [[MergeClauses.apply]] rewrites only those,
    * every other live file carries over by identity. One atomic version
    * publishes (removed ∪ added); readers of the old version stay
    * consistent. A source with duplicate keys is rejected; an empty source
    * commits nothing. */
  def merge(name: String, source: DataFrame, keyCols: Seq[String]): Unit = {
    import MergeClauses.{MatchedUpdate, NotMatchedInsert}
    val v = latest(name)
    val m = manifest(name, v)
    val schema = StructType(m.cols.map(c =>
      StructField(c.logical, DataType.fromDDL(c.typeDdl), nullable = true)))
    // the source is evaluated by several jobs (precheck, touched-file
    // probe, rewrite) — materialize it once, typed as the table, so a
    // nondeterministic input (limit without order, sampling, now()) cannot
    // yield different key sets between the probe and the write, which
    // would leave a matched key's old row alive next to its replacement
    val src = source.select(m.cols.map(c =>
      col(c.logical).cast(c.typeDdl).as(c.logical)): _*).localCheckpoint()
    requireChecks(m.checks, src, s"$name merge source")
    val upsert = Seq(MatchedUpdate(), NotMatchedInsert())
    val toLogical = m.cols.map(c => c.physical -> c.logical).toMap
    val touched = MergeClauses.touchedFiles[String](src, keyCols, upsert, schema,
        m.files, f => m.stats.get(f).flatMap(TxLogTable.remap(_, toLogical)),
        qualify(name, _), scan(name, m, _, withFile = true)) match {
      case None => return
      case Some(fs) => fs
    }
    val target =
      if (touched.isEmpty) MergeClauses.emptyFrame(spark, schema)
      else rows(name, m, touched)
    val added = writeBatch(name, MergeClauses(target, src, keyCols, upsert, schema)._1, m.cols)
    commitOr(name, v + 1, m.copy(files = m.files.filterNot(touched.contains) ++ added,
      stats = m.stats ++ batchStats(name, added, m.cols, m.statsCols)),
      "merge", "re-derive from the new head and retry")
  }

  /** Enable per-file min/max stats on `logicalCols` (Delta/Iceberg-style
    * data skipping) and backfill them for all live files in one
    * column-pruned ANALYZE pass. Stats are keyed by PHYSICAL name, so they
    * survive renames; files written before enablement that the backfill
    * missed (or all-NULL files) simply stay unprunable. */
  def setStatsColumns(name: String, logicalCols: Seq[String]): Unit = {
    val v = latest(name)
    val m = manifest(name, v)
    val phys = logicalCols.map { lc =>
      m.cols.find(_.logical == lc).getOrElse(
        throw new IllegalArgumentException(
          s"TxLogTable $name: no column $lc")).physical
    }
    commitOr(name, v + 1, m.copy(statsCols = phys.distinct,
      stats = batchStats(name, m.files, m.cols, phys.distinct)), "setStatsColumns")
  }

  // ---- per-file BLOOM FILTERS: point-lookup file skipping ----------------
  // min/max stats prune RANGE predicates but are useless for equality
  // probes into an unclustered table (every file's [min,max] spans the key
  // domain). A per-file Bloom filter prunes point lookups regardless of
  // layout — Iceberg keeps these in Puffin sidecars, Parquet in the
  // footer; here the (base64) bitset lives on a manifest line, which is
  // fine at demo scale and would move to a sidecar file at production
  // manifest sizes. Missing blooms (files appended after enablement) are
  // simply unprunable — the same safe default as missing stats.

  private val BloomSeeds = 4

  /** the BloomSeeds bit positions of a value — MUST match [[bloomPosCols]]
    * (same md5-of-"value:seed" derivation on both the build expression and
    * the driver probe) */
  private def bloomPositions(value: String, nbits: Int): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until BloomSeeds).map { k =>
      val hex = md.digest(s"$value:$k".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % nbits).toInt
    }
  }

  /** the same positions as a codegen'd column expression over `c` */
  private def bloomPosCols(c: org.apache.spark.sql.Column, nbits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{array, concat, conv, lit, md5, pmod, substring}
    array((0 until BloomSeeds).map { k =>
      pmod(conv(substring(md5(concat(c.cast("string"), lit(s":$k"))), 1, 8), 16, 10)
        .cast("long"), lit(nbits.toLong)).cast("int")
    }: _*)
  }

  /** One pass over `fs` building a bloom bitset per file for `physCol`:
    * ONE aggregated row per file (bit positions deduped map-side by
    * collect_set) instead of collecting NDV×seeds individual position
    * rows to the driver — at 10k files this moves file-count rows, not
    * key-count rows. Shared by [[setBloomColumn]] and the compaction
    * rewrites (which must re-bloom the files they emit, or the skipping
    * property silently dies with the replaced files). */
  private def buildFileBlooms(name: String, m: Manifest, fs: Seq[String],
                              physCol: String,
                              nbits: Int): Map[(String, String), String] = {
    import org.apache.spark.sql.functions.{collect_set, explode}
    if (fs.isEmpty) return Map.empty
    val manifestPath = byQualified(name, fs)
    val posRows = relation(name, m, fs, withFile = true)
      .select(col("__fp"), col(physCol)).distinct()
      .select(col("__fp"), explode(bloomPosCols(col(physCol), nbits)).as("pos"))
      .groupBy(col("__fp")).agg(collect_set(col("pos")).as("ps"))
      .collect()
    posRows.map { row =>
      val bits = new java.util.BitSet(nbits)
      row.getSeq[Int](1).foreach(bits.set)
      (manifestPath(row.getString(0)), physCol) ->
        java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
    }.toMap
  }

  /** Fresh blooms for every enabled bloom column over a rewrite's output
    * files. Compaction replaces EVERY data file, so carrying the old
    * per-file blooms forward would leave zero live bloom entries and the
    * scan's bloom channel ([[bloomKeep]]) would silently keep every file
    * while bloomCols still advertises skipping. Same nbits as the original
    * enablement (NDV is unchanged by a rewrite). */
  private def rebuiltBlooms(name: String, m: Manifest,
                            added: Seq[String]): Map[(String, String), String] =
    m.bloomCols.foldLeft(Map.empty[(String, String), String]) {
      case (acc, (physCol, nbits)) =>
        acc ++ buildFileBlooms(name, m, added, physCol, nbits)
    }

  /** `m` after a rewrite replaced every live file with `added`: stats
    * and fresh blooms for the new files, and no equality deletes — the
    * rewrite materialized them (tombstoned rows are not in `added`) */
  private def rewritten(name: String, m: Manifest, added: Seq[String]): Manifest =
    m.copy(files = added, stats = batchStats(name, added, m.cols, m.statsCols),
      blooms = rebuiltBlooms(name, m, added), edels = Nil)

  /** Enable a Bloom filter on `logicalCol` and build one per live file in
    * a single pass (distinct bit positions per file, collected at
    * metadata scale — ≤ nbits ints per file). `bitsPerKey` ≈ 20 gives
    * ~0.1% false-positive rate at 4 probes. */
  def setBloomColumn(name: String, logicalCol: String, bitsPerKey: Int = 20): Unit = {
    import org.apache.spark.sql.functions.approx_count_distinct
    val v = latest(name)
    val m = manifest(name, v)
    val c = m.cols.find(_.logical == logicalCol).getOrElse(
      throw new IllegalArgumentException(s"TxLogTable $name: no column $logicalCol"))
    // sizing only needs an NDV ESTIMATE (an overshoot widens the filter, an
    // undershoot mildly raises FPR): approx_count_distinct is one map-side
    // HLL pass, where exact countDistinct shuffles every distinct key. The
    // 1.2 margin covers HLL's ~2% error band with room to spare.
    val maxNdv = (relation(name, m, m.files, withFile = false)
      .agg(approx_count_distinct(col(c.physical))).head().getLong(0) * 1.2).toLong
    val nbits = math.max(1024L,
      java.lang.Long.highestOneBit(math.max(1L, maxNdv * bitsPerKey) * 2 - 1)).toInt
    commitOr(name, v + 1, m.copy(bloomCols = m.bloomCols + (c.physical -> nbits),
      blooms = m.blooms ++ buildFileBlooms(name, m, m.files, c.physical, nbits)),
      "setBloomColumn")
  }

  /** decoded bitsets, memoized per (table, file, column, size in bits):
    * data files are immutable, so that key fixes the bitset in every
    * version. A bitset is hundreds of KB of base64 — decoding it on every
    * PROBE dominated point-lookup cost */
  private val bloomBitsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, Int), java.util.BitSet]()

  private def decodedBloom(name: String, file: String, col: String,
                           nbits: Int, b64: String): java.util.BitSet = {
    // eviction outside the lambda — CHM forbids self-mutation in compute
    if (bloomBitsCache.size > 1024) bloomBitsCache.clear()
    bloomBitsCache.computeIfAbsent((name, file, col, nbits), { _ =>
      java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(b64))
    })
  }

  /** The Bloom channel of every scan's [[LogFileIndex]] (the
    * `mayContain` of [[StatsSkip.keep]]) for `=`/IN on file `f`: a file is
    * skipped before any task is scheduled when its bloom lacks the
    * literal, rendered as the column's CAST AS STRING (the form the blooms
    * were built from); a type without that rendering never prunes. */
  private def bloomKeep(name: String, m: Manifest, f: String)
                       (a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
                        value: Any): Boolean = {
    import org.apache.spark.sql.types._
    m.bloomCols.get(a.name).forall { nbits =>
      val key = a.dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => Option(value).map(_.toString)
        case DateType => Option(value).map(d =>
          java.time.LocalDate.ofEpochDay(d.asInstanceOf[Int].toLong).toString)
        case _ => None
      }
      (key, m.blooms.get((f, a.name))) match {
        case (Some(k), Some(b64)) =>
          bloomPositions(k, nbits).forall(decodedBloom(name, f, a.name, nbits, b64).get)
        case _ => true
      }
    }
  }

  // ---- S9: metadata-only DDL (rehash_single_hub.sql:17-26,51-69) ---------
  // Each commits a new manifest and touches ZERO data files: logical names
  // map onto immutable physical names, so a rename is a header edit, an
  // added column null-fills older files through the typed mapping, and a
  // dropped column's bytes become invisible (and reclaimable by a later
  // rewrite). The reference needs warehouse ALTER TABLE for these — here
  // they are O(1) regardless of table size.

  private def alterMapping(name: String, op: String)
                          (f: Seq[ColMap] => Seq[ColMap]): Unit = {
    val v = latest(name)
    val m = manifest(name, v)
    val next = f(m.cols)
    // stats are keyed by physical name (rename-proof); entries for columns
    // no longer mapped (drops) fall away with the mapping
    val phys = next.map(_.physical).toSet
    // equality deletes carry through DDL untouched: they anti-join on
    // PHYSICAL names inside the scoped files, which no mapping change
    // moves (a renamed or even dropped key column still kills its rows:
    // the scan reads a dropped key under the type the delete recorded).
    // Blooms (physical-keyed, rename-proof like stats) and CHECK
    // constraints survive too — constraints reference LOGICAL names, so
    // renaming/dropping a constrained column leaves a constraint later
    // appends fail loudly on (drop it first); silently shedding the
    // contract on every DDL would be worse.
    commitOr(name, v + 1, m.copy(cols = next, statsCols = m.statsCols.filter(phys),
      stats = m.stats.flatMap { case (f, st) =>
        TxLogTable.remap(st, phys.map(c => c -> c).toMap).map(f -> _) },
      bloomCols = m.bloomCols.filter { case (c, _) => phys(c) },
      blooms = m.blooms.filter { case ((_, c), _) => phys(c) }), op)
  }

  /** ALTER TABLE ADD COLUMN (typed NULL for all existing rows). The
    * physical name is version-qualified so a dropped-then-readded logical
    * name can never resurrect stale bytes from old files. */
  def addColumn(name: String, colName: String, typeDdl: String): Unit =
    alterMapping(name, "addColumn") { cols =>
      require(!cols.exists(_.logical == colName),
        s"TxLogTable $name: column $colName already exists")
      val phys = s"${colName}__v${currentVersion(name).get + 1}"
      cols :+ ColMap(phys, colName, typeDdl)
    }

  /** ALTER TABLE RENAME COLUMN — manifest-only. */
  def renameColumn(name: String, from: String, to: String): Unit =
    alterMapping(name, "renameColumn") { cols =>
      require(cols.exists(_.logical == from),
        s"TxLogTable $name: no column $from")
      require(!cols.exists(_.logical == to),
        s"TxLogTable $name: column $to already exists")
      cols.map(c => if (c.logical == from) c.copy(logical = to) else c)
    }

  /** ALTER TABLE DROP COLUMN — manifest-only; bytes become invisible. */
  def dropColumn(name: String, colName: String): Unit =
    alterMapping(name, "dropColumn") { cols =>
      require(cols.exists(_.logical == colName),
        s"TxLogTable $name: no column $colName")
      cols.filterNot(_.logical == colName)
    }

  /** OPTIMIZE — bin-pack small files into `targetFiles` outputs (the
    * lakehouse answer to the small-file problem an append-per-micro-batch
    * table accumulates). With `clusterBy` the rewrite RANGE-partitions and
    * sorts by those columns (the Z-ORDER/liquid-clustering analogue for a
    * single sort dimension): each output file covers a tight, disjoint key
    * range, which is what turns the per-file min/max stats into real
    * pruning power — a point lookup or a key-ranged MERGE then touches one
    * file instead of all of them. One atomic commit swaps the old files for
    * the compacted ones; rows, schema, and snapshot readers are unchanged.
    * Returns (filesBefore, filesAfter). */
  def compact(name: String, targetFiles: Int = 1,
              clusterBy: Seq[String] = Nil): (Int, Int) = {
    val v = latest(name)
    val m = manifest(name, v)
    val live = m.files
    // pending equality deletes always warrant the rewrite (it materializes
    // them), even when the file count is already at target
    if (live.size <= math.max(1, targetFiles) && clusterBy.isEmpty && m.edels.isEmpty)
      return (live.size, live.size)
    // the rewrite MATERIALIZES pending equality deletes (tombstoned rows
    // are dropped from the new files) — so the new manifest clears them
    val all = rows(name, m, live)
    val compacted =
      if (clusterBy.isEmpty) all.repartition(math.max(1, targetFiles))
      else all.repartitionByRange(math.max(1, targetFiles), clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    val added = writeBatch(name, compacted, m.cols)
    commitOr(name, v + 1, rewritten(name, m, added), "compact")
    (live.size, added.size)
  }

  /** OPTIMIZE ZORDER — multi-dimensional clustering rewrite (Delta's
    * `OPTIMIZE ... ZORDER BY` analog). `compact(clusterBy)` sorts
    * lexicographically, so per-file ranges are tight on the LEADING
    * column only and probes on any other dimension scan every file. Here
    * each clustered column is scaled to a 16-bit bucket over its observed
    * [min, max] (one aggregate pass) and the bucket bits are INTERLEAVED
    * into a z-value; range-partitioning + sorting by z gives every
    * dimension locality — the space-filling curve's quadrant property —
    * which per-file min/max stats turn into pruning on ANY clustered
    * column. Columns must cast order-preservingly to DOUBLE (ints,
    * floats, decimals, timestamps); NULLs share a partition. Materializes
    * pending equality deletes like compact. Returns (before, after). */
  def compactZOrder(name: String, targetFiles: Int,
                    zorderBy: Seq[String]): (Int, Int) = {
    require(zorderBy.nonEmpty && zorderBy.size <= 4,
      s"compactZOrder: 1-4 z-order columns, got ${zorderBy.size}")
    val v = latest(name)
    val m = manifest(name, v)
    val live = m.files
    val all = rows(name, m, live)
    // shared deterministic z-layout core (graft.ops.ZCluster) — also
    // behind DeltaWrite.optimize; `all eq compacted` means empty table:
    // nothing to cluster, a rewrite would only churn the manifest
    val compacted = graft.ops.ZCluster.layout(all, zorderBy, targetFiles)
    if (compacted eq all) return (live.size, live.size)
    val added = writeBatch(name, compacted, m.cols)
    commitOr(name, v + 1, rewritten(name, m, added), "compactZOrder")
    (live.size, added.size)
  }

  /** Drop versions older than the newest `retainVersions`, delete data
    * files no retained manifest references, and reclaim ORPHANED batches —
    * directories written by an aborted overwrite/merge/rewrite (or a
    * DDL-raced append) whose commit never landed. Orphans are only removed
    * once older than `orphanGraceMs`, so a concurrent writer's
    * just-written, not-yet-committed batch survives a racing vacuum (the
    * same retention-window contract Delta's VACUUM carries). Readers of
    * retained versions stay valid — that is the horizon contract. */
  def vacuum(name: String, retainVersions: Int = 2,
             orphanGraceMs: Long = 24L * 3600 * 1000): Unit = {
    val vs = versions(name)
    val (expired, retained) = vs.splitAt(math.max(0, vs.size - math.max(1, retainVersions)))
    // retained manifests pin their data files AND their equality-delete
    // key files — an in-horizon reader needs both to reconstruct rows
    def referenced(v: Long): Seq[String] = {
      val m = manifest(name, v)
      m.files ++ m.edels.map(_.file)
    }
    val keep = retained.flatMap(referenced).toSet
    // batches whose expired files THIS pass deletes: deleting a child
    // bumps the dir's mtime to "now", so the grace check below would
    // see the dir as freshly modified and skip it (leaving .crc
    // leftovers to block the empty-dir delete — a flake at millisecond
    // granularity). These dirs are KNOWN garbage once unreferenced;
    // reclaim them regardless of mtime.
    val emptiedBatches = scala.collection.mutable.Set[String]()
    expired.foreach { v =>
      referenced(v).filterNot(keep).foreach { f =>
        Files.deleteIfExists(root(name).resolve(f)): Unit
        emptiedBatches += f.split('/').head
      }
      Files.deleteIfExists(manifestPath(name, v)): Unit
    }
    val referencedBatches = keep.map(_.split('/').head)
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanGraceMs)
    def rmTree(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val c = Files.list(p)
        try c.iterator().asScala.toSeq.foreach(rmTree) finally c.close()
      }
      Files.deleteIfExists(p): Unit
    }
    val s = Files.list(root(name))
    try s.iterator().asScala.toSeq
      .filter(d => Files.isDirectory(d) &&
        (d.getFileName.toString.startsWith("d-") ||
          d.getFileName.toString.startsWith("ed-")))
      .foreach { d =>
        val batch = d.getFileName.toString
        val isOrphan = !referencedBatches(batch) &&
          (emptiedBatches(batch) ||
            Files.getLastModifiedTime(d).toMillis < cutoff)
        if (isOrphan) rmTree(d)
        // referenced-but-emptied dirs: plain delete succeeds only when empty
        else try Files.delete(d) catch { case _: java.io.IOException => () }
      }
    finally s.close()
  }
}

object TxLogTable {
  /** One logical column of a table. `physical` is the IMMUTABLE name the
    * column carries inside data files (Delta's column-mapping idea): a
    * rename touches only the manifest, and a re-added name never collides
    * with a dropped column's stale bytes because added columns get
    * version-qualified physical names. `typeDdl` is the Catalyst
    * catalogString, used to type NULLs for files that predate the column. */
  final case class ColMap(physical: String, logical: String, typeDdl: String)

  /** One equality-delete (merge-on-read) tombstone file: `file` holds
    * `rows` deleted keys under the PHYSICAL key columns `keys`; it applies
    * only to the data files in `scope` (those live when the delete
    * committed), so later appends can re-insert a key visibly. */
  final case class EqDelete(file: String, keys: StructType, scope: Set[String], rows: Long) {
    def keyPhys: Seq[String] = keys.fieldNames.toSeq
  }

  /** One version of a table: the parsed `_log/v<N>.manifest`, one line
    * per entry, tab-separated (type strings hold ':' and ',', so '\t' is
    * the only safe delimiter). [[Manifest.parse]] is the one decoder and
    * [[lines]] the one encoder.
    *
    * @param files     live data files, relative to the table root (the
    *                  lines without a `#` header), in commit order
    * @param cols      the logical→physical column mapping, `#col
    *                  <physical> <logical> <type>`; every writer records it
    * @param statsCols physical columns with per-file stats, `#statscol`
    * @param stats     per-file stats of the stats columns, `#fstat <file>
    *                  <json>`: Delta `add.stats` JSON over PHYSICAL names,
    *                  typed as [[graft.sources.DataFiles.footerRanges]]
    *                  reads them (dates as ISO text, decimals as exact
    *                  numbers, timestamps as epoch micros). A file without
    *                  an entry is unprunable — the safe default; the older
    *                  per-column `#fstat <file> <col> <min> <max>` form
    *                  reads as no stats.
    * @param txns      appId → latest committed batchVersion, `#txn` (the
    *                  exactly-once markers of `appendOnce`, cf. Delta's
    *                  txnAppId/txnVersion)
    * @param edels     equality deletes (merge-on-read, Iceberg's equality
    *                  deletes / Delta's deletion vectors), `#edel <file>
    *                  <keys> <scope> <rows> <key DDL>`; each is scoped to
    *                  the data files live when it committed, so a later
    *                  append that re-inserts a deleted key is visible. An
    *                  older line without the key DDL takes the types from
    *                  the mapping.
    * @param bloomCols physical column → bloom filter size in bits,
    *                  `#bloomcol`
    * @param blooms    (file, physical column) → base64 bitset, `#fbloom`
    *                  (empty for a file whose column is all NULL)
    * @param checks    CHECK constraints (Delta `ADD CONSTRAINT`): name →
    *                  SQL predicate over LOGICAL names, `#check` */
  final case class Manifest(files: Seq[String], cols: Seq[ColMap],
                            statsCols: Seq[String] = Nil,
                            stats: Map[String, FileStats] = Map.empty,
                            txns: Map[String, Long] = Map.empty,
                            edels: Seq[EqDelete] = Nil,
                            bloomCols: Map[String, Int] = Map.empty,
                            blooms: Map[(String, String), String] = Map.empty,
                            checks: Map[String, String] = Map.empty) {
    import Manifest._

    /** The manifest's lines, in a fixed order. Stats and blooms are kept
      * for live files only, and each delete's scope narrows to the live
      * files: a delete whose scope was entirely rewritten or removed
      * carries nothing and drops. */
    def lines: Seq[String] = {
      val live = files.toSet
      def line(header: String, fields: Any*) = (header +: fields).mkString("\t")
      cols.map(c => line(Col, c.physical, c.logical, c.typeDdl)) ++
        statsCols.map(line(StatsCol, _)) ++
        stats.toSeq.filter(x => live(x._1)).sortBy(_._1)
          .map { case (f, st) => line(FStat, f, st.json) } ++
        txns.toSeq.sorted.map { case (a, bv) => line(Txn, a, bv) } ++
        edels.flatMap { e =>
          val scope = e.scope.intersect(live)
          if (scope.isEmpty) None
          else Some(line(EDel, e.file, e.keyPhys.mkString(","),
            scope.toSeq.sorted.mkString(","), e.rows, e.keys.toDDL))
        } ++
        files ++
        bloomCols.toSeq.sorted.map { case (c, n) => line(BloomCol, c, n) } ++
        blooms.toSeq.sortBy(_._1).collect { case ((f, c), b64) if live(f) => line(FBloom, f, c, b64) } ++
        checks.toSeq.sorted.map { case (n, sql) => line(Check, n, sql) }
    }
  }

  object Manifest {
    private val Col = "#col"
    private val StatsCol = "#statscol"
    private val FStat = "#fstat"
    private val Txn = "#txn"
    private val EDel = "#edel"
    private val Check = "#check"
    private val BloomCol = "#bloomcol"
    private val FBloom = "#fbloom"

    /** reads `#fstat` JSON with decimals as exact big-decimal nodes, the
      * encoding [[StatsSkip]] compares decimals on */
    private val statsMapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

    /** The one decoder, one pass over `lines`: empty lines and headers it
      * does not know are skipped. */
    def parse(lines: Seq[String]): Manifest = {
      val files, statsCols = Vector.newBuilder[String]
      val cols = Vector.newBuilder[ColMap]
      val stats = Map.newBuilder[String, FileStats]
      val txns = Map.newBuilder[String, Long]
      val edels = Vector.newBuilder[Array[String]]
      val bloomCols = Map.newBuilder[String, Int]
      val blooms = Map.newBuilder[(String, String), String]
      val checks = Map.newBuilder[String, String]
      lines.foreach { l =>
        val tab = l.indexOf('\t')
        if (l.isEmpty) ()
        else if (!l.startsWith("#")) files += l
        else if (tab > 0) {
          val p = l.substring(tab + 1).split("\t", -1)
          l.substring(0, tab) match {
            case Col => cols += ColMap(p(0), p(1), p(2))
            case StatsCol => statsCols += p(0)
            case FStat => p match {
              case Array(f, js) if js.startsWith("{") =>
                scala.util.Try(statsMapper.readTree(js)).toOption
                  .flatMap(FileStats.parse).foreach(st => stats += f -> st)
              case _ => // the older per-column string form: no stats
            }
            case Txn => txns += p(0) -> p(1).toLong
            case EDel => edels += p
            case Check => checks += p(0) -> p(1)
            case BloomCol => bloomCols += p(0) -> p(1).toInt
            case FBloom => blooms += (p(0), p(1)) -> p(2)
            case _ =>
          }
        }
      }
      val mapping = cols.result()
      lazy val typed = physicalSchema(mapping)
      Manifest(files.result(), mapping, statsCols.result(), stats.result(), txns.result(),
        edels.result().map { p =>
          val keys = p.lift(4).map(StructType.fromDDL)
            .getOrElse(StructType(p(1).split(',').toSeq.map(k => typed(k))))
          EqDelete(p(0), keys, p(2).split(',').toSet, p.lift(3).fold(0L)(_.toLong))
        },
        bloomCols.result(), blooms.result(), checks.result())
    }
  }

  /** The physical parquet schema a mapping implies. Sound because physical
    * types are immutable per live set: writeBatch casts to the mapping's
    * typeDdl, retype rewrites every live file atomically, and evolution
    * never retypes — so every live file either carries a column at exactly
    * this type or lacks it entirely (and the reader null-fills it). */
  private def physicalSchema(cols: Seq[ColMap]): StructType =
    StructType(cols.map(c =>
      StructField(c.physical, DataType.fromDDL(c.typeDdl), nullable = true)))

  /** `st` over the columns `to` names, renamed to `to`'s names; None when
    * no column is left */
  private def remap(st: FileStats, to: Map[String, String]): Option[FileStats] = {
    def re[V](m: Map[String, V]) = m.collect { case (c, x) if to.contains(c) => to(c) -> x }
    val r = st.copy(min = re(st.min), max = re(st.max), nullCount = re(st.nullCount))
    if (r.min.isEmpty && r.nullCount.isEmpty) None else Some(r)
  }
}
