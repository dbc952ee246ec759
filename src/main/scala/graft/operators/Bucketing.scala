package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed (pre-shuffled) tables for co-located joins.
  *
  * Writing both sides bucketed by the join key with the same bucket count
  * pins their physical layout to `HashPartitioning(key, n)`: the join
  * compiles to a sort-merge over the matching bucket files with NO
  * Exchange on either side (BucketingSpec asserts this on the plan). At
  * 100 TB this is the difference between re-shuffling the fact table per
  * query and shuffling it once at write time — the Spark-native analog of
  * the reference's manual rowkey-range sharding (`Cluster.java:66-75`).
  */
object Bucketing {

  /** Persist `df` bucketed by `key` into `n` buckets as a catalog table
    * (bucketing metadata lives in the catalog, so the path API can't
    * express it — V1 in-memory catalog suffices, no Hive needed).
    * With `path` set the table is EXTERNAL: the bucket files outlive the
    * session and can be re-attached in a fresh one via DDL over the same
    * location (see [[PersistedIndex.register]]). */
  def writeBucketed(df: DataFrame, table: String, key: String, n: Int,
      sortKey: Option[String] = None, path: Option[String] = None): Unit = {
    val w0 = df.write.mode(SaveMode.Overwrite).bucketBy(n, key)
    val w1 = sortKey.fold(w0)(s => w0.sortBy(s))
    path.fold(w1)(p => w1.option("path", p)).saveAsTable(table)
  }

  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  // ---- versioned external locations ---------------------------------------
  //
  // The rewrite cycle (compaction, tombstone delete) must not leave a
  // window where a concurrent reader sees a PARTIAL index. A
  // delete-live-then-rename swap under the stable path has exactly that
  // window: a reader that listed files before the delete hits
  // FileNotFound mid-scan, and one that lists between delete and rename
  // sees an empty table that looks legitimately empty. The commit is
  // therefore VERSIONED, the one-table essence of a Delta/Iceberg commit:
  //
  //   - version 0 lives at `location/sub`; version N ≥ 1 at
  //     `location/sub__vN`;
  //   - [[commit]] writes the full new version to its name + `.tmp`,
  //     then COMMITS with one atomic rename; `.tmp` dirs are invisible to
  //     resolution, so no reader can bind to a partial dir;
  //   - readers resolve [[currentDir]] = the highest committed version —
  //     mid-rewrite they see the old COMPLETE version, after commit the
  //     new COMPLETE version, never parts of either;
  //   - the PREVIOUS version is retained for one full rewrite cycle
  //     (cleanup keeps the top two, retires older), so a reader that
  //     resolved just before a commit can finish its whole scan against
  //     dirs that still exist. The contract is stale-but-consistent: a
  //     reader (or another session's re-attached DDL) binds one version
  //     and keeps it until it re-resolves; breaking it requires TWO full
  //     rewrite cycles to complete inside one scan.
  //
  // Two clients share it: the persisted indexes (rebuild and rewrite
  // here; a FIRST index build still writes `location/sub` in place) and
  // the HLL register store ([[QualityChecks.hllStoreBuild]] and
  // [[QualityChecks.hllStoreCompact]]), every version of which commits.
  //
  // Crash safety: a crash before the rename leaves only a `.tmp` dir
  // (deleted by the next commit's preamble and never resolvable); a
  // crash after the rename but before cleanup leaves an extra old
  // version, removed by the next cleanup's keep-top-2 sweep.

  /** The Hadoop `FileSystem` serving `path` (plain path or any URI). */
  private[graft] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def versionOf(sub: String, dirName: String): Option[Long] =
    if (dirName == sub) Some(0L)
    else if (dirName.startsWith(sub + "__v") && !dirName.endsWith(".tmp"))
      scala.util.Try(dirName.stripPrefix(sub + "__v").toLong).toOption
    else None

  /** Every committed version of `sub` under `location`, oldest first. */
  private[graft] def versions(spark: SparkSession, location: String,
      sub: String): Seq[(Long, Path)] = {
    val fs = fileSystem(spark, location)
    val root = new Path(location)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(st => versionOf(sub, st.getPath.getName).map(_ -> st.getPath))
      .sortBy(_._1)
  }

  /** The directory a reader should bind for `sub` under `location`: the
    * highest COMMITTED version (in-flight `.tmp` writes are invisible).
    * Falls back to the plain v0 path when nothing exists yet (a
    * CREATE-before-write registration). */
  def currentDir(spark: SparkSession, location: String, sub: String): String =
    versions(spark, location, sub).lastOption.fold(s"$location/$sub")(_._2.toString)

  /** Whether `location` holds any committed version of `sub` (v0 or a
    * later `sub__vN`; in-flight `.tmp` writes do not count). */
  def hasCommitted(spark: SparkSession, location: String, sub: String): Boolean =
    versions(spark, location, sub).nonEmpty

  /** The highest committed version of `sub` under `location`; fails
    * loudly when there is none (no v0 fallback, so a writer can never lay
    * down an uncommitted version). */
  private[graft] def committedDir(spark: SparkSession, location: String,
      sub: String): String =
    versions(spark, location, sub).lastOption.map(_._2.toString).getOrElse(
      throw new IllegalStateException(s"no committed version of $sub under $location"))

  /** The one commit of a versioned location: `write` lays the full next
    * version into its `.tmp` directory (a crashed attempt's leftover is
    * deleted first), and one rename commits it. Then every version older
    * than the previous one is deleted once `retire(it, committed)` allows
    * it. Returns the committed directory. */
  private[graft] def commit(spark: SparkSession, location: String, sub: String,
      retire: (Path, Path) => Boolean = (_, _) => true)(write: String => Unit): Path = {
    val fs = fileSystem(spark, location)
    val n = versions(spark, location, sub).lastOption.fold(0L)(_._1 + 1)
    val next = new Path(location, if (n == 0) sub else s"${sub}__v$n")
    val tmp = next.suffix(".tmp")
    fs.delete(tmp, true)
    write(tmp.toString)
    require(fs.rename(tmp, next), s"commit rename $tmp -> $next failed")
    // grace: keep the version readers may still be scanning; retire older
    versions(spark, location, sub).dropRight(2).foreach { case (_, old) =>
      if (retire(old, next)) fs.delete(old, true)
    }
    next
  }

  /** Drop a FIXED-NAME catalog entry whose bound location no longer
    * matches `expected`, so the register functions' CREATE TABLE IF NOT
    * EXISTS cannot silently keep an earlier verb's registration of the
    * same name at a DIFFERENT index directory — status/ingest would read
    * the wrong index without any error (round-12 ADVICE; the CLI's
    * graft_idx/graft_cidx/graft_eidx names are session-fixed by design).
    * Also rebinds a SAME-location entry pinned to a superseded version
    * dir (a compaction committed since the first registration). External
    * tables only: the drop removes metadata, never files. Comparison is
    * on filesystem-qualified URIs, so `/x/y` and `file:/x/y` match. */
  private[graft] def dropIfRelocated(spark: SparkSession, table: String,
      expected: String): Unit =
    if (spark.catalog.tableExists(table)) {
      def qualified(p: String): String =
        fileSystem(spark, p).makeQualified(new Path(p)).toUri.toString
      val bound = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.toString
      if (qualified(bound) != qualified(expected)) {
        System.err.println(s"[graft] $table was bound to $bound — rebinding to $expected")
        dropExternal(spark, table)
      }
    }

  /** The complement of [[dropIfRelocated]] for OPTIONAL index tiers
    * (census / coarse-quantizer tables): when a fixed name is
    * re-registered at a location that LACKS the tier's subdir, the
    * registration's `if (fs.exists(...))` branch never runs — so without
    * this drop, the PREVIOUS location's census stays bound under the new
    * index's name, drift stats read the wrong index's census, and
    * `tableExists(ivfcoarse)` routes a flat index through another
    * index's coarse quantizer (round-13 ADVICE — the same
    * silent-wrong-index class dropIfRelocated closes for the mandatory
    * tiers). Call it from the registration's else branch. */
  private[graft] def dropIfOrphaned(spark: SparkSession, table: String): Unit =
    if (spark.catalog.tableExists(table)) {
      System.err.println(s"[graft] $table: the re-registered location has no " +
        "backing dir for this tier — dropping the stale binding")
      dropExternal(spark, table)
    }

  /** All fixed-name drops go through here: the drop is metadata-only for
    * EXTERNAL tables, but on a MANAGED table it would DELETE THE DATA
    * FILES (round-13 ADVICE) — e.g. a census written via saveAsTable
    * without a path. A managed table holding a graft fixed name is a
    * misconfiguration either way; fail loudly instead of dropping. */
  private def dropExternal(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    if (meta.tableType != org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
      throw new IllegalStateException(
        s"refusing to drop $table: it is ${meta.tableType.name}, not EXTERNAL — " +
          "dropping would delete its data files. Rename or drop it manually " +
          "before registering a graft index under this name.")
    spark.sql(s"DROP TABLE $table")
  }

  /** [[writeBucketed]] to an EXTERNAL versioned location: a first build
    * lands at the plain `location/sub` (v0); a REBUILD over existing
    * versions commits a fresh version atomically and re-points the
    * catalog table, so concurrent readers of the old build are never
    * disturbed (keep-top-2 cleanup applies). */
  def writeBucketedExternal(df: DataFrame, table: String, key: String,
      n: Int, sortKey: Option[String], location: String, sub: String): Unit = {
    val spark = df.sparkSession
    if (!hasCommitted(spark, location, sub))
      writeBucketed(df, table, key, n, sortKey, Some(s"$location/$sub"))
    else {
      val next = commit(spark, location, sub)(tmp =>
        writeBucketed(df, table, key, n, sortKey, Some(tmp)))
      spark.sql(s"ALTER TABLE $table SET LOCATION '$next'")
    }
  }

  /** Compaction/rewrite cycle for ONE table of an EXTERNAL bucketed
    * index: read the live FILES, apply `transform`, force the bucket
    * shuffle, write to the next version's `.tmp` directory, commit it
    * with an atomic rename (see the versioned-location contract above).
    * The read is `spark.read.parquet`, never the catalog table — a
    * catalog read carries the bucket metadata, so the planner elides the
    * repartition as already satisfied while the standalone scan's tasks
    * are file-split, not bucket-aligned, and the rewrite would land
    * task-split files again. A plain parquet read forces the shuffle,
    * whose target partition (pmod(murmur3(key), n)) IS the writer's
    * bucket id. The files are read with the schema of `table`'s catalog
    * entry when it is registered: a schema-less parquet read launches a
    * schema-inference job per rewrite. Dropping EXTERNAL tables removes
    * metadata only, never files; the caller re-registers its DDL
    * afterwards (the re-register resolves [[currentDir]], binding the new
    * version). */
  def rewriteExternal(spark: SparkSession, table: String, key: String,
      location: String, sub: String, buckets: Int,
      transform: DataFrame => DataFrame = identity): Unit = {
    import org.apache.spark.sql.functions.col
    val curDir = committedDir(spark, location, sub)
    val reader =
      if (spark.catalog.tableExists(table)) spark.read.schema(spark.table(table).schema)
      else spark.read
    commit(spark, location, sub) { tmp =>
      writeBucketed(
        transform(reader.parquet(curDir)).repartition(buckets, col(key)),
        s"${table}__compact", key, buckets, sortKey = Some(key), path = Some(tmp))
      spark.sql(s"DROP TABLE IF EXISTS ${table}__compact")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}
