package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The one lifecycle every persisted index shares — the text band index
  * ([[Dedup.writeBandIndex]]), the embedding sign-band index
  * ([[Similarity.writeEmbIndex]]) and the IVF cell index
  * ([[Similarity.writeCellIndex]]):
  *
  *   - write: each bucketed subtable shuffled by its bucket key (at
  *     most ⌈cores / buckets⌉ files per bucket) through [[Bucketing]]
  *     (versioned when external), then the build-time census read back
  *     from the just-written primary subtable (no second hashing pass);
  *   - register: DDL over the highest committed version of each
  *     subtable; each optional small tier re-attaches if its directory
  *     exists and is dropped from the catalog otherwise;
  *   - append: per subtable, one shuffle by bucket key to the catalog's
  *     bucket count, then `insertInto` (one file per bucket);
  *   - rewrite (compaction, tombstone delete): [[Bucketing.rewriteExternal]]
  *     per subtable, then register;
  *   - drift: live census partitions against the build census, counted
  *     in one aggregation ([[IndexDrift]]), and the rebuild verdict.
  *
  * A [[Kind]] supplies only what differs: its subtables, its small
  * tiers, its census key and its id column. The per-kind public
  * functions keep their row builders and argument checks and call this.
  */
object PersistedIndex {

  /** One bucketed subtable. Its catalog table is `<name>_<sub>` and its
    * files live under `<location>/<sub>` (versioned: `<sub>__vN`); it is
    * bucketed and sorted by `key`. */
  final case class Subtable(sub: String, columns: Seq[(String, String)], key: String)

  /** One small unbucketed tier (census, quantizer): catalog table
    * `<name>_<sub>` over the unversioned directory `<location>/<sub>`. */
  final case class Tier(sub: String, columns: Seq[(String, String)])

  /** An index kind. `subtables.head` is the primary: the census counts
    * it, and [[kindsAt]] detects the kind by its committed versions.
    * `census` is keyed by its first column, computed as `censusKey` over
    * the primary's rows; `tiers` are every optional small tier, census
    * included. `form` labels status output, `priceTier` names the drift
    * price table ([[IndexDrift.price]]), `writer` the build function a
    * pre-census index is steered to. */
  final case class Kind(form: String, priceTier: String, writer: String,
      subtables: Seq[Subtable], census: Tier, censusKey: Column, tiers: Seq[Tier],
      idCol: String) {
    def primary: Subtable = subtables.head
    def censusPart: String = census.columns.head._1
  }

  private def census(sub: String, part: String, partType: String) =
    Tier(sub, Seq(part -> partType, "n_build" -> "BIGINT"))

  val Band: Kind = {
    val c = census("bandcensus", "cb", "BIGINT")
    Kind("band", "band", "writeBandIndex",
      Seq(Subtable("bands", Seq("doc_id" -> "BIGINT", "band" -> "INT", "s" -> "BIGINT",
          "mn" -> "BIGINT", "mx" -> "BIGINT", "bkey" -> "BIGINT"), "bkey"),
        Subtable("sets", Seq("doc_id" -> "BIGINT", "set" -> "ARRAY<BIGINT>"), "doc_id")),
      c, IndexDrift.censusBucket(col("bkey")), Seq(c), "doc_id")
  }

  val EmbBand: Kind = {
    val c = census("embcensus", "cb", "BIGINT")
    Kind("emb-band", "emb", "writeEmbIndex",
      Seq(Subtable("embbands", Seq("vec_id" -> "BIGINT", "b" -> "INT", "v" -> "BIGINT",
          "bkey" -> "BIGINT"), "bkey"),
        Subtable("embvecs", Seq("vec_id" -> "BIGINT", "embedding" -> "ARRAY<FLOAT>",
          "norm" -> "DOUBLE"), "vec_id")),
      c, IndexDrift.censusBucket(col("bkey")), Seq(c), "vec_id")
  }

  /** The cell census is keyed by the learned cell itself; the quantizer
    * (`ivfcentroids`) and the two-level coarse store (`ivfcoarse`) are
    * small tiers — a flat build retires a coarse store left by an
    * earlier two-level build (see [[write]]). */
  val CellCentroids: Tier = Tier("ivfcentroids", Seq("cell" -> "INT", "c" -> "ARRAY<DOUBLE>"))
  val CellCoarse: Tier = Tier("ivfcoarse", Seq("g" -> "INT", "c" -> "ARRAY<DOUBLE>",
    "members" -> "ARRAY<INT>"))
  val Cell: Kind = {
    val c = census("ivfcensus", "cell", "INT")
    Kind("cell", "cell", "writeCellIndex",
      Seq(Subtable("ivfcells", Seq("vec_id" -> "BIGINT", "cell" -> "INT",
        "embedding" -> "ARRAY<FLOAT>", "norm" -> "DOUBLE"), "cell")),
      c, col("cell"), Seq(c, CellCentroids, CellCoarse), "vec_id")
  }

  val Kinds: Seq[Kind] = Seq(Band, Cell, EmbBand)

  private def table(name: String, sub: String): String = s"${name}_$sub"

  private def ddl(columns: Seq[(String, String)]): String =
    columns.map { case (c, t) => s"$c $t" }.mkString(", ")

  /** Every kind with a committed version of its primary subtable at
    * `location` — any version, so detection survives the keep-top-2
    * cleanup that retires the v0 directory after two rewrites. */
  def kindsAt(spark: SparkSession, location: String): Seq[Kind] =
    Kinds.filter(k => Bucketing.hasCommitted(spark, location, k.primary.sub))

  /** Write a fresh index: `rows` holds one frame per subtable (in
    * `subtables` order), `small` the small tiers this build stores
    * besides the census. An optional tier the build does not store is
    * retired — catalog entry and files — so a later registration cannot
    * resurrect a previous build's tier (a flat rebuild over a two-level
    * cell index must not keep routing arrivals through the old coarse
    * quantizer). */
  def write(kind: Kind, name: String, buckets: Int, location: Option[String],
      rows: Seq[DataFrame], small: Seq[(Tier, DataFrame)] = Nil): Unit = {
    val spark = rows.head.sparkSession
    // one shuffle by bucket key into a multiple of the bucket count: a
    // task's rows share one bucket (pmod(h, k·b) mod b = pmod(h, b)), so
    // the build writes ⌈cores / buckets⌉ files per bucket at most, and
    // fewer buckets than cores still write on every core
    val parts = buckets * math.max(1,
      (spark.sparkContext.defaultParallelism + buckets - 1) / buckets)
    kind.subtables.zip(rows).foreach { case (t, subRows) =>
      val df = subRows.repartition(parts, col(t.key))
      location match {
        case Some(l) => Bucketing.writeBucketedExternal(df, table(name, t.sub), t.key,
          buckets, sortKey = Some(t.key), location = l, sub = t.sub)
        case None => Bucketing.writeBucketed(df, table(name, t.sub), t.key, buckets,
          sortKey = Some(t.key))
      }
    }
    small.foreach { case (tier, df) => saveTier(df, name, tier, location) }
    kind.tiers.filterNot(t => t == kind.census || small.exists(_._1 == t)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${table(name, t.sub)}")
      location.foreach { l =>
        Bucketing.fileSystem(spark, l).delete(new Path(s"$l/${t.sub}"), true)
      }
    }
    saveTier(spark.table(table(name, kind.primary.sub))
        .groupBy(kind.censusKey.as(kind.censusPart)).agg(count(lit(1)).as("n_build")),
      name, kind.census, location)
  }

  private def saveTier(df: DataFrame, name: String, tier: Tier,
      location: Option[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    location.fold(w)(l => w.option("path", s"$l/${tier.sub}")).saveAsTable(table(name, tier.sub))
  }

  /** Re-attach an external index: DDL over the highest COMMITTED version
    * of each subtable (stale-but-consistent across concurrent rewrites —
    * see Bucketing's versioned-location contract). A fixed name bound
    * elsewhere, or to a superseded version, is dropped first, never
    * silently kept; an optional tier whose directory is missing drops
    * any binding a previous registration of the name left behind. */
  def register(spark: SparkSession, kind: Kind, name: String, location: String,
      buckets: Int): Unit = {
    kind.subtables.foreach { t =>
      val dir = Bucketing.currentDir(spark, location, t.sub)
      Bucketing.dropIfRelocated(spark, table(name, t.sub), dir)
      spark.sql(s"""CREATE TABLE IF NOT EXISTS ${table(name, t.sub)} (${ddl(t.columns)})
        |USING parquet CLUSTERED BY (${t.key}) SORTED BY (${t.key}) INTO $buckets BUCKETS
        |LOCATION '$dir'""".stripMargin)
    }
    kind.tiers.foreach { t =>
      val dir = s"$location/${t.sub}"
      if (Bucketing.fileSystem(spark, dir).exists(new Path(dir))) {
        Bucketing.dropIfRelocated(spark, table(name, t.sub), dir)
        spark.sql(s"""CREATE TABLE IF NOT EXISTS ${table(name, t.sub)} (${ddl(t.columns)})
          |USING parquet LOCATION '$dir'""".stripMargin)
      } else Bucketing.dropIfOrphaned(spark, table(name, t.sub))
    }
  }

  /** Fold rows into the registered index (one frame per subtable).
    * Each frame shuffles by its bucket key to the catalog's bucket count —
    * the same `pmod(murmur3(key), n)` the bucket writer uses, so each task
    * holds one bucket and writes one file (as [[Bucketing.rewriteExternal]]
    * does). Without it every input partition writes a file per bucket it
    * touches. `insertInto` resolves the catalog bucket spec, so appended
    * files land in the same layout and probes keep merging in place; it
    * matches columns by position, hence the select in table order. */
  def append(kind: Kind, name: String, rows: Seq[DataFrame]): Unit =
    kind.subtables.zip(rows).foreach { case (t, df) =>
      val tbl = table(name, t.sub)
      val buckets = df.sparkSession.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .bucketSpec.map(_.numBuckets)
        .getOrElse(throw new IllegalStateException(s"$tbl is not a bucketed index table"))
      df.select(t.columns.map(c => col(c._1)): _*).repartition(buckets, col(t.key))
        .write.insertInto(tbl)
    }

  /** Rewrite every subtable through `transform` (see
    * [[Bucketing.rewriteExternal]]: file read, bucket shuffle, versioned
    * commit), then re-register. The census is the build reference and
    * is not rewritten. External-location indexes only. */
  def rewrite(spark: SparkSession, kind: Kind, name: String, location: String,
      buckets: Int, transform: DataFrame => DataFrame): Unit = {
    kind.subtables.foreach { t =>
      Bucketing.rewriteExternal(spark, table(name, t.sub), t.key, location, t.sub,
        buckets, transform)
    }
    register(spark, kind, name, location, buckets)
  }

  /** Compact to one file per bucket (each append adds one). */
  def compact(spark: SparkSession, kind: Kind, name: String, location: String,
      buckets: Int): Unit =
    rewrite(spark, kind, name, location, buckets, identity)

  /** Tombstone delete: a filtered rewrite that drops every row of the
    * ids in `tombstones`' [[Kind.idCol]] and doubles as compaction.
    * `tombstones` must not derive from the index tables themselves (it
    * is re-evaluated while subtables are mid-rewrite). */
  def delete(spark: SparkSession, kind: Kind, tombstones: DataFrame, name: String,
      location: String, buckets: Int): Unit = {
    val ids = tombstones.select(kind.idCol)
    rewrite(spark, kind, name, location, buckets, _.join(ids, Seq(kind.idCol), "left_anti"))
  }

  def hasCensus(spark: SparkSession, kind: Kind, name: String): Boolean =
    spark.catalog.tableExists(table(name, kind.census.sub))

  /** Per-partition drift report: live census partitions of the primary
    * subtable (build + every append) against the build census. Output
    * (censusPart, n_build, n_live, build_share, live_share, growth). */
  def driftReport(spark: SparkSession, kind: Kind, name: String): DataFrame = {
    require(hasCensus(spark, kind, name),
      s"$name has no build-time ${kind.form} census — the index predates drift " +
        s"detection; rebuild with ${kind.writer} to enable it")
    val live = spark.table(table(name, kind.primary.sub))
      .select(kind.censusKey.as(kind.censusPart), lit(1L).as("n_live"))
    IndexDrift.report(live, spark.table(table(name, kind.census.sub)), kind.censusPart)
  }

  /** [[driftReport]]'s scalars — the arrival verbs' preflight: one scan
    * of the primary's key column in one aggregation, collected; the
    * arithmetic runs on the driver over the local report. */
  def driftStats(spark: SparkSession, kind: Kind, name: String): IndexDrift.Stats =
    IndexDrift.Stats.tupled(IndexDrift.stats(driftReport(spark, kind, name)))

  def stale(spark: SparkSession, kind: Kind, name: String, tvdThreshold: Double,
      maxGrowthThreshold: Double): Boolean =
    driftStats(spark, kind, name).stale(tvdThreshold, maxGrowthThreshold)
}
