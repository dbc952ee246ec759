package graft

import graft.operators.{Dedup, PersistedIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared persisted-index lifecycle, once over every index kind
  * (text band, embedding sign-band, flat and two-level IVF cell): write
  * at a location, append, compact twice (which retires the v0
  * directories), re-register in a fresh catalog — then the probe answers
  * exactly as before compaction, the drift stats are unchanged, the kind
  * is still detected at the location, and a tombstone delete removes
  * exactly the given ids from every subtable. */
class PersistedIndexSpec extends SparkSpec {

  import PersistedIndexSpec.Case
  import spark.implicits._

  private val Buckets = 4

  // ≥3 tokens each so every doc has shingles; the corpus text itself,
  // re-sent under new ids, pairs with its original and its appended
  // first-token-dropped near-copy
  private def docs = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
    (20L, "one two three four five six seven eight nine", "web"),
    (30L, "red orange yellow green blue indigo violet ultra", "book"),
    (99L, "completely unrelated content lives over here now", "book")
  ).toDF("doc_id", "text", "source")

  private def nearCopies = docs.filter(col("doc_id") =!= 99L)
    .select((col("doc_id") + 1000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"), col("source"))

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** The first `n` vectors (by id) under ids shifted by `by`. */
  private def copies(n: Int, by: Long) = emb.orderBy(col("vec_id")).limit(n)
    .select((col("vec_id") + by).as("vec_id"), col("embedding"))

  private def firstIds(n: Int): Seq[Long] =
    emb.orderBy(col("vec_id")).limit(n).collect().map(_.getLong(0)).toSeq

  private def cellCase(label: String, twoLevel: Boolean) = Case(label, PersistedIndex.Cell,
    (name, loc) => Similarity.writeCellIndex(emb, name, buckets = Buckets,
      location = Some(loc), twoLevel = twoLevel),
    name => Similarity.appendToCellIndex(spark, copies(16, 1000000L), name),
    name => pairs(Similarity.incrementalIvfNearDupsIndexed(spark, copies(8, 2000000L), name)),
    () => { val ids = firstIds(2); Seq(ids(0), ids(1) + 1000000L) })

  private val cases = Seq(
    Case("band", PersistedIndex.Band,
      (name, loc) => Dedup.writeBandIndex(docs, name, buckets = Buckets, location = Some(loc)),
      name => Dedup.appendToBandIndex(spark, nearCopies, name),
      name => pairs(Dedup.incrementalNearDupPairsIndexed(spark,
        docs.select((col("doc_id") + 5000L).as("doc_id"), col("text"), col("source")), name)),
      () => Seq(20L, 1030L)),
    Case("emb-band", PersistedIndex.EmbBand,
      (name, loc) => Similarity.writeEmbIndex(emb, name, buckets = Buckets, location = Some(loc)),
      name => Similarity.appendToEmbIndex(spark, copies(16, 1000000L), name),
      name => pairs(Similarity.incrementalEmbNearDupsIndexed(spark, copies(8, 2000000L), name)),
      () => { val ids = firstIds(2); Seq(ids(0), ids(1) + 1000000L) }),
    cellCase("cell (flat)", twoLevel = false),
    cellCase("cell (two-level)", twoLevel = true))

  private def tables(kind: PersistedIndex.Kind, name: String): Seq[String] =
    (kind.subtables.map(_.sub) ++ kind.tiers.map(_.sub)).map(s => s"${name}_$s")

  cases.foreach { c =>
    test(s"${c.label} index: append, compact x2, fresh-catalog register keep probe, " +
        "drift and detection; a tombstone delete removes exactly its ids") {
      val name = "plidx"
      val all = tables(c.kind, name)
      all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val loc = java.nio.file.Files.createTempDirectory("graft-lifecycle").toString
      def ids(sub: String): Set[Long] =
        spark.table(s"${name}_$sub").select(c.kind.idCol).distinct()
          .as[Long].collect().toSet
      try {
        c.build(name, loc)
        c.append(name)
        val before = c.probe(name)
        assert(before.nonEmpty, "the probe must pair with the corpus and the appended rows")
        val drift = PersistedIndex.driftStats(spark, c.kind, name)

        PersistedIndex.compact(spark, c.kind, name, loc, Buckets)
        PersistedIndex.compact(spark, c.kind, name, loc, Buckets)
        c.kind.subtables.foreach { t =>
          assert(!new java.io.File(s"$loc/${t.sub}").exists,
            s"two rewrites retire ${t.sub}'s v0 directory (keep-top-2)")
        }
        // a fresh catalog: metadata gone, files remain
        all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
        assert(PersistedIndex.kindsAt(spark, loc) === Seq(c.kind),
          "detection must find the kind by its committed versions")
        PersistedIndex.register(spark, c.kind, name, loc, Buckets)
        assert(c.probe(name) === before, "compaction + re-attach changed the probe output")
        val after = PersistedIndex.driftStats(spark, c.kind, name)
        // counts are exact; the shares' double sums may only differ in
        // summation order
        assert(after.nBuild === drift.nBuild && after.nLive === drift.nLive, s"$drift -> $after")
        assert(math.abs(after.tvd - drift.tvd) < 1e-12 &&
          math.abs(after.maxGrowth - drift.maxGrowth) < 1e-12, s"$drift -> $after")

        val tomb = c.tombstones().toSet
        val idsBefore = c.kind.subtables.map(t => t.sub -> ids(t.sub)).toMap
        assert(idsBefore.values.forall(s => tomb.subsetOf(s)), "tombstones must be indexed")
        PersistedIndex.delete(spark, c.kind, tomb.toSeq.toDF(c.kind.idCol), name, loc, Buckets)
        c.kind.subtables.foreach { t =>
          assert(ids(t.sub) === idsBefore(t.sub) -- tomb,
            s"${t.sub}: the delete must remove exactly $tomb")
        }
        assert(c.probe(name) === before.filterNot(p => tomb(p._2)),
          "the delete must remove exactly the deleted ids' pairs")
        assert(PersistedIndex.kindsAt(spark, loc) === Seq(c.kind))
      } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}

object PersistedIndexSpec {

  /** One kind as the lifecycle sees it: build, append and probe go
    * through the kind's own public functions; compaction, registration,
    * drift, detection and deletion through [[PersistedIndex]]. `probe`
    * returns (new_id, old_id) pairs; `tombstones` are ids to delete. */
  final case class Case(label: String, kind: PersistedIndex.Kind,
      build: (String, String) => Unit, append: String => Unit,
      probe: String => Set[(Long, Long)], tombstones: () => Seq[Long])
}
