package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Determinism: dot products are LEFT FOLDS in element order over
  * double-cast elements (`zip_with` + `aggregate`), which both Spark and
  * the DuckDB oracle (`list_zip` + `list_reduce`) evaluate in the same
  * IEEE operation sequence — so cosine scores are bit-identical across
  * engines. Float→double casts and float×float-in-double products are
  * exact; only the running additions round, identically on both sides.
  *
  * Scale: brute force is the correctness baseline (still distributed — a
  * broadcast of the query set against a partitioned corpus). The IVF path
  * restricts each query to its coarse cell (here the `label` column), the
  * standard way top-k survives 100 TB: the join key becomes the cell id,
  * candidates drop by the bucket factor, and the per-partition top-k
  * (`row_number` window) never materializes the full score matrix.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double.
    * Backed by the codegen'd native expression
    * ([[graft.functions.FloatVectorDot]]); same left-to-right IEEE fold as
    * `aggregate(zip_with(...))` and the DuckDB `list_reduce` oracle, ~50×
    * faster (fused loop inside whole-stage codegen vs interpreted
    * HigherOrderFunction chain). */
  def fdot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.fdot(a, b)

  def fnorm(a: Column): Column = sqrt(fdot(a, a))

  def cosine(a: Column, b: Column): Column =
    fdot(a, b) / (fnorm(a) * fnorm(b))

  /** SQL renderers — operation-order lockstep with the Column forms. */
  def fdotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
  def fnormSql(a: String): String = s"sqrt(${fdotSql(a, a)})"
  def cosineSql(a: String, b: String): String =
    s"(${fdotSql(a, b)} / (${fnormSql(a)} * ${fnormSql(b)}))"

  /** (vec_id, norm) — vector plumbing sanity. */
  def norms(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), fnorm(col("embedding")).as("norm"))

  /** Norms are precomputed ONCE per vector before any pair join (an O(n)
    * projection instead of O(pairs) re-folds); cos = dot/(norm_a·norm_b)
    * is the same IEEE op sequence either way, so oracle values are
    * unchanged. */
  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("norm", fnorm(col("embedding")))

  /** Brute-force cosine top-k: every query (a small broadcast side)
    * against the whole corpus; per-query top-k via a rank window with a
    * (cosine desc, vec_id) deterministic tie-break. Self-matches excluded. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(withNorm(queries).select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("norm").as("q_norm")))
    val scored = withNorm(corpus).join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (fdot(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-style top-k with nprobe=1: candidates restricted to the query's
    * coarse cell (`label`). The join key is the cell id — the scale path. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(withNorm(queries).select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("label").as("q_label"), col("norm").as("q_norm")))
    val scored = withNorm(corpus).join(q,
        col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (fdot(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Squared L2 distance between a float-array column and a LITERAL
    * double-array centroid, as one left fold in element order —
    * Σ (xᵢ − cᵢ)² accumulated left-to-right, so Spark and the DuckDB
    * oracle (`list_reduce` over `list_zip`) round identically. */
  private def d2ToCentroid(x: Column, centroid: Seq[Double]): Column = {
    val c = array(centroid.map(lit): _*)
    aggregate(zip_with(x, c, (a, b) => {
      val d = a.cast("double") - b
      d * d
    }), lit(0.0), (acc, v) => acc + v)
  }

  /** SQL twin of [[d2ToCentroid]] — same zip, same fold order. The SQL
    * fold seeds from the first element where the Column form seeds from
    * 0.0; identical IEEE results because 0.0 + v == v for the
    * non-negative squared terms. */
  private[graft] def d2Sql(x: String, c: String): String =
    s"list_reduce(list_transform(list_zip($x, $c), p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])), (a, v) -> a + v)"

  /** Coarse quantizer LEARNED from the corpus — k-MEDIANS Lloyd rounds
    * (assign to nearest cell, recenter on the per-dimension MEDIAN of
    * members), not k-means: the median is a selection plus at most one
    * two-value average, so the learned centroids are bit-identical
    * across engines, where a distributed mean of doubles rounds
    * differently per partition order and could never be oracle-gated.
    * Init = the first `kCells` vectors in vec_id order; `iters` fixed
    * rounds, no convergence test — a deterministic, replayable recipe
    * (the unrolled SQL oracle mirrors it round for round).
    *
    * Driver loop like KMeans.run: each round is ONE distributed job
    * (assign + per-(cell,dim) median) whose kCells×dim result collects
    * to the driver and re-enters round r+1 as literals — the classic
    * broadcast-back k-means shape; centroid count is tiny by design.
    * Returns the learned centroids in cell order. */
  def learnCells(corpus: DataFrame, kCells: Int, iters: Int): Seq[Seq[Double]] = {
    val spark = corpus.sparkSession
    val init = corpus.orderBy(col("vec_id")).limit(kCells).collect()
    // Loud, not silent: a training set smaller than kCells would learn
    // fewer cells than requested and blow cell populations past
    // CellTargetPop downstream with no signal (the huge-corpus regime
    // this quantizer exists for). Free to check — init collects anyway.
    require(init.length == kCells,
      s"learnCells: training corpus has only ${init.length} vectors for kCells=$kCells — " +
        "sample cap too small relative to the requested cell count")
    var centroids: Seq[Seq[Double]] =
      init.map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toSeq).toSeq
    for (_ <- 1 to iters) {
      val assigned = assignCells(corpus, centroids)
      // median spelled out (sort, pick, explicit two-middle average)
      // rather than the median() aggregate, so the arithmetic is the
      // exact op sequence the oracle SQL writes — no dependence on
      // either engine's percentile interpolation convention
      val xs = array_sort(collect_list(col("x").cast("double")))
      val med = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(xs.as("xs"))
        .select(col("cell"), col("i"),
          when(size(col("xs")) % 2 === 1,
            element_at(col("xs"), ((size(col("xs")) + 1) / 2).cast("int")))
          .otherwise((element_at(col("xs"), (size(col("xs")) / 2).cast("int"))
            + element_at(col("xs"), (size(col("xs")) / 2).cast("int") + 1)) / 2.0).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      centroids = centroids.zipWithIndex.map { case (old, cell) =>
        // a cell that lost every member keeps its previous centroid
        old.indices.map(i => med.getOrElse((cell, i), old(i)))
      }
    }
    centroids
  }

  /** (corpus columns…, cell) — nearest learned cell per vector, ties to
    * the lower cell id. One codegen'd argmin loop over the constant
    * centroid matrix (`graftnative.NearestCell`); arithmetic and
    * tie-break are bit-identical to the previous k-fold `array_min`
    * form ([[d2ToCentroid]] per cell — the oracles replay that form and
    * still hash-match), but generated-code size is constant in k, so
    * routing works at the hundreds-of-cells sizes that keep IVF cell
    * populations bounded on big corpora — the previous form emitted k
    * interpreted HigherOrderFunction folds per row and stopped being
    * viable past k ≈ tens. */
  private[graft] def assignCells(vecs: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    vecs.withColumn("cell",
      org.apache.spark.sql.graftnative.VectorExpressions.nearestCell(
        col("embedding"), centroids))

  /** IVF top-k over a LEARNED coarse quantizer — [[ivfTopK]] with the
    * stand-in `label` cells replaced by [[learnCells]] k-medians cells,
    * plus multi-cell probing: each query scores against the members of
    * its `nprobe` nearest cells (explode on the tiny probe list, then an
    * equi-join on the cell id — the corpus is never cross-joined).
    * Candidates per query are plan-bounded by nprobe/kCells of the
    * corpus; SimilaritySpec quantifies recall vs the brute-force
    * baseline on the real testdata. */
  def ivfLearnedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      kCells: Int = 8, nprobe: Int = 2, iters: Int = 2): DataFrame = {
    val centroids = learnCells(corpus, kCells, iters)
    val assigned = assignCells(withNorm(corpus), centroids)
    val qDists = centroids.zipWithIndex.map { case (c, idx) =>
      struct(d2ToCentroid(col("embedding"), c).as("d"), lit(idx).as("cell"))
    }
    val q = broadcast(withNorm(queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"),
        explode(slice(array_sort(array(qDists: _*)), 1, nprobe)).as("probe"))
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        col("probe.cell").as("q_cell")))
    val scored = assigned.join(q,
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (fdot(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-vector int8 scalar quantization: qᵢ = round((xᵢ − min) / scale)
    * with scale = (max − min)/255 — 4× storage cut for ANN shortlists at
    * 100 TB (rerank on full precision). Output exploded
    * (vec_id, i, q) for oracle checking; production would pack
    * array<tinyint>. Constant vectors quantize to 0. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val mn = array_min(dbl)
    val mx = array_max(dbl)
    val scale = (mx - mn) / 255.0
    embeddings
      .select(col("vec_id"), posexplode(dbl).as(Seq("i", "x")), mn.as("mn"), scale.as("scale"))
      .select(col("vec_id"), col("i").cast("int").as("i"),
        when(col("scale") > 0.0, round((col("x") - col("mn")) / col("scale")))
          .otherwise(0.0).cast("int").as("q"))
  }

  /** IVF top-k with INT8-QUANTIZED first-stage scoring + exact rerank —
    * the production shape for ANN over 100 TB of embeddings: the int8
    * codes are 4× smaller than floats (what actually fits in cluster
    * memory / scan bandwidth), the cheap dequantized score ranks every
    * cell member, and the exact float cosine is computed ONLY for the
    * `shortlist` survivors per query before the final top-k. Quantization
    * uses [[quantizeInt8]]'s exact per-vector formula; dequantized
    * scoring (`mn + q·scale`) is deterministic double arithmetic, so the
    * whole two-stage cascade is oracle-checkable. */
  def ivfQuantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int): DataFrame = {
    val q = broadcast(withNorm(queries).select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("label").as("q_label"), col("norm").as("q_norm")))
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val c = corpus.select(col("vec_id"), col("label"), col("embedding"),
        array_min(dbl).as("mn"), ((array_max(dbl) - array_min(dbl)) / 255.0).as("scale"))
      .withColumn("qcode", when(col("scale") > 0.0,
          transform(col("embedding"), x =>
            round((x.cast("double") - col("mn")) / col("scale")).cast("int")))
        .otherwise(transform(col("embedding"), _ => lit(0))))
      .withColumn("deq", transform(col("qcode"),
        qq => (col("mn") + qq.cast("double") * col("scale")).cast("float")))
    val scored = c.join(q, col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("q_emb"), col("q_norm"),
        (fdot(col("deq"), col("q_emb")) / (fnorm(col("deq")) * col("q_norm"))).as("qcos"))
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("vec_id"))
    val short = scored.withColumn("srank", row_number().over(w1))
      .filter(col("srank") <= shortlist)
    val rer = short.select(col("query_id"), col("vec_id"),
      (fdot(col("q_emb"), col("embedding")) / (col("q_norm") * fnorm(col("embedding")))).as("cos"))
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
  }

  /** The corpus plus a deterministically PERTURBED copy of every
    * vec_id ≡ 0 (mod 10), copy id = vec_id + 1000000 — the embedding
    * analog of [[Dedup.withNearDuplicates]]: the synthetic embeddings are
    * near-orthogonal (measured max within-label cosine ≈ 0.51), so true
    * near-duplicates (cos ≈ 0.99) are injected for the LSH path to find.
    * Noise is exact integer arithmetic (`(vec_id·31 + 7d + 1) mod 97`,
    * scaled to [−0.0125, 0.0112]) so the DuckDB oracle reproduces the copies
    * bit-for-bit. */
  def withNearDupEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .unionAll(nearDupBatch(embeddings))

  /** Just the perturbed copies of [[withNearDupEmbeddings]] — the
    * "arriving batch" for the incremental embedding-dedup path. */
  def nearDupBatch(embeddings: DataFrame): DataFrame = {
    val noise = (d: Column) =>
      ((col("vec_id") * 31 + d * 7 + 1) % 97).cast("double") / 3880.0 - 0.0125
    // perturb FIRST, rename in a separate select: Spark 4's lateral column
    // alias resolution would otherwise bind `vec_id` inside the lambda to
    // the `vec_id + 1000000` alias of the same select
    embeddings.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          (x, d) => (x.cast("double") + noise(d)).cast("float")).as("embedding"))
      .select((col("vec_id") + 1000000).as("vec_id"), col("label"), col("embedding"))
  }

  /** Deterministic Rademacher (±1) hyperplane component for sign-sketch
    * LSH — seeded integer hash, no engine-private RNG. */
  private[graft] def planeSign(p: Int, d: Int): Float =
    if ((((p.toLong * 1299721L + d.toLong * 7919L + 3L) * 2654435761L)
        % 1000000007L) % 2L == 0L) 1f else -1f

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): find embedding-cosine near-duplicate groups and
    * keep ONE representative per group — the training-data curation step
    * that removes semantically redundant documents whose text differs
    * too much for the shingle/MinHash families to pair.
    *
    * Composition of two already-verified pieces: candidate pairs from
    * [[hyperplaneLshNearDupPairs]] (banded sign-sketch LSH — near-linear
    * at 100 TB where the paper's within-cluster all-pairs is O(cell²)),
    * then [[Dedup.canonicalAssignments]]' min-label propagation to close
    * the groups transitively, then one anti equi-join. Representative =
    * the group's minimum vec_id — the same keep-one contract as the text
    * path ([[Dedup.dedupApply]]); the paper keeps the most centroid-
    * distant member instead, but a cross-engine-deterministic centroid
    * would need a median vector per group (see [[learnCells]]' rationale)
    * for a tie-break that changes nothing about WHAT is deduplicated.
    * Output: (vec_id, label) of surviving vectors. */
  def semDedupApply(embeddings: DataFrame, threshold: Double = 0.9): DataFrame = {
    val pairs = hyperplaneLshNearDupPairs(embeddings, threshold)
    val removed = Dedup.canonicalAssignments(pairs.select(col("id_a"), col("id_b")))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as("vec_id"))
    embeddings.join(removed, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** SEMANTIC train-split decontamination: drop every train row whose
    * embedding is within cos ≥ threshold of ANY held-out/benchmark row —
    * the eval-integrity pass n-gram decontamination ([[Dedup]] q47) is
    * blind to (a paraphrased benchmark item shares no 13-gram but sits
    * at cos ≈ 0.95). Asymmetric by construction: the benchmark side is
    * tiny, the train side is the 100 TB corpus, and the band equi-join
    * keys on (band, bits) so every train partition only meets the
    * benchmark rows sharing a bucket — near-linear, no train self-join,
    * no broadcast of the big side. Survivors keep (vec_id, label);
    * the same banding's per-pair miss probability at cos ≥ 0.9 is
    * < 3·10⁻⁵ (recall 1.0 on the fixed testdata, SimilaritySpec). */
  def semanticDecontaminate(train: DataFrame, heldout: DataFrame,
      threshold: Double = 0.9, numBands: Int = 8, bitsPerBand: Int = 8,
      dim: Int = 64): DataFrame = {
    val tb = signBandRows(withNorm(train), numBands, bitsPerBand, dim)
    val hb = signBandRows(withNorm(heldout), numBands, bitsPerBand, dim)
    val contaminated = tb.as("a").join(hb.as("b"),
        col("a.b") === col("b.b") && col("a.v") === col("b.v"))
      .select(col("a.vec_id").as("vec_id"),
        (fdot(col("a.embedding"), col("b.embedding"))
          / (col("a.norm") * col("b.norm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_id")).distinct()
    train.join(contaminated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** Sign-sketch band rows (vec_id, embedding, norm, b, v) — shared by
    * the in-memory pair generator and the persisted index below.
    * Banding runs through the native [[SignBandPacked]] loop: the
    * previous form nested numBands·bitsPerBand literal-plane dots
    * inside one explode expression, whose single generated method blew
    * the JVM's HugeMethodLimit and dropped the whole projection to the
    * bytecode interpreter (~4 µs/dot measured at ×64 — the hidden
    * majority of q53/q67/q159's corpus-side cost). Bit semantics are
    * unchanged (same fold, same strict sign test), so every oracle
    * hash-matches through it. */
  private def signBandRows(e: DataFrame, numBands: Int, bitsPerBand: Int,
      dim: Int): DataFrame = {
    val planes = (0 until numBands * bitsPerBand).map(p =>
      (0 until dim).map(d => planeSign(p, d)))
    e.select(col("vec_id"), col("embedding"), col("norm"),
      posexplode(org.apache.spark.sql.graftnative.VectorExpressions.signBandPacked(
        col("embedding"), planes, numBands, bitsPerBand)).as(Seq("b", "v")))
  }

  /** Embedding near-duplicate pairs at scale: random-hyperplane LSH.
    *
    * Sign sketch: bit p = (⟨x, h_p⟩ > 0) for numBands·bitsPerBand seeded
    * ±1 hyperplanes (each a codegen'd [[fdot]] against a literal array —
    * no UDF, no shuffle). Candidates = pairs agreeing EXACTLY on at least
    * one band → an equi-join on (band index, band bits), the same bucketed
    * shape as the MinHash text path; survivors verify with one exact
    * cosine. Collision probability per bit is 1 − θ/π, so a true near-dup
    * at cos ≥ 0.9 (θ ≤ 26°) survives 8×8 banding with
    * P[miss] = (1 − (1−θ/π)⁸)⁸ < 3·10⁻⁵, while near-orthogonal pairs
    * almost never collide — candidates stay near-linear at 100 TB where
    * the label-blocked cross-join (the previous implementation) is
    * O(cell²). Recall on the fixed testdata is verified exhaustively
    * against an unblocked all-pairs oracle in SimilaritySpec; the output
    * (candidates ∩ cos ≥ threshold) is deterministic because the
    * hyperplanes are. */
  def hyperplaneLshNearDupPairs(embeddings: DataFrame, threshold: Double = 0.9,
      numBands: Int = 8, bitsPerBand: Int = 8, dim: Int = 64): DataFrame = {
    val bandRows = signBandRows(withNorm(embeddings), numBands, bitsPerBand, dim)
    // verify BEFORE dedup: a pair matching in ≤ numBands bands recomputes
    // its (cheap, codegen'd) cosine per match, but the dedup groupBy then
    // shuffles only the few SURVIVING pairs keyed by two longs — not
    // every candidate keyed by its float arrays
    bandRows.as("a").join(bandRows.as("b"),
        col("a.b") === col("b.b") && col("a.v") === col("b.v")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (fdot(col("a.embedding"), col("b.embedding"))
          / (col("a.norm") * col("b.norm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("cos")).as("cos"))
  }

  /** [[learnCells]] over a deterministic sample when the corpus is
    * huge: coarse-quantizer training only needs the density shape, and
    * O(iters · n · k) full-corpus Lloyd rounds would dominate the
    * pipeline they serve (standard IVF practice trains the quantizer
    * on a sample; the FULL corpus is still routed through the final
    * assignment). The vec_id-hash gate is deterministic, so the
    * learned centroids are a pure function of the corpus; below the
    * cap this is exactly [[learnCells]] — which is why the sf0.01/0.1
    * oracles (n ≪ cap) replay the unsampled recipe verbatim.
    *
    * `cap = 0` (the default) means AUTO: max(65536, kCells·64). A fixed
    * cap cannot serve a k that scales with the corpus
    * ([[defaultCellCount]] = n/4096 ⇒ k > 65536 once n > 2^28): the
    * sample would hold fewer vectors than cells and the quantizer would
    * silently degenerate. Scaling the cap keeps ≥64 training vectors
    * per cell at every corpus size, and [[learnCells]] still fails loud
    * if an explicit cap under-feeds the requested k. */
  def learnCellsSampled(corpus: DataFrame, kCells: Int, iters: Int,
      cap: Long = 0L): Seq[Seq[Double]] = {
    val effCap = if (cap > 0L) cap else math.max(65536L, kCells.toLong * 64L)
    val n = corpus.count()
    val train =
      if (n <= effCap) corpus
      else corpus.filter(pmod(xxhash64(col("vec_id")), lit(n / effCap + 1)) === 0)
    learnCells(train, kCells, iters)
  }

  /** Driver-local squared L2 between two double vectors — the same
    * left-to-right fold (subtract, square, running add in ascending
    * element order) as [[d2ToCentroid]] / `d2Sql`, so coarse training
    * below is bit-replayable by the SQL oracle. */
  private def d2Local(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i) - b(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Second-level quantizer: k-medians over the FINE CENTROIDS
    * themselves — the exact [[learnCells]] recipe (init = first kCoarse
    * fine centroids in cell-id order; per round assign-to-nearest with
    * lower-id tie-break, recenter on the per-dimension median with the
    * explicit two-middle average; a group that loses every member keeps
    * its previous centroid) run driver-local, because the input is the
    * kCells×dim centroid matrix (thousands of rows at most — the
    * corpus never participates). Returns (coarse centroids, members),
    * both of length kCoarse: members(g) = fine-cell ids whose nearest
    * FINAL coarse centroid is g, ascending; every fine cell appears in
    * exactly one group; a group may be empty (callers exclude empty
    * groups from routing — see [[assignCellsTwoLevel]]).
    *
    * Why this exists: flat IVF routing is O(n·k) with k = n/4096, i.e.
    * O(n²/4096) — the documented bound past ~10⁸ vectors. Routing
    * through √k coarse groups costs O(n·(√k + k/√k)) = O(n·√k); the
    * chooser (embedPlanCosts) measures both from the actual corpus. */
  def learnCoarseCells(fine: Seq[Seq[Double]], kCoarse: Int,
      iters: Int): (Seq[Seq[Double]], Seq[Seq[Int]]) = {
    require(kCoarse >= 1 && kCoarse <= fine.length,
      s"kCoarse=$kCoarse for ${fine.length} fine cells")
    def assign(cs: Seq[Seq[Double]]): Array[Int] =
      fine.map { f =>
        var best = 0; var bestD = Double.PositiveInfinity
        for (g <- cs.indices) {
          val d = d2Local(f, cs(g))
          if (d < bestD) { bestD = d; best = g }
        }
        best
      }.toArray
    var coarse: Seq[Seq[Double]] = fine.take(kCoarse)
    for (_ <- 1 to iters) {
      val a = assign(coarse)
      coarse = coarse.zipWithIndex.map { case (old, g) =>
        val mem = fine.indices.filter(a(_) == g)
        if (mem.isEmpty) old
        else old.indices.map { j =>
          val xs = mem.map(m => fine(m)(j)).sorted
          if (xs.length % 2 == 1) xs(xs.length / 2)
          else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2.0
        }
      }
    }
    val fin = assign(coarse)
    val groups = coarse.indices.map(g => fine.indices.filter(fin(_) == g).toSeq)
    (coarse, groups)
  }

  /** (corpus columns…, coarse, cell) — two-level routing of every
    * vector: nearest coarse group, then nearest fine cell within that
    * group, one codegen'd kernel call per row
    * ([[org.apache.spark.sql.graftnative.NearestCellTwoLevel]]).
    * A coarse group that lost every fine cell is excluded from the
    * ROUTING RANKING on both engines (its ORIGINAL group id is kept
    * for the reported `coarse` column — ids never re-number): the SQL
    * oracle ranks only gcells present in the member map, this side
    * passes only non-empty groups to the kernel, and the lower-id
    * tie-break agrees because filtering preserves order. */
  private[graft] def assignCellsTwoLevel(vecs: DataFrame,
      fine: Seq[Seq[Double]], coarse: Seq[Seq[Double]],
      members: Seq[Seq[Int]]): DataFrame = {
    val keep = members.indices.filter(members(_).nonEmpty)
    // ORIGINAL coarse id per fine cell, for the reported `coarse` column
    val coarseOf = members.zipWithIndex
      .flatMap { case (mem, g) => mem.map(_ -> g) }.sortBy(_._1).map(_._2)
    vecs
      .withColumn("cell",
        org.apache.spark.sql.graftnative.VectorExpressions.nearestCellTwoLevel(
          col("embedding"), keep.map(coarse), keep.map(members), fine, CoarseProbe))
      .withColumn("coarse",
        element_at(array(coarseOf.map(g => lit(g)): _*), col("cell") + 1))
  }

  /** q223: the two-level routing census — every vector's (coarse
    * group, fine cell) under √k-coarse routing, with the flat argmin
    * rides as `flat_cell` so the oracle ALSO gates the agreement
    * between the tiers (how often the approximate route finds the true
    * nearest cell is data, not a claim). kCoarse = ceil(√kCells), one
    * coarse round — constants the static oracle replays (kCells floors
    * to 8 ⇒ kCoarse 3 at every oracle scale; comment in the SQL). */
  def twoLevelRouting(embeddings: DataFrame, iters: Int = 2): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val kCells = defaultCellCount(e.count())
    val fine = learnCellsSampled(e, kCells, iters)
    val kCoarse = math.ceil(math.sqrt(kCells.toDouble)).toInt
    val (coarse, members) = learnCoarseCells(fine, kCoarse, CoarseIters)
    assignCellsTwoLevel(e, fine, coarse, members)
      .select(col("vec_id"), col("coarse").cast("int").as("coarse"),
        col("cell"),
        org.apache.spark.sql.graftnative.VectorExpressions.nearestCell(
          col("embedding"), fine).as("flat_cell"))
  }

  /** Coarse k-medians rounds — ONE round everywhere (oracle replays the
    * same constant): the quantizer-over-quantizer only needs to split
    * the centroid set into balanced neighborhoods, not converge. */
  val CoarseIters: Int = 1

  /** Coarse groups probed per vector during two-level assignment. TWO,
    * measured: with 1, boundary vectors misroute into larger fine
    * cells and the ×512 chooser table priced the resulting
    * verify-pair inflation (~35%) above the entire routing saving;
    * probing the runner-up group recovers the boundary cases at
    * +√k folds per row — the same boundary trick as the fine tier's
    * two-cell membership. */
  val CoarseProbe: Int = 2

  /** SEMANTIC decontamination through the IVF cell index — the
    * index-tier twin of [[semanticDecontaminate]] (whose sign-band
    * buckets hold 1/256 of the corpus PER BAND, so each probe's
    * candidate set grows linearly with corpus size — the q53/q159
    * regime [[embedPlanCosts]] measures). Cells follow
    * [[defaultCellCount]] (population pinned near [[CellTargetPop]]
    * regardless of corpus size), the quantizer trains on a
    * deterministic sample ([[learnCellsSampled]]), the corpus routes
    * once through the codegen'd [[assignCells]], and each held-out
    * probe meets only its `nprobe` nearest cells' members. Train rows
    * within cos ≥ threshold of any probe are dropped. Recall trade:
    * a true near-dup pair lands in the same nearest cell unless the
    * pair straddles a cell boundary; nprobe=2 covers the
    * first-runner-up case, and SimilaritySpec pins recall 1.0 against
    * the exact cross-split form on the testdata (the q220 oracle is
    * that exact form, so the hash gate re-proves it end to end).
    * Output: surviving (vec_id, label). */
  def ivfSemanticDecontaminate(train: DataFrame, heldout: DataFrame,
      threshold: Double = 0.9, nprobe: Int = 2, iters: Int = 2): DataFrame = {
    val kCells = defaultCellCount(train.count())
    val centroids = learnCellsSampled(
      train.select(col("vec_id"), col("embedding")), kCells, iters)
    val tb = assignCells(withNorm(train), centroids)
    // The probe side is the held-out benchmark × nprobe — bounded by
    // contract (the decon twin of the banded probe-form pin), so it is
    // the explicit build side: the train corpus streams with no
    // exchange, at every size estimate.
    val hb = withNorm(heldout).select(
      col("embedding").as("q_emb"), col("norm").as("q_norm"),
      explode(org.apache.spark.sql.graftnative.VectorExpressions.nearestCells(
        col("embedding"), centroids, nprobe)).as("cell"))
      .hint("broadcast")
    val contaminated = tb.join(hb, "cell")
      .filter(fdot(col("embedding"), col("q_emb"))
        / (col("norm") * col("q_norm")) >= threshold)
      .select(col("vec_id")).distinct()
    train.join(contaminated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** SemDeDup through the IVF cell index — [[semDedupApply]]'s
    * index-tier twin, and the closest shape to the SemDeDup paper
    * itself (Abbas et al. 2023 cluster with k-means and pair WITHIN
    * clusters; the band form was our exact-recall small-corpus
    * variant). Cells follow [[defaultCellCount]] so populations stay
    * near [[CellTargetPop]]: the within-cell pair stream is
    * Σ_cell C(pop, 2) ≈ n·pop/2 — LINEAR in corpus size where the
    * fixed-band form's bucket quadratic bends (q219 measures both).
    * Same keep-one contract: candidate pairs = shared-cell pairs with
    * cos ≥ threshold, min-label components, anti-join; survivors
    * (vec_id, label). Each vector belongs to its TWO nearest cells for
    * pair generation (the multi-probe trick applied to the self-join):
    * with nearest-cell-only membership a near-dup pair straddling a
    * cell boundary is lost — measured on this data as 4 missed pairs
    * at sf0.1 — while two-cell membership recovers them (both members
    * of a boundary pair sit near the SAME boundary, so their 2-cell
    * sets intersect; re-measured zero misses at sf0.001/0.01/0.1).
    * Cost is a ~4× factor on the (population-bounded, linear) pair
    * stream, not a new asymptotic term. The q222 oracle is q67's
    * EXACT all-pairs + recursive-reachability gate, so the hash gate
    * proves the cell blocking loses no group member on this corpus;
    * at production scale SemDeDup accepts residual boundary loss by
    * design. */
  def ivfSemDedup(embeddings: DataFrame, threshold: Double = 0.9,
      iters: Int = 2): DataFrame = {
    val kCells = defaultCellCount(embeddings.count())
    val centroids = learnCellsSampled(
      embeddings.select(col("vec_id"), col("embedding")), kCells, iters)
    val pairs = ivfCellPairs(embeddings, centroids, threshold)
    semDedupFromPairs(embeddings, pairs)
  }

  /** [[ivfSemDedup]] with TWO-LEVEL cell membership — the batch
    * reference the streaming two-level fold is pinned against: fine
    * cells learned as usual, the coarse quantizer over them, and every
    * vector's two membership cells routed through the
    * `NearestCellsTwoLevel` kernel (O(n·√k) routing — the regime where
    * the q219 chooser's argmin is the ivf2 plan). Membership is
    * APPROXIMATE relative to the flat two-cell scan exactly as q223's
    * single-cell routing is (the true nearest cell can live in an
    * unprobed group); within its own routing the keep-one contract is
    * identical: shared-cell pairs with cos ≥ threshold, min-label
    * components, anti-join. */
  def ivf2SemDedup(embeddings: DataFrame, threshold: Double = 0.9,
      iters: Int = 2): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val kCells = defaultCellCount(e.count())
    val fine = learnCellsSampled(e, kCells, iters)
    val kCoarse = math.ceil(math.sqrt(kCells.toDouble)).toInt
    val (coarse, members) = learnCoarseCells(fine, kCoarse, CoarseIters)
    val kept = members.indices.filter(members(_).nonEmpty)
    val pairs = ivf2CellPairs(embeddings, fine, kept.map(coarse),
      kept.map(members), threshold)
    semDedupFromPairs(embeddings, pairs)
  }

  private def semDedupFromPairs(embeddings: DataFrame,
      pairs: DataFrame): DataFrame = {
    val removed = Dedup.canonicalAssignments(pairs.select(col("id_a"), col("id_b")))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as("vec_id"))
    embeddings.join(removed, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** [[ivfSemDedup]]'s within-cell candidate stream: each vector joins
    * its TWO nearest cells (boundary-pair recovery — see ivfSemDedup),
    * pairs = shared-cell, cos ≥ threshold. A pair sharing BOTH cells
    * arrives twice with the same cos — harmless to the min-label
    * components (edge-set semantics).
    *
    * MERGE-PINNED self-join: both sides carry an explode over the
    * embedding-bearing frame, and a Generate's sizeInBytes is
    * child-proportional — under the broadcast threshold Catalyst would
    * broadcast the exploded multi-row-per-vector frame as the build
    * side (the measured explode-underestimate trap; same pin as
    * winnowPairs and the band self-join, gate in QualityGatesSpec). */
  private[graft] def ivfCellPairs(embeddings: DataFrame,
      centroids: Seq[Seq[Double]], threshold: Double): DataFrame =
    cellPairsFrom(withNorm(embeddings)
      .select(col("vec_id"), col("embedding"), col("norm"),
        explode(org.apache.spark.sql.graftnative.VectorExpressions.nearestCells(
          col("embedding"), centroids, 2)).as("cell")), threshold)

  /** [[ivfCellPairs]] with two-level-routed membership (kept groups
    * only); same merge pin, same verify. */
  private[graft] def ivf2CellPairs(embeddings: DataFrame,
      fine: Seq[Seq[Double]], coarse: Seq[Seq[Double]],
      members: Seq[Seq[Int]], threshold: Double): DataFrame =
    cellPairsFrom(withNorm(embeddings)
      .select(col("vec_id"), col("embedding"), col("norm"),
        explode(org.apache.spark.sql.graftnative.VectorExpressions.nearestCellsTwoLevel(
          col("embedding"), coarse, members, fine, CoarseProbe, 2)).as("cell")), threshold)

  private def cellPairsFrom(assigned: DataFrame, threshold: Double): DataFrame =
    assigned.as("a").join(assigned.as("b").hint("merge"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (fdot(col("a.embedding"), col("b.embedding"))
          / (col("a.norm") * col("b.norm"))).as("cos"))
      .filter(col("cos") >= threshold)

  /** Corpus-adaptive IVF cell count: cells scale with the corpus so
    * cell POPULATIONS stay bounded (~[[CellTargetPop]] vectors each) —
    * the property that keeps within-cell verify streams linear where
    * fixed-width sign bands go quadratic (bucket population ∝ N at 256
    * buckets/band). Floor of 8 keeps toy/test corpora at the q52b
    * shape the oracles replay. */
  val CellTargetPop: Int = 4096
  def defaultCellCount(nVectors: Long): Int =
    math.max(8L, nVectors / CellTargetPop).toInt

  /** MEASURED plan costs for the embedding near-dup/probe family — the
    * embedding twin of `Dedup.hammingPlanCosts` (q212), deciding the
    * regime handoff SCALING.md previously only asserted: fixed-width
    * sign-sketch BANDS are the exact-recall choice while buckets are
    * sparse, and the IVF cell index is the scale path once bucket
    * density makes the band verify stream quadratic (~10⁶ vectors/box
    * for 8×8 bands — the measured q53 boundary).
    *
    * For each candidate plan it computes, from the ACTUAL corpus
    * distribution, the two quantities the handoff trades off, both in
    * units of one O(dim) vector operation:
    *
    *   - `routing_ops` — work to route every vector to its buckets:
    *     bands: n·numBands·bitsPerBand plane dots; IVF: n·kCells
    *     distance folds (the [[NearestCell]]-backed assignment), with
    *     kCells = [[defaultCellCount]](n) so cells track corpus size;
    *   - `verify_pairs` — the candidate stream the buckets emit:
    *     Σ_bucket C(population, 2) exact cosines (for bands, summed
    *     over every band's buckets; for IVF, over the learned cells —
    *     the SemDeDup within-cluster pairing).
    *
    * `chosen` = argmin(routing_ops + verify_pairs), ties to the
    * lexicographically first plan name. Like q212, measuring costs one
    * aggregation per plan — no join, no pair materialization. The
    * DuckDB oracle (q219) replays the sign planes, the k-medians
    * training rounds, the bucket counting, and the argmin, so the hash
    * gate covers the measurement AND the choice. Caveat recorded where
    * the chooser is used: band plans differ in RECALL as well as cost
    * (SCALING.md measured 8×16 losing boundary pairs), so the chooser
    * arbitrates bands-vs-index; width changes within the band family
    * are a recall decision, not a cost decision. */
  def embedPlanCosts(embeddings: DataFrame,
      bandPlans: Seq[(Int, Int)] = Seq((8, 8), (8, 16)),
      iters: Int = 2, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    // scanned once per plan: checkpoint, then release before returning
    val e = embeddings.select(col("vec_id"), col("embedding")).localCheckpoint(false)
    try {
      val n = e.count()
      val kCells = defaultCellCount(n)
      def bucketCosts(buckets: DataFrame, plan: String, routingOps: Long): DataFrame =
        buckets.agg(
            coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).cast("long").as("verify_pairs"))
          .select(lit(plan).as("plan"), lit(n).as("n_vectors"),
            lit(routingOps).as("routing_ops"), col("verify_pairs"))
      val bandCosts = bandPlans.map { case (nb, bpb) =>
        bucketCosts(
          signBandRows(withNorm(e), nb, bpb, dim)
            .groupBy(col("b"), col("v")).agg(count(lit(1)).as("n")),
          s"bands_${nb}x$bpb", n * nb * bpb)
      }
      // sample-trained like the production path (below the cap — every
      // oracle scale — this is exactly learnCells, so q219 replays it)
      val centroids = learnCellsSampled(e, kCells, iters)
      val ivf = bucketCosts(
        assignCells(e, centroids).groupBy(col("cell")).agg(count(lit(1)).as("n")),
        s"ivf_k$kCells", n * kCells)
      // two-level routing plan: per vector kCoarse coarse folds + the
      // TWO probed groups' member-list folds (CoarseProbe — see its
      // scaladoc for the measured reason), so routing_ops is
      // DATA-dependent (Σ |members(probed groups)|); flat IVF's n·k
      // routing is what this tier exists to beat once k = n/4096
      // grows past ~√n
      val kCoarse = math.ceil(math.sqrt(kCells.toDouble)).toInt
      val (coarse, members) = learnCoarseCells(centroids, kCoarse, CoarseIters)
      val kept = members.indices.filter(members(_).nonEmpty)
      val keptCnt = array(kept.map(g => lit(members(g).size.toLong)): _*)
      val probedFolds = e.select(
          explode(org.apache.spark.sql.graftnative.VectorExpressions.nearestCells(
            col("embedding"), kept.map(coarse), CoarseProbe)).as("gi"))
        .agg(coalesce(sum(element_at(keptCnt, col("gi") + 1)), lit(0L)).cast("long"))
        .head().getLong(0)
      val ivf2 = assignCellsTwoLevel(e, centroids, coarse, members)
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).cast("long").as("verify_pairs"))
        .select(lit(s"ivf2_k${kCells}c$kCoarse").as("plan"), lit(n).as("n_vectors"),
          lit(n * kept.size + probedFolds).as("routing_ops"), col("verify_pairs"))
      val all = (bandCosts :+ ivf :+ ivf2).reduce(_ unionAll _)
        .withColumn("cost", col("routing_ops") + col("verify_pairs"))
      val w = Window.orderBy(col("cost"), col("plan")) // ≤ |plans| rows — config-sized
      val out = all.withColumn("chosen", row_number().over(w) === 1)
      // materialize the ≤ |plans| result rows, then release the checkpoint
      val rows = out.collect()
      spark.createDataFrame(spark.sparkContext.makeRDD(rows.toIndexedSeq, 1), out.schema)
    } finally graft.streaming.StreamOps.releaseCheckpoint(e)
  }

  // ---- persisted embedding band index (incremental SemDeDup) --------------

  /** Injective packing of a sign band into one long — `v` holds
    * `bitsPerBand` sign bits, `b` the band id, so `v·64 + b` is the
    * bucket AND equi-join key (same trick as the text index's bkey;
    * requires numBands ≤ 64 and bitsPerBand ≤ 57). */
  private def withEmbKey(bands: DataFrame): DataFrame =
    bands.withColumn("bkey", col("v") * 64 + col("b"))

  private def requireEmbIndexArgs(numBands: Int, bitsPerBand: Int): Unit = {
    require(numBands <= 64, s"bkey packs the band id into 6 bits: numBands <= 64, got $numBands")
    require(bitsPerBand <= 57, s"v·64 must fit a long: bitsPerBand <= 57, got $bitsPerBand")
  }

  /** Persist the corpus half of incremental embedding dedup — the
    * embedding analog of [[Dedup.writeBandIndex]]:
    *
    *   `<name>_embbands` (vec_id, b, v, bkey) bucketed AND sorted by
    *     bkey: an arriving batch's candidate join sort-merges the bucket
    *     files in place — zero corpus-side Exchange;
    *   `<name>_embvecs` (vec_id, embedding, norm) bucketed by vec_id:
    *     the exact-cosine verify fetches corpus vectors without
    *     re-reading (or re-shuffling) the embedding table.
    *
    * One corpus pass at build time; a later batch shuffles only its own
    * rows and its candidates, though the probe still scans every band
    * row of the index (as [[Dedup.writeBandIndex]]'s). The build also
    * stores a band-key census: the random planes are
    * data-independent, but bucket DENSIFICATION is not — a drifted
    * stream concentrates its sign patterns into its own key regions
    * ([[embDriftReport]]; see [[PersistedIndex]]). */
  def writeEmbIndex(corpus: DataFrame, name: String, buckets: Int = 8,
      numBands: Int = 8, bitsPerBand: Int = 8, dim: Int = 64,
      location: Option[String] = None): Unit = {
    requireEmbIndexArgs(numBands, bitsPerBand)
    PersistedIndex.write(PersistedIndex.EmbBand, name, buckets, location,
      embIndexRows(corpus, numBands, bitsPerBand, dim))
  }

  /** The two subtables' rows for `vecs`: (embbands, embvecs). */
  private def embIndexRows(vecs: DataFrame, numBands: Int, bitsPerBand: Int,
      dim: Int): Seq[DataFrame] = {
    val e = withNorm(vecs)
    Seq(withEmbKey(signBandRows(e, numBands, bitsPerBand, dim))
        .select(col("vec_id"), col("b"), col("v"), col("bkey")),
      e.select(col("vec_id"), col("embedding"), col("norm")))
  }

  /** Re-attach an external embedding index after catalog loss (DDL over
    * the existing bucket files, like [[Dedup.registerBandIndex]]). */
  def registerEmbIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, location: String, buckets: Int = 8): Unit =
    PersistedIndex.register(spark, PersistedIndex.EmbBand, name, location, buckets)

  /** Drift report for a persisted [[writeEmbIndex]] sign-band index —
    * the embedding twin of `Dedup.bandDriftReport` (one shared core,
    * [[IndexDrift]]): live band-key-space populations (build + every
    * [[appendToEmbIndex]] fold) against the build-time census. The
    * hyperplanes are random and data-independent, so nothing LEARNED
    * drifts — what drifts is key-space density: a shifted embedding
    * stream (a new modality, a new encoder version, a hot template
    * cluster) concentrates its sign patterns into its own bkey regions,
    * densifying exactly the buckets the probe join pays per arrival. */
  def embDriftReport(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame =
    PersistedIndex.driftReport(spark, PersistedIndex.EmbBand, name)

  /** Scalar drift statistics from [[embDriftReport]] — same contract
    * as [[cellDriftStats]] / `Dedup.bandDriftStats`. */
  def embDriftStats(spark: org.apache.spark.sql.SparkSession,
      name: String): IndexDrift.Stats =
    PersistedIndex.driftStats(spark, PersistedIndex.EmbBand, name)

  /** REBUILD/COMPACT recommendation for a persisted embedding sign-band
    * index — same share-relative thresholds and rationale as
    * [[cellIndexStale]] / `Dedup.bandIndexStale`: plain growth with an
    * unchanged distribution trips neither; drift or a hot template
    * stream trips one. */
  def embIndexStale(spark: org.apache.spark.sql.SparkSession, name: String,
      tvdThreshold: Double = 0.10, maxGrowthThreshold: Double = 4.0): Boolean =
    PersistedIndex.stale(spark, PersistedIndex.EmbBand, name, tvdThreshold, maxGrowthThreshold)

  /** Fold an accepted batch INTO the persisted embedding index
    * (`insertInto` resolves the catalog bucket spec, so appended files
    * land in the same layout — probes keep merging in place). */
  def appendToEmbIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, name: String, numBands: Int = 8,
      bitsPerBand: Int = 8, dim: Int = 64): Unit = {
    requireEmbIndexArgs(numBands, bitsPerBand)
    PersistedIndex.append(PersistedIndex.EmbBand, name,
      embIndexRows(batch, numBands, bitsPerBand, dim))
  }

  /** The batch-side candidate join in isolation (plan-gated like the
    * text index: exactly one Exchange — the batch side). */
  private[graft] def embIndexJoin(spark: org.apache.spark.sql.SparkSession,
      newVecs: DataFrame, name: String, numBands: Int = 8,
      bitsPerBand: Int = 8, dim: Int = 64): DataFrame = {
    requireEmbIndexArgs(numBands, bitsPerBand)
    val nb = withEmbKey(signBandRows(withNorm(newVecs), numBands, bitsPerBand, dim))
    val cb = Bucketing.readBucketed(spark, s"${name}_embbands")
    nb.as("a").join(cb.as("b"), col("a.bkey") === col("b.bkey"))
      .select(col("a.vec_id").as("new_id"), col("b.vec_id").as("old_id"))
  }

  /** Incremental embedding near-dups against a persisted
    * [[writeEmbIndex]]: candidates from the in-place bucket join,
    * verified with one exact cosine against the bucketed vector table —
    * the corpus is never re-hashed or re-shuffled. SemDeDup's arrival
    * path: dedup each batch against everything accepted so far, then
    * [[appendToEmbIndex]] the survivors. Output (new_id, old_id, cos).  */
  def incrementalEmbNearDupsIndexed(spark: org.apache.spark.sql.SparkSession,
      newVecs: DataFrame, name: String, threshold: Double = 0.9,
      numBands: Int = 8, bitsPerBand: Int = 8, dim: Int = 64): DataFrame = {
    val cand = embIndexJoin(spark, newVecs, name, numBands, bitsPerBand, dim)
      .distinct()
    val newSide = withNorm(newVecs)
      .select(col("vec_id").as("new_id"), col("embedding").as("e_n"),
        col("norm").as("n_n"))
    val oldSide = Bucketing.readBucketed(spark, s"${name}_embvecs")
      .select(col("vec_id").as("old_id"), col("embedding").as("e_o"),
        col("norm").as("n_o"))
    cand.join(newSide, "new_id").join(oldSide, "old_id")
      .select(col("new_id"), col("old_id"),
        (fdot(col("e_n"), col("e_o")) / (col("n_n") * col("n_o"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---- persisted IVF cell index (streaming SemDeDup through cells) --------

  /** Persist the IVF cell tier for continuous arrival — the cell-index
    * sibling of [[writeEmbIndex]] (which persists the sign-BAND tier;
    * q219 decides which tier a corpus should run):
    *
    *   `<name>_ivfcells` (vec_id, cell, embedding, norm) bucketed AND
    *     sorted by cell, one row per vector per its TWO nearest cells
    *     (ivfSemDedup's boundary-pair membership): an arriving batch's
    *     candidate join sort-merges the cell buckets in place, and the
    *     embedding+norm ride the rows so the exact-cosine verify needs
    *     no fetch join (the q66 ship-the-payload lesson);
    *   `<name>_ivfcentroids` (cell, c) — the learned quantizer, read
    *     back by probes so every arrival routes through the SAME cells
    *     (fixed-quantizer arrival is standard IVF practice; retraining
    *     is a rebuild, not an append). */
  def writeCellIndex(corpus: DataFrame, name: String, buckets: Int = 8,
      iters: Int = 2, location: Option[String] = None,
      twoLevel: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    val e = corpus.select(col("vec_id"), col("embedding"))
    val kCells = defaultCellCount(e.count())
    val centroids = learnCellsSampled(e, kCells, iters)
    // `twoLevel` stores the coarse quantizer alongside and routes the
    // MEMBERSHIP through it (O(√k) per vector) — the persisted form of
    // the q223 tier, for the corpora where the q219 chooser's argmin is
    // the ivf2 plan (routing O(n·k) binds once k = n/4096 grows past
    // ~√n). Membership and probes must route through the SAME kernel or
    // boundary pairs straddle inconsistent cells.
    val (memberRows, coarseStore) =
      if (!twoLevel) (twoCellRows(e, centroids), None)
      else {
        val kCoarse = math.ceil(math.sqrt(kCells.toDouble)).toInt
        val (coarse, members) = learnCoarseCells(centroids, kCoarse, CoarseIters)
        val kept = members.indices.filter(members(_).nonEmpty)
        val keptCoarse = kept.map(coarse)
        val keptMembers = kept.map(members)
        (twoCellRowsTwoLevel(e, centroids, keptCoarse, keptMembers),
          Some((keptCoarse, keptMembers)))
      }
    // the census (read back from the written cells, so no second
    // quantization pass) is the reference distribution the
    // fixed-quantizer arrival path is checked against — see
    // [[cellDriftReport]]. A FLAT build over a formerly two-level index
    // retires the old coarse store, table and files: every arrival path
    // auto-detects the coarse table to pick the routing kernel, and a
    // leftover one would route arrivals two-level against flat-routed
    // membership, silently losing boundary pairs (round-11 ADVICE).
    PersistedIndex.write(PersistedIndex.Cell, name, buckets, location, Seq(memberRows),
      (PersistedIndex.CellCentroids ->
        spark.createDataFrame(centroids.zipWithIndex.map { case (c, i) => (i, c) })
          .toDF("cell", "c")) +:
        coarseStore.toSeq.map { case (keptCoarse, keptMembers) =>
          PersistedIndex.CellCoarse -> spark.createDataFrame(keptCoarse.indices.map(g =>
            (g, keptCoarse(g), keptMembers(g)))).toDF("g", "c", "members")
        })
  }

  /** Re-attach an EXTERNAL cell index written with a `location` in a
    * previous session — the cell-tier analog of [[registerEmbIndex]] /
    * [[Dedup.registerBandIndex]] (DDL over the existing files; the
    * in-memory catalog loses table metadata across JVMs). The coarse
    * table re-attaches only if the build stored one (two-level form). */
  def registerCellIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, location: String, buckets: Int = 8): Unit =
    PersistedIndex.register(spark, PersistedIndex.Cell, name, location, buckets)

  /** The stored quantizer, in cell order (kCells×dim — driver-sized by
    * construction: cells hold ~[[CellTargetPop]] vectors each). */
  def readCellCentroids(spark: org.apache.spark.sql.SparkSession,
      name: String): Seq[Seq[Double]] =
    spark.table(s"${name}_ivfcentroids").orderBy(col("cell")).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("c").toSeq).toSeq

  private def twoCellRows(vecs: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    withNorm(vecs).select(col("vec_id"),
      explode(org.apache.spark.sql.graftnative.VectorExpressions.nearestCells(
        col("embedding"), centroids, 2)).as("cell"),
      col("embedding"), col("norm"))

  /** [[twoCellRows]] under two-level routing: the two membership cells
    * come from the probed coarse groups' member union (the
    * `NearestCellsTwoLevel` kernel) — O(√k) per vector instead of the
    * flat scan's O(k). `coarse`/`members` must be the KEPT (non-empty)
    * groups, the form [[writeCellIndex]] stores. */
  private def twoCellRowsTwoLevel(vecs: DataFrame, fine: Seq[Seq[Double]],
      coarse: Seq[Seq[Double]], members: Seq[Seq[Int]]): DataFrame =
    withNorm(vecs).select(col("vec_id"),
      explode(org.apache.spark.sql.graftnative.VectorExpressions.nearestCellsTwoLevel(
        col("embedding"), coarse, members, fine, CoarseProbe, 2)).as("cell"),
      col("embedding"), col("norm"))

  /** The stored coarse quantizer of a two-level [[writeCellIndex]]:
    * (kept coarse centroids, their fine-cell member lists), in stored
    * group order — kCoarse×dim, driver-sized like the fine matrix. */
  def readCoarseCells(spark: org.apache.spark.sql.SparkSession,
      name: String): (Seq[Seq[Double]], Seq[Seq[Int]]) = {
    val rows = spark.table(s"${name}_ivfcoarse").orderBy(col("g")).collect()
    (rows.map(_.getAs[scala.collection.Seq[Double]]("c").toSeq).toSeq,
      rows.map(_.getAs[scala.collection.Seq[Int]]("members").toSeq).toSeq)
  }

  /** Fold accepted arrivals INTO the cell index under the FIXED stored
    * quantizer (`insertInto` resolves the catalog bucket spec — appended
    * files land in the same cell-bucketed layout). Arrivals route through
    * the SAME kernel the build used — two-level when the index stores a
    * coarse table — so membership stays consistent across appends. */
  def appendToCellIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, name: String): Unit = {
    val vecs = batch.select(col("vec_id"), col("embedding"))
    val fine = readCellCentroids(spark, name)
    val rows =
      if (spark.catalog.tableExists(s"${name}_ivfcoarse")) {
        val (coarse, members) = readCoarseCells(spark, name)
        twoCellRowsTwoLevel(vecs, fine, coarse, members)
      } else twoCellRows(vecs, fine)
    PersistedIndex.append(PersistedIndex.Cell, name, Seq(rows))
  }

  // ---- quantizer staleness (drift vs the build-time census) ---------------

  /** Per-cell drift report for a persisted [[writeCellIndex]] index: the
    * LIVE cell populations (build + every [[appendToCellIndex]] fold)
    * against the build-time census. The fixed-quantizer arrival path is
    * standard IVF practice, but nothing in it detects when the corpus
    * has drifted away from the distribution the cells were trained on —
    * at 100 TB with months of appends that is the first operational
    * question the index tier gets (round-10 verdict, What's missing #3).
    * Population shape is the bounded signal: a drifted arrival stream
    * routes disproportionately into a few cells (the quantizer has no
    * centroids where the new mass lives), so live cell SHARES diverge
    * from build shares and the hot cells' probe cost — O(|batch| · cell
    * population) — inflates in exactly that proportion.
    *
    * Output (kCells rows — cell-count-bounded by construction, never
    * corpus-sized): (cell, n_build, n_live, build_share, live_share,
    * growth) where growth = live_share / build_share (how much of the
    * probe-cost budget the cell now claims relative to what the
    * quantizer balanced it for). One aggregation over the bucketed cells
    * table; the census join is kCells × kCells-bounded. */
  def cellDriftReport(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame =
    PersistedIndex.driftReport(spark, PersistedIndex.Cell, name)

  /** Scalar drift statistics from [[cellDriftReport]] ([[IndexDrift.stats]]):
    *   - `tvd`: total-variation distance between the live and build
    *     cell-population distributions, ½·Σ|live_share − build_share| ∈
    *     [0, 1] — the fraction of live probe mass sitting in cells the
    *     quantizer did not balance it into;
    *   - `maxGrowth`: the hottest cell's live_share/build_share — the
    *     worst single-cell probe-cost inflation factor;
    *   - `nBuild`/`nLive`: total index rows then and now.
    * Driver-side over kCells rows. */
  def cellDriftStats(spark: org.apache.spark.sql.SparkSession,
      name: String): IndexDrift.Stats =
    PersistedIndex.driftStats(spark, PersistedIndex.Cell, name)

  /** REBUILD recommendation for a persisted cell index ("retrain =
    * rebuild" is the arrival contract; this is the trigger). Thresholds
    * and their rationale:
    *   - `tvd ≥ 0.10` (default): ≥ 10% of live probe mass now routes
    *     through cells the quantizer did not shape for it. TVD is the
    *     tightest bound on how much ANY per-cell cost model can be off
    *     by, so at 0.10 the build-time sizing (CellTargetPop per cell)
    *     mis-prices at least a tenth of all probes.
    *   - `maxGrowth ≥ 4.0` (default): one cell's share of probe cost
    *     has inflated ≥ 4× past what training balanced — the skew form
    *     of staleness (TVD can stay low while one cell absorbs a hot
    *     drifted stream; probe latency on that cell is 4× the design
    *     point). Growth is share-relative, so plain corpus growth with
    *     an UNCHANGED distribution trips neither threshold — rebuilds
    *     are for drift, not size (size is [[defaultCellCount]] at the
    *     next scheduled rebuild). */
  def cellIndexStale(spark: org.apache.spark.sql.SparkSession, name: String,
      tvdThreshold: Double = 0.10, maxGrowthThreshold: Double = 4.0): Boolean =
    PersistedIndex.stale(spark, PersistedIndex.Cell, name, tvdThreshold, maxGrowthThreshold)

  /** One arriving batch's similarity edges against the persisted cell
    * index: the batch routes to its two nearest stored cells (bounded
    * probe side — broadcast-pinned like every probe form in this repo),
    * sort-merges the cell buckets in place, and verifies exact cosine
    * inside the join (embeddings ride the index rows). Output
    * (id_a = arriving, id_b = indexed, cos) — both orders of an indexed
    * pair arrive across batches; downstream CC is edge-set semantics.
    * O(|batch| · cell population) per batch however large the corpus. */
  def ivfIndexProbeEdges(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, name: String, centroids: Seq[Seq[Double]],
      threshold: Double = 0.9): DataFrame =
    probeCellIndex(spark, name, withNorm(batch)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"),
        explode(org.apache.spark.sql.graftnative.VectorExpressions.nearestCells(
          col("embedding"), centroids, 2)).as("cell")), threshold)

  /** [[ivfIndexProbeEdges]] for a TWO-LEVEL index: the batch routes to
    * its two membership cells through the stored coarse quantizer —
    * O(|batch|·√k) routing instead of the flat form's O(|batch|·k),
    * the whole point of persisting the coarse tier — then probes the
    * same cell buckets in place. Pass the stored quantizers
    * ([[readCellCentroids]] / [[readCoarseCells]]); membership and
    * probe must share the kernel or boundary pairs are lost. */
  def ivfIndexProbeEdgesTwoLevel(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, name: String, fine: Seq[Seq[Double]],
      coarse: Seq[Seq[Double]], members: Seq[Seq[Int]],
      threshold: Double = 0.9): DataFrame =
    probeCellIndex(spark, name, withNorm(batch)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"),
        explode(org.apache.spark.sql.graftnative.VectorExpressions.nearestCellsTwoLevel(
          col("embedding"), coarse, members, fine, CoarseProbe, 2)).as("cell")), threshold)

  /** The shared probe join: bounded probe side broadcasts, cell buckets
    * sort-merge in place, exact cosine verifies inside the join — and is
    * PROJECTED OUT with the pair (round-12 ADVICE: discarding it forced
    * [[incrementalIvfNearDupsIndexed]] to re-join the full cells table
    * per batch just to recompute a value this join already had). */
  private def probeCellIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, probe: DataFrame, threshold: Double): DataFrame =
    Bucketing.readBucketed(spark, s"${name}_ivfcells")
      .join(probe.hint("broadcast"), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        fdot(col("embedding"), col("q_emb")) / (col("norm") * col("q_norm")))
      .filter(col("cos") >= threshold)
      .select(col("q_id").as("id_a"), col("vec_id").as("id_b"), col("cos"))

  /** [[incrementalEmbNearDupsIndexed]] for a persisted CELL index
    * (either routing form): one arriving batch's near-dups against the
    * index with exact cosine in the output, auto-detecting the stored
    * coarse table so probes route through the same kernel as membership.
    * Output (new_id, old_id, cos) — SCHEMA PARITY with the sign-band
    * arrival path, so `Cli emb-ingest-dedup` can serve whichever index
    * form `embindex --plan measured` built (round-11 ADVICE: a measured
    * build choosing the ivf/ivf2 form used to produce an index no CLI
    * ingest path could consume). */
  def incrementalIvfNearDupsIndexed(spark: org.apache.spark.sql.SparkSession,
      newVecs: DataFrame, name: String, threshold: Double = 0.9): DataFrame = {
    val fine = readCellCentroids(spark, name)
    val edges =
      if (spark.catalog.tableExists(s"${name}_ivfcoarse")) {
        val (coarse, members) = readCoarseCells(spark, name)
        ivfIndexProbeEdgesTwoLevel(spark, newVecs, name, fine, coarse,
          members, threshold)
      } else ivfIndexProbeEdges(spark, newVecs, name, fine, threshold)
    // a pair sharing BOTH probed cells arrives twice from the cell join,
    // as BIT-IDENTICAL rows (both stored copies carry the same embedding
    // and the cosine is the same expression over equal inputs), so the
    // distinct over candidate-sized rows is the whole dedup — the probe
    // join already carried the exact cosine out, keeping the per-batch
    // cost at the documented O(|batch| × cell population) with NO
    // corpus-side re-read (round-12 ADVICE: the previous form re-joined
    // the full cells table per batch just to recompute it).
    edges.distinct()
      .select(col("id_a").as("new_id"), col("id_b").as("old_id"), col("cos"))
  }

  /** Deterministic negative sampling for contrastive training: for each
    * anchor, up to `k` vectors with a DIFFERENT label, chosen by a seeded
    * affine probe over contiguous ids (candidate_i = ((2i+3)·anchor +
    * 7i+1) mod n, the minhash permutation family) — replayable with no
    * stored randomness, and the oversampled probe (2k candidates)
    * absorbs same-label/self rejections without a retry loop. Requires
    * contiguous ids 0..n−1 ([[Ids]] produces them); n rides a one-row
    * broadcast scalar attach, not a driver action. The per-anchor
    * window orders by probe index over ≤ 2k rows. Output:
    * (anchor, neg_rank, neg_id). */
  def negativeSample(emb: DataFrame, k: Int): DataFrame = {
    val nDf = emb.agg(count(lit(1)).as("n"))
    val probes = emb.select(col("vec_id").as("anchor"), col("label").as("a_label"))
      .crossJoin(broadcast(nDf))
      .select(col("anchor"), col("a_label"),
        explode(sequence(lit(0), lit(2 * k - 1))).as("i"),
        col("n"))
      .withColumn("cand",
        ((lit(2) * col("i") + 3) * col("anchor") + lit(7) * col("i") + 1) % col("n"))
      .filter(col("cand") =!= col("anchor"))
    val negs = probes.join(
        emb.select(col("vec_id").as("cand"), col("label").as("c_label")), "cand")
      .filter(col("c_label") =!= col("a_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor")).orderBy(col("i"))
    negs.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("anchor"), col("neg_rank"), col("cand").as("neg_id"))
  }

  /** Compact the persisted embedding index back to ONE file per bucket —
    * every [[appendToEmbIndex]] adds a file per bucket, so probe scans
    * union k+1 sorted runs after k appends (correct, but per-file
    * open/footer cost grows). Same cycle and caveats as
    * [[Dedup.compactBandIndex]]; external-location indexes only. */
  def compactEmbIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, location: String, buckets: Int = 8): Unit =
    PersistedIndex.compact(spark, PersistedIndex.EmbBand, name, location, buckets)

  /** Tombstone vec_ids OUT of the persisted embedding index (takedowns,
    * retention expiry): parquet is immutable, so a delete is a filtered
    * rewrite that doubles as compaction — see
    * [[Dedup.deleteFromBandIndex]] for the contract (`tombstones` must
    * not derive from the index tables themselves). */
  def deleteFromEmbIndex(spark: org.apache.spark.sql.SparkSession,
      tombstones: DataFrame, name: String, location: String,
      buckets: Int = 8): Unit =
    PersistedIndex.delete(spark, PersistedIndex.EmbBand, tombstones, name, location, buckets)

  /** Retrieval-eval metrics for an ANN index vs the exact baseline —
    * the harness every approximate index ships with: per-query
    * recall@k (|approx ∩ exact top-k| / k) and the reciprocal rank of
    * the TRUE nearest neighbor inside the approx list, in SCALED
    * integer form (`10⁶ div rank` — reciprocals of small ints aren't
    * binary-exact, integer division is). Queries where the approx list
    * misses everything still emit a row (recall 0) — silent drops would
    * overstate quality. Inputs are the (query_id, vec_id, rank) shapes
    * both topK operators emit; the intersection is one equi-join on
    * (query, neighbor), grouped per query — eval cost is O(k) rows per
    * query however large the corpus. */
  def annEvalMetrics(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val ap = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank").as("a_rank"))
    val ex = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank").as("e_rank"))
    val hits = ex.join(ap, Seq("query_id", "vec_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("h"),
        coalesce(max(when(col("e_rank") === 1, expr("1000000L div a_rank"))),
          lit(0L)).as("rr"))
    ex.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        (coalesce(col("h"), lit(0L)).cast("double") / k).as("recall"),
        coalesce(col("rr"), lit(0L)).as("rr_scaled"))
  }

  /** Per-dimension embedding statistics — the feature-monitoring pass a
    * production embedding pipeline runs on every batch (dead dims,
    * drifted dims, scale blowups). Float sums are aggregation-order
    * territory, so moments ride the same `floor(x·1024)` integer
    * quantization the PCA pass uses: integer sums are exact and
    * order-free, the mean/variance divisions happen once per dimension
    * in one fixed double order. One narrow posexplode + one bounded
    * (64-row) aggregation — map-side partial at any corpus size. */
  def embeddingDimStats(emb: DataFrame): DataFrame = {
    val q = emb.select(posexplode(
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))"))
      .as(Seq("i", "q")))
    q.groupBy(col("i"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("sumsq_q"))
      .select(col("i"), col("n"), col("sum_q"), col("sumsq_q"),
        (col("sum_q").cast("double") / col("n").cast("double") / 1024.0).as("mean"),
        ((col("sumsq_q").cast("double")
          - col("sum_q").cast("double") * col("sum_q").cast("double") / col("n").cast("double"))
          / col("n").cast("double") / 1048576.0).as("variance"))
  }

  /** Top principal direction of the embedding cloud by POWER ITERATION
    * in integer arithmetic — the distributed linear-algebra pass
    * geometry-based curation (SemDeDup-family) sits on. Embeddings
    * quantize to EXACT integers first (`floor(x·1024)` — a float's
    * value times 1024 is exact in double, and floor avoids the engines'
    * round-half disagreement); each round is then one corpus pass:
    * per-row dot = ⟨q, v⟩ (int64 fold), coarsened `div 1024`;
    * per-dimension wᵢ = Σ dot·qᵢ (map-side partial groupBy over
    * exploded dims); renormalize v ← w·S div max|w| (integer division —
    * direction preserved, no libm sqrt; driver side runs it in BigInt
    * exactly as DuckDB runs it in HUGEINT). v rides the next round as
    * 64 literals — the Lloyd-loop shape, each collect 64 values.
    *
    * Magnitude audit (overflow is the real scale risk): |q| ≲ 2¹¹,
    * S = 10⁵ → |dot| ≤ 64·2¹¹·S ≈ 2³⁴, div 1024 → 2²⁴; |w| ≤ N·2²⁴·2¹¹
    * = N·2³⁵ — int64-safe to N ≈ 10⁸ rows, and the guard THROWS beyond
    * it rather than overflow silently. Past that, power-iterate a
    * deterministic hash-sample: principal directions stabilize at
    * sample sizes far below corpus scale. */
  def pcaPowerIteration(emb: DataFrame, iters: Int = 3,
      scale: Long = 100000L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.select(
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))").as("q"))
      .localCheckpoint(false)
    val n = q.count()
    require(n <= 100000000L,
      s"int64 magnitude audit holds to ~1e8 rows, got $n — power-iterate a hash-sample")
    val d = 64
    var v: Seq[Long] = Seq.fill(d)(scale)
    for (_ <- 1 to iters) {
      val vSql = v.mkString("array(", "L, ", "L)")
      val w = q
        .select(col("q"), expr(
          s"aggregate(zip_with(q, $vSql, (a, b) -> a * b), 0L, (acc, x) -> acc + x) div 1024").as("dot"))
        .select(explode(expr("transform(q, (x, i) -> struct(i AS i, x * dot AS xd))")).as("p"))
        .groupBy(col("p.i").as("i")).agg(sum(col("p.xd")).as("w"))
        .orderBy(col("i"))
        .collect().map(_.getLong(1))
      val mx = BigInt(w.map(x => math.abs(x)).max.max(1L))
      v = w.toSeq.map(x => ((BigInt(x) * scale) / mx).toLong)
    }
    v.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "v")
  }
}
