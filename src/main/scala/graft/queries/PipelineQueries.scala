package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextHash
import graft.operators.{Curation, Dedup, Multimodal, QualityChecks, Similarity, TextAnalysis, TimeSeries}
import graft.streaming.StreamOps

/** Training-data pipeline queries: dedup (exact / MinHash+LSH / SimHash /
  * n-gram Jaccard / embedding-cosine), similarity search (brute-force +
  * IVF), text analysis, multimodal plumbing, and the streaming shape's
  * batch equivalent. Every oracle is deterministic integer / fixed-order
  * double arithmetic (see TextHash / Similarity scaladoc).
  */
object PipelineQueries {

  import TextHash.P

  // ---- shared SQL CTE fragments (lockstep with the Dedup operators) -------

  /** Mirror of [[Dedup.withNearDuplicates]]. */
  private val nearDupCorpus =
    """corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text, source
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Shared dHash derivation over a `base(doc_id, hx, w, h, bump)` CTE —
    * mirror of [[Multimodal.dHash]]'s grid sampling (q143, q144). The
    * digest-bytes list is 1-indexed; `bump` replays
    * [[Multimodal.mediaTableWithNearDups]]'s byte-0 perturbation. */
  private val dhashCtes =
    """bytes AS (SELECT doc_id, bump, w, h,
      |                 list_transform(generate_series(1, 16),
      |                   i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1)
      |                             + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1) AS BIGINT)) AS bs
      |          FROM base),
      |g AS (SELECT doc_id, bump, w, h, bs, gxs.gx, gys.gy
      |      FROM bytes,
      |           (SELECT unnest(generate_series(0, 6)) AS gx) gxs,
      |           (SELECT unnest(generate_series(0, 7)) AS gy) gys),
      |s AS (SELECT doc_id, bump, gx, gy, bs,
      |             CAST(((gy*h // 8)*w + (gx*w // 8)) % 16 AS BIGINT) AS li,
      |             CAST(((gy*h // 8)*w + ((gx+1)*w // 8)) % 16 AS BIGINT) AS ri
      |      FROM g),
      |b AS (SELECT doc_id, gx, gy,
      |             CASE WHEN bump = 1 AND li = 0 THEN (bs[1] + 1) % 256
      |                  ELSE bs[li + 1] END AS lb,
      |             CASE WHEN bump = 1 AND ri = 0 THEN (bs[1] + 1) % 256
      |                  ELSE bs[ri + 1] END AS rb
      |      FROM s),
      |dh AS (SELECT doc_id,
      |              CAST(sum(CASE WHEN rb > lb THEN (CAST(1 AS BIGINT) << (gy*7 + gx))
      |                            ELSE 0 END) AS BIGINT) AS dhash
      |       FROM b GROUP BY 1)""".stripMargin

  /** Mirror of [[Similarity.withNearDupEmbeddings]] (q53, q67). */
  private val augEmbCte =
    """aug AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  UNION ALL
      |  SELECT orig_id + 1000000 AS vec_id, label,
      |         list_transform(generate_series(1, len(emb0)),
      |           j -> CAST(CAST(emb0[j] AS DOUBLE)
      |                     + (CAST((orig_id*31 + (j-1)*7 + 1) % 97 AS DOUBLE)/3880.0 - 0.0125) AS FLOAT)) AS embedding
      |  FROM (SELECT vec_id AS orig_id, label, embedding AS emb0
      |        FROM embeddings WHERE vec_id % 10 = 0))""".stripMargin

  /** Mirror of [[Dedup.withExactDuplicates]]. */
  private val exactDupCorpus =
    """corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text, source
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Shingle CTEs over `corpus`: tok(whs), sh(shs). */
  private val shingleCtes =
    s"""tok AS (SELECT doc_id, source, ${TextHash.wordHashesSql("text")} AS whs FROM corpus),
       |sh AS (SELECT doc_id, source, ${TextHash.shingleHashesOverSql("whs")} AS shs FROM tok)""".stripMargin

  /** MinHash signature CTE over `sh`: sig(doc_id, i, mh). */
  private val sigCte =
    s"""g AS (SELECT unnest(generate_series(0, 15)) AS i),
       |sig AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
       |               list_min(list_transform(shs, s -> ${TextHash.permuteSql("i", "s")})) AS mh
       |        FROM sh, g WHERE len(shs) > 0)""".stripMargin

  /** Distinct-shingle + per-doc-size + pair-intersection CTEs over `sh`.
    * `blocked` adds the same-source blocking predicate (q41); the LSH
    * verify path (q43) is unblocked. */
  /** Per-bit simhash sum term, mirroring Dedup.simhashFrom: block 0
    * (bits < 24) reads the raw word hash; each higher 24-bit block reads
    * a fresh affine permutation of it (word hashes live in [0, P) ⊂
    * [0, 2^30), so raw bits >= 30 are constant zero — see simhashFrom). */
  private def simhashBitSql(b: Int): String = {
    val h = if (b < 24) "wh" else s"(${TextHash.permuteSql((b / 24).toString, "wh")})"
    s"sum(CASE WHEN ($h >> ${b % 24}) % 2 = 1 THEN 1 ELSE -1 END) AS b$b"
  }

  private def jaccardCtes(blocked: Boolean): String = {
    val blockPred = if (blocked) " AND a.source = b.source" else ""
    s"""dsh AS (SELECT doc_id, source, unnest(list_distinct(shs)) AS s FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |          FROM dsh a JOIN dsh b ON a.s = b.s$blockPred AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jac AS (SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS uni,
       |               CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jacc
       |        FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)""".stripMargin
  }

  /** The full ensemble-dedup oracle (all three candidate families +
    * shared Jaccard verify + recursive CC), shared by q113 and its
    * measured-plan twin q113b — the banding plan is pigeonhole-exact,
    * so both rows produce the identical survivor set this SQL names. */
  private lazy val ensembleOracle: String = {
    val bits = 48 // width fixes the noise floor (see Dedup.nearDupRemovals)
    val sums = (0 until bits).map(b =>
      simhashBitSql(b)).mkString(", ")
    val packed = (0 until bits).map(b =>
      s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
    s"""WITH RECURSIVE $nearDupCorpus,
       |$shingleCtes,
       |$sigCte,
       |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
       |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
       |          FROM sig GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
       |              AND a.doc_id < b.doc_id),
       |${jaccardCtes(blocked = false)},
       |sx AS (SELECT doc_id, unnest(whs) AS wh FROM tok),
       |ssums AS (SELECT doc_id, $sums FROM sx GROUP BY 1),
       |ssh AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS simhash, c.source
       |        FROM ssums s JOIN corpus c ON c.doc_id = s.doc_id),
       |sedges AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |           FROM ssh a JOIN ssh b
       |             ON a.source = b.source AND a.doc_id < b.doc_id
       |           WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
       |wf AS (SELECT DISTINCT doc_id, fp FROM
       |       (SELECT doc_id, unnest(${TextHash.winnowOverSql("shs", 4)}) AS fp FROM sh)),
       |rare AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= ${Dedup.DefaultMaxFpDf}),
       |wk AS (SELECT w.doc_id, w.fp FROM wf w JOIN rare USING (fp)),
       |candw AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM wk a JOIN wk b ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |setsw AS (SELECT doc_id, list_distinct(shs) AS st FROM sh),
       |vw AS (SELECT id_a, id_b,
       |              len(list_intersect(sa.st, sb.st)) AS inter,
       |              len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st)) AS uni
       |       FROM candw JOIN setsw sa ON sa.doc_id = id_a
       |                  JOIN setsw sb ON sb.doc_id = id_b),
       |edges AS (
       |  SELECT c.id_a, c.id_b FROM cand c JOIN jac j
       |    ON j.id_a = c.id_a AND j.id_b = c.id_b WHERE j.jacc >= 0.5
       |  UNION
       |  SELECT e.id_a, e.id_b FROM sedges e
       |  JOIN jac j ON j.id_a = e.id_a AND j.id_b = e.id_b
       |  WHERE j.jacc >= 0.5
       |  UNION
       |  SELECT id_a, id_b FROM vw
       |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5),
       |bi AS (SELECT id_a AS src, id_b AS dst FROM edges
       |       UNION ALL SELECT id_b, id_a FROM edges),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM bi
       |  UNION
       |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src),
       |noncanon AS (SELECT src AS doc_id FROM reach GROUP BY src
       |             HAVING least(src, min(dst)) < src)
       |SELECT c.doc_id, c.source FROM corpus c
       |WHERE c.doc_id NOT IN (SELECT doc_id FROM noncanon)""".stripMargin
  }

  private val tokCte = "t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)"

  /** The BPE merge-learning CTE chain (wf0 → best_r/wf_r per round),
    * shared by q120 (emit the merge table) and q158 (apply the merges):
    * each round's weighted pair count, (cnt DESC, pa, pb) argmax, and
    * greedy literal re-segmentation replay over the word-frequency dict. */
  private def bpeMergeCtes(rounds: Range): String = {
    val wf0 =
      """wf0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
        |               array_to_string(string_split(w, ''), ' ') AS rep
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |        WHERE w <> '' GROUP BY w)""".stripMargin
    val per = rounds.map { r =>
      s"""e$r AS (SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
         |        FROM (SELECT freq, string_split(rep, ' ') AS syms FROM wf${r - 1})
         |        WHERE len(syms) >= 2),
         |pr$r AS (SELECT syms[i] AS pa, syms[i + 1] AS pb, CAST(sum(freq) AS BIGINT) AS cnt
         |         FROM e$r GROUP BY 1, 2),
         |best$r AS (SELECT $r AS round, pa, pb, pa || pb AS merged, cnt
         |           FROM pr$r ORDER BY cnt DESC, pa, pb LIMIT 1),
         |wf$r AS (SELECT w, freq,
         |           trim(replace(' ' || rep || ' ', ' ' || b.pa || ' ' || b.pb || ' ',
         |                        ' ' || b.pa || b.pb || ' ')) AS rep
         |         FROM wf${r - 1} CROSS JOIN best$r b)""".stripMargin
    }
    s"$wf0,\n${per.mkString(",\n")}"
  }

  /** Unrolled SQL mirror of [[Similarity.ivfLearnedTopK]]: deterministic
    * init (first kCells vectors by vec_id), `iters` k-medians rounds
    * (medians spelled out — sorted list, middle pick, explicit two-middle
    * average — the exact arithmetic the Scala driver loop runs), final
    * assignment, nprobe probe, exact-cosine top-k. The hash gate
    * therefore covers the LEARNING rounds, not just the final join. */
  /** The k-medians training replay (init, per-round assign/recenter,
    * final all-vector assignment `af`) as a CTE chain — `Similarity.
    * learnCells` + `assignCells` unrolled round for round, shared by
    * the q52b and q219 oracles. The final centroid CTE is `c<iters>`. */
  private def kMediansAssignCtes(kCells: Int, iters: Int): String = {
    def d2(x: String, c: String) = Similarity.d2Sql(x, c)
    def assign(name: String, cSrc: String) =
      s"""$name AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, f.cell,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e.embedding", "f.c")}, f.cell) AS rn
         |    FROM embeddings e, $cSrc f) WHERE rn = 1)"""
    def recenter(r: Int, aName: String, prevC: String, cName: String) =
      s"""m$r AS (
         |  SELECT cell, j, list_sort(list(CAST(x AS DOUBLE))) AS xs FROM (
         |    SELECT cell, unnest(generate_series(1, len(embedding))) AS j,
         |           unnest(embedding) AS x FROM $aName)
         |  GROUP BY cell, j),
         |mv$r AS (
         |  SELECT cell, j, CASE WHEN len(xs) % 2 = 1 THEN xs[(len(xs) + 1) // 2]
         |                       ELSE (xs[len(xs) // 2] + xs[len(xs) // 2 + 1]) / 2.0 END AS m
         |  FROM m$r),
         |grid$r AS (SELECT cell, c, unnest(generate_series(1, len(c))) AS j FROM $prevC),
         |$cName AS (
         |  SELECT g.cell, list(COALESCE(v.m, g.c[g.j]) ORDER BY g.j) AS c
         |  FROM grid$r g LEFT JOIN mv$r v ON v.cell = g.cell AND v.j = g.j
         |  GROUP BY g.cell)"""
    val rounds = (1 to iters).map { r =>
      val prevC = if (r == 1) "init" else s"c${r - 1}"
      s"${assign(s"a$r", prevC)},\n${recenter(r, s"a$r", prevC, s"c$r")}"
    }.mkString(",\n")
    s"""init AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $kCells)),
       |$rounds,
       |${assign("af", s"c$iters")}"""
  }

  /** The two-level (coarse-over-fine) quantizer replay — `Similarity.
    * learnCoarseCells` + `assignCellsTwoLevel` unrolled, continuing from
    * [[kMediansAssignCtes]]'s final fine-centroid CTE `fineCte`:
    * coarse init = first kCoarse fine centroids in cell order, ONE
    * k-medians round (Similarity.CoarseIters — assign fine→coarse with
    * lower-id ties, per-dim median recenter with the explicit
    * two-middle average, empty groups keep their init centroid via the
    * grid LEFT JOIN), final member map `gm` (cell → gcell), routing
    * restricted to gcells PRESENT in gm (`cgk` — the Scala side's
    * non-empty-group filter, original ids kept), per-vector TWO
    * nearest kept coarse groups `vg` (Similarity.CoarseProbe = 2),
    * then nearest fine cell over the probed groups' member UNION
    * `tl` (vec_id, gcell, cell) — rank by (d2, cell) matches the
    * kernel's explicit lower-cell tie-break across groups. */
  private def twoLevelCtes(kCoarse: Int, fineCte: String): String = {
    def d2(x: String, c: String) = Similarity.d2Sql(x, c)
    s"""cinit AS (
       |  SELECT CAST(row_number() OVER (ORDER BY cell) - 1 AS INTEGER) AS gcell, c
       |  FROM (SELECT cell, c FROM $fineCte ORDER BY cell LIMIT $kCoarse)),
       |ga1 AS (
       |  SELECT cell, fc, gcell FROM (
       |    SELECT f.cell, f.c AS fc, g.gcell,
       |           row_number() OVER (PARTITION BY f.cell ORDER BY ${d2("f.c", "g.c")}, g.gcell) AS rn
       |    FROM $fineCte f, cinit g) WHERE rn = 1),
       |gmed1 AS (
       |  SELECT gcell, j, list_sort(list(x)) AS xs FROM (
       |    SELECT gcell, unnest(generate_series(1, len(fc))) AS j,
       |           unnest(fc) AS x FROM ga1)
       |  GROUP BY gcell, j),
       |gmv1 AS (
       |  SELECT gcell, j, CASE WHEN len(xs) % 2 = 1 THEN xs[(len(xs) + 1) // 2]
       |                        ELSE (xs[len(xs) // 2] + xs[len(xs) // 2 + 1]) / 2.0 END AS m
       |  FROM gmed1),
       |ggrid1 AS (SELECT gcell, c, unnest(generate_series(1, len(c))) AS j FROM cinit),
       |cg1 AS (
       |  SELECT g.gcell, list(COALESCE(v.m, g.c[g.j]) ORDER BY g.j) AS c
       |  FROM ggrid1 g LEFT JOIN gmv1 v ON v.gcell = g.gcell AND v.j = g.j
       |  GROUP BY g.gcell),
       |gm AS (
       |  SELECT cell, gcell FROM (
       |    SELECT f.cell, g.gcell,
       |           row_number() OVER (PARTITION BY f.cell ORDER BY ${d2("f.c", "g.c")}, g.gcell) AS rn
       |    FROM $fineCte f, cg1 g) WHERE rn = 1),
       |cgk AS (SELECT * FROM cg1 WHERE gcell IN (SELECT DISTINCT gcell FROM gm)),
       |vg AS (
       |  SELECT vec_id, embedding, gcell FROM (
       |    SELECT e.vec_id, e.embedding, g.gcell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e.embedding", "g.c")}, g.gcell) AS rn
       |    FROM embeddings e, cgk g) WHERE rn <= 2),
       |tl AS (
       |  SELECT vec_id, gcell, cell FROM (
       |    SELECT v.vec_id, v.gcell, m.cell,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY ${d2("v.embedding", "f.c")}, m.cell) AS rn
       |    FROM vg v JOIN gm m ON m.gcell = v.gcell JOIN $fineCte f ON f.cell = m.cell)
       |  WHERE rn = 1)"""
  }

  private def ivfLearnedOracleSql(kCells: Int, nprobe: Int, k: Int, iters: Int): String = {
    def d2(x: String, c: String) = Similarity.d2Sql(x, c)
    val cFinal = s"c$iters"
    s"""WITH ${kMediansAssignCtes(kCells, iters)},
       |qp AS (
       |  SELECT query_id, q_emb, q_norm, cell FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_emb,
       |           ${Similarity.fnormSql("e.embedding")} AS q_norm, f.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e.embedding", "f.c")}, f.cell) AS rn
       |    FROM embeddings e, $cFinal f WHERE e.vec_id < 10) WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT qp.query_id, a.vec_id,
       |         ${Similarity.fdotSql("qp.q_emb", "a.embedding")} / (qp.q_norm * ${Similarity.fnormSql("a.embedding")}) AS cos
       |  FROM af a JOIN qp ON a.cell = qp.cell AND a.vec_id != qp.query_id),
       |r AS (SELECT query_id, vec_id, cos,
       |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
       |      FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= $k""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // ==== text analysis ====================================================

    QueryDef("q30_token_stats",
      (s, dir) => TextAnalysis.tokenStats(Tables.load(s, dir, "documents")),
      Some(s"""WITH $tokCte
             |SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
             |       CAST(len(list_distinct(tk)) AS INTEGER) AS n_distinct,
             |       CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS ttr
             |FROM t""".stripMargin)),

    QueryDef("q31_quality_score",
      (s, dir) => TextAnalysis.qualityScore(Tables.load(s, dir, "documents")),
      Some(s"""WITH $tokCte
             |SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
             |       CAST(len(list_filter(tk, w -> w IN ('the', 'a'))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stop_ratio,
             |       (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)) * 0.5
             |         + (1.0 - CAST(len(list_filter(tk, w -> w IN ('the', 'a'))) AS DOUBLE) / CAST(len(tk) AS DOUBLE)) * 0.3
             |         + least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
             |FROM t""".stripMargin)),

    QueryDef("q32_langid",
      (s, dir) => TextAnalysis.langId(Tables.load(s, dir, "documents")),
      Some {
        val scores = TextAnalysis.profiles.map { case (lang, words) =>
          s"CAST(len(list_filter(tk, w -> w IN (${words.map(w => s"'$w'").mkString(", ")}))) AS INTEGER) AS s_$lang"
        }.mkString(",\n       ")
        val langs = TextAnalysis.profiles.map(_._1)
        val cases = langs.init.zipWithIndex.map { case (lang, i) =>
          val conds = langs.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
          s"WHEN $conds THEN '$lang'"
        }.mkString(" ")
        s"""WITH $tokCte,
           |sc AS (SELECT doc_id, $scores FROM t)
           |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
           |       CASE $cases ELSE '${langs.last}' END AS pred_lang
           |FROM sc""".stripMargin
      }),

    QueryDef("q34_token_count_bpe",
      (s, dir) => TextAnalysis.tokenCounts(Tables.load(s, dir, "documents")),
      Some("""SELECT doc_id,
             |       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
             |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens
             |FROM documents""".stripMargin)),

    QueryDef("q33_fingerprint",
      (s, dir) => TextAnalysis.fingerprints(Tables.load(s, dir, "documents")),
      Some(s"""SELECT doc_id, ${TextHash.polyHashSql("text")} AS poly_fp, md5(text) AS md5_fp
             |FROM documents""".stripMargin)),

    QueryDef("q35_token_budget",
      (s, dir) => TextAnalysis.tokenBudget(Tables.load(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id, source,
             |                 CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
             |                 CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe
             |          FROM documents)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(ws) AS BIGINT) AS ws_total, CAST(SUM(bpe) AS BIGINT) AS bpe_total
             |FROM t GROUP BY source""".stripMargin)),

    QueryDef("q36_hash_split",
      (s, dir) => TextAnalysis.hashSplit(Tables.load(s, dir, "documents")),
      Some(s"""WITH b AS (SELECT doc_id,
             |                  ${Curation.gateHashSql(TextHash.polyHashSql("text"), 100L)} AS bucket
             |           FROM documents)
             |SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
             |       CASE WHEN bucket < 90 THEN 'train'
             |            WHEN bucket < 95 THEN 'valid'
             |            ELSE 'test' END AS split
             |FROM b""".stripMargin)),

    QueryDef("q38_repetition",
      (s, dir) => TextAnalysis.repetitionStats(Tables.load(s, dir, "documents")),
      Some(s"""WITH tok AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM documents),
             |bg AS (SELECT doc_id,
             |              CASE WHEN len(whs) >= 2
             |                   THEN list_transform(generate_series(1, len(whs) - 1),
             |                          i -> (whs[i]*131 + whs[i+1]) % $P)
             |                   ELSE [] END AS bgs
             |       FROM tok)
             |SELECT doc_id, CAST(len(bgs) AS INTEGER) AS n_bigrams,
             |       CAST(len(list_distinct(bgs)) AS INTEGER) AS n_distinct,
             |       CASE WHEN len(bgs) > 0
             |            THEN 1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / CAST(len(bgs) AS DOUBLE)
             |            ELSE 0.0 END AS rep_ratio
             |FROM bg""".stripMargin)),

    QueryDef("q39_stratified_sample",
      (s, dir) => TextAnalysis.stratifiedSample(Tables.load(s, dir, "documents"), "lang", 50),
      Some(s"""WITH r AS (SELECT doc_id, lang,
             |                CAST(row_number() OVER (PARTITION BY lang
             |                       ORDER BY ${Curation.gateHashSql(TextHash.polyHashSql("text"), TextHash.P)}, doc_id) AS INTEGER) AS rn
             |          FROM documents)
             |SELECT doc_id, lang, rn FROM r WHERE rn <= 50""".stripMargin)),

    // q39's stratified sample as a BOUNDED AGGREGATE (native TopKAgg on
    // the negated gate hash): identical rows/ranks/oracle. Shuffle is
    // k-bounded in BOTH forms on this Spark (WindowGroupLimit pushdown
    // pre-filters the window's map side — measured in SketchSpec); the
    // aggregate's edge is a k-entry heap instead of full local sorts,
    // and availability outside rank-filter patterns.
    QueryDef("q209_stratified_bottomk",
      (s, dir) => TextAnalysis.stratifiedSampleAgg(
        Tables.load(s, dir, "documents"), "lang", 50),
      Some(s"""WITH r AS (SELECT doc_id, lang,
             |                CAST(row_number() OVER (PARTITION BY lang
             |                       ORDER BY ${Curation.gateHashSql(TextHash.polyHashSql("text"), TextHash.P)}, doc_id) AS INTEGER) AS rn
             |          FROM documents)
             |SELECT doc_id, lang, rn FROM r WHERE rn <= 50""".stripMargin)),

    QueryDef("q37_data_quality",
      (s, dir) => graft.operators.QualityChecks.profile(
        Tables.load(s, dir, "documents"), Seq("doc_id", "lang", "source")),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS null_frac,
             |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |       count(DISTINCT $c) + SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) = count(*) AS is_unique
             |FROM documents""".stripMargin
        Seq("doc_id", "lang", "source").map(one).mkString("\nUNION ALL\n")
      }),

    // ==== deduplication ====================================================

    QueryDef("q40_dedup_exact",
      (s, dir) => Dedup.exactDuplicateGroups(
        Dedup.withExactDuplicates(Tables.load(s, dir, "documents"))),
      Some(s"""WITH $exactDupCorpus
             |SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
             |       min(doc_id) AS canonical_id
             |FROM corpus GROUP BY 1 HAVING count(*) >= 2""".stripMargin)),

    QueryDef("q41_ngram_jaccard",
      (s, dir) => Dedup.jaccardPairs(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents")), 0.5),
      Some(s"""WITH $nearDupCorpus,
             |$shingleCtes,
             |${jaccardCtes(blocked = true)}
             |SELECT id_a, id_b, inter, uni, jacc FROM jac WHERE jacc >= 0.5""".stripMargin)),

    QueryDef("q42_minhash_sig",
      (s, dir) => Dedup.minhashSignatures(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some(s"""WITH $nearDupCorpus,
             |$shingleCtes,
             |$sigCte
             |SELECT doc_id, i, mh FROM sig""".stripMargin)),

    QueryDef("q43_lsh_pairs",
      (s, dir) => Dedup.minhashLshPairs(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some(s"""WITH $nearDupCorpus,
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |              AND a.doc_id < b.doc_id),
             |${jaccardCtes(blocked = false)}
             |SELECT c.id_a, c.id_b, j.jacc
             |FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
             |WHERE j.jacc >= 0.5""".stripMargin)),

    // q43 through the PERSISTED band index — the text family's
    // index-tier PRODUCT (round-10 verdict #3): the full self-dedup pair
    // set computed from the bucketed bands/sets tables alone, corpus
    // text never re-read, candidate self-join exchange-free in place.
    // The index is built once per corpus directory (the _SUCCESS markers
    // gate it) and re-attached afterwards, so a repeated run times the
    // amortized probe-only pass — exactly what nightly curation re-runs
    // pay; the one-off build is the recompute form's cost plus the
    // bucketed write. Oracle: q43's exhaustive recompute SQL — the
    // indexed path must produce the identical (id_a, id_b, jacc) set.
    QueryDef("q43b_lsh_pairs_indexed",
      (s, dir) => {
        val docs = Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))
        val loc = s"${System.getProperty("java.io.tmpdir")}/graft_q43b_idx_" +
          Integer.toHexString(dir.hashCode)
        // the catalog table may point at another corpus's index from an
        // earlier call in this session (the scaling sweep reuses one
        // session across scales) — drop before build/attach
        Seq("q43b_idx_bands", "q43b_idx_sets")
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        val built = Seq("bands", "sets").forall(sub => java.nio.file.Files
          .exists(java.nio.file.Paths.get(loc, sub, "_SUCCESS")))
        if (built) Dedup.registerBandIndex(s, "q43b_idx", loc)
        else Dedup.writeBandIndex(docs, "q43b_idx", location = Some(loc))
        Dedup.selfNearDupPairsIndexed(s, "q43b_idx")
      },
      Some(s"""WITH $nearDupCorpus,
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |              AND a.doc_id < b.doc_id),
             |${jaccardCtes(blocked = false)}
             |SELECT c.id_a, c.id_b, j.jacc
             |FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
             |WHERE j.jacc >= 0.5""".stripMargin)),

    // The recompute-vs-probe pricing census for the persisted band
    // index (round-11: the chooser column that quantifies what q43b's
    // amortized form saves per run) — band_rows is what the recompute
    // form re-ships before any candidate exists; raw_join_rows is the
    // candidate stream both forms pay. One row; the oracle re-derives
    // both quantities from the same band definition, so the hash gate
    // covers the pricing arithmetic end to end.
    QueryDef("q225_bandindex_plan",
      (s, dir) => {
        val docs = Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))
        val loc = s"${System.getProperty("java.io.tmpdir")}/graft_q43b_idx_" +
          Integer.toHexString(dir.hashCode)
        Seq("q43b_idx_bands", "q43b_idx_sets")
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        val built = Seq("bands", "sets").forall(sub => java.nio.file.Files
          .exists(java.nio.file.Paths.get(loc, sub, "_SUCCESS")))
        if (built) Dedup.registerBandIndex(s, "q43b_idx", loc)
        else Dedup.writeBandIndex(docs, "q43b_idx", location = Some(loc))
        Dedup.bandIndexPlanCosts(s, "q43b_idx")
      },
      Some(s"""WITH $nearDupCorpus,
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |bgrp AS (SELECT band, s, mn, mx, count(*) AS n FROM bands GROUP BY 1, 2, 3, 4)
             |SELECT CAST(sum(n) AS BIGINT) AS band_rows,
             |       CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS raw_join_rows,
             |       CAST(sum(n) * 32 + COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS recompute_cost,
             |       CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS probe_cost
             |FROM bgrp""".stripMargin)),

    QueryDef("q46_canonical",
      (s, dir) => Dedup.canonicalAssignments(Dedup.minhashLshPairs(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents")))),
      Some(s"""WITH RECURSIVE $nearDupCorpus,
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |              AND a.doc_id < b.doc_id),
             |${jaccardCtes(blocked = false)},
             |edges AS (SELECT c.id_a, c.id_b
             |          FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
             |          WHERE j.jacc >= 0.5),
             |bi AS (SELECT id_a AS src, id_b AS dst FROM edges
             |       UNION ALL SELECT id_b, id_a FROM edges),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM bi
             |  UNION
             |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src)
             |SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
             |FROM reach GROUP BY src""".stripMargin)),

    QueryDef("q44_simhash",
      (s, dir) => Dedup.simhash(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some {
        val bits = 24
        val sums = (0 until bits).map(b =>
          simhashBitSql(b)).mkString(",\n       ")
        val packed = (0 until bits).map(b =>
          s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
        s"""WITH $nearDupCorpus,
           |ex AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM corpus),
           |sums AS (SELECT doc_id, $sums FROM ex GROUP BY 1)
           |SELECT doc_id, CAST($packed AS BIGINT) AS simhash FROM sums""".stripMargin
      }),

    QueryDef("q45_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some {
        val bits = 24
        val sums = (0 until bits).map(b =>
          simhashBitSql(b)).mkString(", ")
        val packed = (0 until bits).map(b =>
          s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
        s"""WITH $nearDupCorpus,
           |ex AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM corpus),
           |sums AS (SELECT doc_id, $sums FROM ex GROUP BY 1),
           |sh AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS simhash, c.source
           |       FROM sums s JOIN corpus c ON c.doc_id = s.doc_id)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""".stripMargin
      }),

    // WIDE-fingerprint SimHash — the 100-TB form of q45. The 24-bit
    // fingerprint's random-collision background (P[hamming ≤ 6] ≈ 1.1%
    // per same-source pair) grows QUADRATICALLY with corpus size — the
    // scaling harness measured 34x candidates at 16x data (SCALING.md) —
    // while at 48 bits the same probability is ~5e-8 and the background
    // vanishes for any realistic block. Same pigeonhole banding, same
    // hamming contract; only the fingerprint width changes. 48 bits (not
    // 64) keeps the packed value clear of BIGINT sign-bit shifts in both
    // engines.
    QueryDef("q45b_simhash_wide",
      (s, dir) => Dedup.simhashPairs(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents")), bits = 48),
      Some {
        val bits = 48
        val sums = (0 until bits).map(b =>
          simhashBitSql(b)).mkString(", ")
        val packed = (0 until bits).map(b =>
          s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
        s"""WITH $nearDupCorpus,
           |ex AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM corpus),
           |sums AS (SELECT doc_id, $sums FROM ex GROUP BY 1),
           |sh AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS simhash, c.source
           |       FROM sums s JOIN corpus c ON c.doc_id = s.doc_id)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""".stripMargin
      }),

    // KLL-style mergeable quantile sketch over the fact table's price
    // column — per-partition sketches tree-reduce, raw values never
    // shuffle (the 100-TB quantile path next to the exact cents-histogram
    // tier). Rows-only like q29: sketch estimates are arrival-order-
    // dependent by nature; the rank-error BOUND and mergeability are
    // spec-pinned (QuantileSketchSpec, StreamingSpec fold twin).
    QueryDef("q206_kll_quantiles",
      (s, dir) => graft.operators.Quantiles.quantileReport(
        Tables.load(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.95)),
      None),

    // PER-GROUP KLL quantiles via the native TypedImperativeAggregate
    // (q206's grouped form): per-event-type p50/p95/p99 of value with
    // O(k·log n) state per group — what replaces q145's exact window
    // sort when one key holds 10^10 rows. Rows-only for the same reason
    // as q206 (merge-tree-dependent estimates); the per-group rank-error
    // bound is pinned by QuantileSketchSpec against exact ranks.
    QueryDef("q207_kll_grouped",
      (s, dir) => graft.operators.Quantiles.groupedQuantileReport(
        Tables.load(s, dir, "events"), "event_type", "value",
        Seq(0.5, 0.95, 0.99)),
      None),

    // HLL SET OPERATIONS: pairwise distinct-user overlap between event
    // types from MERGED SKETCHES — |A∪B| by register-wise max, |A∩B| by
    // inclusion-exclusion — never rescanning raw rows per pair. The
    // deterministic HLL (q29b/q176) makes the whole thing replay under
    // the hash gate, intersection arithmetic included.
    QueryDef("q208_hll_setops",
      (s, dir) => QualityChecks.hllOverlapMatrix(
        Tables.events(s, dir).select(col("event_type"), col("user_id")),
        "event_type", "user_id"),
      Some(s"""WITH h0 AS (SELECT event_type AS g,
             |                   (CAST(user_id AS BIGINT) * 2654435761 + 7) % 1000000007 AS h
             |            FROM events),
             |h1 AS (SELECT g, (h * h + h * 5 + 1) % 1000000007 AS h FROM h0),
             |h2 AS (SELECT g, (h * h + h * 3 + 7) % 1000000007 AS h FROM h1),
             |r AS (SELECT g, CAST(h % ${QualityChecks.HllM} AS INTEGER) AS j, h // ${QualityChecks.HllM} AS v FROM h2),
             |rr AS (SELECT g, j, CASE WHEN v = 0 THEN 25
             |                        ELSE CAST(length(bin(v & -v)) AS INTEGER) END AS rho
             |       FROM r),
             |m AS (SELECT g, j, max(rho) AS mj FROM rr GROUP BY 1, 2),
             |eg AS (SELECT g, CAST(count(*) AS INTEGER) AS n_registers,
             |              list(CAST(1.0 AS DOUBLE) / CAST((1 << mj) AS DOUBLE) ORDER BY j) AS terms
             |       FROM m GROUP BY 1),
             |es AS (SELECT g, CAST(${QualityChecks.HllAlphaM2} AS DOUBLE)
             |              / (list_reduce(terms, (a, b) -> a + b)
             |                 + CAST(${QualityChecks.HllM} - n_registers AS DOUBLE)) AS est
             |       FROM eg),
             |gs AS (SELECT DISTINCT g FROM m),
             |pairs AS (SELECT a.g AS g_a, b.g AS g_b FROM gs a JOIN gs b ON a.g < b.g),
             |pm AS (SELECT p.g_a, p.g_b, m.j, max(m.mj) AS mj
             |       FROM pairs p JOIN m ON m.g = p.g_a OR m.g = p.g_b
             |       GROUP BY 1, 2, 3),
             |ug AS (SELECT g_a, g_b, CAST(count(*) AS INTEGER) AS n_registers,
             |              list(CAST(1.0 AS DOUBLE) / CAST((1 << mj) AS DOUBLE) ORDER BY j) AS terms
             |       FROM pm GROUP BY 1, 2),
             |us AS (SELECT g_a, g_b, CAST(${QualityChecks.HllAlphaM2} AS DOUBLE)
             |              / (list_reduce(terms, (a, b) -> a + b)
             |                 + CAST(${QualityChecks.HllM} - n_registers AS DOUBLE)) AS est_union
             |       FROM ug)
             |SELECT us.g_a, us.g_b, ea.est AS est_a, eb.est AS est_b, us.est_union,
             |       ea.est + eb.est - us.est_union AS est_intersection
             |FROM us JOIN es ea ON ea.g = us.g_a JOIN es eb ON eb.g = us.g_b""".stripMargin)),

    // SimHash cluster ASSIGNMENTS — the linear-output form. The scaling
    // harness showed pair enumeration is OUTPUT-bound on this corpus
    // (template text collapses into large fingerprint clusters; a k-doc
    // component emits k(k-1)/2 pair rows at any fingerprint width). The
    // assignment form computes hamming edges between one representative
    // per distinct (source, fingerprint), closes components there, and
    // emits one row per doc. Oracle: exact rep-level all-pairs + the
    // q131-style recursive reachability.
    QueryDef("q45c_simhash_assign",
      (s, dir) => Dedup.simhashAssignments(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some {
        val bits = 48
        val sums = (0 until bits).map(b =>
          simhashBitSql(b)).mkString(", ")
        val packed = (0 until bits).map(b =>
          s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
        s"""WITH RECURSIVE $nearDupCorpus,
           |ex AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM corpus),
           |sums AS (SELECT doc_id, $sums FROM ex GROUP BY 1),
           |shh AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS simhash, c.source
           |        FROM sums s JOIN corpus c ON c.doc_id = s.doc_id),
           |reps AS (SELECT source, simhash, min(doc_id) AS rep FROM shh GROUP BY 1, 2),
           |e0 AS (SELECT a.rep AS id_a, b.rep AS id_b
           |       FROM reps a JOIN reps b
           |         ON a.source = b.source AND a.rep < b.rep
           |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
           |bi AS (SELECT id_a AS src, id_b AS dst FROM e0
           |       UNION ALL SELECT id_b, id_a FROM e0),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM bi
           |  UNION
           |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src),
           |canon AS (SELECT src AS rep, least(src, min(dst)) AS canonical_id
           |          FROM reach GROUP BY src)
           |SELECT d.doc_id, COALESCE(c.canonical_id, r.rep) AS canonical_id
           |FROM shh d
           |JOIN reps r ON r.source = d.source AND r.simhash = d.simhash
           |LEFT JOIN canon c ON c.rep = r.rep""".stripMargin
      }),

    // q45c through the MEASURED plan chooser (round-10 verdict #2): one
    // hammingPlanCosts census over the rep-level hash set picks the
    // banding's (numBlocks, comboSize), then the identical assignment
    // pipeline runs at that pick. Every exact plan yields the same
    // assignments (pigeonhole; DedupSpec pins invariance across the
    // whole plan family), so the oracle is q45c's — exhaustive rep-level
    // all-pairs + recursive reachability — and the hash gate covers the
    // measured path end-to-end. The chooser's value is at scale: at the
    // ×256 corpus its calibrated pick (m=8/c=2) ran 86.5 s in the
    // pinned-plan wall sweep vs the static rule's 112.6 s and the
    // classic banding's 122.4 s (hamming_chooser_scales.json). Below
    // the measure floor (1 M distinct rep hashes — the committed walls
    // bracket the census crossover between ×64 and ×256) the census is
    // skipped and this row runs the static plan, so at verify/bench
    // scales it costs ≈ q45c instead of census + plan (round-11
    // verdict #1); the floor only moves COST — every exact plan yields
    // identical assignments.
    QueryDef("q45d_simhash_assign_measured",
      (s, dir) => Dedup.simhashAssignments(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents")),
        measurePlan = true),
      Some {
        val bits = 48
        val sums = (0 until bits).map(b =>
          simhashBitSql(b)).mkString(", ")
        val packed = (0 until bits).map(b =>
          s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
        s"""WITH RECURSIVE $nearDupCorpus,
           |ex AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM corpus),
           |sums AS (SELECT doc_id, $sums FROM ex GROUP BY 1),
           |shh AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS simhash, c.source
           |        FROM sums s JOIN corpus c ON c.doc_id = s.doc_id),
           |reps AS (SELECT source, simhash, min(doc_id) AS rep FROM shh GROUP BY 1, 2),
           |e0 AS (SELECT a.rep AS id_a, b.rep AS id_b
           |       FROM reps a JOIN reps b
           |         ON a.source = b.source AND a.rep < b.rep
           |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
           |bi AS (SELECT id_a AS src, id_b AS dst FROM e0
           |       UNION ALL SELECT id_b, id_a FROM e0),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM bi
           |  UNION
           |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src),
           |canon AS (SELECT src AS rep, least(src, min(dst)) AS canonical_id
           |          FROM reach GROUP BY src)
           |SELECT d.doc_id, COALESCE(c.canonical_id, r.rep) AS canonical_id
           |FROM shh d
           |JOIN reps r ON r.source = d.source AND r.simhash = d.simhash
           |LEFT JOIN canon c ON c.rep = r.rep""".stripMargin
      }),

    // Incremental ingest: the injected near-dup copies play the "new
    // batch", the raw documents the accumulated corpus; batch bands join
    // corpus bands, exact-Jaccard verify.
    QueryDef("q49_incremental_neardup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val batch = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            expr("substring(text, instr(text, ' ') + 1)").as("text"),
            col("source"))
        Dedup.incrementalNearDupPairs(batch, docs)
      },
      Some(s"""WITH orig AS (SELECT doc_id, text, source FROM documents),
             |batch AS (SELECT doc_id + 1000000 AS doc_id,
             |                 substr(text, strpos(text, ' ') + 1) AS text, source
             |          FROM documents WHERE doc_id % 10 = 0),
             |g AS (SELECT unnest(generate_series(0, 15)) AS i),
             |tok1 AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM orig),
             |sh1 AS (SELECT doc_id, ${TextHash.shingleHashesOverSql("whs")} AS shs FROM tok1),
             |sig1 AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
             |                list_min(list_transform(shs, x -> ${TextHash.permuteSql("i", "x")})) AS mh
             |         FROM sh1, g WHERE len(shs) > 0),
             |bands1 AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                  sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |           FROM sig1 GROUP BY 1, 2),
             |tok2 AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM batch),
             |sh2 AS (SELECT doc_id, ${TextHash.shingleHashesOverSql("whs")} AS shs FROM tok2),
             |sig2 AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
             |                list_min(list_transform(shs, x -> ${TextHash.permuteSql("i", "x")})) AS mh
             |         FROM sh2, g WHERE len(shs) > 0),
             |bands2 AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                  sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |           FROM sig2 GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT b2.doc_id AS new_id, b1.doc_id AS old_id
             |         FROM bands2 b2 JOIN bands1 b1
             |           ON b2.band = b1.band AND b2.s = b1.s AND b2.mn = b1.mn AND b2.mx = b1.mx),
             |sets1 AS (SELECT doc_id, list_distinct(shs) AS st FROM sh1),
             |sets2 AS (SELECT doc_id, list_distinct(shs) AS st FROM sh2),
             |v AS (SELECT c.new_id, c.old_id,
             |             len(list_intersect(s2.st, s1.st)) AS inter,
             |             len(s2.st) + len(s1.st) - len(list_intersect(s2.st, s1.st)) AS uni
             |      FROM cand c JOIN sets2 s2 ON s2.doc_id = c.new_id
             |                  JOIN sets1 s1 ON s1.doc_id = c.old_id)
             |SELECT new_id, old_id, CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jacc
             |FROM v WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5""".stripMargin)),

    // Same contract as q49, through the PERSISTED band index: the corpus
    // bands/sets are bucketed catalog tables written once, and the batch
    // joins them in place (zero corpus-side Exchange — pinned by
    // IncrementalIndexSpec). The oracle is the q49 recompute SQL: the
    // indexed path must produce the identical pair set. The timed cost
    // here includes the one-off index BUILD (the honest single-session
    // shape); production amortizes it across every subsequent batch.
    QueryDef("q49b_incremental_indexed",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val batch = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            expr("substring(text, instr(text, ' ') + 1)").as("text"),
            col("source"))
        // EXTERNAL table in a tmp location: a managed table's files
        // outlive the in-memory catalog, so a fresh JVM re-running this
        // query would hit LOCATION_ALREADY_EXISTS on the leftover
        // warehouse dir
        Dedup.writeBandIndex(docs, "q49b_idx",
          location = Some(s"${System.getProperty("java.io.tmpdir")}/graft_q49b_idx"))
        Dedup.incrementalNearDupPairsIndexed(s, batch, "q49b_idx")
      },
      Some(s"""WITH orig AS (SELECT doc_id, text, source FROM documents),
             |batch AS (SELECT doc_id + 1000000 AS doc_id,
             |                 substr(text, strpos(text, ' ') + 1) AS text, source
             |          FROM documents WHERE doc_id % 10 = 0),
             |g AS (SELECT unnest(generate_series(0, 15)) AS i),
             |tok1 AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM orig),
             |sh1 AS (SELECT doc_id, ${TextHash.shingleHashesOverSql("whs")} AS shs FROM tok1),
             |sig1 AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
             |                list_min(list_transform(shs, x -> ${TextHash.permuteSql("i", "x")})) AS mh
             |         FROM sh1, g WHERE len(shs) > 0),
             |bands1 AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                  sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |           FROM sig1 GROUP BY 1, 2),
             |tok2 AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM batch),
             |sh2 AS (SELECT doc_id, ${TextHash.shingleHashesOverSql("whs")} AS shs FROM tok2),
             |sig2 AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
             |                list_min(list_transform(shs, x -> ${TextHash.permuteSql("i", "x")})) AS mh
             |         FROM sh2, g WHERE len(shs) > 0),
             |bands2 AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                  sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |           FROM sig2 GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT b2.doc_id AS new_id, b1.doc_id AS old_id
             |         FROM bands2 b2 JOIN bands1 b1
             |           ON b2.band = b1.band AND b2.s = b1.s AND b2.mn = b1.mn AND b2.mx = b1.mx),
             |sets1 AS (SELECT doc_id, list_distinct(shs) AS st FROM sh1),
             |sets2 AS (SELECT doc_id, list_distinct(shs) AS st FROM sh2),
             |v AS (SELECT c.new_id, c.old_id,
             |             len(list_intersect(s2.st, s1.st)) AS inter,
             |             len(s2.st) + len(s1.st) - len(list_intersect(s2.st, s1.st)) AS uni
             |      FROM cand c JOIN sets2 s2 ON s2.doc_id = c.new_id
             |                  JOIN sets1 s1 ON s1.doc_id = c.old_id)
             |SELECT new_id, old_id, CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jacc
             |FROM v WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5""".stripMargin)),

    // The curation pipeline's end-to-end OUTPUT over a corpus carrying
    // BOTH injected exact duplicates and injected near-duplicates:
    // exact stage keeps min-id per content hash, near stage removes
    // LSH-component non-canonicals. The oracle replays the whole chain —
    // including exact-dup copies of near-dup copies collapsing in the
    // exact stage — down to a NOT EXISTS anti-join.
    QueryDef("q48_dedup_apply",
      (s, dir) => Dedup.dedupApply(
        Dedup.withNearDuplicates(Dedup.withExactDuplicates(Tables.load(s, dir, "documents")))),
      Some(s"""WITH RECURSIVE raw AS (
             |  SELECT doc_id, text, source FROM documents
             |  UNION ALL
             |  SELECT doc_id + 2000000 AS doc_id, text, source
             |  FROM documents WHERE doc_id % 7 = 0),
             |rawx AS (
             |  SELECT doc_id, text, source FROM raw
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text, source
             |  FROM raw WHERE doc_id % 10 = 0),
             |keep1 AS (SELECT min(doc_id) AS doc_id FROM rawx GROUP BY md5(text)),
             |corpus AS (SELECT r.doc_id, r.text, r.source FROM rawx r JOIN keep1 k ON r.doc_id = k.doc_id),
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |              AND a.doc_id < b.doc_id),
             |${jaccardCtes(blocked = false)},
             |edges AS (SELECT c.id_a, c.id_b
             |          FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
             |          WHERE j.jacc >= 0.5),
             |bi AS (SELECT id_a AS src, id_b AS dst FROM edges
             |       UNION ALL SELECT id_b, id_a FROM edges),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM bi
             |  UNION
             |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src),
             |canon AS (SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
             |          FROM reach GROUP BY src)
             |SELECT c.doc_id, c.source FROM corpus c
             |WHERE NOT EXISTS (SELECT 1 FROM canon n
             |                  WHERE n.doc_id = c.doc_id AND n.canonical_id != n.doc_id)""".stripMargin)),

    // Train-set decontamination: the near-dup corpus minus the benchmark
    // docs, flagged by shared 13-grams with the benchmark (docs ending in
    // the benchmark by id-rule: doc_id % 10 = 0 originals). Injected
    // near-dup copies share long runs with their originals, so they (and
    // any organic overlaps) must surface with exact hit counts.
    QueryDef("q47_decontaminate",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corpus = Dedup.withNearDuplicates(docs)
          .filter(!(col("doc_id") % 10 === 0 && col("doc_id") < 1000000))
        val bench = docs.filter(col("doc_id") % 10 === 0)
        Dedup.contaminatedDocs(corpus, bench)
      },
      Some(s"""WITH $nearDupCorpus,
             |tokc AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM corpus
             |         WHERE NOT (doc_id % 10 = 0 AND doc_id < 1000000)),
             |tokb AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM documents
             |         WHERE doc_id % 10 = 0),
             |gc AS (SELECT doc_id, unnest(list_distinct(${Dedup.gram13Sql("whs")})) AS g FROM tokc),
             |gb AS (SELECT DISTINCT unnest(${Dedup.gram13Sql("whs")}) AS g FROM tokb)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_grams
             |FROM gc JOIN gb USING (g) GROUP BY doc_id""".stripMargin)),

    // Bloom-prefiltered decontamination: bench grams fold into a 65536-
    // bit deterministic bloom (bit_or words, broadcast), corpus grams
    // pass only if all 3 positions are set, shortlist re-verified
    // exactly — shortlisted vs confirmed counts expose the FP rate
    QueryDef("q128_bloom_decon",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corpus = Dedup.withNearDuplicates(docs)
          .filter(!(col("doc_id") % 10 === 0 && col("doc_id") < 1000000))
        val bench = docs.filter(col("doc_id") % 10 === 0)
        Dedup.bloomDecontaminate(corpus, bench)
      },
      Some(s"""WITH $nearDupCorpus,
             |tokc AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM corpus
             |         WHERE NOT (doc_id % 10 = 0 AND doc_id < 1000000)),
             |tokb AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM documents
             |         WHERE doc_id % 10 = 0),
             |gc AS (SELECT doc_id, unnest(list_distinct(${Dedup.gram13Sql("whs")})) AS g FROM tokc),
             |gb AS (SELECT DISTINCT unnest(${Dedup.gram13Sql("whs")}) AS g FROM tokb),
             |bpos AS (SELECT (${TextHash.permuteSql("i", "g")}) % 65536 AS p
             |         FROM (SELECT g, unnest([0, 1, 2]) AS i FROM gb)),
             |bf AS (SELECT p // 63 AS w,
             |              bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS bits
             |       FROM bpos GROUP BY 1),
             |cpos AS (SELECT doc_id, g, (${TextHash.permuteSql("i", "g")}) % 65536 AS p
             |         FROM (SELECT doc_id, g, unnest([0, 1, 2]) AS i FROM gc)),
             |chk AS (SELECT doc_id, g,
             |               sum(CASE WHEN (bf.bits & (CAST(1 AS BIGINT) << CAST(cpos.p % 63 AS INTEGER)))
             |                             = (CAST(1 AS BIGINT) << CAST(cpos.p % 63 AS INTEGER))
             |                        THEN 1 ELSE 0 END) AS n_set
             |        FROM cpos LEFT JOIN bf ON bf.w = cpos.p // 63
             |        GROUP BY 1, 2),
             |short AS (SELECT doc_id, g FROM chk WHERE n_set = 3),
             |conf AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_confirmed
             |         FROM short s JOIN gb ON gb.g = s.g GROUP BY 1)
             |SELECT sh.doc_id, sh.n_shortlisted, coalesce(conf.n_confirmed, 0) AS n_confirmed
             |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shortlisted
             |      FROM short GROUP BY 1) sh
             |LEFT JOIN conf ON conf.doc_id = sh.doc_id""".stripMargin)),

    // duplicated-span mining (Lee et al. 2021's exact-substring dedup,
    // k-gram approximation): per-doc fraction of 13-gram windows that
    // occur in >= 2 distinct docs of the corpus — corpus-vs-ITSELF
    // decontamination, two linear shuffles on the gram hash, no pair step
    QueryDef("q75_duplicate_spans",
      (s, dir) => Dedup.duplicateSpans(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some(s"""WITH $nearDupCorpus,
             |tok AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM corpus),
             |gs AS (SELECT doc_id, unnest(${Dedup.gram13Sql("whs")}) AS g FROM tok),
             |dg AS (SELECT g FROM gs GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
             |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM gs GROUP BY doc_id),
             |dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
             |        FROM gs JOIN dg USING (g) GROUP BY doc_id)
             |SELECT t.doc_id, t.n_spans, COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
             |       CAST(COALESCE(d.n_dup_spans, 0) AS DOUBLE) / CAST(t.n_spans AS DOUBLE) AS dup_frac
             |FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id""".stripMargin)),

    // winnow-fingerprint near-dup pairs: candidates from shared window
    // minima (the MOSS index), verified with exact Jaccard — a third
    // bucketed pair-generator family with a contiguous-run recall shape
    QueryDef("q66_winnow_pairs",
      (s, dir) => Dedup.winnowPairs(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some(s"""WITH $nearDupCorpus,
             |$shingleCtes,
             |wf AS (SELECT DISTINCT doc_id, fp FROM
             |       (SELECT doc_id, unnest(${TextHash.winnowOverSql("shs", 4)}) AS fp FROM sh)),
             |rare AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= ${Dedup.DefaultMaxFpDf}),
             |wk AS (SELECT w.doc_id, w.fp FROM wf w JOIN rare USING (fp)),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM wk a JOIN wk b ON a.fp = b.fp AND a.doc_id < b.doc_id),
             |sets AS (SELECT doc_id, list_distinct(shs) AS st FROM sh),
             |v AS (SELECT id_a, id_b,
             |             len(list_intersect(sa.st, sb.st)) AS inter,
             |             len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st)) AS uni
             |      FROM cand JOIN sets sa ON sa.doc_id = id_a
             |                JOIN sets sb ON sb.doc_id = id_b)
             |SELECT id_a, id_b, CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jacc
             |FROM v WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5""".stripMargin)),

    // dedup-family eval harness (the q127 analog for pair generation):
    // per family, candidate precision/recall vs the unblocked exact-
    // Jaccard ground truth — the parameter-tuning numbers a 100 TB run
    // is sized by. The oracle replays every family's exact predicate
    // plus the truth set and counts the joins.
    QueryDef("q162_dedup_family_eval",
      (s, dir) => Dedup.dedupFamilyEval(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some {
        val bits = 24
        val sums = (0 until bits).map(b =>
          simhashBitSql(b)).mkString(", ")
        val packed = (0 until bits).map(b =>
          s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
        s"""WITH $nearDupCorpus,
           |$shingleCtes,
           |${jaccardCtes(blocked = false)},
           |truth AS (SELECT id_a, id_b FROM jac WHERE jacc >= 0.5),
           |$sigCte,
           |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
           |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
           |          FROM sig GROUP BY 1, 2),
           |mcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |          FROM bands a JOIN bands b
           |            ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
           |               AND a.doc_id < b.doc_id),
           |sx AS (SELECT doc_id, unnest(whs) AS wh FROM tok),
           |ssum AS (SELECT doc_id, $sums FROM sx GROUP BY 1),
           |shh AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS simhash, c.source
           |        FROM ssum s JOIN corpus c ON c.doc_id = s.doc_id),
           |scand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |          FROM shh a JOIN shh b ON a.source = b.source AND a.doc_id < b.doc_id
           |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
           |wf AS (SELECT DISTINCT doc_id, fp FROM
           |       (SELECT doc_id, unnest(${TextHash.winnowOverSql("shs", 4)}) AS fp FROM sh)),
           |rare AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= ${Dedup.DefaultMaxFpDf}),
           |wk AS (SELECT w.doc_id, w.fp FROM wf w JOIN rare USING (fp)),
           |wcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |          FROM wk a JOIN wk b ON a.fp = b.fp AND a.doc_id < b.doc_id),
           |m AS (
           |  SELECT 'minhash_lsh' AS family,
           |         (SELECT count(*) FROM mcand) AS n_candidates,
           |         (SELECT count(*) FROM mcand JOIN truth USING (id_a, id_b)) AS tp
           |  UNION ALL
           |  SELECT 'simhash',
           |         (SELECT count(*) FROM scand),
           |         (SELECT count(*) FROM scand JOIN truth USING (id_a, id_b))
           |  UNION ALL
           |  SELECT 'winnow',
           |         (SELECT count(*) FROM wcand),
           |         (SELECT count(*) FROM wcand JOIN truth USING (id_a, id_b)))
           |SELECT family, CAST(n_candidates AS BIGINT) AS n_candidates,
           |       CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           |       CAST(tp AS BIGINT) AS tp,
           |       CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE) AS prec,
           |       CAST(tp AS DOUBLE) / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall
           |FROM m""".stripMargin
      }),

    // AUTOMATED LSH parameter choice: q162's harness turned into the
    // 100-TB sizing loop — sweep the (numHashes, rowsPerBand) grid,
    // measure every point's candidate precision/recall against the one
    // exact-Jaccard truth pass, and pick the highest-recall point whose
    // candidate count fits a RELATIVE budget (3x truth; an absolute
    // count wouldn't transfer across corpus scales). The oracle replays
    // the whole sweep off ONE 64-hash signature table (each shorter
    // signature is its `i < numHashes` prefix — same permutations) and
    // the same deterministic tie-break window.
    QueryDef("q205_lsh_autotune",
      (s, dir) => Dedup.lshParameterSweep(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some {
        val points = Dedup.DefaultSweepGrid.map { case (nh, rpb) =>
          s"""SELECT $nh AS num_hashes, $rpb AS rows_per_band, ${nh / rpb} AS bands,
             |       (SELECT count(*) FROM cand_${nh}_$rpb) AS n_candidates,
             |       (SELECT count(*) FROM cand_${nh}_$rpb JOIN truth USING (id_a, id_b)) AS tp""".stripMargin
        }.mkString("\nUNION ALL\n")
        val bandCtes = Dedup.DefaultSweepGrid.map { case (nh, rpb) =>
          s"""bands_${nh}_$rpb AS (
             |  SELECT doc_id, CAST(i // $rpb AS INTEGER) AS band,
             |         sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |  FROM sig64 WHERE i < $nh GROUP BY 1, 2),
             |cand_${nh}_$rpb AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands_${nh}_$rpb a JOIN bands_${nh}_$rpb b
             |    ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |       AND a.doc_id < b.doc_id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $nearDupCorpus,
           |$shingleCtes,
           |${jaccardCtes(blocked = false)},
           |truth AS (SELECT id_a, id_b FROM jac WHERE jacc >= 0.5),
           |g64 AS (SELECT unnest(generate_series(0, 63)) AS i),
           |sig64 AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
           |                 list_min(list_transform(shs, s -> ${TextHash.permuteSql("i", "s")})) AS mh
           |          FROM sh, g64 WHERE len(shs) > 0),
           |$bandCtes,
           |m AS ($points),
           |r AS (SELECT CAST(num_hashes AS INTEGER) AS num_hashes,
           |             CAST(rows_per_band AS INTEGER) AS rows_per_band,
           |             CAST(bands AS INTEGER) AS bands,
           |             CAST(n_candidates AS BIGINT) AS n_candidates,
           |             CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           |             CAST(tp AS BIGINT) AS tp,
           |             CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE) AS prec,
           |             CAST(tp AS DOUBLE) / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall,
           |             CAST(n_candidates AS DOUBLE)
           |               <= 3.0 * CAST((SELECT count(*) FROM truth) AS DOUBLE) AS fits_budget
           |      FROM m)
           |SELECT *, row_number() OVER (ORDER BY fits_budget DESC, recall DESC,
           |                             n_candidates ASC, num_hashes ASC,
           |                             rows_per_band ASC) = 1 AS chosen
           |FROM r""".stripMargin
      }),

    // ENSEMBLE dedup: union of all three pair families (MinHash/LSH +
    // SimHash + winnow) -> connected components -> one survivor per
    // group. The oracle replays each family's exact predicate, unions
    // the edge sets, and closes them with recursive reachability — the
    // full production dedup story under one hash gate. The SimHash
    // family's oracle form is deliberately EXHAUSTIVE (every same-source
    // pair within hamming 6) while the Spark side proposes in q45c's
    // star form: quadratic pairs are affordable at verification scale,
    // and keeping the oracle on the reference form means the hash gate
    // independently proves the star approximation loses no survivor on
    // this corpus instead of replaying the same shortcut on both sides
    // (a star-only-reachable pair whose endpoints both fail the
    // rep-Jaccard gate would fail this gate, not slip through it).
    QueryDef("q113_ensemble_dedup",
      (s, dir) => Dedup.ensembleDedupApply(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some(ensembleOracle)),

    // the measured-plan twin of q113 (round-12 verdict #5): the
    // ensemble's rep-edge banding runs at the floored chooser's (m, c)
    // pick instead of the static rule — survivors are IDENTICAL (every
    // exact plan is pigeonhole-exact; same oracle), only the candidate
    // cost moves, and the ×64/×256 scaling rows carry the evidence that
    // the calibrated pick's ~20% saving reaches the ensemble too
    QueryDef("q113b_ensemble_measured",
      (s, dir) => {
        val corpus = Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))
        Dedup.ensembleDedupApply(corpus,
          simhashPlan = Some(Dedup.measuredSimhashPlan(corpus)))
      },
      Some(ensembleOracle)),

    // deterministic sharded export manifest: stable content-hash shard
    // routing + per-shard digest of the sorted doc hashes — two jobs
    // prove export equality by diffing manifests, never payloads
    QueryDef("q114_shard_manifest",
      (s, dir) => Curation.shardManifest(Tables.load(s, dir, "documents"), 8),
      Some("""WITH d AS (SELECT md5(text) AS h FROM documents),
             |v AS (SELECT h, list_reduce(list_transform(generate_series(1, 8),
             |        i -> CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 1 AS BIGINT)),
             |        (a, b) -> a * 16 + b) % 8 AS shard
             |      FROM d)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |       md5(array_to_string(list_sort(list(h)), ',')) AS content_md5
             |FROM v GROUP BY 1""".stripMargin)),

    // exact heavy hitters through a bounded-memory Misra-Gries candidate
    // pass (custom TypedImperativeAggregate) + exact re-count of the <= k-1
    // candidates; the oracle computes the true frequency filter directly,
    // so a sketch bug that drops a real heavy hitter mismatches
    QueryDef("q61_heavy_hitters",
      (s, dir) => TextAnalysis.heavyHitters(Tables.load(s, dir, "documents"), 30),
      Some(s"""WITH tok AS (
             |  SELECT unnest(${TextHash.wordHashesSql("text")}) AS wh FROM documents),
             |c AS (SELECT wh, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY wh)
             |SELECT wh, cnt FROM c
             |WHERE cnt * 30 > (SELECT count(*) FROM tok)""".stripMargin)),

    // per-GROUP heavy hitters: one bounded Misra-Gries sketch per lang
    // (map-side partials merged per group) + exact re-count on the
    // compound (group, token) key — candidates are NOT broadcast because
    // the candidate set grows with the group count
    QueryDef("q79_group_heavy_hitters",
      (s, dir) => TextAnalysis.groupHeavyHitters(
        Tables.load(s, dir, "documents"), "lang", 40),
      Some(s"""WITH tok AS (
             |  SELECT lang, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM documents),
             |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS total FROM tok GROUP BY lang),
             |c AS (SELECT lang, wh, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY lang, wh)
             |SELECT c.lang, c.wh, c.cnt FROM c JOIN tot USING (lang)
             |WHERE c.cnt * 40 > tot.total""".stripMargin)),

    // TF-IDF top terms per doc with a RATIONAL idf ((tf/len)·(N/df) —
    // log is a libm call whose rounding differs across engines and the
    // monotone transform doesn't change the ranking); vocabulary-sized
    // df table equi-joined, never broadcast
    QueryDef("q83_tfidf",
      (s, dir) => TextAnalysis.tfIdfTopTerms(Tables.load(s, dir, "documents"), 3),
      Some(s"""WITH tok AS (
             |  SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM documents),
             |tf AS (SELECT doc_id, wh, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
             |ln AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY 1),
             |df AS (SELECT wh, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
             |sc AS (SELECT tf.doc_id, tf.wh, tf.tf, df.df,
             |              (CAST(tf.tf AS DOUBLE) / CAST(ln.len AS DOUBLE))
             |                * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
             |       FROM tf JOIN ln USING (doc_id) JOIN df USING (wh) CROSS JOIN n),
             |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             |                       ORDER BY score DESC, wh) AS INTEGER) AS rank FROM sc)
             |SELECT doc_id, wh, tf, df, score, rank FROM r WHERE rank <= 3""".stripMargin)),

    // Z-order (Morton) clustering key — the multi-column data-skipping
    // layout (Delta/Iceberg OPTIMIZE ZORDER): bit-interleave two scan
    // dimensions; ZOrderSpec proves the file-pruning effect, this row
    // hash-gates the interleave arithmetic itself against unrolled
    // bitwise SQL
    QueryDef("q80_zorder_key",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          graft.operators.ZOrder.zValue(
            col("user_id"), floor(col("value") * 1000).cast("long")).as("zkey")),
      Some(s"""SELECT event_id,
             |  ${graft.operators.ZOrder.zValueSql("user_id", "CAST(floor(value * 1000) AS BIGINT)")} AS zkey
             |FROM events""".stripMargin)),

    // winnowed fingerprints (MOSS): per-doc distinct sliding-window minima
    // of the shingle hashes — the storage-bounded fingerprint set a
    // plagiarism/overlap detector indexes; native deque expression vs the
    // oracle's O(m·w) windowed form
    QueryDef("q59_winnow",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextHash.winnowHashes(col("text"), 4)).as("fp")),
      Some(s"""WITH tok AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM documents),
             |sh AS (SELECT doc_id, ${TextHash.shingleHashesOverSql("whs")} AS shs FROM tok)
             |SELECT doc_id, unnest(${TextHash.winnowOverSql("shs", 4)}) AS fp FROM sh""".stripMargin)),

    // ==== curation: PII / packing / mixture ================================

    // PII scrub over a corpus with deterministic injected contacts (the
    // synthetic docs carry none): email/phone/IPv4 counts + the md5 of the
    // redacted text, so a placeholder-substitution bug mismatches the
    // oracle. Regex patterns are shared constants rendered into both
    // engines (Java regex and RE2 agree on this subset).
    QueryDef("q56_pii_redact",
      (s, dir) => Curation.redactPii(
        Curation.withInjectedPii(Tables.load(s, dir, "documents"))),
      Some(s"""WITH pii AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 5 = 0
             |              THEN text || ' contact user' || doc_id || '@example.com or +1-555-'
             |                   || (doc_id % 10000) || ' at 10.' || (doc_id % 256) || '.0.' || (doc_id % 200)
             |              ELSE text END AS text
             |  FROM documents)
             |SELECT doc_id,
             |       CAST(len(regexp_extract_all(text, '${Curation.EmailRe}')) AS INTEGER) AS n_emails,
             |       CAST(len(regexp_extract_all(text, '${Curation.PhoneRe}')) AS INTEGER) AS n_phones,
             |       CAST(len(regexp_extract_all(text, '${Curation.IpRe}')) AS INTEGER) AS n_ips,
             |       md5(regexp_replace(regexp_replace(regexp_replace(text,
             |           '${Curation.EmailRe}', '<EMAIL>', 'g'),
             |           '${Curation.PhoneRe}', '<PHONE>', 'g'),
             |           '${Curation.IpRe}', '<IP>', 'g')) AS redacted_md5
             |FROM pii""".stripMargin)),

    // Count-Min sketch, built declaratively (groupBy IS the merge) with
    // seeded affine hashes — the whole construction replays in SQL, so
    // the point estimates AND the one-sided error are hash-gated
    QueryDef("q112_countmin",
      (s, dir) => TextAnalysis.countMinEstimates(
        Tables.load(s, dir, "documents"), rows = 4, width = 256),
      Some(s"""WITH tok AS (SELECT unnest(${TextHash.wordHashesSql("text")}) AS wh FROM documents),
             |rr AS (SELECT unnest(generate_series(0, 3)) AS r),
             |cells AS (SELECT r, ((wh * (1000003 + r * 2) + r) % $P) % 256 AS c
             |          FROM tok CROSS JOIN rr),
             |counters AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
             |             FROM cells GROUP BY 1, 2),
             |ex AS (SELECT wh, CAST(count(*) AS BIGINT) AS exact FROM tok GROUP BY 1),
             |probes AS (SELECT wh, exact, r,
             |                  ((wh * (1000003 + r * 2) + r) % $P) % 256 AS c
             |           FROM ex CROSS JOIN rr)
             |SELECT p.wh, min(ct.cnt) AS est, p.exact
             |FROM probes p JOIN counters ct ON ct.r = p.r AND ct.c = p.c
             |GROUP BY p.wh, p.exact""".stripMargin)),

    // linear classifier inference (fastText shape): hashed features +
    // sequential fold + length normalization; seeded stand-in weights,
    // real plumbing — swap one expression for trained weights
    QueryDef("q105_linear_classifier",
      (s, dir) => TextAnalysis.linearScore(Tables.load(s, dir, "documents")),
      Some(s"""WITH t AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM documents),
             |sc AS (SELECT doc_id,
             |         list_reduce(list_transform(whs,
             |             wh -> CAST((wh * 2654435761) % $P % 2001 - 1000 AS DOUBLE) / 1000.0),
             |           (x, y) -> x + y) / CAST(len(whs) AS DOUBLE) AS score
             |       FROM t WHERE len(whs) > 0)
             |SELECT doc_id, score, score > 0.0 AS keep FROM sc""".stripMargin)),

    // pseudonymization + k-anonymity release gate: affine pseudonym
    // replaces the id, quasi-identifier cells suppress when the (type,
    // day) group holds < 50 distinct users (38/150 groups at sf0.01 —
    // both branches run every round)
    QueryDef("q106_kanon",
      (s, dir) => Curation.pseudonymizeKAnon(
        Tables.events(s, dir).select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"),
          col("event_id"), col("value")),
        "user_id", Seq("event_type", "day"), k = 50),
      Some("""WITH e AS (SELECT user_id, event_type,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |                  event_id, value
             |           FROM events),
             |g AS (SELECT event_type, day, count(DISTINCT user_id) AS u
             |      FROM e GROUP BY 1, 2)
             |SELECT (e.user_id * 48271 + 1234567) % 1000000007 AS pseudo_id,
             |       CASE WHEN NOT (g.u < 50) THEN e.event_type END AS event_type,
             |       CASE WHEN NOT (g.u < 50) THEN e.day END AS day,
             |       e.event_id, e.value, g.u < 50 AS suppressed
             |FROM e JOIN g USING (event_type, day)""".stripMargin)),

    // per-group min-max feature scaling (constant groups null out, no
    // division blow-up): group extremes are selections (exact), the
    // scaled value is one fixed-order double division
    QueryDef("q116_feature_scale",
      (s, dir) => graft.operators.QualityChecks.minMaxScale(
        Tables.load(s, dir, "documents"), "source", "n_chars", Seq("doc_id")),
      Some("""WITH ext AS (SELECT source, min(n_chars) AS mn, max(n_chars) AS mx
             |             FROM documents GROUP BY 1)
             |SELECT d.doc_id, d.source, d.n_chars,
             |       CASE WHEN ext.mx > ext.mn
             |            THEN CAST(d.n_chars - ext.mn AS DOUBLE) / CAST(ext.mx - ext.mn AS DOUBLE)
             |       END AS scaled
             |FROM documents d JOIN ext USING (source)""".stripMargin)),

    // canonical text normalization over the PII-injected corpus (the only
    // variant with punctuation to strip): lowercase, non-alphanumerics to
    // spaces, runs collapsed — md5-gated so a single byte of drift fails
    QueryDef("q94_normalize",
      (s, dir) => Curation.normalizeText(
          Curation.withInjectedPii(Tables.load(s, dir, "documents")), "text")
        .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
          length(col("norm")).as("n_chars_norm")),
      Some(s"""WITH pii AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 5 = 0
             |              THEN text || ' contact user' || doc_id || '@example.com or +1-555-'
             |                   || (doc_id % 10000) || ' at 10.' || (doc_id % 256) || '.0.' || (doc_id % 200)
             |              ELSE text END AS text
             |  FROM documents)
             |SELECT doc_id, md5(${Curation.normalizeTextSql("text")}) AS norm_md5,
             |       CAST(length(${Curation.normalizeTextSql("text")}) AS INTEGER) AS n_chars_norm
             |FROM pii""".stripMargin)),

    // overlapping sliding-window chunking (the RAG / long-doc splitter):
    // chunk k = tokens [k*8, k*8+16); md5 gates exact chunk content
    QueryDef("q96_chunk",
      (s, dir) => Curation.chunkDocs(
        Tables.load(s, dir, "documents"), chunkSize = 16, stride = 8),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |k AS (SELECT doc_id, tk,
             |             unnest(generate_series(0, (len(tk) - 1) // 8)) AS ci
             |      FROM t WHERE len(tk) > 0),
             |c AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
             |             tk[(ci*8 + 1):(ci*8 + 16)] AS ch
             |      FROM k)
             |SELECT doc_id, chunk_idx, CAST(len(ch) AS INTEGER) AS chunk_tokens,
             |       md5(array_to_string(ch, ' ')) AS chunk_md5
             |FROM c""".stripMargin)),

    // deterministic concat-and-chunk packing into 1024-token windows,
    // per-source (a GLOBAL packing order would serialize one partition)
    QueryDef("q57_sequence_pack",
      (s, dir) => Curation.sequencePack(Tables.load(s, dir, "documents"), 1024),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, n_tokens,
             |         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
             |  FROM t)
             |SELECT doc_id, source, n_tokens,
             |       CAST(start // 1024 AS BIGINT) AS bin,
             |       CAST(start % 1024 AS BIGINT) AS off
             |FROM c""".stripMargin)),

    // pack-bin assembly: the training-batch materialization downstream of
    // q57 — doc ids per (source, bin) in deterministic order + token count
    QueryDef("q57b_pack_assembly",
      (s, dir) => Curation.packAssembly(Tables.load(s, dir, "documents"), 1024),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, n_tokens,
             |         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
             |  FROM t)
             |SELECT source, CAST(start // 1024 AS BIGINT) AS bin,
             |       list_aggregate(list_sort(list(doc_id)), 'string_agg', ',') AS doc_ids,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
             |FROM c GROUP BY 1, 2""".stripMargin)),

    // rule-table quality filtering with reason codes (first failing rule
    // names the verdict; thresholds calibrated to split the corpus)
    QueryDef("q64_quality_verdicts",
      (s, dir) => Curation.qualityVerdicts(Tables.load(s, dir, "documents")),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |m AS (
             |  SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
             |         CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS ttr,
             |         CAST(len(list_filter(tk, w -> w IN ('the', 'a'))) AS DOUBLE)
             |           / CAST(len(tk) AS DOUBLE) AS stop_ratio
             |  FROM t)
             |SELECT doc_id, n_tokens, ttr, stop_ratio,
             |       CASE WHEN n_tokens < 20 THEN 'too_short'
             |            WHEN ttr < 0.35 THEN 'low_ttr'
             |            WHEN stop_ratio > 0.12 THEN 'high_stop'
             |            ELSE 'ok' END AS reason,
             |       CASE WHEN n_tokens < 20 THEN 'too_short'
             |            WHEN ttr < 0.35 THEN 'low_ttr'
             |            WHEN stop_ratio > 0.12 THEN 'high_stop'
             |            ELSE 'ok' END = 'ok' AS keep
             |FROM m""".stripMargin)),

    // epoch-weighted mixture sampling: src0 2.25 epochs, src1 0.5, src2
    // 1.0, src3 0.75 — binary-exact fractions so both engines compute the
    // same bucket threshold; the extra copy is content-hash gated
    QueryDef("q58_mixture_sample",
      // src3's 0.3 is deliberately NOT binary-exact: its fractional
      // product is 299.999…97, so this row exercises the cross-engine
      // floor contract (see Curation.mixtureSample) on every run
      (s, dir) => Curation.mixtureSample(Tables.load(s, dir, "documents"),
        Map("src0" -> 2.25, "src1" -> 0.5, "src2" -> 1.0, "src3" -> 0.3)),
      Some(s"""WITH w AS (
             |  SELECT doc_id, source, text,
             |         CASE source WHEN 'src0' THEN 2.25 WHEN 'src1' THEN 0.5
             |                     WHEN 'src2' THEN 1.0 WHEN 'src3' THEN 0.3
             |                     ELSE 1.0 END AS wt
             |  FROM documents),
             |n AS (
             |  SELECT doc_id, source,
             |         CAST(floor(wt) AS INTEGER)
             |         + CASE WHEN ${Curation.gateHashSql(TextHash.polyHashSql("text"), 1000L)}
             |                     < CAST(floor((wt - floor(wt)) * 1000) AS BIGINT)
             |                THEN 1 ELSE 0 END AS n_copies
             |  FROM w)
             |SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS copy
             |FROM n WHERE n_copies >= 1""".stripMargin)),

    // ==== similarity search ================================================

    QueryDef("q50_embed_norms",
      (s, dir) => Similarity.norms(Tables.load(s, dir, "embeddings")),
      Some(s"""SELECT vec_id, ${Similarity.fnormSql("embedding")} AS norm
             |FROM embeddings""".stripMargin)),

    QueryDef("q51_ann_bruteforce",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 10)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
             |scored AS (SELECT query_id, vec_id, ${Similarity.cosineSql("q_emb", "embedding")} AS cos
             |           FROM embeddings, q WHERE vec_id != query_id),
             |r AS (SELECT query_id, vec_id, cos,
             |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
             |      FROM scored)
             |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 10""".stripMargin)),

    QueryDef("q52_ann_ivf",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
             |           FROM embeddings WHERE vec_id < 10),
             |scored AS (SELECT query_id, vec_id, ${Similarity.cosineSql("q_emb", "embedding")} AS cos
             |           FROM embeddings, q WHERE label = q_label AND vec_id != query_id),
             |r AS (SELECT query_id, vec_id, cos,
             |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
             |      FROM scored)
             |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5""".stripMargin)),

    // IVF over a LEARNED coarse quantizer: k-medians cells (deterministic
    // init + 2 fixed Lloyd rounds, medians spelled out so both engines
    // run the same arithmetic), nprobe=2 probing. The oracle unrolls the
    // training loop round for round — the learned centroids themselves
    // are hash-gated through the final top-k, not just the probe join.
    // Recall vs brute force on true near neighbors is pinned >= 0.95
    // (measured 1.0) in SimilaritySpec.
    QueryDef("q52b_ann_ivf_learned",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.ivfLearnedTopK(emb.filter(col("vec_id") < 10), emb, 5,
          kCells = 8, nprobe = 2, iters = 2)
      },
      Some(ivfLearnedOracleSql(kCells = 8, nprobe = 2, k = 5, iters = 2))),

    QueryDef("q53_embed_neardup",
      (s, dir) => Similarity.hyperplaneLshNearDupPairs(
        Similarity.withNearDupEmbeddings(Tables.load(s, dir, "embeddings")), 0.9),
      // The oracle is the EXACT all-pairs formulation over the same
      // augmented corpus — the LSH banding (Similarity scaladoc) has
      // per-pair miss probability < 3e-5 at cos ≥ 0.9 and is verified
      // exhaustively recall-1.0 on the fixed testdata (SimilaritySpec),
      // so the deterministic sketch reproduces the exact output here.
      Some(s"""WITH $augEmbCte,
             |n AS (SELECT vec_id, embedding, ${Similarity.fnormSql("embedding")} AS norm FROM aug)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |       ${Similarity.fdotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cos
             |FROM n a JOIN n b ON a.vec_id < b.vec_id
             |WHERE ${Similarity.fdotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) >= 0.9""".stripMargin)),

    // SemDeDup (Abbas et al. 2023) end-to-end: q53's near-dup pairs →
    // q46's min-label connected components → anti-join survivors. The
    // oracle replays exact all-pairs edges + recursive reachability; the
    // Spark side's LSH candidate generation reproduces the exact edge set
    // on this corpus (recall 1.0, SimilaritySpec), so survivors hash-gate.
    QueryDef("q67_semantic_dedup",
      (s, dir) => Similarity.semDedupApply(
        Similarity.withNearDupEmbeddings(Tables.load(s, dir, "embeddings")), 0.9),
      Some(s"""WITH RECURSIVE $augEmbCte,
             |n AS (SELECT vec_id, embedding, ${Similarity.fnormSql("embedding")} AS norm FROM aug),
             |edges AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |          FROM n a JOIN n b ON a.vec_id < b.vec_id
             |          WHERE ${Similarity.fdotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) >= 0.9),
             |bi AS (SELECT id_a AS src, id_b AS dst FROM edges
             |       UNION ALL SELECT id_b, id_a FROM edges),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM bi
             |  UNION
             |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src),
             |noncanon AS (SELECT src AS vec_id FROM reach GROUP BY src
             |             HAVING least(src, min(dst)) < src)
             |SELECT a.vec_id, a.label FROM aug a
             |WHERE a.vec_id NOT IN (SELECT vec_id FROM noncanon)""".stripMargin)),

    // SEMANTIC decontamination (the embedding analog of q47): train =
    // the raw corpus, benchmark = the injected perturbed copies; train
    // rows within cos >= 0.9 of any benchmark row are dropped. The
    // oracle is the exact cross-split all-pairs form; the banded
    // sign-sketch reproduces it on this corpus (recall 1.0,
    // SimilaritySpec).
    QueryDef("q159_semantic_decon",
      (s, dir) => {
        val aug = Similarity.withNearDupEmbeddings(Tables.load(s, dir, "embeddings"))
        Similarity.semanticDecontaminate(
          aug.filter(col("vec_id") < 1000000),
          aug.filter(col("vec_id") >= 1000000), 0.9)
      },
      Some(s"""WITH $augEmbCte,
             |tr AS (SELECT vec_id, label, embedding, ${Similarity.fnormSql("embedding")} AS norm
             |       FROM aug WHERE vec_id < 1000000),
             |hd AS (SELECT vec_id, embedding, ${Similarity.fnormSql("embedding")} AS norm
             |       FROM aug WHERE vec_id >= 1000000),
             |bad AS (SELECT DISTINCT t.vec_id
             |        FROM tr t, hd h
             |        WHERE ${Similarity.fdotSql("t.embedding", "h.embedding")} / (t.norm * h.norm) >= 0.9)
             |SELECT vec_id, label FROM tr
             |WHERE vec_id NOT IN (SELECT vec_id FROM bad)""".stripMargin)),

    // Incremental embedding dedup through the PERSISTED sign-sketch index
    // (the SemDeDup arrival path): corpus bands + vectors are bucketed
    // catalog tables, the batch joins them in place. Timed cost includes
    // the one-off index build (same honest shape as q49b); the oracle is
    // the exact batch x corpus cosine recompute — LSH recall is 1.0 on
    // this corpus (SimilaritySpec), so the indexed sketch must reproduce
    // the exact pair set.
    QueryDef("q95_incremental_embdup",
      (s, dir) => {
        val corpus = Tables.load(s, dir, "embeddings")
        Similarity.writeEmbIndex(corpus, "q95_idx",
          location = Some(s"${System.getProperty("java.io.tmpdir")}/graft_q95_idx"))
        Similarity.incrementalEmbNearDupsIndexed(
          s, Similarity.nearDupBatch(corpus), "q95_idx", 0.9)
      },
      Some(s"""WITH batch AS (
             |  SELECT orig_id + 1000000 AS vec_id,
             |         list_transform(generate_series(1, len(emb0)),
             |           j -> CAST(CAST(emb0[j] AS DOUBLE)
             |                     + (CAST((orig_id*31 + (j-1)*7 + 1) % 97 AS DOUBLE)/3880.0 - 0.0125) AS FLOAT)) AS embedding
             |  FROM (SELECT vec_id AS orig_id, embedding AS emb0
             |        FROM embeddings WHERE vec_id % 10 = 0)),
             |nb AS (SELECT vec_id, embedding, ${Similarity.fnormSql("embedding")} AS norm FROM batch),
             |no AS (SELECT vec_id, embedding, ${Similarity.fnormSql("embedding")} AS norm FROM embeddings)
             |SELECT b.vec_id AS new_id, o.vec_id AS old_id,
             |       ${Similarity.fdotSql("b.embedding", "o.embedding")} / (b.norm * o.norm) AS cos
             |FROM nb b, no o
             |WHERE ${Similarity.fdotSql("b.embedding", "o.embedding")} / (b.norm * o.norm) >= 0.9""".stripMargin)),

    // Int8 shortlist + exact rerank cascade (Similarity scaladoc): the
    // oracle replays quantize → dequantized scoring → shortlist window →
    // exact-cosine rerank window in lockstep.
    QueryDef("q55_ann_quantized_rerank",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.ivfQuantizedTopK(emb.filter(col("vec_id") < 10), emb, 5, 20)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label,
             |                ${Similarity.fnormSql("embedding")} AS q_norm
             |           FROM embeddings WHERE vec_id < 10),
             |c0 AS (SELECT vec_id, label, embedding,
             |              list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mn,
             |              (list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             |               - list_min(list_transform(embedding, x -> CAST(x AS DOUBLE)))) / 255.0 AS scale
             |       FROM embeddings),
             |c1 AS (SELECT vec_id, label, embedding, mn, scale,
             |              CASE WHEN scale > 0.0
             |                   THEN list_transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) - mn) / scale) AS INTEGER))
             |                   ELSE list_transform(embedding, x -> 0) END AS qcode
             |       FROM c0),
             |c2 AS (SELECT vec_id, label, embedding,
             |              list_transform(qcode, qq -> CAST(mn + CAST(qq AS DOUBLE) * scale AS FLOAT)) AS deq
             |       FROM c1),
             |scored AS (SELECT query_id, vec_id, embedding, q_emb, q_norm,
             |                  ${Similarity.fdotSql("deq", "q_emb")} / (${Similarity.fnormSql("deq")} * q_norm) AS qcos
             |           FROM c2, q WHERE label = q_label AND vec_id != query_id),
             |short AS (SELECT query_id, vec_id, embedding, q_emb, q_norm,
             |                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, vec_id) AS INTEGER) AS srank
             |          FROM scored),
             |rer AS (SELECT query_id, vec_id,
             |               ${Similarity.fdotSql("q_emb", "embedding")} / (q_norm * ${Similarity.fnormSql("embedding")}) AS cos
             |        FROM short WHERE srank <= 20),
             |r AS (SELECT query_id, vec_id, cos,
             |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
             |      FROM rer)
             |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5""".stripMargin)),

    QueryDef("q54_embed_quantize",
      (s, dir) => Similarity.quantizeInt8(Tables.load(s, dir, "embeddings")),
      Some("""WITH d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |           FROM embeddings),
             |m AS (SELECT vec_id, v, list_min(v) AS mn, (list_max(v) - list_min(v)) / 255.0 AS scale FROM d),
             |g AS (SELECT vec_id, v, mn, scale, unnest(generate_series(1, len(v))) AS j FROM m)
             |SELECT vec_id, CAST(j - 1 AS INTEGER) AS i,
             |       CAST(CASE WHEN scale > 0.0 THEN round((v[j] - mn) / scale) ELSE 0.0 END AS INTEGER) AS q
             |FROM g""".stripMargin)),

    // ==== multimodal plumbing ==============================================

    // The Spark side PNG-encodes real images and emits stats from the
    // DECODED raster; the oracle derives the same stats arithmetically
    // from the md5 pixel-generation formula (pixels cycle through the 16
    // digest bytes), never touching a PNG — so any codec round-trip bug
    // mismatches. The tail-sum CASE guards DuckDB's list_reduce, which
    // errors on an empty slice.
    QueryDef("q60_media_features",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.decodeFeatures(
          Multimodal.mediaTable(Tables.load(s, dir, "documents"))).toDF()
      },
      Some("""WITH m AS (SELECT doc_id, md5(text) AS h,
             |                 CAST(n_chars % 32 + 1 AS INTEGER) AS width,
             |                 CAST(doc_id % 24 + 1 AS INTEGER) AS height
             |          FROM documents),
             |b AS (SELECT doc_id, width, height, width * height AS n_px,
             |             list_transform(generate_series(1, 16),
             |               i -> CAST(16 * (strpos('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1)
             |                         + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1) AS BIGINT)) AS bytes
             |      FROM m)
             |SELECT doc_id, width, height, CAST(n_px AS INTEGER) AS n_px,
             |       CAST(n_px // 16 AS BIGINT) * list_reduce(bytes, (a, b) -> a + b)
             |         + CASE WHEN n_px % 16 = 0 THEN 0
             |                ELSE list_reduce(bytes[1:(n_px % 16)], (a, b) -> a + b) END AS px_sum,
             |       CAST(bytes[1] AS INTEGER) AS first_px
             |FROM b""".stripMargin)),

    // image resize: nearest-neighbor downsample by 2 + PNG re-encode
    // round trip — the oracle replays the resampling arithmetic from the
    // digest bytes (resized px (x,y) = source px (2x, 2y) = digest
    // byte at (2y·w + 2x) mod 16), so kernel AND both codec directions
    // are all under the hash gate
    QueryDef("q111_image_resize",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.resizeFeatures(
          Multimodal.mediaTable(Tables.load(s, dir, "documents")), factor = 2).toDF()
      },
      Some("""WITH m AS (SELECT doc_id, md5(text) AS h,
             |                 CAST(n_chars % 32 + 1 AS INTEGER) AS width,
             |                 CAST(doc_id % 24 + 1 AS INTEGER) AS height
             |          FROM documents),
             |b AS (SELECT doc_id, width, height,
             |             greatest(1, width // 2) AS rw, greatest(1, height // 2) AS rh,
             |             list_transform(generate_series(1, 16),
             |               i -> CAST(16 * (strpos('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1)
             |                         + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1) AS BIGINT)) AS bytes
             |      FROM m)
             |SELECT doc_id, CAST(rw AS INTEGER) AS rw, CAST(rh AS INTEGER) AS rh,
             |       list_reduce(list_transform(generate_series(0, rw * rh - 1),
             |         p -> bytes[((((p // rw) * 2) * width + ((p % rw) * 2)) % 16) + 1]),
             |         (a, b) -> a + b) AS px_sum,
             |       CAST(bytes[1] AS INTEGER) AS first_px
             |FROM b""".stripMargin)),

    // perceptual dHash over the decoded raster: 8x8 nearest-neighbor
    // sample grid, 7 horizontal gradients per row -> 56 bits (below
    // DuckDB's checked bit-63 shift); the oracle replays the sampling
    // arithmetic from the digest formula, never decoding a PNG
    QueryDef("q143_image_dhash",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.dHash(
          Multimodal.mediaTable(Tables.load(s, dir, "documents"))).toDF()
      },
      Some(s"""WITH base AS (SELECT doc_id, md5(text) AS hx,
             |                     CAST(n_chars % 32 + 1 AS BIGINT) AS w,
             |                     CAST(doc_id % 24 + 1 AS BIGINT) AS h,
             |                     0 AS bump
             |              FROM documents),
             |$dhashCtes
             |SELECT doc_id, dhash FROM dh""".stripMargin)),

    // image near-dups: dHash pairs within hamming 6 via the SAME
    // pigeonhole banding as the text SimHash family, over a corpus with
    // one-byte-perturbed near-copies injected; oracle = all-pairs
    QueryDef("q144_image_neardup",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.imageNearDupPairs(
          Multimodal.mediaTableWithNearDups(Tables.load(s, dir, "documents")))
      },
      Some(s"""WITH base AS (SELECT doc_id, md5(text) AS hx,
             |                     CAST(n_chars % 32 + 1 AS BIGINT) AS w,
             |                     CAST(doc_id % 24 + 1 AS BIGINT) AS h,
             |                     0 AS bump
             |              FROM documents
             |              UNION ALL
             |              SELECT doc_id + 1000000, md5(text),
             |                     CAST(n_chars % 32 + 1 AS BIGINT),
             |                     CAST(doc_id % 24 + 1 AS BIGINT), 1
             |              FROM documents WHERE doc_id % 10 = 0),
             |$dhashCtes
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
             |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6""".stripMargin)),

    // ==== temporal: as-of join =============================================

    // Each click matched to the user's most recent prior (<=) view.
    // Spark runs the sort-merge window formulation (AsOfJoin scaladoc);
    // DuckDB verifies with its native ASOF LEFT JOIN against a right side
    // deduplicated per (user, ts) by highest event_id — the same tie
    // discipline the window ordering applies.
    // audio modality: REAL RIFF/WAV round trip (manual PCM encode →
    // javax.sound header+frame decode); the oracle derives the same
    // stats arithmetically from the md5 generation formula without ever
    // seeing a WAV, so an endianness/header bug mismatches
    QueryDef("q62_audio_features",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.decodeAudioFeatures(
          Multimodal.audioTable(Tables.load(s, dir, "documents"))).toDF()
      },
      Some("""WITH m AS (SELECT doc_id, md5(text) AS h,
             |                 CAST(n_chars % 64 + 16 AS INTEGER) AS n_samples
             |          FROM documents),
             |b AS (SELECT doc_id, n_samples,
             |             list_transform(generate_series(1, 16),
             |               i -> (CAST(16 * (strpos('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1)
             |                          + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1) AS BIGINT)
             |                     - 128) * 200) AS amps
             |      FROM m)
             |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate, n_samples,
             |       CAST(n_samples // 16 AS BIGINT) * list_reduce(amps, (a, b) -> a + b)
             |         + CASE WHEN n_samples % 16 = 0 THEN 0
             |                ELSE list_reduce(amps[1:(n_samples % 16)], (a, b) -> a + b) END AS amp_sum,
             |       CAST(amps[1] AS INTEGER) AS first_amp,
             |       CAST(n_samples // 16 AS BIGINT)
             |         * len(list_filter(amps, x -> x >= 0))
             |         + CASE WHEN n_samples % 16 = 0 THEN 0
             |                ELSE len(list_filter(amps[1:(n_samples % 16)], x -> x >= 0)) END AS n_nonneg
             |FROM b""".stripMargin)),

    // video modality: framed-PNG container, every 2nd frame decoded (the
    // rest are length-prefix hopped without decoding); per-frame digests
    // are md5(text#f), so the oracle catches wrong-frame sampling
    QueryDef("q63_video_frames",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.sampleFrames(
          Multimodal.videoTable(Tables.load(s, dir, "documents")), 2).toDF()
      },
      Some("""WITH m AS (SELECT doc_id, text,
             |                 CAST(doc_id % 6 + 2 AS INTEGER) AS n_frames,
             |                 CAST(n_chars % 16 + 1 AS INTEGER) AS width,
             |                 CAST(doc_id % 12 + 1 AS INTEGER) AS height
             |          FROM documents),
             |f AS (SELECT doc_id, text, width, height,
             |             CAST(unnest(generate_series(0, n_frames - 1)) AS INTEGER) AS frame_idx
             |      FROM m),
             |s AS (SELECT doc_id, frame_idx, width, height,
             |             md5(text || '#' || CAST(frame_idx AS VARCHAR)) AS h,
             |             width * height AS n_px
             |      FROM f WHERE frame_idx % 2 = 0),
             |b AS (SELECT doc_id, frame_idx, width, height, n_px,
             |             list_transform(generate_series(1, 16),
             |               i -> CAST(16 * (strpos('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1)
             |                         + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1) AS BIGINT)) AS bytes
             |      FROM s)
             |SELECT doc_id, frame_idx, width, height,
             |       CAST(n_px // 16 AS BIGINT) * list_reduce(bytes, (a, b) -> a + b)
             |         + CASE WHEN n_px % 16 = 0 THEN 0
             |                ELSE list_reduce(bytes[1:(n_px % 16)], (a, b) -> a + b) END AS px_sum
             |FROM b""".stripMargin)),

    // semi-structured surface: the events.props JSON column parsed with a
    // declared schema (from_json → typed struct; no UDF, stays in the
    // optimized plan) and aggregated — the schema-on-read shape for
    // sparse metadata at scale
    QueryDef("q65_json_props",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
             |       CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
             |       CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
             |FROM events GROUP BY event_type""".stripMargin)),

    // Variant (Spark 4) — schema-on-read for semi-structured payloads
    // at scale: where q65 DECLARES a struct schema up front (from_json),
    // the variant path parses once into the binary variant encoding and
    // extracts typed fields at query time, tolerating heterogeneous
    // shapes file-by-file. The payloads here are made deliberately
    // heterogeneous (even events keep the flat {"k": n}; odd events
    // nest it under "m" and add a "t" tag) by a deterministic rewrite
    // the DuckDB oracle replays with json_extract over the same CASE —
    // so the hash gate exercises exactly the variant mechanics:
    // try_variant_get pathing into both shapes, typed extraction, and
    // absent-path null for the flat rows' missing tag.
    QueryDef("q218_variant_props",
      (s, dir) => Tables.events(s, dir)
        // odd rows rebuilt via to_json(struct(...)) — correct escaping by
        // construction, no string surgery (m's tiny schema here is just
        // the shape GENERATOR; the variant read side stays schemaless)
        .withColumn("payload",
          when(col("event_id") % 2 === 0, col("props"))
            .otherwise(to_json(struct(
              from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("k",
                  org.apache.spark.sql.types.IntegerType)))).as("m"),
              col("event_type").as("t")))))
        .select(col("event_type"),
          parse_json(col("payload")).as("v"))
        .select(col("event_type"),
          coalesce(
            try_variant_get(col("v"), "$.k", "int"),
            try_variant_get(col("v"), "$.m.k", "int")).as("k"),
          try_variant_get(col("v"), "$.t", "string").as("t"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          count(col("t")).as("n_tagged")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
             |       CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_tagged
             |FROM events GROUP BY event_type""".stripMargin)),

    QueryDef("q72_asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
            unix_micros(col("ts")).as("click_us"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id"),
            unix_micros(col("ts")).as("view_us"), col("value").as("view_value"))
        graft.operators.AsOfJoin.asOf(clicks, views, "user_id", "ts",
            Seq("view_us", "view_value"), "event_id")
          .select(col("click_id"), col("user_id"), col("click_us"),
            col("view_us"), col("view_value"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
             |           FROM events),
             |c AS (SELECT event_id AS click_id, user_id, ts, epoch_us(ts) AS click_us
             |      FROM e WHERE event_type = 'click'),
             |v AS (SELECT user_id, ts, max(event_id) AS event_id, max_by(value, event_id) AS value
             |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
             |SELECT c.click_id, c.user_id, c.click_us,
             |       epoch_us(v.ts) AS view_us, v.value AS view_value
             |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin)),

    // As-of with a STALENESS BOUND (pandas merge_asof tolerance): the
    // most recent prior view counts only if it is at most 30 minutes
    // old; staler matches null out but the click row stays (left join).
    // The bound rides the same single window pass — zero extra shuffles.
    QueryDef("q72b_asof_tolerance",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
            unix_micros(col("ts")).as("view_us"), col("value").as("view_value"))
        graft.operators.AsOfJoin.asOfWithin(clicks, views, "user_id", "ts_us",
            Seq("view_us", "view_value"), "event_id", toleranceUs = 1800000000L)
          .select(col("click_id"), col("user_id"), col("ts_us").as("click_us"),
            col("view_us"), col("view_value"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
             |           FROM events),
             |c AS (SELECT event_id AS click_id, user_id, ts, epoch_us(ts) AS click_us
             |      FROM e WHERE event_type = 'click'),
             |v AS (SELECT user_id, ts, max(event_id) AS event_id, max_by(value, event_id) AS value
             |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
             |SELECT c.click_id, c.user_id, c.click_us,
             |       CASE WHEN c.click_us - epoch_us(v.ts) <= 1800000000
             |            THEN epoch_us(v.ts) END AS view_us,
             |       CASE WHEN c.click_us - epoch_us(v.ts) <= 1800000000
             |            THEN v.value END AS view_value
             |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin)),

    // Same as-of semantics through the CUSTOM CATALYST OPERATOR
    // (graftnative.AsOfJoinExec: logical node + planner strategy + native
    // sort-merge physical operator) — oracle identical to q72's, so the
    // custom exec is hash-gated against DuckDB's ASOF JOIN, not just
    // spec-compared to the window formulation.
    QueryDef("q74_asof_native",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
            unix_micros(col("ts")).as("view_us"), col("value").as("view_value"))
        org.apache.spark.sql.graftnative.AsOfJoinNative
          .asOf(clicks, views, "user_id", "ts_us", Seq("view_us", "view_value"), "event_id")
          .select(col("click_id"), col("user_id"), col("ts_us").as("click_us"),
            col("view_us"), col("view_value"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
             |           FROM events),
             |c AS (SELECT event_id AS click_id, user_id, ts, epoch_us(ts) AS click_us
             |      FROM e WHERE event_type = 'click'),
             |v AS (SELECT user_id, ts, max(event_id) AS event_id, max_by(value, event_id) AS value
             |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
             |SELECT c.click_id, c.user_id, c.click_us,
             |       epoch_us(v.ts) AS view_us, v.value AS view_value
             |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin)),

    // ==== temporal: bucketed range join ====================================

    // Purchases during error-storm windows: per-day gaps-and-islands over
    // error events (10-min gap) padded ±5 min, then a point-in-interval
    // join via RangeJoin's bucketed equi-join (no equi key exists between
    // the sides — the naive BETWEEN join would plan as a nested loop).
    QueryDef("q73_range_join",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            to_date(col("ts")).as("d"))
        val wo = Window.partitionBy(col("d")).orderBy(col("us"), col("event_id"))
        val wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wins = err
          .withColumn("prev", lag(col("us"), 1).over(wo))
          .withColumn("nw",
            when(col("prev").isNull || col("us") - col("prev") > 600000000L, 1).otherwise(0))
          .withColumn("wid", sum(col("nw")).over(wr))
          .groupBy(col("d"), col("wid"))
          .agg((min(col("us")) - 300000000L).as("lo_us"),
            (max(col("us")) + 300000000L).as("hi_us"),
            count(lit(1)).as("n_errors"))
          .select("lo_us", "hi_us", "n_errors")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(unix_micros(col("ts")).as("p_us"))
        graft.operators.RangeJoin.pointInInterval(purchases, wins, "p_us", "lo_us", "hi_us")
          .groupBy(col("lo_us"), col("hi_us"), col("n_errors"))
          .agg(count(lit(1)).as("n_purchases"))
      },
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
             |err AS (SELECT event_id, epoch_us(ts) AS us, CAST(ts AS DATE) AS d
             |        FROM e WHERE event_type = 'error'),
             |l AS (SELECT *, lag(us) OVER (PARTITION BY d ORDER BY us, event_id) AS prev FROM err),
             |n AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 600000000 THEN 1 ELSE 0 END AS nw FROM l),
             |s AS (SELECT *, SUM(nw) OVER (PARTITION BY d ORDER BY us, event_id
             |                              ROWS UNBOUNDED PRECEDING) AS wid FROM n),
             |w AS (SELECT d, wid, min(us) - 300000000 AS lo_us, max(us) + 300000000 AS hi_us,
             |             CAST(count(*) AS BIGINT) AS n_errors
             |      FROM s GROUP BY 1, 2),
             |p AS (SELECT epoch_us(ts) AS p_us FROM e WHERE event_type = 'purchase')
             |SELECT lo_us, hi_us, n_errors, CAST(count(*) AS BIGINT) AS n_purchases
             |FROM p JOIN w ON p_us >= lo_us AND p_us <= hi_us
             |GROUP BY 1, 2, 3""".stripMargin)),

    // q73's semantics written the NAIVE way — a plain BETWEEN join with
    // no equi key. The engine's standard runtime (GraftRuntime /
    // GraftExtensions) carries the RangeJoinRewrite optimizer rule, so
    // this plans as the bucketed equi join anyway: the registry-wide
    // no-nested-loop gate proves the rule fired, and the oracle proves
    // the rewrite is output-identical — the custom rule is exercised by
    // the driver's own correctness gate, not just a spec.
    QueryDef("q73b_range_join_rule",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            to_date(col("ts")).as("d"))
        val wo = Window.partitionBy(col("d")).orderBy(col("us"), col("event_id"))
        val wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wins = err
          .withColumn("prev", lag(col("us"), 1).over(wo))
          .withColumn("nw",
            when(col("prev").isNull || col("us") - col("prev") > 600000000L, 1).otherwise(0))
          .withColumn("wid", sum(col("nw")).over(wr))
          .groupBy(col("d"), col("wid"))
          .agg((min(col("us")) - 300000000L).as("lo_us"),
            (max(col("us")) + 300000000L).as("hi_us"),
            count(lit(1)).as("n_errors"))
          .select("lo_us", "hi_us", "n_errors")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(unix_micros(col("ts")).as("p_us"))
        purchases.join(wins,
            col("p_us") >= col("lo_us") && col("p_us") <= col("hi_us"))
          .groupBy(col("lo_us"), col("hi_us"), col("n_errors"))
          .agg(count(lit(1)).as("n_purchases"))
      },
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
             |err AS (SELECT event_id, epoch_us(ts) AS us, CAST(ts AS DATE) AS d
             |        FROM e WHERE event_type = 'error'),
             |l AS (SELECT *, lag(us) OVER (PARTITION BY d ORDER BY us, event_id) AS prev FROM err),
             |n AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 600000000 THEN 1 ELSE 0 END AS nw FROM l),
             |s AS (SELECT *, SUM(nw) OVER (PARTITION BY d ORDER BY us, event_id
             |                              ROWS UNBOUNDED PRECEDING) AS wid FROM n),
             |w AS (SELECT d, wid, min(us) - 300000000 AS lo_us, max(us) + 300000000 AS hi_us,
             |             CAST(count(*) AS BIGINT) AS n_errors
             |      FROM s GROUP BY 1, 2),
             |p AS (SELECT epoch_us(ts) AS p_us FROM e WHERE event_type = 'purchase')
             |SELECT lo_us, hi_us, n_errors, CAST(count(*) AS BIGINT) AS n_purchases
             |FROM p JOIN w ON p_us >= lo_us AND p_us <= hi_us
             |GROUP BY 1, 2, 3""".stripMargin)),

    // interval × interval OVERLAP join (no equi key): purchase attention
    // windows [ts, ts+5min] × signup windows [ts, ts+3min], emitted via
    // the bucket-tiling equi-join with the emit-once rule — the naive
    // θ-join the oracle runs is O(|A|·|B|); the engine's plan is a plain
    // shuffle hash join on the bucket id.
    QueryDef("q78_interval_overlap",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val a = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("a_id"), unix_micros(col("ts")).as("a_lo"),
            (unix_micros(col("ts")) + 300000000L).as("a_hi"))
        val b = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("b_id"), unix_micros(col("ts")).as("b_lo"),
            (unix_micros(col("ts")) + 180000000L).as("b_hi"))
        graft.operators.RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi")
          .select(col("a_id"), col("b_id"),
            (least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo")))
              .as("overlap_us"))
      },
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
             |a AS (SELECT event_id AS a_id, epoch_us(ts) AS a_lo, epoch_us(ts) + 300000000 AS a_hi
             |      FROM e WHERE event_type = 'purchase'),
             |b AS (SELECT event_id AS b_id, epoch_us(ts) AS b_lo, epoch_us(ts) + 180000000 AS b_hi
             |      FROM e WHERE event_type = 'signup')
             |SELECT a_id, b_id, least(a_hi, b_hi) - greatest(a_lo, b_lo) AS overlap_us
             |FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi""".stripMargin)),

    // q78's NAIVE twin: the user writes the raw theta-join and the
    // RangeJoinRewrite optimizer rule buckets it automatically — the
    // registry-wide no-nested-loop plan gate is the structural proof
    // the rule fired (without it this plan is a BroadcastNestedLoopJoin
    // and the gate goes red); the oracle proves the rewrite is
    // output-identical to q78's hand-bucketed operator
    QueryDef("q204_overlap_join_rule",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val a = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("a_id"), unix_micros(col("ts")).as("a_lo"),
            (unix_micros(col("ts")) + 300000000L).as("a_hi"))
        val b = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("b_id"), unix_micros(col("ts")).as("b_lo"),
            (unix_micros(col("ts")) + 180000000L).as("b_hi"))
        a.join(b, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
          .select(col("a_id"), col("b_id"),
            (least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo")))
              .as("overlap_us"))
      },
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
             |a AS (SELECT event_id AS a_id, epoch_us(ts) AS a_lo, epoch_us(ts) + 300000000 AS a_hi
             |      FROM e WHERE event_type = 'purchase'),
             |b AS (SELECT event_id AS b_id, epoch_us(ts) AS b_lo, epoch_us(ts) + 180000000 AS b_hi
             |      FROM e WHERE event_type = 'signup')
             |SELECT a_id, b_id, least(a_hi, b_hi) - greatest(a_lo, b_lo) AS overlap_us
             |FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi""".stripMargin)),

    // two-step funnel: per user, first click and first purchase at or
    // after it, converted iff within 1 h — aggregate + equi-join +
    // aggregate, never a window over the raw log
    QueryDef("q82_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
        graft.operators.Funnels.conversion(ev, "event_type", "user_id", "ts_us",
          "click", "purchase", windowUs = 3600000000L)
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |a AS (SELECT user_id, min(us) AS a_us FROM e
             |      WHERE event_type = 'click' GROUP BY 1),
             |b AS (SELECT a.user_id, a.a_us, min(e.us) AS b_us
             |      FROM a LEFT JOIN e ON e.user_id = a.user_id
             |                        AND e.event_type = 'purchase' AND e.us >= a.a_us
             |      GROUP BY 1, 2)
             |SELECT user_id, a_us, b_us,
             |       b_us IS NOT NULL AND b_us - a_us <= 3600000000 AS converted
             |FROM b""".stripMargin)),

    // ---- cohort retention: the growth triangle — cohort by first active
    // day, count entities re-active at each day offset; distinct
    // (entity, day) first so each entity's event volume collapses before
    // any join ----------------------------------------------------------
    QueryDef("q84_retention",
      (s, dir) => graft.operators.Funnels.retention(
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us")),
        "user_id", "ts_us", maxOffsetDays = 30),
      Some("""WITH d AS (SELECT DISTINCT user_id,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |           FROM events),
             |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
             |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
             |       CAST(count(*) AS BIGINT) AS n_users
             |FROM d JOIN c ON d.user_id = c.user_id
             |WHERE d.day - c.cohort_day <= 30
             |GROUP BY 1, 2""".stripMargin)),

    // ---- BM25 ranking over the documents table for a fixed query; the
    // idf is the RATIONAL form (monotone in the textbook log), per-term
    // scores pivot to columns and add in one fixed order, so the double
    // output is bit-identical across engines (see bm25TopDocs scaladoc)
    QueryDef("q86_bm25",
      (s, dir) => TextAnalysis.bm25TopDocs(
        Tables.load(s, dir, "documents"), Seq("spark", "merge", "window"), topK = 10),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |ln AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY 1),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |              CAST(sum(len) AS BIGINT) AS tot_len FROM ln),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok
             |       WHERE tok IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id, tf.tok,
             |         ((CAST(st.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
             |            / (CAST(df.df AS DOUBLE) + 0.5))
             |         * ((CAST(tf.tf AS DOUBLE) * 2.2)
             |            / (CAST(tf.tf AS DOUBLE)
             |               + (1.2 * (0.25 + (0.75 * (CAST(ln.len AS DOUBLE)
             |                  / (CAST(st.tot_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))))) AS s
             |       FROM tf JOIN ln USING (doc_id) JOIN df USING (tok) CROSS JOIN st),
             |g AS (SELECT doc_id,
             |        sum(CASE WHEN tok = 'spark' THEN s END) AS s_0,
             |        sum(CASE WHEN tok = 'merge' THEN s END) AS s_1,
             |        sum(CASE WHEN tok = 'window' THEN s END) AS s_2
             |      FROM sc GROUP BY 1),
             |sg AS (SELECT doc_id,
             |         ((coalesce(s_0, 0.0) + coalesce(s_1, 0.0)) + coalesce(s_2, 0.0)) AS score
             |       FROM g)
             |SELECT doc_id, score,
             |       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
             |FROM sg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- PageRank over the event-type transition digraph, in exact
    // fixed-point integer arithmetic (order-independent sums — a floating
    // PageRank's Σ depends on aggregation order); the oracle UNROLLS the
    // three iterations in SQL with the same floor divisions, so the gate
    // covers the iteration arithmetic itself ---------------------------
    QueryDef("q87_pagerank",
      (s, dir) => graft.operators.GraphOps.pageRankScaled(
        graft.operators.GraphOps.transitionEdges(
          Tables.events(s, dir), "user_id", "event_type", "ts", "event_id"),
        iters = 3),
      Some {
        def iter(i: Int, prev: String) =
          s"""c$i AS (SELECT e.dst AS node,
             |         CAST(sum((r.rank_scaled * e.w) // o.w_out) AS BIGINT) AS in_sum
             |       FROM edges e JOIN ow o ON o.src = e.src
             |                    JOIN $prev r ON r.node = e.src
             |       GROUP BY 1),
             |r$i AS (SELECT n.node,
             |         ((1000000000000 * 3) // 20 // nn.n_nodes)
             |           + ((17 * coalesce(c.in_sum, 0)) // 20) AS rank_scaled
             |       FROM nodes n CROSS JOIN nn LEFT JOIN c$i c ON c.node = n.node)"""
        s"""WITH l AS (SELECT user_id, event_type, ts, event_id,
           |            lead(event_type) OVER (PARTITION BY user_id
           |                                   ORDER BY ts, event_id) AS dst
           |           FROM events),
           |edges AS (SELECT event_type AS src, dst, CAST(count(*) AS BIGINT) AS w
           |          FROM l WHERE dst IS NOT NULL GROUP BY 1, 2),
           |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
           |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS w_out FROM edges GROUP BY 1),
           |r0 AS (SELECT node, 1000000000000 // nn.n_nodes AS rank_scaled
           |       FROM nodes CROSS JOIN nn),
           |${iter(1, "r0")},
           |${iter(2, "r1")},
           |${iter(3, "r2")}
           |SELECT node, rank_scaled FROM r3""".stripMargin
      }),

    // ---- per-slice z-score outliers: Σv and Σv² in exact DECIMAL (order-
    // independent), final μ/σ arithmetic in one fixed double order ------
    QueryDef("q89_anomaly",
      (s, dir) => graft.operators.QualityChecks.zScoreOutliers(
        Tables.events(s, dir), "event_type", "value",
        Seq("event_id"), threshold = 2.5),
      Some("""WITH st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |                   sum(CAST(value AS DECIMAL(9,2))) AS s1,
             |                   sum(CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2))) AS s2
             |            FROM events GROUP BY 1),
             |z AS (SELECT e.event_id, e.event_type, e.value,
             |             (e.value - (CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE)))
             |               / sqrt((CAST(st.s2 AS DOUBLE)
             |                       - ((CAST(st.s1 AS DOUBLE) * CAST(st.s1 AS DOUBLE))
             |                          / CAST(st.n AS DOUBLE)))
             |                      / (CAST(st.n AS DOUBLE) - 1.0)) AS z
             |      FROM events e JOIN st USING (event_type)
             |      WHERE st.n > 1
             |        AND ((CAST(st.s2 AS DOUBLE)
             |              - ((CAST(st.s1 AS DOUBLE) * CAST(st.s1 AS DOUBLE))
             |                 / CAST(st.n AS DOUBLE)))
             |             / (CAST(st.n AS DOUBLE) - 1.0)) > 0.0
             |      )
             |SELECT event_id, event_type, value, z FROM z WHERE abs(z) > 2.5""".stripMargin)),

    // ---- ORC round trip: the other columnar interchange format — write
    // a projection as ORC, read it back, aggregate; the oracle never saw
    // the ORC file, so any encode/decode drift hash-mismatches ----------
    QueryDef("q90_orc_roundtrip",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        graft.sources.ColumnarIO.orcRoundTrip(s, docs, "q90")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      },
      Some("""SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS chars,
             |       min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM documents GROUP BY 1, 2""".stripMargin)),

    // Schema evolution: a two-generation parquet dir (gen 1 = even
    // doc_ids, (doc_id, lang); gen 2 = odd doc_ids, + a quality column)
    // read with mergeSchema — the union-of-footers read with NULL
    // backfill for old files. The oracle replays the SEMANTICS directly
    // over `documents`, so the hash gate exercises exactly the merge
    // mechanics: rows from both generations present once each,
    // quality non-null only where generation 2 wrote it.
    QueryDef("q217_schema_merge",
      (s, dir) => graft.sources.ColumnarIO.schemaMergeDemo(s,
          Tables.load(s, dir, "documents"),
          "q217_" + (dir.hashCode & 0x7fffffff))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_scored"),
          sum(col("quality")).as("quality_sum")),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_scored,
             |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS quality_sum
             |FROM documents GROUP BY 1""".stripMargin)),

    // ==== streaming shape (batch equivalent; stream path in StreamOps) =====

    QueryDef("q70_stream_hourly",
      (s, dir) => StreamOps.hourlyCounts(Tables.events(s, dir)),
      Some("""SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600 AS wstart,
             |       event_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // Welch A/B test statistic between two event types' values: both
    // groups' exact decimal moments ride ONE conditional-sum scan (no
    // join/pivot); t in fixed-order doubles. p-value mapping (erf) is
    // deliberately left to the caller — libm territory.
    QueryDef("q115_ab_test",
      (s, dir) => graft.operators.QualityChecks.abTest(
        Tables.events(s, dir), "event_type", "value", "click", "purchase"),
      Some {
        def m(t: String, g: String) = Seq(
          s"CAST(count(CASE WHEN event_type = '$g' THEN 1 END) AS BIGINT) AS n_$t",
          s"sum(CASE WHEN event_type = '$g' THEN CAST(value AS DECIMAL(9,2)) END) AS s1_$t",
          s"sum(CASE WHEN event_type = '$g' THEN CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2)) END) AS s2_$t")
        def nD(t: String) = s"CAST(n_$t AS DOUBLE)"
        def mean(t: String) = s"(CAST(s1_$t AS DOUBLE) / ${nD(t)})"
        def variance(t: String) =
          s"((CAST(s2_$t AS DOUBLE) - ((CAST(s1_$t AS DOUBLE) * CAST(s1_$t AS DOUBLE)) / ${nD(t)})) / (${nD(t)} - 1.0))"
        s"""WITH w AS (SELECT ${(m("a", "click") ++ m("b", "purchase")).mkString(",\n       ")}
           |           FROM events)
           |SELECT 'click' AS group_a, 'purchase' AS group_b, n_a, n_b,
           |       ${mean("a")} AS mean_a, ${mean("b")} AS mean_b,
           |       ((${mean("a")} - ${mean("b")})
           |         / sqrt((${variance("a")} / ${nD("a")}) + (${variance("b")} / ${nD("b")}))) AS t
           |FROM w""".stripMargin
      }),

    // EWMA per entity — the inherently sequential smoothing fold, run as
    // an aggregate HOF over each entity's time-ordered value array (one
    // keyed shuffle; bit-identical to DuckDB's list_reduce)
    QueryDef("q117_ewma",
      (s, dir) => graft.operators.TimeSeries.ewma(
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("value")),
        "user_id", "ts_us", "event_id", "value", alpha = 0.25),
      Some("""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |                  event_id, value FROM events),
             |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |             list(value ORDER BY us, event_id) AS vals
             |      FROM e GROUP BY 1)
             |SELECT user_id, n_events,
             |       list_reduce(vals, (a, b) -> (a * 0.75) + (b * 0.25)) AS ewma
             |FROM g""".stripMargin)),

    // corpus-trained unigram-LM quality score (the CCNet/KenLM
    // perplexity-filter shape) — mean SCALED token probability in
    // all-integer arithmetic (log is libm territory; the monotone
    // scaled-ratio form keeps the cross-engine hash gate)
    QueryDef("q118_lm_quality",
      (s, dir) => TextAnalysis.lmQualityScore(Tables.load(s, dir, "documents")),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM documents),
             |per AS (SELECT doc_id, wh, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
             |vocab AS (SELECT wh, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
             |probs AS (SELECT wh, (cnt * 1000000) // n AS p_scaled FROM vocab CROSS JOIN tot),
             |sc AS (SELECT per.doc_id, CAST(sum(per.c * probs.p_scaled) AS BIGINT) AS s,
             |              CAST(sum(per.c) AS BIGINT) AS n_tokens
             |       FROM per JOIN probs USING (wh) GROUP BY 1)
             |SELECT doc_id, n_tokens, s // n_tokens AS lm_score FROM sc""".stripMargin)),

    // DSIR-shaped importance weighting (hashed n-gram features, add-one-
    // smoothed target/raw bucket ratios, integer-scaled) — target domain
    // = source 'src0'; the 256-row ratio table broadcasts at any corpus
    // size
    QueryDef("q119_importance",
      (s, dir) => TextAnalysis.importanceWeights(
        Tables.load(s, dir, "documents"), targetSource = "src0"),
      Some(s"""WITH feat AS (SELECT doc_id, source,
             |                      unnest(${TextHash.wordHashesSql("text")}) % 256 AS b
             |               FROM documents),
             |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS rcnt FROM feat GROUP BY 1),
             |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS tcnt
             |        FROM feat WHERE source = 'src0' GROUP BY 1),
             |ratio AS (SELECT raw.b, ((coalesce(tgt.tcnt, 0) + 1) * 1000000) // (raw.rcnt + 1) AS r
             |          FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
             |per AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM feat GROUP BY 1, 2),
             |sc AS (SELECT per.doc_id, CAST(sum(per.c * ratio.r) AS BIGINT) AS s,
             |              CAST(sum(per.c) AS BIGINT) AS n_tokens
             |       FROM per JOIN ratio ON per.b = ratio.b GROUP BY 1)
             |SELECT doc_id, n_tokens, s // n_tokens AS weight FROM sc""".stripMargin)),

    // BPE merge learning, 4 rounds unrolled in the oracle: each round's
    // weighted pair count, (cnt DESC, pa, pb) argmax, and greedy literal
    // re-segmentation replay in SQL over the word-frequency dict
    QueryDef("q120_bpe_merges",
      (s, dir) => TextAnalysis.learnBpeMerges(Tables.load(s, dir, "documents"), nMerges = 4),
      Some {
        val sel = (1 to 4)
          .map(r => s"SELECT round, pa, pb, merged, cnt FROM best$r")
          .mkString("\nUNION ALL\n")
        s"WITH ${bpeMergeCtes(1 to 4)}\n$sel"
      }),

    // BPE ENCODE — apply the q120-learned merges to the corpus (the
    // tokenizer-inference pass that actually runs at training-data
    // scale): merges are learned once on the dict then inlined as a
    // literal replace chain, so encoding is a pure shuffle-free
    // whole-stage-codegen map over documents. The oracle re-derives the
    // merges with the shared CTE chain and applies them in-lambda.
    QueryDef("q158_bpe_encode",
      (s, dir) => TextAnalysis.bpeEncode(Tables.load(s, dir, "documents"), nMerges = 4),
      Some {
        val base = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"
        val chain = (1 to 4).foldLeft(base) { (acc, r) =>
          s"replace($acc, ' ' || b$r.pa || ' ' || b$r.pb || ' ', ' ' || b$r.pa || b$r.pb || ' ')"
        }
        val joins = (1 to 4).map(r => s"CROSS JOIN best$r b$r").mkString(" ")
        s"""WITH ${bpeMergeCtes(1 to 4)},
           |enc AS (SELECT doc_id,
           |               list_transform(string_split(text, ' '), w -> trim($chain)) AS reps
           |        FROM documents $joins)
           |SELECT doc_id, CAST(len(reps) AS BIGINT) AS n_words,
           |       CAST(list_sum(list_transform(reps, r -> len(string_split(r, ' ')))) AS BIGINT) AS n_bpe_tokens,
           |       CAST(list_sum(list_transform(reps, r -> len(string_split(r, ' ')))) AS DOUBLE)
           |         / CAST(len(reps) AS DOUBLE) AS fertility
           |FROM enc""".stripMargin
      }),

    // global curriculum rank (quality desc) via range-partition +
    // zipWithIndex — the total-order rank that does NOT funnel the
    // corpus through one window task
    QueryDef("q121_curriculum",
      (s, dir) => Curation.curriculumRank(
        TextAnalysis.qualityScore(Tables.load(s, dir, "documents"))
          .select(col("doc_id"), col("quality")),
        Seq(col("quality").desc, col("doc_id"))),
      Some(s"""WITH $tokCte,
             |q AS (SELECT doc_id,
             |             (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)) * 0.5
             |               + (1.0 - CAST(len(list_filter(tk, w -> w IN ('the', 'a'))) AS DOUBLE) / CAST(len(tk) AS DOUBLE)) * 0.3
             |               + least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
             |      FROM t)
             |SELECT doc_id, quality,
             |       CAST(row_number() OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS rank
             |FROM q""".stripMargin)),

    // greedy per-source token-budget fill in content-hash admission
    // order — cumulative window per source, keep while <= budget
    QueryDef("q122_budget_fill",
      (s, dir) => Curation.budgetFill(Tables.load(s, dir, "documents"), budget = 600L),
      Some(s"""WITH t AS (SELECT doc_id, source,
             |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |                  ${Curation.gateHashSql(TextHash.polyHashSql("text"), TextHash.P)} AS ph
             |           FROM documents),
             |c AS (SELECT doc_id, source, n_tokens,
             |             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY ph, doc_id
             |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |      FROM t)
             |SELECT doc_id, source, n_tokens, cum_tokens FROM c
             |WHERE cum_tokens <= 600""".stripMargin)),

    // deterministic weighted priority sample (integer Efraimidis-
    // Spirakis analog): k smallest mix(id) div weight keys — heavier
    // docs proportionally likelier, replayable, and planned as
    // TakeOrderedAndProject (per-partition heaps + driver merge of
    // k rows, no global sort)
    QueryDef("q160_weighted_sample",
      (s, dir) => Curation.weightedPrioritySample(
        Tables.load(s, dir, "documents"), 100, col("n_chars")),
      Some(s"""WITH t AS (SELECT doc_id, n_chars AS w, doc_id % $P AS pm
             |           FROM documents WHERE n_chars > 0),
             |p AS (SELECT doc_id, w, ((pm*pm + 3*pm + 7) % $P) // w AS priority FROM t),
             |r AS (SELECT doc_id, w, priority,
             |             row_number() OVER (ORDER BY priority, doc_id) AS rn FROM p)
             |SELECT doc_id, w, priority FROM r WHERE rn <= 100""".stripMargin)),

    // edit-distance-gated near-dup pairs: the q43 LSH candidate join,
    // decided by Levenshtein over a 32-char prefix (both engines run
    // textbook DP — distances hash-match)
    QueryDef("q123_editdist_pairs",
      (s, dir) => Dedup.editDistancePairs(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some(s"""WITH $nearDupCorpus,
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |              AND a.doc_id < b.doc_id),
             |pfx AS (SELECT doc_id, substr(text, 1, 32) AS pfx FROM corpus)
             |SELECT c.id_a, c.id_b, CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS dist
             |FROM cand c JOIN pfx a ON a.doc_id = c.id_a JOIN pfx b ON b.doc_id = c.id_b
             |WHERE levenshtein(a.pfx, b.pfx) <= 12""".stripMargin)),

    // retrieval eval: recall@5 + scaled reciprocal rank of the true
    // nearest neighbor, IVF(label cells) vs exact brute force — the
    // eval harness an ANN index ships with
    QueryDef("q127_ann_eval",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity.annEvalMetrics(
          Similarity.ivfTopK(queries, emb, 5),
          Similarity.bruteForceTopK(queries, emb, 5), k = 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
             |           FROM embeddings WHERE vec_id < 10),
             |sc_e AS (SELECT query_id, vec_id, ${Similarity.cosineSql("q_emb", "embedding")} AS cos
             |         FROM embeddings, q WHERE vec_id != query_id),
             |ex AS (SELECT query_id, vec_id, e_rank FROM (
             |         SELECT query_id, vec_id,
             |                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS e_rank
             |         FROM sc_e) WHERE e_rank <= 5),
             |sc_a AS (SELECT query_id, vec_id, ${Similarity.cosineSql("q_emb", "embedding")} AS cos
             |         FROM embeddings, q WHERE label = q_label AND vec_id != query_id),
             |ap AS (SELECT query_id, vec_id, a_rank FROM (
             |         SELECT query_id, vec_id,
             |                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS a_rank
             |         FROM sc_a) WHERE a_rank <= 5),
             |h AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS h,
             |             coalesce(max(CASE WHEN e.e_rank = 1 THEN 1000000 // a.a_rank END), 0) AS rr
             |      FROM ex e JOIN ap a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
             |      GROUP BY 1)
             |SELECT qq.query_id, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
             |       CAST(coalesce(h.h, 0) AS DOUBLE) / 5 AS recall,
             |       CAST(coalesce(h.rr, 0) AS BIGINT) AS rr_scaled
             |FROM (SELECT DISTINCT query_id FROM ex) qq LEFT JOIN h ON h.query_id = qq.query_id""".stripMargin)),

    // per-dimension embedding moments over order-free integer-quantized
    // sums — dead/drifted-dimension monitoring
    QueryDef("q129_embed_dim_stats",
      (s, dir) => Similarity.embeddingDimStats(Tables.load(s, dir, "embeddings")),
      Some("""WITH q AS (SELECT list_transform(embedding,
             |                    x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS q
             |           FROM embeddings),
             |e AS (SELECT q, unnest(generate_series(1, len(q))) AS j FROM q),
             |s AS (SELECT CAST(j - 1 AS INTEGER) AS i, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(q[j]) AS BIGINT) AS sum_q,
             |             CAST(sum(q[j] * q[j]) AS BIGINT) AS sumsq_q
             |      FROM e GROUP BY 1)
             |SELECT i, n, sum_q, sumsq_q,
             |       CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE) / 1024.0 AS mean,
             |       (CAST(sumsq_q AS DOUBLE)
             |          - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE))
             |         / CAST(n AS DOUBLE) / 1048576.0 AS variance
             |FROM s""".stripMargin)),

    // source-vs-source distribution drift: scaled total-variation
    // contributions per hashed token bucket, one conditional-sum pass
    QueryDef("q130_token_drift",
      (s, dir) => TextAnalysis.tokenDriftL1(
        Tables.load(s, dir, "documents"), "src0", "src1"),
      Some(s"""WITH feat AS (SELECT source,
             |                      unnest(${TextHash.wordHashesSql("text")}) % 256 AS b
             |               FROM documents WHERE source IN ('src0', 'src1')),
             |c AS (SELECT b,
             |             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS oa,
             |             CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS ob
             |      FROM feat GROUP BY 1),
             |t AS (SELECT CAST(sum(oa) AS BIGINT) AS ta, CAST(sum(ob) AS BIGINT) AS tb FROM c)
             |SELECT b, oa, ob,
             |       (oa * 1000000) // ta AS pa_scaled,
             |       (ob * 1000000) // tb AS pb_scaled,
             |       abs((oa * 1000000) // ta - (ob * 1000000) // tb) AS l1_scaled
             |FROM c CROSS JOIN t""".stripMargin)),

    // per-source release summary: volume, exact-dup count, language mix
    QueryDef("q132_dataset_card",
      (s, dir) => Curation.datasetCard(Tables.load(s, dir, "documents")),
      Some("""WITH base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |                     CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
             |                     CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             |                     CAST(sum(n_chars) AS BIGINT) AS total_chars
             |              FROM documents GROUP BY 1),
             |lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
             |       FROM documents GROUP BY 1, 2),
             |r AS (SELECT source, lang, c,
             |             row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
             |      FROM lc),
             |langs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
             |                 max(CASE WHEN rn = 1 THEN lang END) AS top_lang,
             |                 max(CASE WHEN rn = 1 THEN c END) AS top_lang_docs
             |          FROM r GROUP BY 1)
             |SELECT base.source, n_docs, n_exact_dups, total_tokens, total_chars,
             |       n_langs, top_lang, top_lang_docs
             |FROM base JOIN langs ON base.source = langs.source""".stripMargin)),

    // deterministic per-epoch shuffle: integer hash of (doc_id, epoch),
    // global rank via the range-partition + zipWithIndex path
    QueryDef("q133_epoch_shuffle",
      (s, dir) => Curation.epochShuffle(Tables.load(s, dir, "documents"), epoch = 3),
      Some(s"""WITH k AS (SELECT doc_id,
             |                  ((doc_id % ${TextHash.P}) * ${2654435761L * 4 % (TextHash.P - 3) + 2} + 3) % ${TextHash.P} AS shuffle_key
             |           FROM documents)
             |SELECT doc_id, shuffle_key,
             |       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS rank
             |FROM k""".stripMargin)),

    // keep-BEST dedup: q46's LSH -> CC spine, survivor = argmax(score)
    // per component instead of min id (ties: lowest doc_id)
    QueryDef("q134_keep_best",
      (s, dir) => Dedup.keepBestDedup(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents")),
        size(TextHash.tokens(col("text")))),
      Some(s"""WITH RECURSIVE $nearDupCorpus,
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |              AND a.doc_id < b.doc_id),
             |${jaccardCtes(blocked = false)},
             |edges AS (SELECT c.id_a, c.id_b
             |          FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
             |          WHERE j.jacc >= 0.5),
             |bi AS (SELECT id_a AS src, id_b AS dst FROM edges
             |       UNION ALL SELECT id_b, id_a FROM edges),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM bi
             |  UNION
             |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src),
             |canon AS (SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
             |          FROM reach GROUP BY src),
             |scored AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS score
             |           FROM corpus),
             |cl AS (SELECT s.doc_id, coalesce(c.canonical_id, s.doc_id) AS cluster, s.score
             |       FROM scored s LEFT JOIN canon c ON c.doc_id = s.doc_id),
             |r AS (SELECT cluster, doc_id, score,
             |             row_number() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id) AS rn
             |      FROM cl)
             |SELECT cluster, doc_id AS kept_id, score FROM r WHERE rn = 1""".stripMargin)),

    // cross-source contamination matrix over a deterministic 'mirror'
    // injection (the corpus has no natural cross-source exact copies)
    QueryDef("q135_source_overlap",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        QualityChecks.sourceOverlapMatrix(
          docs.select(col("text"), col("source")).unionAll(
            docs.filter(col("doc_id") % 10 === 0)
              .select(col("text"), lit("mirror").as("source"))))
      },
      Some("""WITH aug AS (SELECT text, source FROM documents
             |             UNION ALL
             |             SELECT text, 'mirror' AS source FROM documents WHERE doc_id % 10 = 0),
             |hs AS (SELECT DISTINCT md5(text) AS h, source FROM aug)
             |SELECT a.source AS source_a, b.source AS source_b,
             |       CAST(count(*) AS BIGINT) AS n_shared
             |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
             |GROUP BY 1, 2""".stripMargin)),

    // near-dup pairs straddling the train/valid/test boundary — the
    // eval-inflation audit; a release gate wants zeros here
    QueryDef("q139_split_leakage",
      (s, dir) => Dedup.splitLeakage(
        Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))),
      Some(s"""WITH $nearDupCorpus,
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |              AND a.doc_id < b.doc_id),
             |${jaccardCtes(blocked = false)},
             |lp AS (SELECT c.id_a, c.id_b
             |       FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
             |       WHERE j.jacc >= 0.5),
             |sp AS (SELECT doc_id,
             |              CASE WHEN bkt < 90 THEN 'train'
             |                   WHEN bkt < 95 THEN 'valid'
             |                   ELSE 'test' END AS split
             |       FROM (SELECT doc_id,
             |                    ${Curation.gateHashSql(TextHash.polyHashSql("text"), 100L)} AS bkt
             |             FROM corpus))
             |SELECT least(sa.split, sb.split) AS split_lo,
             |       greatest(sa.split, sb.split) AS split_hi,
             |       CAST(count(*) AS BIGINT) AS n_leaked_pairs
             |FROM lp p
             |JOIN sp sa ON sa.doc_id = p.id_a
             |JOIN sp sb ON sb.doc_id = p.id_b
             |WHERE sa.split != sb.split
             |GROUP BY 1, 2""".stripMargin)),

    // deterministic contrastive negatives: seeded affine probe over
    // contiguous ids, per-anchor rank, no stored randomness
    QueryDef("q140_negative_sample",
      (s, dir) => Similarity.negativeSample(
        Tables.load(s, dir, "embeddings"), k = 4),
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
             |probes AS (SELECT e.vec_id AS anchor, e.label AS a_label, g.i,
             |                  ((2*g.i + 3) * e.vec_id + 7*g.i + 1) % nn.n AS cand
             |           FROM embeddings e CROSS JOIN nn
             |                CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) g),
             |negs AS (SELECT p.anchor, p.i, p.cand
             |         FROM probes p JOIN embeddings c ON c.vec_id = p.cand
             |         WHERE p.cand != p.anchor AND c.label != p.a_label),
             |r AS (SELECT anchor, cand,
             |             CAST(row_number() OVER (PARTITION BY anchor ORDER BY i) AS INTEGER) AS neg_rank
             |      FROM negs)
             |SELECT anchor, neg_rank, cand AS neg_id FROM r WHERE neg_rank <= 4""".stripMargin)),

    // 3-step funnel (view -> click -> purchase): greedy earliest chain
    // per user via three narrow min-aggregates chained on >= (a
    // simultaneous event counts as "after"); inner joins keep only
    // completed funnels
    QueryDef("q156_funnel3",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        def step(prev: org.apache.spark.sql.DataFrame, prevCol: String,
            ty: String, out: String) =
          prev.join(e.filter(col("event_type") === ty), "user_id")
            .filter(col("us") >= col(prevCol))
            .groupBy((prev.columns.map(col)): _*)
            .agg(min(col("us")).as(out))
        val a = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("us")).as("a_us"))
        step(step(a, "a_us", "click", "b_us"), "b_us", "purchase", "c_us")
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |           FROM events),
             |a AS (SELECT user_id, min(us) AS a_us FROM e
             |      WHERE event_type = 'view' GROUP BY 1),
             |b AS (SELECT a.user_id, a.a_us, min(e.us) AS b_us
             |      FROM a JOIN e ON e.user_id = a.user_id
             |      WHERE e.event_type = 'click' AND e.us >= a.a_us
             |      GROUP BY 1, 2),
             |c AS (SELECT b.user_id, b.a_us, b.b_us, min(e.us) AS c_us
             |      FROM b JOIN e ON e.user_id = b.user_id
             |      WHERE e.event_type = 'purchase' AND e.us >= b.b_us
             |      GROUP BY 1, 2, 3)
             |SELECT user_id, a_us, b_us, c_us FROM c""".stripMargin)),

    // content-defined chunking (rsync/LBFS boundaries over the token
    // stream) + cross-doc duplicate-chunk report — sub-document dedup:
    // finds shared passages exact Jaccard-on-whole-docs is blind to, and
    // boundaries re-synchronize across insertions so edited copies still
    // share their unedited chunks. Native one-pass expression; the only
    // shuffle is the final count groupBy on chunk hash (pure aggregation,
    // no self-join, so a boilerplate chunk costs one hot reducer key at
    // worst — not a quadratic pair explosion)
    QueryDef("q157_cdc_chunks",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextHash.cdcChunkHashes(col("text"), 16)).as("packed"))
        .select(col("doc_id"), expr("packed DIV 131072").as("chunk_hash"),
          (col("packed") % 131072).as("chunk_len"))
        .groupBy(col("chunk_hash"), col("chunk_len"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .where(col("n_docs") >= 2),
      Some(s"""WITH pk AS (${TextHash.cdcChunkPackedSql(16)})
             |SELECT packed // 131072 AS chunk_hash, packed % 131072 AS chunk_len,
             |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |       CAST(count(*) AS BIGINT) AS n_occ
             |FROM pk GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),

    // temperature-scaled source rebalancing (alpha = 0.5, the one power
    // both engines compute identically): keep rate sqrt(n_min/n_src),
    // content-hash ppm gate — replayable multilingual-style sampling.
    // The synthetic corpus is source-balanced (rate would be 1.0
    // everywhere), so the row first regroups into a deterministic
    // 60/30/10 skew to make the rebalancing observable and gated.
    QueryDef("q163_temperature_sample",
      (s, dir) => Curation.sqrtTemperatureSample(
        Tables.load(s, dir, "documents").withColumn("source",
          when(col("doc_id") % 10 < 6, lit("big"))
            .when(col("doc_id") % 10 < 9, lit("mid"))
            .otherwise(lit("small")))),
      Some(s"""WITH d AS (SELECT doc_id, text,
             |                  CASE WHEN doc_id % 10 < 6 THEN 'big'
             |                       WHEN doc_id % 10 < 9 THEN 'mid'
             |                       ELSE 'small' END AS source
             |           FROM documents),
             |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             |           FROM d GROUP BY 1),
             |mn AS (SELECT min(n) AS n_min FROM c),
             |r AS (SELECT source,
             |             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS rate_ppm
             |      FROM c CROSS JOIN mn)
             |SELECT d.doc_id, d.source, r.rate_ppm
             |FROM d JOIN r USING (source)
             |WHERE ${Curation.gateHashSql(TextHash.polyHashSql("d.text"), 1000000L)} < r.rate_ppm""".stripMargin)),

    // next-event-prediction example builder: per-user lag-3 history ->
    // label, one window pass keyed on the user id
    QueryDef("q164_next_event_examples",
      (s, dir) => graft.operators.Funnels.nextEventExamples(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type")),
        "user_id", "us", "event_id", "event_type"),
      Some("""WITH e AS (SELECT user_id, event_id,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
             |           FROM events),
             |l AS (SELECT user_id, event_id, event_type,
             |             lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS h1,
             |             lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS h2,
             |             lag(event_type, 3) OVER (PARTITION BY user_id ORDER BY us, event_id) AS h3
             |      FROM e)
             |SELECT user_id, event_id, h3 || '>' || h2 || '>' || h1 AS history,
             |       event_type AS label
             |FROM l WHERE h3 IS NOT NULL""".stripMargin)),

    // per-doc boilerplate fraction on top of q157's chunks: a chunk is
    // boilerplate if some OTHER doc carries the same (hash, len) chunk;
    // dup_rate = duplicated chunks / chunks — the doc-level drop signal
    // chunk-granular dedup pipelines threshold on. Chunk df is a pure
    // aggregation (vocabulary-sized), joined back on the chunk key.
    QueryDef("q161_chunk_dup_rate",
      (s, dir) => {
        val chunks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(TextHash.cdcChunkHashes(col("text"), 16)).as("packed"))
        val dfc = chunks.groupBy(col("packed"))
          .agg(countDistinct(col("doc_id")).as("nd"))
        chunks.join(dfc, "packed")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
          .withColumn("dup_rate",
            col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
      },
      Some(s"""WITH pk AS (${TextHash.cdcChunkPackedSql(16)}),
             |dfc AS (SELECT packed, count(DISTINCT doc_id) AS nd FROM pk GROUP BY 1),
             |per AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             |               CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
             |        FROM pk p JOIN dfc d USING (packed) GROUP BY 1)
             |SELECT doc_id, n_chunks, n_dup_chunks,
             |       CAST(n_dup_chunks AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS dup_rate
             |FROM per""".stripMargin)),

    // distribution-shape monitor: four raw moments in exact decimal,
    // skew/kurtosis algebra in one fixed double order
    QueryDef("q154_shape_moments",
      (s, dir) => QualityChecks.shapeMoments(
        Tables.events(s, dir), "event_type", "value"),
      Some {
        def d(c: String) = s"CAST($c AS DOUBLE)"
        // integer + scaled-fraction split (see shapeMoments scaladoc):
        // DuckDB's wide-decimal -> DOUBLE cast double-rounds
        def ds(c: String, mult: Long) =
          s"(CAST(CAST(floor($c) AS BIGINT) AS DOUBLE)" +
            s" + CAST(CAST(($c - floor($c)) * $mult AS BIGINT) AS DOUBLE) / $mult.0)"
        val s2d = ds("s2", 10000L); val s3d = ds("s3", 1000000L); val s4d = ds("s4", 100000000L)
        val mean = s"(${d("s1")} / ${d("n")})"
        val m2 = s"($s2d / ${d("n")} - $mean * $mean)"
        val m3 = s"($s3d / ${d("n")} - 3.0 * $mean * ($s2d / ${d("n")}) + 2.0 * $mean * $mean * $mean)"
        val m4 = s"($s4d / ${d("n")} - 4.0 * $mean * ($s3d / ${d("n")}) + 6.0 * $mean * $mean * ($s2d / ${d("n")}) - 3.0 * $mean * $mean * $mean * $mean)"
        s"""WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |                  sum(CAST(value AS DECIMAL(6,2))) AS s1,
           |                  sum(CAST(value AS DECIMAL(6,2)) * CAST(value AS DECIMAL(6,2))) AS s2,
           |                  sum(CAST(CAST(CAST(value AS DECIMAL(6,2)) * CAST(value AS DECIMAL(6,2)) AS DECIMAL(16,4)) * CAST(value AS DECIMAL(6,2)) AS DECIMAL(24,6))) AS s3,
           |                  sum(CAST(CAST(CAST(value AS DECIMAL(6,2)) * CAST(value AS DECIMAL(6,2)) AS DECIMAL(19,4)) * CAST(CAST(value AS DECIMAL(6,2)) * CAST(value AS DECIMAL(6,2)) AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS s4
           |           FROM events GROUP BY 1)
           |SELECT event_type, n, $mean AS mean,
           |       ($m3 / sqrt($m2 * $m2 * $m2)) AS skewness,
           |       ($m4 / ($m2 * $m2) - 3.0) AS kurtosis
           |FROM m""".stripMargin
      }),

    // power-of-two latency-style histogram: bucket = length(bin(cents)),
    // an exact integer floor(log2)+1 on both engines — no float log
    QueryDef("q155_log2_histogram",
      (s, dir) => QualityChecks.log2Histogram(Tables.events(s, dir), "value"),
      Some("""WITH c AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v FROM events),
             |b AS (SELECT CASE WHEN v <= 0 THEN 0
             |                  ELSE CAST(length(bin(v)) AS INTEGER) END AS bucket
             |      FROM c)
             |SELECT bucket,
             |       CASE WHEN bucket = 0 THEN 0
             |            ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS lo_cents,
             |       CASE WHEN bucket = 0 THEN 0
             |            ELSE (CAST(1 AS BIGINT) << bucket) - 1 END AS hi_cents,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM b GROUP BY 1""".stripMargin)),

    // native session_window API (the custom state-op sessionize's
    // cousin); oracle = gaps-and-islands with end = last event + gap
    QueryDef("q153_session_window",
      (s, dir) => StreamOps.sessionWindowCounts(Tables.events(s, dir)),
      Some("""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |m AS (SELECT user_id, us,
             |             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
             |                       OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
             |                  THEN 1 ELSE 0 END AS brk
             |      FROM e),
             |g AS (SELECT user_id, us,
             |             sum(brk) OVER (PARTITION BY user_id ORDER BY us
             |                            ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM m)
             |SELECT user_id, min(us) AS s_us, max(us) + 1800000000 AS e_us,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM g GROUP BY user_id, sid""".stripMargin)),

    // containment (subset/quote) dedup: |A∩B|/|A| >= 0.9 with A the
    // smaller set — the case symmetric Jaccard is blind to; corpus
    // carries near-dups AND extracted 8-token quotes; oracle = all-pairs
    QueryDef("q152_containment",
      (s, dir) => Dedup.containmentPairs(
        Dedup.withQuoteDocs(Dedup.withNearDuplicates(
          Tables.load(s, dir, "documents")))),
      Some(s"""WITH corpus0 AS (
             |  SELECT doc_id, text, source FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text, source
             |  FROM documents WHERE doc_id % 10 = 0),
             |corpus AS (
             |  SELECT doc_id, text, source FROM corpus0
             |  UNION ALL
             |  SELECT doc_id + 2000000 AS doc_id,
             |         array_to_string(string_split(text, ' ')[1:8], ' ') AS text, source
             |  FROM corpus0 WHERE doc_id % 25 = 0),
             |$shingleCtes,
             |dsh AS (SELECT doc_id, source, unnest(list_distinct(shs)) AS s FROM sh),
             |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dsh GROUP BY 1),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
             |      FROM dsh a
             |      JOIN sizes za ON za.doc_id = a.doc_id
             |      JOIN dsh b ON a.s = b.s AND a.source = b.source
             |      JOIN sizes zb ON zb.doc_id = b.doc_id
             |      WHERE za.sz < zb.sz OR (za.sz = zb.sz AND a.doc_id < b.doc_id)
             |      GROUP BY 1, 2)
             |SELECT id_a, id_b, inter, za.sz AS sz_a,
             |       CAST(inter AS DOUBLE) / CAST(za.sz AS DOUBLE) AS containment
             |FROM p JOIN sizes za ON za.doc_id = p.id_a
             |WHERE CAST(inter AS DOUBLE) / CAST(za.sz AS DOUBLE) >= 0.9""".stripMargin)),

    // dead-letter quarantine: JSON lines with every 13th malformed (an
    // UNQUOTED string value — chosen because Jackson's PERMISSIVE parse
    // forgives a merely-truncated object); the parse must flag EXACTLY
    // the malformed ones, and bad rows keep their doc_id for the
    // dead-letter output
    QueryDef("q151_json_quarantine",
      (s, dir) => {
        val lines = Tables.load(s, dir, "documents").select(col("doc_id"),
          concat(lit("{\"id\":"), col("doc_id"), lit(",\"lang\":"),
            when(col("doc_id") % 13 === 0, col("lang"))
              .otherwise(concat(lit("\""), col("lang"), lit("\""))),
            lit("}")).as("js"))
        lines.select(col("doc_id"),
            from_json(col("js"), org.apache.spark.sql.types.StructType.fromDDL(
              "id BIGINT, lang STRING, _corrupt STRING"),
              Map("columnNameOfCorruptRecord" -> "_corrupt")).as("j"))
          .select(col("doc_id"), col("j._corrupt").isNull.as("ok"))
      },
      Some("SELECT doc_id, doc_id % 13 != 0 AS ok FROM documents")),

    // regex extraction surface: build a log line, parse it back with
    // regexp_extract, aggregate the parsed fields — value rides as
    // integer cents because double->string rendering is engine territory
    QueryDef("q150_log_parse",
      (s, dir) => {
        val lines = Tables.events(s, dir).select(concat(
          lit("uid="), col("user_id"), lit(" type="), col("event_type"),
          lit(" value_cents="),
          col("value").cast("decimal(12,2)").*(100).cast("long"),
          lit(" id="), col("event_id")).as("line"))
        lines.select(
            regexp_extract(col("line"), "type=([a-z_]+)", 1).as("event_type"),
            regexp_extract(col("line"), "value_cents=([0-9]+)", 1)
              .cast("long").as("cents"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      },
      Some("""WITH l AS (SELECT concat('uid=', user_id, ' type=', event_type,
             |                         ' value_cents=',
             |                         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT),
             |                         ' id=', event_id) AS line
             |           FROM events),
             |p AS (SELECT regexp_extract(line, 'type=([a-z_]+)', 1) AS event_type,
             |             CAST(regexp_extract(line, 'value_cents=([0-9]+)', 1) AS BIGINT) AS cents
             |      FROM l)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(cents) AS BIGINT) AS total_cents
             |FROM p GROUP BY 1""".stripMargin)),

    // incremental materialized-aggregate maintenance: CDC batch folds
    // into the per-key state via one full-outer delta merge; the oracle
    // is the FULL RECOMPUTE, so incremental == recompute is hash-gated
    QueryDef("q148_incremental_agg",
      (s, dir) => {
        import graft.operators.Maintenance
        val orders = Tables.load(s, dir, "orders")
        val price = Exact.money(col("o_totalprice"))
        val state = orders.filter(col("o_orderkey") % 5 =!= 0)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"), sum(price).as("total"))
        val changes = orders.filter(col("o_orderkey") % 5 === 0)
            .select(col("o_custkey"), lit("insert").as("op"), price.as("v"))
          .unionAll(orders
            .filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 7 === 0)
            .select(col("o_custkey"), lit("delete").as("op"), price.as("v")))
        Maintenance.incrementalAggMaintain(state, changes, "o_custkey", "op", "v")
          .select(col("o_custkey"), col("n"), col("total").cast("double").as("total"))
      },
      Some("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders
             |WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 != 0
             |GROUP BY 1""".stripMargin)),

    // merkle-style sync diff: order-independent range checksums of two
    // snapshots; only the tampered ranges disagree
    QueryDef("q149_range_checksums",
      (s, dir) => {
        import graft.operators.Maintenance
        val docs = Tables.load(s, dir, "documents")
        val cols = Seq("text", "lang", "source", "n_chars")
        val a = Maintenance.rangeChecksums(docs, "doc_id", 100L, cols)
        val b = Maintenance.rangeChecksums(
            docs.withColumn("text", when(col("doc_id") % 97 === 0,
              lit("tampered")).otherwise(col("text"))), "doc_id", 100L, cols)
          .select(col("bucket"), col("checksum").as("ck_b"))
        a.join(b, "bucket").filter(col("checksum") =!= col("ck_b"))
          .select(col("bucket"), col("n_rows"), col("checksum"), col("ck_b"))
      },
      Some {
        val rowStr = "concat_ws('|', text, lang, source, CAST(n_chars AS VARCHAR))"
        val rowStrT = "concat_ws('|', CASE WHEN doc_id % 97 = 0 THEN 'tampered' ELSE text END, " +
          "lang, source, CAST(n_chars AS VARCHAR))"
        s"""WITH a AS (SELECT doc_id // 100 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
           |                  CAST(sum(${TextHash.polyHashSql(rowStr)}) % ${TextHash.P} AS BIGINT) AS checksum
           |           FROM documents GROUP BY 1),
           |b AS (SELECT doc_id // 100 AS bucket,
           |             CAST(sum(${TextHash.polyHashSql(rowStrT)}) % ${TextHash.P} AS BIGINT) AS ck_b
           |      FROM documents GROUP BY 1)
           |SELECT a.bucket, a.n_rows, a.checksum, b.ck_b
           |FROM a JOIN b ON a.bucket = b.bucket
           |WHERE a.checksum != b.ck_b""".stripMargin
      }),

    // per-group deterministic percentiles: the q93 threshold rule with
    // the cumulative window partitioned by group (collapsed rows only)
    QueryDef("q145_grouped_quantiles",
      (s, dir) => QualityChecks.groupedHistogramQuantiles(
        Tables.events(s, dir), "event_type", "value",
        binWidthCents = 500L, pcts = Seq(50, 90, 99)),
      Some("""WITH b AS (SELECT event_type,
             |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 500 AS bin
             |           FROM events),
             |h AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
             |cum AS (SELECT event_type, bin,
             |               sum(c) OVER (PARTITION BY event_type ORDER BY bin
             |                            ROWS UNBOUNDED PRECEDING) AS cum
             |        FROM h),
             |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS total FROM b GROUP BY 1),
             |thr AS (SELECT t.event_type, p.pct, t.total, (t.total * p.pct + 99) // 100 AS thr
             |        FROM t, (SELECT unnest([50, 90, 99]) AS pct) p),
             |sel AS (SELECT thr.event_type, thr.pct, thr.total, min(cum.bin) AS bin
             |        FROM thr JOIN cum ON cum.event_type = thr.event_type AND cum.cum >= thr.thr
             |        GROUP BY 1, 2, 3)
             |SELECT sel.event_type, CAST(sel.pct AS INTEGER) AS pct, sel.bin,
             |       sel.bin * 500 AS lo_cents, CAST(cum.cum AS BIGINT) AS cum, sel.total
             |FROM sel JOIN cum ON cum.event_type = sel.event_type AND cum.bin = sel.bin""".stripMargin)),

    // empirical Markov transition matrix over each user's (ts, id)-total
    // event order — one keyed lag window, |types|^2 output
    QueryDef("q146_transition_matrix",
      (s, dir) => graft.operators.TimeSeries.transitionMatrix(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type"),
      Some("""WITH s AS (SELECT user_id, event_type,
             |                  lag(event_type) OVER (PARTITION BY user_id
             |                                        ORDER BY ts, event_id) AS prev_type
             |           FROM events)
             |SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
             |FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin)),

    // acoustic sign-of-delta fingerprint over the decoded PCM frames —
    // the audio member of the shared 56-bit hamming family; oracle
    // replays the fixed 57-point grid from the digest formula
    QueryDef("q147_audio_fingerprint",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.audioFingerprint(
          Multimodal.audioTable(Tables.load(s, dir, "documents"))).toDF()
      },
      Some("""WITH base AS (SELECT doc_id, md5(text) AS hx,
             |                     CAST(n_chars % 64 + 16 AS BIGINT) AS n
             |              FROM documents),
             |bytes AS (SELECT doc_id, n,
             |                 list_transform(generate_series(1, 16),
             |                   i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1)
             |                             + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1) AS BIGINT)) AS bs
             |          FROM base),
             |g AS (SELECT doc_id, n, bs, js.j
             |      FROM bytes, (SELECT unnest(generate_series(0, 55)) AS j) js),
             |b AS (SELECT doc_id, j,
             |             bs[((j*n // 57) % 16) + 1] AS lb,
             |             bs[(((j+1)*n // 57) % 16) + 1] AS rb
             |      FROM g)
             |SELECT doc_id,
             |       CAST(sum(CASE WHEN rb > lb THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS afp
             |FROM b GROUP BY 1""".stripMargin)),

    // rank-based A/B readout: exact integer ranks over the collapsed
    // cents histogram (2-rank trick keeps tie averages integral); only
    // the final z is (fixed-order) double
    QueryDef("q141_mann_whitney",
      (s, dir) => QualityChecks.mannWhitneyU(
        Tables.events(s, dir), "event_type", "value", "click", "purchase"),
      Some("""WITH c AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
             |                  event_type AS g
             |           FROM events WHERE event_type IN ('click', 'purchase')),
             |h AS (SELECT v, CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS ca,
             |             CAST(count(CASE WHEN g = 'purchase' THEN 1 END) AS BIGINT) AS cb
             |      FROM c GROUP BY 1),
             |w AS (SELECT ca, cb, ca + cb AS t,
             |             sum(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
             |      FROM h),
             |m AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
             |             CAST(sum(ca * (2*(cum - t) + t + 1)) AS BIGINT) AS r2a,
             |             CAST(sum(t*t*t - t) AS BIGINT) AS ties
             |      FROM w)
             |SELECT n_a, n_b, r2a - n_a * (n_a + 1) AS u2_a, ties,
             |       ((CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0
             |          - (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0)
             |        / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
             |               * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
             |                  - CAST(ties AS DOUBLE)
             |                    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             |                       * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))) AS z
             |FROM m""".stripMargin)),

    // two-sample KS distance: exact sup|ECDF_a - ECDF_b| via integer
    // cross-multiplication over the collapsed cents histogram — the
    // distribution-drift readout next to q141's location test
    QueryDef("q167_ks_test",
      (s, dir) => QualityChecks.ksTest(
        Tables.events(s, dir), "event_type", "value", "click", "view"),
      Some("""WITH c AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
             |                  event_type AS g
             |           FROM events WHERE event_type IN ('click', 'view')),
             |h AS (SELECT v, CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS ca,
             |             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS cb
             |      FROM c GROUP BY 1),
             |w AS (SELECT CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
             |             CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb,
             |             CAST(sum(ca) OVER () AS BIGINT) AS na,
             |             CAST(sum(cb) OVER () AS BIGINT) AS nb
             |      FROM h)
             |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
             |       CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
             |       CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
             |         / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)) AS d
             |FROM w""".stripMargin)),

    // robust outlier fence: exact percentile_disc median + MAD over
    // collapsed cents histograms, integer fence test end to end
    QueryDef("q142_mad_outliers",
      (s, dir) => QualityChecks.madOutliers(
        Tables.events(s, dir), "value", Seq("event_id")),
      Some("""WITH c AS (SELECT event_id, value,
             |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
             |           FROM events),
             |h AS (SELECT v, CAST(count(*) AS BIGINT) AS ct FROM c GROUP BY 1),
             |t AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM h),
             |w AS (SELECT v, sum(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM h),
             |med AS (SELECT min(v) AS m FROM w, t WHERE cum * 2 >= n),
             |h2 AS (SELECT abs(v - (SELECT m FROM med)) AS d, sum(ct) AS c2 FROM h GROUP BY 1),
             |w2 AS (SELECT d, sum(c2) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum2 FROM h2),
             |mad AS (SELECT min(d) AS md FROM w2, t WHERE cum2 * 2 >= n)
             |SELECT event_id, value, abs(v - med.m) AS dev
             |FROM c, med, mad
             |WHERE abs(v - med.m) > 10 * mad.md""".stripMargin)),

    // PCA top principal direction by integer power iteration, all three
    // rounds unrolled in SQL (w sums ride DuckDB's HUGEINT exactly as
    // the driver rides BigInt); output = the 64-dim scaled direction
    QueryDef("q125_pca_power",
      (s, dir) => Similarity.pcaPowerIteration(Tables.load(s, dir, "embeddings")),
      Some {
        val rounds = 1 to 3
        val q0 =
          """q AS (SELECT list_transform(embedding,
            |                x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS q
            |       FROM embeddings)""".stripMargin
        val per = rounds.map { r =>
          val dotExpr =
            if (r == 1) "list_reduce(list_transform(generate_series(1, 64), j -> q[j] * 100000), (a, b) -> a + b) // 1024"
            else s"list_reduce(list_transform(generate_series(1, 64), j -> q[j] * vl[j]), (a, b) -> a + b) // 1024"
          val dFrom = if (r == 1) "q" else s"q CROSS JOIN l${r - 1}"
          s"""d$r AS (SELECT q, $dotExpr AS dot FROM $dFrom),
             |e$r AS (SELECT dot, q, unnest(generate_series(1, 64)) AS j FROM d$r),
             |w$r AS (SELECT j, sum(q[j] * dot) AS w FROM e$r GROUP BY 1),
             |m$r AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w$r),
             |v$r AS (SELECT j, CAST((w * 100000) // mx AS BIGINT) AS v FROM w$r CROSS JOIN m$r),
             |l$r AS (SELECT list(v ORDER BY j) AS vl FROM v$r)""".stripMargin
        }
        s"WITH $q0,\n${per.mkString(",\n")}\n" +
          "SELECT CAST(j - 1 AS INTEGER) AS i, v FROM v3"
      }),

    // vocabulary coverage / OOV rate vs the top-256 corpus unigrams —
    // boundary tie broken by (count desc, hash asc) on both engines
    QueryDef("q126_vocab_coverage",
      (s, dir) => TextAnalysis.vocabCoverage(Tables.load(s, dir, "documents")),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM documents),
             |cnt AS (SELECT wh, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
             |vocab AS (SELECT wh FROM cnt ORDER BY cnt DESC, wh LIMIT 256),
             |per AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |               CAST(count(v.wh) AS BIGINT) AS n_in
             |        FROM tok t LEFT JOIN vocab v ON t.wh = v.wh GROUP BY 1)
             |SELECT doc_id, n_tokens, n_tokens - n_in AS n_oov,
             |       CAST(n_tokens - n_in AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
             |FROM per""".stripMargin)),

    QueryDef("q97_hopping",
      (s, dir) => StreamOps.hoppingCounts(Tables.events(s, dir)),
      Some(s"""WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
             |           FROM events),
             |w AS (SELECT event_type, value, ((us // 1800000000) - j) * 1800 AS wstart
             |      FROM e, (SELECT unnest([0, 1]) AS j) jj)
             |SELECT wstart, event_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
             |FROM w GROUP BY 1, 2""".stripMargin)),

    // inverted-index build: term -> df + md5 of the doc_id-sorted posting
    // list (digest keeps the dump bounded; the hash gates list CONTENT)
    QueryDef("q98_inverted_index",
      (s, dir) => TextAnalysis.invertedIndex(Tables.load(s, dir, "documents")),
      Some("""WITH tok AS (SELECT DISTINCT doc_id, term FROM
             |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents))
             |SELECT term, CAST(count(*) AS BIGINT) AS df,
             |       md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS postings_md5
             |FROM tok GROUP BY 1""".stripMargin)),

    // forward-window co-occurrence counts + rational PMI argument (no
    // libm log) — the word2vec/GloVe counting pass, pairs built with
    // per-row array slices, never a positional self-join
    QueryDef("q99_cooccurrence",
      (s, dir) => TextAnalysis.cooccurrence(Tables.load(s, dir, "documents"), 2),
      Some("""WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
             |pr AS (SELECT tk, d, unnest(generate_series(1, greatest(len(tk) - d, 0))) AS i
             |       FROM t, (SELECT unnest([1, 2]) AS d) dd WHERE len(tk) > 1),
             |pairs AS (SELECT tk[i] AS a, tk[i + d] AS b FROM pr),
             |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM pairs GROUP BY 1, 2),
             |alltok AS (SELECT unnest(string_split(text, ' ')) AS tkn FROM documents),
             |uni AS (SELECT tkn, CAST(count(*) AS BIGINT) AS c FROM alltok GROUP BY 1),
             |tt AS (SELECT CAST(count(*) AS BIGINT) AS t_total FROM alltok)
             |SELECT c.a, c.b, c.c_ab,
             |       (CAST(c.c_ab AS DOUBLE) * CAST(tt.t_total AS DOUBLE))
             |         / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS assoc
             |FROM cab c JOIN uni ua ON ua.tkn = c.a
             |           JOIN uni ub ON ub.tkn = c.b CROSS JOIN tt""".stripMargin)),

    // hourly resample + LOCF forward fill per entity (the metrics-store
    // regularization pass); grid = per-entity sequence, fill = one
    // per-entity window — every shuffle keys on the entity id
    QueryDef("q100_gapfill",
      (s, dir) => graft.operators.TimeSeries.gapFillHourlyLocf(
        Tables.events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("event_id")),
        "user_id", "ts_us", "value", "event_id"),
      Some("""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value, event_id
             |           FROM events),
             |h AS (SELECT user_id, us // 3600000000 AS hour, value,
             |             row_number() OVER (PARTITION BY user_id, us // 3600000000
             |                                ORDER BY us DESC, event_id DESC) AS rn
             |      FROM e),
             |obs AS (SELECT user_id, hour, value AS obs_value FROM h WHERE rn = 1),
             |span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM obs GROUP BY 1),
             |grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hour FROM span),
             |j AS (SELECT g.user_id, g.hour, o.obs_value
             |      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.hour = g.hour)
             |SELECT user_id, hour,
             |       last_value(obs_value IGNORE NULLS) OVER (
             |         PARTITION BY user_id ORDER BY hour
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
             |       obs_value IS NOT NULL AS is_observed
             |FROM j""".stripMargin)),

    QueryDef("q71_sessionize",
      (s, dir) => StreamOps.sessionizeBatch(Tables.events(s, dir)),
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
             |l AS (SELECT user_id, event_id, ts,
             |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |      FROM e),
             |n AS (SELECT user_id, event_id, ts,
             |             CASE WHEN prev_ts IS NULL
             |                    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1
             |                  ELSE 0 END AS new_s
             |      FROM l),
             |s AS (SELECT user_id, ts,
             |             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |      FROM n)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             |       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
             |       CAST(count(*) AS INTEGER) AS n_events
             |FROM s GROUP BY 1, 2""".stripMargin)),

    // 2-D Pareto frontier (skyline): parts not dominated on (cheaper
    // price, larger size) — per-x-value collapse + strict-prefix running
    // max over the collapsed histogram, never a self-join
    QueryDef("q168_pareto_front",
      (s, dir) => QualityChecks.paretoFront(
        Tables.load(s, dir, "part"), "p_retailprice", "p_size", Seq("p_partkey")),
      Some("""WITH r AS (SELECT p_partkey,
             |                  CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc,
             |                  CAST(p_size AS BIGINT) AS yv
             |           FROM part),
             |h AS (SELECT xc, max(yv) AS max_y FROM r GROUP BY 1),
             |t AS (SELECT xc, max_y,
             |             max(max_y) OVER (ORDER BY xc
             |                              ROWS BETWEEN UNBOUNDED PRECEDING
             |                              AND 1 PRECEDING) AS best_cheaper
             |      FROM h)
             |SELECT r.p_partkey, r.xc, r.yv
             |FROM r JOIN t USING (xc)
             |WHERE r.yv = t.max_y
             |  AND (t.best_cheaper IS NULL OR t.max_y > t.best_cheaper)""".stripMargin)),

    // chi-squared contingency cells (event_type x epoch-day-of-week):
    // n*o - r*c exact in DECIMAL(38,0) internally (HUGEINT oracle-side),
    // reported as DOUBLE; per-cell term one fixed order of doubles
    QueryDef("q169_chi2_cells",
      (s, dir) => QualityChecks.chi2Cells(
        Tables.events(s, dir).select(col("event_type"),
          expr("(unix_micros(ts) div 86400000000) % 7").as("dow")),
        "event_type", "dow"),
      Some("""WITH e AS (SELECT event_type AS a,
             |                  (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 7 AS b
             |           FROM events),
             |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY 1, 2),
             |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
             |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
             |g AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
             |SELECT cells.a, cells.b, cells.o, rt.r, ct.c, g.n,
             |       CAST(CAST(g.n AS HUGEINT) * cells.o
             |            - CAST(rt.r AS HUGEINT) * ct.c AS DOUBLE) AS diff,
             |       CAST(CAST(g.n AS HUGEINT) * cells.o
             |            - CAST(rt.r AS HUGEINT) * ct.c AS DOUBLE)
             |         * CAST(CAST(g.n AS HUGEINT) * cells.o
             |                - CAST(rt.r AS HUGEINT) * ct.c AS DOUBLE)
             |         / (CAST(g.n AS DOUBLE) * CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE))
             |         AS term
             |FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN g""".stripMargin)),

    // sorted-neighborhood linkage: rank by name, w=4 neighborhood as an
    // equi-join on rank div w buckets, Levenshtein <= 2 survivors
    QueryDef("q170_sorted_neighborhood",
      (s, dir) => graft.operators.Linkage.sortedNeighborhoodPairs(
        Tables.load(s, dir, "customer"), "c_custkey", "c_name",
        col("c_name"), windowSize = 4, maxDist = 2),
      Some("""WITH rk AS (SELECT c_custkey AS id, c_name AS nm,
             |                   CAST(row_number() OVER (ORDER BY c_name, c_custkey) - 1
             |                        AS BIGINT) AS rn
             |            FROM customer)
             |SELECT a.id AS a_id, b.id AS b_id, b.rn - a.rn AS gap,
             |       CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
             |FROM rk a JOIN rk b ON b.rn > a.rn AND b.rn - a.rn < 4
             |WHERE levenshtein(a.nm, b.nm) <= 2""".stripMargin)),

    // l-diversity audit over (event_type, day) quasi-groups with the
    // props.k payload as the sensitive attribute — the disclosure gate
    // k-anonymity alone misses (homogeneous groups)
    QueryDef("q171_ldiversity",
      (s, dir) => graft.operators.Curation.lDiversityAudit(
        Tables.events(s, dir).select(col("user_id"), col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          get_json_object(col("props"), "$.k").cast("int").as("sens")),
        "user_id", Seq("event_type", "day"), "sens", l = 60),
      Some("""WITH e AS (SELECT user_id, event_type,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |                  CAST(json_extract(props, '$.k') AS INTEGER) AS sens
             |           FROM events)
             |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |       CAST(count(DISTINCT sens) AS BIGINT) AS n_sensitive,
             |       count(DISTINCT sens) >= 60 AS diverse
             |FROM e GROUP BY 1, 2""".stripMargin)),

    // per-group winsorization: exact [p5, p95] clamp, thresholds from a
    // cumulative window over the collapsed (group, cents) histogram
    QueryDef("q172_winsorize",
      (s, dir) => QualityChecks.winsorize(
        Tables.events(s, dir), "event_type", "value", 5, 95, Seq("event_id")),
      Some("""WITH c AS (SELECT event_id, event_type,
             |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
             |           FROM events),
             |h AS (SELECT event_type, v, count(*) AS ct FROM c GROUP BY 1, 2),
             |w AS (SELECT event_type, v,
             |             sum(ct) OVER (PARTITION BY event_type ORDER BY v
             |                           ROWS UNBOUNDED PRECEDING) AS cum,
             |             sum(ct) OVER (PARTITION BY event_type) AS n
             |      FROM h),
             |lo AS (SELECT event_type, min(v) AS lo FROM w WHERE cum * 100 >= n * 5 GROUP BY 1),
             |hi AS (SELECT event_type, min(v) AS hi FROM w WHERE cum * 100 >= n * 95 GROUP BY 1)
             |SELECT c.event_id, c.event_type, c.v, lo.lo, hi.hi,
             |       greatest(lo.lo, least(hi.hi, c.v)) AS v_wins
             |FROM c JOIN lo USING (event_type) JOIN hi USING (event_type)""".stripMargin)),

    // native NFC normalization (codegen'd java.text.Normalizer): a
    // decomposed suffix (e + U+0301, twice) is appended to every doc,
    // normalized, and gated by md5 + the codepoint-count contraction
    QueryDef("q173_nfc_normalize",
      (s, dir) => {
        val raw = concat(substring(col("text"), 1, 24), lit(" café é"))
        Tables.load(s, dir, "documents").select(
          col("doc_id"),
          length(raw).as("raw_chars"),
          length(graft.functions.StringNorm.nfc(raw)).as("nfc_chars"),
          md5(graft.functions.StringNorm.nfc(raw)).as("nfc_md5"))
      },
      Some("""SELECT doc_id,
             |       CAST(length(substr(text, 1, 24) || ' café é') AS INTEGER) AS raw_chars,
             |       CAST(length(nfc_normalize(substr(text, 1, 24) || ' café é')) AS INTEGER) AS nfc_chars,
             |       md5(nfc_normalize(substr(text, 1, 24) || ' café é')) AS nfc_md5
             |FROM documents""".stripMargin)),

    // native Jaro-Winkler (DuckDB/rapidfuzz convention, bit-identical —
    // fixture-pinned in StringNormSpec) over consecutive-id customer
    // name pairs; the DOUBLE itself is part of the hash gate
    QueryDef("q174_jaro_winkler",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val a = c.select(col("c_custkey").as("a_id"), col("c_name").as("a_nm"))
        val b = c.select((col("c_custkey") - 1).as("a_id"),
          col("c_custkey").as("b_id"), col("c_name").as("b_nm"))
        a.join(b, "a_id")
          .select(col("a_id"), col("b_id"),
            graft.functions.StringNorm.jaroWinkler(col("a_nm"), col("b_nm")).as("jw"))
      },
      Some("""SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             |       jaro_winkler_similarity(a.c_name, b.c_name) AS jw
             |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1""".stripMargin)),

    // video scene cuts: every frame decoded through the real PNG codec,
    // consecutive-frame mean-luminance jump >= 20.00% of full scale
    // flagged via the all-integer gate 100*|delta| >= 2000*n_px; oracle
    // reconstructs each frame's pixel sum from the md5 generation rule
    QueryDef("q175_scene_cuts",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.sceneCuts(
          Multimodal.videoTable(Tables.load(s, dir, "documents")), 2000)
      },
      Some("""WITH m AS (SELECT doc_id, text,
             |                 CAST(doc_id % 6 + 2 AS INTEGER) AS n_frames,
             |                 CAST(n_chars % 16 + 1 AS INTEGER) AS width,
             |                 CAST(doc_id % 12 + 1 AS INTEGER) AS height
             |          FROM documents),
             |f AS (SELECT doc_id, text, width, height,
             |             CAST(unnest(generate_series(0, n_frames - 1)) AS INTEGER) AS frame_idx
             |      FROM m),
             |s AS (SELECT doc_id, frame_idx, width, height,
             |             md5(text || '#' || CAST(frame_idx AS VARCHAR)) AS h,
             |             width * height AS n_px
             |      FROM f),
             |b AS (SELECT doc_id, frame_idx, n_px,
             |             list_transform(generate_series(1, 16),
             |               i -> CAST(16 * (strpos('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1)
             |                         + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1) AS BIGINT)) AS bytes
             |      FROM s),
             |p AS (SELECT doc_id, frame_idx, n_px,
             |             CAST(n_px // 16 AS BIGINT) * list_reduce(bytes, (a, b) -> a + b)
             |               + CASE WHEN n_px % 16 = 0 THEN 0
             |                      ELSE list_reduce(bytes[1:(n_px % 16)], (a, b) -> a + b) END AS px_sum
             |      FROM b),
             |l AS (SELECT doc_id, frame_idx, n_px, px_sum,
             |             lag(px_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_sum
             |      FROM p)
             |SELECT doc_id, frame_idx, px_sum, prev_sum,
             |       abs(px_sum - prev_sum) * 100 >= 2000 * n_px AS is_cut
             |FROM l WHERE prev_sum IS NOT NULL""".stripMargin)),

    // HLL sketch ROLLUP: per-(event_type, day) register sketches merged
    // to per-type by register-wise max, folded only after the merge —
    // the mergeable-sketch path "distinct users this month" takes at
    // scale (count distinct is not summable; registers are)
    QueryDef("q176_hll_rollup",
      (s, dir) => QualityChecks.hllSketchRollup(
        Tables.events(s, dir).select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"), col("user_id")),
        "event_type", "day", "user_id"),
      Some(s"""WITH e AS (SELECT event_type,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |                  user_id
             |           FROM events),
             |h0 AS (SELECT event_type, day,
             |              (CAST(user_id AS BIGINT) * 2654435761 + 7) % 1000000007 AS h
             |       FROM e),
             |h1 AS (SELECT event_type, day, (h * h + h * 5 + 1) % 1000000007 AS h FROM h0),
             |h AS (SELECT event_type, day, (h * h + h * 3 + 7) % 1000000007 AS h FROM h1),
             |r AS (SELECT event_type, day, CAST(h % ${QualityChecks.HllM} AS INTEGER) AS j, h // ${QualityChecks.HllM} AS v FROM h),
             |rr AS (SELECT event_type, day, j,
             |              CASE WHEN v = 0 THEN 25
             |                   ELSE CAST(length(bin(v & -v)) AS INTEGER) END AS rho
             |       FROM r),
             |m AS (SELECT event_type, day, j, max(rho) AS mj FROM rr GROUP BY 1, 2, 3),
             |ns AS (SELECT event_type, CAST(count(DISTINCT day) AS BIGINT) AS n_sketches
             |       FROM m GROUP BY 1),
             |mm AS (SELECT event_type, j, max(mj) AS mj FROM m GROUP BY 1, 2),
             |g AS (SELECT event_type, CAST(count(*) AS INTEGER) AS n_registers,
             |             list(CAST(1.0 AS DOUBLE) / CAST((1 << mj) AS DOUBLE) ORDER BY j) AS terms
             |      FROM mm GROUP BY 1),
             |s AS (SELECT event_type, n_registers,
             |             list_reduce(terms, (a, b) -> a + b)
             |               + CAST(${QualityChecks.HllM} - n_registers AS DOUBLE) AS inv_sum
             |      FROM g)
             |SELECT s.event_type, ns.n_sketches, s.n_registers,
             |       CAST(${QualityChecks.HllAlphaM2} AS DOUBLE) / inv_sum AS raw_est
             |FROM s JOIN ns USING (event_type)""".stripMargin)),

    // canonicalization-aware exact dedup: byte-different but
    // NFC-canonically-equal copies (NFD accent suffix) collapse into
    // one group; n_raw_hashes = 2 on exactly the doc_id % 4 groups
    // byte-level dedup would have missed
    QueryDef("q177_nfc_dedup",
      (s, dir) => Dedup.nfcDedupGroups(
        Dedup.withNfcVariants(Tables.load(s, dir, "documents"))),
      Some(("""WITH corpus AS (
             |  SELECT doc_id, text || ' café' AS text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 4000000 AS doc_id, text || ' café' AS text
             |  FROM documents WHERE doc_id % 4 = 0)
             |SELECT md5(nfc_normalize(text)) AS canon_md5,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_hashes,
             |       min(doc_id) AS keep_id
             |FROM corpus GROUP BY 1""").stripMargin)),

    // Benford first-digit audit: observed vs expected leading-digit
    // shares in integer parts-per-million, digit from the decimal
    // string head — no libm anywhere
    QueryDef("q178_benford",
      (s, dir) => QualityChecks.benfordAudit(Tables.events(s, dir), "value"),
      Some("""WITH v AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
             |           FROM events),
             |d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit
             |      FROM v WHERE v > 0),
             |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
             |SELECT c.digit, c.n, t.n_total,
             |       ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
             |         45757][c.digit]) AS expected_ppm,
             |       c.n * 1000000 // t.n_total AS observed_ppm
             |FROM c CROSS JOIN t""".stripMargin)),

    // ECDF normalization: every event's value scored as its percentile
    // rank within the 'view' population — one cumulative window over
    // the collapsed cents histogram serves every lookup
    QueryDef("q179_ecdf_normalize",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        QualityChecks.ecdfNormalize(ev,
          ev.filter(col("event_type") === "view"), "value", Seq("event_id"))
      },
      Some("""WITH d AS (SELECT event_id,
             |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
             |           FROM events),
             |r AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
             |             CAST(count(*) AS BIGINT) AS c
             |      FROM events WHERE event_type = 'view' GROUP BY 1),
             |m AS (SELECT v, sum(c) AS c FROM (
             |        SELECT v, c FROM r
             |        UNION ALL
             |        SELECT DISTINCT v, 0 FROM d) GROUP BY 1),
             |w AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             |                     AS BIGINT) AS n_le
             |      FROM m),
             |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_ref FROM r)
             |SELECT d.event_id, d.v, w.n_le, t.n_ref,
             |       CAST(w.n_le AS DOUBLE) / CAST(t.n_ref AS DOUBLE) AS pct_rank
             |FROM d JOIN w USING (v) CROSS JOIN t""".stripMargin)),

    // BFS hop distances: frontier iteration with first-discovery
    // levels over the part co-order graph, capped at 4 hops; oracle is
    // the bounded recursive closure with min(level)
    QueryDef("q189_bfs_levels",
      (s, dir) => {
        val e0 = graft.operators.GraphOps.coOccurrencePairs(
          Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2, "id_a", "id_b", "n_orders")
        val bi = e0.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionAll(e0.select(col("id_b").as("src"), col("id_a").as("dst")))
        val seeds = Tables.load(s, dir, "part")
          .filter(col("p_partkey") % 97 === 0)
          .select(col("p_partkey").as("id"))
        graft.operators.GraphOps.bfsLevels(bi, seeds, maxDepth = 4)
      },
      Some("""WITH RECURSIVE dp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS (SELECT a.l_partkey AS id_a, b.l_partkey AS id_b
             |       FROM dp a JOIN dp b ON a.l_orderkey = b.l_orderkey
             |                          AND a.l_partkey < b.l_partkey
             |       GROUP BY 1, 2 HAVING count(*) >= 2),
             |bi AS (SELECT id_a AS src, id_b AS dst FROM e0
             |       UNION ALL SELECT id_b, id_a FROM e0),
             |seeds AS (SELECT p_partkey AS id FROM part WHERE p_partkey % 97 = 0),
             |lvl(id, level) AS (
             |  SELECT id, 0 FROM seeds
             |  UNION
             |  SELECT bi.dst, l.level + 1 FROM lvl l JOIN bi ON bi.src = l.id
             |  WHERE l.level < 4)
             |SELECT id, CAST(min(level) AS INTEGER) AS level FROM lvl GROUP BY 1""".stripMargin)),

    // SQL-text surface for the NATIVE expressions: the registered
    // graft_* names run through spark.sql and match DuckDB's built-ins
    // (graft_jaro_winkler is bit-identical to jaro_winkler_similarity,
    // graft_nfc to nfc_normalize)
    QueryDef("q188_sql_native",
      (s, dir) => {
        graft.plans.GraftRuntime.enable(s)
        Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
        s.sql("""SELECT c_custkey,
                |       md5(graft_nfc(concat(c_name, ' café'))) AS nfc_md5,
                |       graft_jaro_winkler(c_name, 'Customer#000000001') AS jw
                |FROM customer""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |       md5(nfc_normalize(c_name || ' café')) AS nfc_md5,
             |       jaro_winkler_similarity(c_name, 'Customer#000000001') AS jw
             |FROM customer""".stripMargin)),

    // SQL-text surface for the native AGGREGATES (the q188 counterpart
    // for the sketch tier): graft_topk through spark.sql text, exploded
    // to rows, is EXACT and so gets the full hash gate against the
    // window-rank oracle — proof the FunctionRegistry path produces
    // the same bytes as the Column API end to end.
    QueryDef("q210_topk_sql",
      (s, dir) => {
        graft.plans.GraftRuntime.enable(s)
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders_t")
        s.sql("""SELECT o_custkey,
                |       CAST(e.pos + 1 AS INTEGER) AS rn,
                |       e.col.v AS o_totalcents,
                |       e.col.id AS o_orderkey
                |FROM (SELECT o_custkey,
                |             graft_topk(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),
                |                        o_orderkey, 3) AS top
                |      FROM orders_t GROUP BY o_custkey) g
                |LATERAL VIEW posexplode(g.top) e AS pos, col""".stripMargin)
      },
      Some("""WITH r AS (SELECT o_custkey, o_orderkey,
             |                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             |                  CAST(row_number() OVER (PARTITION BY o_custkey
             |                    ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) DESC,
             |                             o_orderkey) AS INTEGER) AS rn
             |           FROM orders)
             |SELECT o_custkey, rn, cents AS o_totalcents, o_orderkey
             |FROM r WHERE rn <= 3""".stripMargin)),

    // Hamming-plan autotune: the generalized banding's (m, c) choice
    // measured from the ACTUAL fingerprint distribution instead of the
    // static width rule — per plan, the fan-out shipped into the
    // equi-join (band_rows) and the join's pre-dedup output stream
    // (raw_join_rows = Σ C(bucket, 2), which counts both random
    // collisions and discovery multiplicity). The oracle replays every
    // plan's combo keys literally (offsets/lengths interpolated from
    // the same blockDefsFor arithmetic) and re-derives the argmin, so
    // the hash gate covers the measurement AND the choice. Mirrors
    // q205's LSH sweep for the hamming family; promotes the old
    // 96-rows-per-hash cap from constant to measurement.
    QueryDef("q212_hamming_autotune",
      (s, dir) => {
        val corpus = Dedup.withNearDuplicates(Tables.load(s, dir, "documents"))
        val sh = Dedup.simhash(corpus, 48)
          .join(corpus.select(col("doc_id"), col("source")), "doc_id")
        Dedup.hammingPlanCosts(sh, "simhash", 48, 6, Seq("source"))
      },
      Some {
        val bits = 48
        val sums = (0 until bits).map(b => simhashBitSql(b)).mkString(", ")
        val packed = (0 until bits).map(b =>
          s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
        val cfgs = (1 to 4).map { c =>
          val m = 6 + c
          val blockDefs = Dedup.blockDefsFor(bits, m)
          val combos = (0 until m).combinations(c).toSeq
          // combined key: (combo index << 24) + concatenated block bits
          // (key width ≤ c·⌈bits/m⌉ ≤ 20 bits here, so no overlap)
          val cks = combos.zipWithIndex.map { case (combo, idx) =>
            val key = combo.foldLeft("CAST(0 AS BIGINT)") { (acc, b) =>
              val (off, len) = blockDefs(b)
              s"(($acc << $len) + ((h >> $off) & ${(1L << len) - 1}))"
            }
            s"((CAST($idx AS BIGINT) << 24) + $key)"
          }
          s"""ck$c AS (SELECT source, unnest([${cks.mkString(", ")}]) AS ck FROM hashes),
             |cfg$c AS (SELECT $m AS num_blocks, $c AS combo_size,
             |                 (SELECT count(*) FROM hashes) AS n_hashes,
             |                 (SELECT count(*) FROM hashes) * ${combos.size} AS band_rows,
             |                 COALESCE(sum(n * (n - 1) // 2), 0) AS raw_join_rows
             |          FROM (SELECT source, ck, count(*) AS n FROM ck$c GROUP BY 1, 2))""".stripMargin
        }
        s"""WITH $nearDupCorpus,
           |tok AS (SELECT doc_id, source, ${TextHash.wordHashesSql("text")} AS whs FROM corpus),
           |sx AS (SELECT doc_id, unnest(whs) AS wh FROM tok),
           |ssums AS (SELECT doc_id, $sums FROM sx GROUP BY 1),
           |ssh AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS h, c.source
           |        FROM ssums s JOIN corpus c ON c.doc_id = s.doc_id),
           |hashes AS (SELECT DISTINCT h, source FROM ssh),
           |${cfgs.mkString(",\n")},
           |allc AS (${(1 to 4).map(c => s"SELECT * FROM cfg$c").mkString(" UNION ALL ")})
           |SELECT CAST(num_blocks AS INTEGER) AS num_blocks,
           |       CAST(combo_size AS INTEGER) AS combo_size,
           |       CAST(n_hashes AS BIGINT) AS n_hashes,
           |       CAST(band_rows AS BIGINT) AS band_rows,
           |       CAST(raw_join_rows AS BIGINT) AS raw_join_rows,
           |       CAST(band_rows * 32 + raw_join_rows AS BIGINT) AS cost,
           |       row_number() OVER (ORDER BY band_rows * 32 + raw_join_rows ASC,
           |                          combo_size ASC) = 1 AS chosen
           |FROM allc""".stripMargin
      }),

    // Embedding-plan autotune: the regime handoff between fixed-width
    // sign bands and the IVF cell index, measured from the ACTUAL
    // embedding distribution instead of asserted (the embedding twin of
    // q212). Per plan: routing_ops (plane dots / cell-assignment folds,
    // each one O(dim) vector op) and verify_pairs (Σ C(bucket, 2)
    // cosines the buckets emit). The oracle replays the sign planes
    // (literal ±1 arrays from the same planeSign arithmetic), the
    // k-medians training rounds, the bucket counting, and the argmin —
    // so the hash gate covers the measurement AND the choice. kCells
    // follows defaultCellCount(n) = max(8, n/4096); at the oracle's
    // sf0.01 (and sf0.1) that is the floor 8, matching the literal
    // kCells this static SQL replays.
    QueryDef("q219_embed_autotune",
      (s, dir) => Similarity.embedPlanCosts(Tables.load(s, dir, "embeddings")),
      Some {
        val dim = 64
        def bandPlanCtes(idx: Int, nb: Int, bpb: Int): String = {
          val perBand = (0 until nb).map { b =>
            val v = (0 until bpb).map { j =>
              val p = b * bpb + j
              val plane = (0 until dim).map(d =>
                if (Similarity.planeSign(p, d) > 0) "1.0" else "-1.0")
                .mkString("[", ", ", "]")
              s"(CASE WHEN ${Similarity.fdotSql("embedding", plane)} > 0 " +
                s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            }.mkString(" + ")
            s"SELECT $b AS b, ($v) AS v FROM embeddings"
          }.mkString(" UNION ALL ")
          s"""bp$idx AS ($perBand),
             |bg$idx AS (SELECT b, v, count(*) AS n FROM bp$idx GROUP BY 1, 2),
             |cfg$idx AS (SELECT 'bands_${nb}x$bpb' AS plan,
             |                   (SELECT count(*) FROM embeddings) AS n_vectors,
             |                   (SELECT count(*) FROM embeddings) * ${nb * bpb} AS routing_ops,
             |                   COALESCE(sum(n * (n - 1) // 2), 0) AS verify_pairs
             |            FROM bg$idx)""".stripMargin
        }
        // kCoarse = ceil(sqrt(8)) = 3 at the floor kCells every oracle
        // scale hits; Similarity.CoarseIters = 1 coarse round
        val kCells = 8
        val kCoarse = 3
        s"""WITH ${bandPlanCtes(0, 8, 8)},
           |${bandPlanCtes(1, 8, 16)},
           |${kMediansAssignCtes(kCells, 2)},
           |ivfb AS (SELECT cell, count(*) AS n FROM af GROUP BY 1),
           |cfgivf AS (SELECT 'ivf_k$kCells' AS plan,
           |                  (SELECT count(*) FROM embeddings) AS n_vectors,
           |                  (SELECT count(*) FROM embeddings) * $kCells AS routing_ops,
           |                  COALESCE(sum(n * (n - 1) // 2), 0) AS verify_pairs
           |           FROM ivfb),
           |${twoLevelCtes(kCoarse, "c2")},
           |tlb AS (SELECT cell, count(*) AS n FROM tl GROUP BY 1),
           |gmc AS (SELECT gcell, count(*) AS cnt FROM gm GROUP BY 1),
           |cfgivf2 AS (SELECT 'ivf2_k${kCells}c$kCoarse' AS plan,
           |                   (SELECT count(*) FROM embeddings) AS n_vectors,
           |                   (SELECT count(*) FROM embeddings) * (SELECT count(*) FROM cgk)
           |                     + (SELECT COALESCE(sum(c.cnt), 0)
           |                        FROM vg v JOIN gmc c ON c.gcell = v.gcell) AS routing_ops,
           |                   (SELECT COALESCE(sum(n * (n - 1) // 2), 0) FROM tlb) AS verify_pairs),
           |allc AS (SELECT * FROM cfg0 UNION ALL SELECT * FROM cfg1
           |         UNION ALL SELECT * FROM cfgivf UNION ALL SELECT * FROM cfgivf2)
           |SELECT plan, CAST(n_vectors AS BIGINT) AS n_vectors,
           |       CAST(routing_ops AS BIGINT) AS routing_ops,
           |       CAST(verify_pairs AS BIGINT) AS verify_pairs,
           |       CAST(routing_ops + verify_pairs AS BIGINT) AS cost,
           |       row_number() OVER (ORDER BY routing_ops + verify_pairs ASC, plan ASC) = 1 AS chosen
           |FROM allc""".stripMargin
      }),

    // IVF-probe semantic decontamination: the INDEX-TIER twin of q159 —
    // cells sized to the corpus (defaultCellCount), quantizer trained on
    // a deterministic sample, corpus routed once through the codegen'd
    // NearestCell assignment, probes meeting only their nprobe nearest
    // cells. The oracle is the EXACT cross-split all-pairs form (q159's
    // gate), so the hash gate proves the cell blocking loses no
    // contaminated row on this corpus — recall measured, not assumed.
    QueryDef("q220_ivf_decon",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.ivfSemanticDecontaminate(emb, Similarity.nearDupBatch(emb), 0.9)
      },
      Some(s"""WITH $augEmbCte,
             |tr AS (SELECT vec_id, label, embedding, ${Similarity.fnormSql("embedding")} AS norm
             |       FROM embeddings),
             |hd AS (SELECT vec_id, embedding, ${Similarity.fnormSql("embedding")} AS norm
             |       FROM aug WHERE vec_id >= 1000000),
             |bad AS (SELECT DISTINCT t.vec_id
             |        FROM tr t, hd h
             |        WHERE ${Similarity.fdotSql("t.embedding", "h.embedding")} / (t.norm * h.norm) >= 0.9)
             |SELECT vec_id, label FROM tr
             |WHERE vec_id NOT IN (SELECT vec_id FROM bad)""".stripMargin)),

    // Incremental probe-form SimHash: a fresh batch probes the
    // accumulated corpus (probe x base, never base x base) through the
    // banded-index shape the streaming fold uses. The oracle is the
    // EXHAUSTIVE cross-split 48-bit hamming join, so the hash gate
    // proves the probe banding (and its hamming-0 equi-join recovery)
    // loses no pair — the q49b treatment for the hamming family.
    QueryDef("q221_incremental_simhash",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val batch = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            expr("substring(text, instr(text, ' ') + 1)").as("text"),
            col("source"))
        Dedup.incrementalSimhashPairs(batch, docs)
      },
      Some {
        val bits = 48
        val sums = (0 until bits).map(b => simhashBitSql(b)).mkString(", ")
        val packed = (0 until bits).map(b =>
          s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
        s"""WITH orig AS (SELECT doc_id, text, source FROM documents),
           |batch AS (SELECT doc_id + 1000000 AS doc_id,
           |                 substr(text, strpos(text, ' ') + 1) AS text, source
           |          FROM documents WHERE doc_id % 10 = 0),
           |ex1 AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM orig),
           |sums1 AS (SELECT doc_id, $sums FROM ex1 GROUP BY 1),
           |sh1 AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS simhash, c.source
           |        FROM sums1 s JOIN orig c ON c.doc_id = s.doc_id),
           |ex2 AS (SELECT doc_id, unnest(${TextHash.wordHashesSql("text")}) AS wh FROM batch),
           |sums2 AS (SELECT doc_id, $sums FROM ex2 GROUP BY 1),
           |sh2 AS (SELECT s.doc_id, CAST($packed AS BIGINT) AS simhash, c.source
           |        FROM sums2 s JOIN batch c ON c.doc_id = s.doc_id)
           |SELECT n.doc_id AS id_a, o.doc_id AS id_b,
           |       CAST(bit_count(xor(n.simhash, o.simhash)) AS INTEGER) AS hamming
           |FROM sh2 n JOIN sh1 o ON n.source = o.source
           |WHERE bit_count(xor(n.simhash, o.simhash)) <= 6""".stripMargin
      }),

    // SemDeDup through the IVF cell index — q67's index-tier twin and
    // the closest shape to the SemDeDup paper (cluster, then pair
    // within clusters). Same EXACT all-pairs + recursive-reachability
    // oracle as q67, so the hash gate proves the cell blocking loses no
    // group member on this corpus; q219 measures where each form wins.
    QueryDef("q222_ivf_semdedup",
      (s, dir) => Similarity.ivfSemDedup(
        Similarity.withNearDupEmbeddings(Tables.load(s, dir, "embeddings")), 0.9),
      Some(s"""WITH RECURSIVE $augEmbCte,
             |n AS (SELECT vec_id, embedding, ${Similarity.fnormSql("embedding")} AS norm FROM aug),
             |edges AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |          FROM n a JOIN n b ON a.vec_id < b.vec_id
             |          WHERE ${Similarity.fdotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) >= 0.9),
             |bi AS (SELECT id_a AS src, id_b AS dst FROM edges
             |       UNION ALL SELECT id_b, id_a FROM edges),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM bi
             |  UNION
             |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src),
             |noncanon AS (SELECT src AS vec_id FROM reach GROUP BY src
             |             HAVING least(src, min(dst)) < src)
             |SELECT a.vec_id, a.label FROM aug a
             |WHERE a.vec_id NOT IN (SELECT vec_id FROM noncanon)""".stripMargin)),

    // Two-level IVF routing census: flat routing is O(n·k) with
    // k = n/4096 — O(n²/4096), the caveat that binds the IVF tier past
    // ~10⁸ vectors. This routes through ceil(√k) coarse groups learned
    // OVER the fine centroids (driver-local k-medians, same recipe),
    // probes the TWO nearest groups, and argmins their member union:
    // O(n·√k), boundary misroutes recovered (CoarseProbe scaladoc). The
    // oracle unrolls BOTH quantizer levels plus the flat argmin, so
    // the hash gate covers the coarse training, the member map, the
    // approximate route AND its agreement with the exact route
    // (flat_cell) — the accuracy trade is gated data, not a claim.
    QueryDef("q223_two_level_routing",
      (s, dir) => Similarity.twoLevelRouting(Tables.load(s, dir, "embeddings")),
      Some {
        // kCells floors to 8 at every oracle scale (defaultCellCount),
        // kCoarse = ceil(sqrt(8)) = 3, CoarseIters = 1 — constants this
        // static SQL replays; re-derive if testdata sizes change
        s"""WITH ${kMediansAssignCtes(8, 2)},
           |${twoLevelCtes(3, "c2")}
           |SELECT t.vec_id, CAST(t.gcell AS INTEGER) AS coarse, t.cell,
           |       a.cell AS flat_cell
           |FROM tl t JOIN af a ON a.vec_id = t.vec_id""".stripMargin
      }),

    // KS drift matrix: one collapsed histogram with per-group counts,
    // every unordered pair's sup-distance in exact integers
    QueryDef("q185_ks_matrix",
      (s, dir) => QualityChecks.ksMatrix(Tables.events(s, dir),
        "event_type", "value", Seq("click", "error", "purchase", "view")),
      Some {
        val gs = Seq("click", "error", "purchase", "view")
        val condCols = gs.map(g =>
          s"CAST(count(CASE WHEN g = '$g' THEN 1 END) AS BIGINT) AS c_$g").mkString(", ")
        val pairSelects = for {
          (a, i) <- gs.zipWithIndex; b <- gs.drop(i + 1)
        } yield
          s"""SELECT '$a' AS group_a, '$b' AS group_b, n_a, n_b, d_num,
             |       CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d
             |FROM (SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
             |             CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num
             |      FROM (SELECT sum(c_$a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
             |                   sum(c_$b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
             |                   sum(c_$a) OVER () AS na, sum(c_$b) OVER () AS nb
             |            FROM h))""".stripMargin
        s"""WITH c AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
           |                  event_type AS g
           |           FROM events
           |           WHERE event_type IN (${gs.map(g => s"'$g'").mkString(", ")})),
           |h AS (SELECT v, $condCols FROM c GROUP BY 1)
           |${pairSelects.mkString("\nUNION ALL\n")}""".stripMargin
      }),

    // Tukey/IQR fences: exact Q1/Q3 from the collapsed histogram, the
    // 1.5-IQR test kept integral by scaling x2
    QueryDef("q186_iqr_outliers",
      (s, dir) => QualityChecks.iqrOutliers(
        Tables.events(s, dir), "value", Seq("event_id")),
      Some("""WITH c AS (SELECT event_id,
             |                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
             |           FROM events),
             |h AS (SELECT v, count(*) AS ct FROM c GROUP BY 1),
             |w AS (SELECT v, sum(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
             |             sum(ct) OVER () AS n
             |      FROM h),
             |t1 AS (SELECT min(v) AS q1 FROM w WHERE cum * 4 >= n * 1),
             |t3 AS (SELECT min(v) AS q3 FROM w WHERE cum * 4 >= n * 3)
             |SELECT c.event_id, c.v, t1.q1, t3.q3
             |FROM c, t1, t3
             |WHERE c.v * 2 < t1.q1 * 2 - (t3.q3 - t1.q1) * 3
             |   OR c.v * 2 > t3.q3 * 2 + (t3.q3 - t1.q1) * 3""".stripMargin)),

    // compaction plan: prefix-sum range binning of a synthetic file
    // manifest (bytes desc, id) into 10 kB bins — a catalog-scale
    // window, the table-maintenance metadata query
    QueryDef("q187_compaction_plan",
      (s, dir) => graft.operators.Maintenance.compactionPlan(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", targetBytes = 10000L),
      Some("""WITH f AS (SELECT doc_id AS fid, CAST(n_chars AS BIGINT) AS bytes
             |           FROM documents),
             |w AS (SELECT fid, bytes,
             |             COALESCE(sum(bytes) OVER (ORDER BY bytes DESC, fid
             |                                       ROWS BETWEEN UNBOUNDED PRECEDING
             |                                       AND 1 PRECEDING), 0) AS before
             |      FROM f)
             |SELECT CAST(before // 10000 AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_files,
             |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
             |       min(fid) AS min_file_id, max(fid) AS max_file_id
             |FROM w GROUP BY 1""".stripMargin)),

    // bounded top-k aggregate: the scale-right top-k-per-group shape —
    // k-entry buffers with map-side partials and k-bounded shuffle
    // volume instead of the window form's full per-group sort; oracle
    // is the window recompute, so agg == window is the gate
    QueryDef("q184_topk_agg",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders").select(
          col("o_orderpriority").as("grp"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").as("v"),
          col("o_orderkey").as("id"))
        o.groupBy(col("grp"))
          .agg(org.apache.spark.sql.graftnative.SketchAggregates
            .topK(col("v"), col("id"), 10).as("tk"))
          .select(col("grp"), posexplode(col("tk")))
          .select(col("grp"), col("pos"), col("col.v").as("v"), col("col.id").as("id"))
      },
      Some("""WITH c AS (SELECT o_orderpriority AS grp,
             |                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
             |                  o_orderkey AS id
             |           FROM orders),
             |r AS (SELECT grp, v, id,
             |             row_number() OVER (PARTITION BY grp ORDER BY v DESC, id) AS rnk
             |      FROM c)
             |SELECT grp, CAST(rnk - 1 AS INTEGER) AS pos, v, id
             |FROM r WHERE rnk <= 10""".stripMargin)),

    // Jaro-Winkler linkage: nation-blocked candidate pairs scored by
    // the native expression inside the join projection; the DOUBLE is
    // in the hash gate (bit-identical to DuckDB's comparator)
    QueryDef("q183_jw_linkage",
      (s, dir) => graft.operators.Linkage.jaroWinklerPairs(
        Tables.load(s, dir, "customer"), "c_custkey", "c_name",
        Seq("c_nationkey"), minJw = 0.97),
      Some("""SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             |       jaro_winkler_similarity(a.c_name, b.c_name) AS jw
             |FROM customer a JOIN customer b
             |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
             |WHERE jaro_winkler_similarity(a.c_name, b.c_name) >= 0.97""".stripMargin)),

    // incremental connected components: a new batch's indexed-probe
    // edges fold into the EXISTING canonical assignment (star edges
    // preserve old connectivity) — oracle recomputes the full closure
    // over old + batch edges, so incremental == full is the hash gate
    QueryDef("q182_incremental_cc",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corpus = Dedup.withNearDuplicates(docs)
        val existing = Dedup.canonicalAssignments(Dedup.minhashLshPairs(corpus))
        val batch = docs.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 5000000).as("doc_id"),
            expr("substring(text, instr(text, ' ') + 1)").as("text"),
            col("source"))
        val newEdges = Dedup.incrementalNearDupPairs(batch, corpus)
          .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
        Dedup.incrementalCanonical(existing, newEdges)
      },
      Some(s"""WITH RECURSIVE $nearDupCorpus,
             |$shingleCtes,
             |$sigCte,
             |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                 sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |          FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |              AND a.doc_id < b.doc_id),
             |${jaccardCtes(blocked = false)},
             |edges AS (SELECT c.id_a, c.id_b
             |          FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
             |          WHERE j.jacc >= 0.5),
             |batch AS (SELECT doc_id + 5000000 AS doc_id,
             |                 substr(text, strpos(text, ' ') + 1) AS text, source
             |          FROM documents WHERE doc_id % 10 = 5),
             |tokb AS (SELECT doc_id, ${TextHash.wordHashesSql("text")} AS whs FROM batch),
             |shb AS (SELECT doc_id, ${TextHash.shingleHashesOverSql("whs")} AS shs FROM tokb),
             |sigb AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
             |                list_min(list_transform(shs, x -> ${TextHash.permuteSql("i", "x")})) AS mh
             |         FROM shb, g WHERE len(shs) > 0),
             |bandsb AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
             |                  sum(mh) AS s, min(mh) AS mn, max(mh) AS mx
             |           FROM sigb GROUP BY 1, 2),
             |candb AS (SELECT DISTINCT bb.doc_id AS new_id, bc.doc_id AS old_id
             |          FROM bandsb bb JOIN bands bc
             |            ON bb.band = bc.band AND bb.s = bc.s AND bb.mn = bc.mn
             |               AND bb.mx = bc.mx),
             |setsb AS (SELECT doc_id, list_distinct(shs) AS st FROM shb),
             |setsc AS (SELECT doc_id, list_distinct(shs) AS st FROM sh),
             |vb AS (SELECT c.new_id, c.old_id,
             |              len(list_intersect(s2.st, s1.st)) AS inter,
             |              len(s2.st) + len(s1.st) - len(list_intersect(s2.st, s1.st)) AS uni
             |       FROM candb c JOIN setsb s2 ON s2.doc_id = c.new_id
             |                    JOIN setsc s1 ON s1.doc_id = c.old_id),
             |edgesb AS (SELECT new_id AS id_a, old_id AS id_b FROM vb
             |           WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5),
             |alledges AS (SELECT id_a, id_b FROM edges
             |             UNION ALL SELECT id_a, id_b FROM edgesb),
             |bi AS (SELECT id_a AS src, id_b AS dst FROM alledges
             |       UNION ALL SELECT id_b, id_a FROM alledges),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM bi
             |  UNION
             |  SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src)
             |SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
             |FROM reach GROUP BY src""".stripMargin)),

    // langid confusion matrix + per-true-language recall: the eval
    // harness for the q32 heuristic, truth totals re-aggregated from
    // the collapsed confusion cells
    QueryDef("q181_langid_eval",
      (s, dir) => TextAnalysis.langIdEval(Tables.load(s, dir, "documents")),
      Some {
        val scores = TextAnalysis.profiles.map { case (lang, words) =>
          s"CAST(len(list_filter(tk, w -> w IN (${words.map(w => s"'$w'").mkString(", ")}))) AS INTEGER) AS s_$lang"
        }.mkString(", ")
        val langs = TextAnalysis.profiles.map(_._1)
        val cases = langs.init.zipWithIndex.map { case (lang, i) =>
          val conds = langs.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
          s"WHEN $conds THEN '$lang'"
        }.mkString(" ")
        s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
           |sc AS (SELECT doc_id, lang, $scores FROM t),
           |p AS (SELECT doc_id, lang, CASE $cases ELSE '${langs.last}' END AS pred_lang
           |      FROM sc),
           |cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
           |          FROM p GROUP BY 1, 2),
           |tr AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true FROM cells GROUP BY 1)
           |SELECT cells.lang, cells.pred_lang, cells.n, tr.n_true,
           |       CAST(cells.n AS DOUBLE) / CAST(tr.n_true AS DOUBLE) AS frac
           |FROM cells JOIN tr USING (lang)""".stripMargin
      }),

    // per-type OLS volume trend: slope of daily event counts over the
    // epoch-day index from five exact BIGINT moments; slope_num/_den
    // exact internally (HUGEINT oracle-side), reported as DOUBLE
    QueryDef("q180_trend",
      (s, dir) => QualityChecks.groupTrend(
        Tables.events(s, dir).groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n_day")),
        "event_type", "day", "n_day"),
      Some("""WITH daily AS (SELECT event_type,
             |                      epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |                      CAST(count(*) AS BIGINT) AS n_day
             |               FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(day) AS BIGINT) AS sx,
             |             CAST(sum(n_day) AS BIGINT) AS sy,
             |             CAST(sum(day * n_day) AS BIGINT) AS sxy,
             |             CAST(sum(day * day) AS BIGINT) AS sxx
             |      FROM daily GROUP BY 1),
             |s AS (SELECT event_type, n, sx, sy,
             |             CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
             |                  AS DECIMAL(38,0)) AS slope_num,
             |             CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
             |                  AS DECIMAL(38,0)) AS slope_den
             |      FROM m),
             |sl AS (SELECT event_type, n, sx, sy, slope_num, slope_den,
             |              CASE WHEN slope_den = 0 THEN NULL
             |                   ELSE CAST(slope_num AS DOUBLE) / CAST(slope_den AS DOUBLE)
             |              END AS slope
             |       FROM s)
             |SELECT event_type, n, CAST(slope_num AS DOUBLE) AS slope_num,
             |       CAST(slope_den AS DOUBLE) AS slope_den, slope,
             |       CASE WHEN slope_den = 0 THEN NULL
             |            ELSE (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             |                 / CAST(n AS DOUBLE) END AS intercept
             |FROM sl""".stripMargin)),

    // Spearman rank correlation: exact doubled average ranks from each
    // axis's collapsed cents histogram, five HUGEINT/DECIMAL moments,
    // rho one fixed order of double ops (num / (sqrt*sqrt))
    QueryDef("q190_spearman",
      (s, dir) => QualityChecks.spearmanCorr(
        Tables.load(s, dir, "lineitem"), "l_quantity", "l_extendedprice"),
      Some("""WITH r AS (SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
             |                  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
             |           FROM lineitem),
             |hx AS (SELECT x AS v, count(*) AS c FROM r GROUP BY 1),
             |rx AS (SELECT v AS x,
             |              2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS r_x
             |       FROM hx),
             |hy AS (SELECT y AS v, count(*) AS c FROM r GROUP BY 1),
             |ry AS (SELECT v AS y,
             |              2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS r_y
             |       FROM hy),
             |j AS (SELECT r_x, r_y FROM r JOIN rx USING (x) JOIN ry USING (y)),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             sum(CAST(r_x AS HUGEINT)) AS sx, sum(CAST(r_y AS HUGEINT)) AS sy,
             |             sum(CAST(r_x AS HUGEINT) * r_y) AS sxy,
             |             sum(CAST(r_x AS HUGEINT) * r_x) AS sxx,
             |             sum(CAST(r_y AS HUGEINT) * r_y) AS syy
             |      FROM j),
             |f AS (SELECT n,
             |             CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DECIMAL(38,0)) AS num,
             |             CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DECIMAL(38,0)) AS den_x,
             |             CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DECIMAL(38,0)) AS den_y
             |      FROM m)
             |SELECT n, CAST(num AS DOUBLE) AS num, CAST(den_x AS DOUBLE) AS den_x,
             |       CAST(den_y AS DOUBLE) AS den_y,
             |       CASE WHEN den_x = 0 OR den_y = 0 THEN NULL
             |            ELSE CAST(num AS DOUBLE)
             |                 / (sqrt(CAST(den_x AS DOUBLE)) * sqrt(CAST(den_y AS DOUBLE)))
             |       END AS rho
             |FROM f""".stripMargin)),

    // per-group Gini concentration: rank-sum folded over the collapsed
    // histogram (2Sigma-i-x integral by doubling), one final division
    QueryDef("q191_gini",
      (s, dir) => QualityChecks.giniConcentration(
        Tables.load(s, dir, "orders"), "o_orderpriority", "o_totalprice"),
      Some("""WITH c AS (SELECT o_orderpriority AS g,
             |                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
             |           FROM orders),
             |h AS (SELECT g, v, count(*) AS c FROM c WHERE v >= 0 GROUP BY 1, 2),
             |w AS (SELECT g, v, c,
             |             sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) - c AS b
             |      FROM h),
             |m AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
             |             sum(CAST(v AS HUGEINT) * c) AS sum_v_h,
             |             sum(CAST(v AS HUGEINT) *
             |                 (2 * CAST(c AS HUGEINT) * b + CAST(c AS HUGEINT) * c + c)) AS two_sum
             |      FROM w GROUP BY 1)
             |SELECT g, n, CAST(sum_v_h AS DOUBLE) AS sum_v,
             |       CAST(two_sum - (CAST(n AS HUGEINT) + 1) * sum_v_h AS DOUBLE) AS g_num,
             |       CASE WHEN sum_v_h = 0 THEN NULL
             |            ELSE CAST(two_sum - (CAST(n AS HUGEINT) + 1) * sum_v_h AS DOUBLE)
             |                 / (CAST(n AS DOUBLE) * CAST(sum_v_h AS DOUBLE)) END AS gini
             |FROM m""".stripMargin)),

    // CUSUM change point per event type: scaled mean-shift statistic
    // n*prefix - i*total kept exact, earliest-day argmax tie-break
    QueryDef("q192_cusum",
      (s, dir) => TimeSeries.cusumChangePoint(Tables.events(s, dir), "event_type", "ts"),
      Some("""WITH daily AS (SELECT event_type AS g,
             |                      epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |                      CAST(count(*) AS BIGINT) AS x
             |               FROM events GROUP BY 1, 2),
             |w AS (SELECT g, day,
             |             count(*) OVER (PARTITION BY g ORDER BY day
             |                            ROWS UNBOUNDED PRECEDING) AS i,
             |             sum(x) OVER (PARTITION BY g ORDER BY day
             |                          ROWS UNBOUNDED PRECEDING) AS prefix,
             |             count(*) OVER (PARTITION BY g) AS n,
             |             sum(x) OVER (PARTITION BY g) AS total
             |      FROM daily),
             |s AS (SELECT g, day, n, total,
             |             abs(CAST(n AS HUGEINT) * prefix - CAST(i AS HUGEINT) * total) AS s_abs
             |      FROM w),
             |b AS (SELECT g, max(s_abs) AS s_abs_max FROM s GROUP BY 1)
             |SELECT s.g, CAST(max(s.n) AS BIGINT) AS n_days,
             |       CAST(max(s.total) AS BIGINT) AS total,
             |       min(s.day) AS day_star,
             |       CAST(max(s.s_abs) AS DOUBLE) AS s_abs_max,
             |       CAST(max(s.s_abs) AS DOUBLE)
             |         / (CAST(max(s.n) AS DOUBLE) * CAST(max(s.n) AS DOUBLE)) AS shift_score
             |FROM s JOIN b ON b.g = s.g AND s.s_abs = b.s_abs_max
             |GROUP BY s.g""".stripMargin)),

    // bounded k-core peeling (k=3, 3 synchronous rounds) on the q189
    // co-order part graph; oracle is the identical unrolled peel
    QueryDef("q193_kcore",
      (s, dir) => {
        val e0 = graft.operators.GraphOps.coOccurrencePairs(
          Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2, "id_a", "id_b", "n_orders")
        val bi = e0.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionAll(e0.select(col("id_b").as("src"), col("id_a").as("dst")))
        graft.operators.GraphOps.kCorePeel(bi, k = 3, rounds = 3)
      },
      Some("""WITH dp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS (SELECT a.l_partkey AS id_a, b.l_partkey AS id_b
             |       FROM dp a JOIN dp b ON a.l_orderkey = b.l_orderkey
             |                          AND a.l_partkey < b.l_partkey
             |       GROUP BY 1, 2 HAVING count(*) >= 2),
             |bi AS (SELECT id_a AS src, id_b AS dst FROM e0
             |       UNION ALL SELECT id_b, id_a FROM e0),
             |k1 AS (SELECT src FROM bi GROUP BY 1 HAVING count(*) >= 3),
             |e1 AS (SELECT src, dst FROM bi WHERE src IN (SELECT src FROM k1)
             |                                 AND dst IN (SELECT src FROM k1)),
             |k2 AS (SELECT src FROM e1 GROUP BY 1 HAVING count(*) >= 3),
             |e2 AS (SELECT src, dst FROM e1 WHERE src IN (SELECT src FROM k2)
             |                                 AND dst IN (SELECT src FROM k2)),
             |k3 AS (SELECT src FROM e2 GROUP BY 1 HAVING count(*) >= 3),
             |e3 AS (SELECT src, dst FROM e2 WHERE src IN (SELECT src FROM k3)
             |                                 AND dst IN (SELECT src FROM k3))
             |SELECT src AS id, CAST(count(*) AS BIGINT) AS degree
             |FROM e3 GROUP BY 1""".stripMargin)),

    // zone-map pruning audit: per-shard (min,max,rows) manifest from
    // ONE scan, day-range probes scored against it — "does the ingest
    // order actually let time filters skip files?" (event_id tracks ts
    // in this log, so recent-day probes prune nearly everything)
    QueryDef("q194_zonemap",
      (s, dir) => graft.operators.Maintenance.zoneMapAudit(
        Tables.events(s, dir).select(col("event_id"),
          expr("unix_micros(ts) div 86400000000").as("day")),
        "event_id", "day", shardWidth = 512L,
        preds = Seq((19723L, 19725L), (19740L, 19752L), (19760L, 19770L),
          (0L, 99999L))),
      Some("""WITH man AS (SELECT event_id // 512 AS shard,
             |                    min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS mn,
             |                    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS mx,
             |                    count(*) AS n_rows
             |             FROM events GROUP BY 1),
             |p AS (SELECT CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi
             |      FROM (VALUES (19723, 19725), (19740, 19752), (19760, 19770),
             |                   (0, 99999)) AS t(lo, hi))
             |SELECT lo, hi, CAST(count(*) AS BIGINT) AS n_shards,
             |       CAST(count(CASE WHEN mx < lo OR mn > hi THEN 1 END) AS BIGINT) AS n_pruned,
             |       CAST(sum(CASE WHEN mx < lo OR mn > hi THEN 0 ELSE n_rows END) AS BIGINT)
             |         AS rows_scanned_bound
             |FROM p CROSS JOIN man GROUP BY 1, 2""".stripMargin)),

    // exact phrase search over positional postings: m term-selective
    // probes equi-joined on (doc, pos+i) — the adjacency query the
    // docfreq inverted index (q98) cannot answer
    QueryDef("q195_phrase_search",
      (s, dir) => TextAnalysis.phraseSearch(
        Tables.load(s, dir, "documents"), Seq("hash", "join")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |p AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM t),
             |post AS (SELECT doc_id, i - 1 AS pos, tk[i] AS term FROM p)
             |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
             |FROM post a JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             |WHERE a.term = 'hash' AND b.term = 'join'
             |GROUP BY 1""".stripMargin)),

    // per-flag weighted median price (weights = quantities): smallest
    // value whose cumulative weight reaches half the total, integral
    QueryDef("q196_weighted_median",
      (s, dir) => QualityChecks.weightedMedian(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        "l_quantity"),
      Some("""WITH h AS (SELECT l_returnflag AS g,
             |                  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
             |                  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
             |           FROM lineitem GROUP BY 1, 2),
             |c AS (SELECT g, v,
             |             sum(w) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
             |             sum(w) OVER (PARTITION BY g) AS tw
             |      FROM h)
             |SELECT g, CAST(max(tw) AS BIGINT) AS total_w, min(v) AS wmedian
             |FROM c WHERE cum * 2 >= tw GROUP BY 1""".stripMargin)),

    // item-item cosine over user behavior vectors: dots ride the
    // entity self-join (per-key group bounded by category count),
    // integer dot/norms, cosine one fixed double expression
    QueryDef("q197_category_cosine",
      (s, dir) => QualityChecks.categoryCosine(
        Tables.load(s, dir, "events"), "user_id", "event_type"),
      Some("""WITH vec AS (SELECT user_id AS e, event_type AS cat,
             |                    CAST(count(*) AS BIGINT) AS cnt
             |             FROM events GROUP BY 1, 2),
             |d AS (SELECT a.cat AS cat_a, b.cat AS cat_b,
             |             CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
             |      FROM vec a JOIN vec b ON a.e = b.e AND a.cat < b.cat
             |      GROUP BY 1, 2),
             |nr AS (SELECT cat, CAST(sum(cnt * cnt) AS BIGINT) AS nrm FROM vec GROUP BY 1)
             |SELECT cat_a, cat_b, dot, na.nrm AS norm_a, nb.nrm AS norm_b,
             |       CAST(dot AS DOUBLE)
             |         / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
             |FROM d JOIN nr na ON na.cat = d.cat_a
             |       JOIN nr nb ON nb.cat = d.cat_b""".stripMargin)),

    // Cramer's V on top of the chi2 cells: per-cell terms scaled to
    // ppb and FLOORED to BIGINT so the cross-cell sum is order-free
    QueryDef("q198_cramers_v",
      (s, dir) => QualityChecks.cramersV(
        Tables.load(s, dir, "orders"), "o_orderpriority", "o_orderstatus"),
      Some("""WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
             |                      CAST(count(*) AS BIGINT) AS o
             |               FROM orders GROUP BY 1, 2),
             |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
             |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
             |g AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
             |t AS (SELECT cells.a, cells.b, r, c, n,
             |             CAST(CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c
             |                  AS DECIMAL(38,0)) AS diff
             |      FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN g),
             |terms AS (SELECT n, a, b,
             |                 CAST(floor(CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE)
             |                      / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
             |                      * 1e9) AS BIGINT) AS tppb
             |          FROM t)
             |SELECT CAST(max(n) AS BIGINT) AS n,
             |       CAST(count(DISTINCT a) AS BIGINT) AS n_rows_cat,
             |       CAST(count(DISTINCT b) AS BIGINT) AS n_cols_cat,
             |       CAST(sum(tppb) AS BIGINT) AS chi2_ppb,
             |       CASE WHEN least(count(DISTINCT a), count(DISTINCT b)) <= 1 THEN NULL
             |            ELSE sqrt(CAST(sum(tppb) AS DOUBLE) / 1e9
             |                 / (CAST(max(n) AS DOUBLE)
             |                    * CAST(least(count(DISTINCT a), count(DISTINCT b)) - 1 AS DOUBLE)))
             |       END AS v
             |FROM terms""".stripMargin)),

    // calibration curve for the q105 linear filter against a ground
    // label: floor(score*bins) buckets vs observed positive rate
    QueryDef("q199_calibration",
      (s, dir) => QualityChecks.calibrationCurve(
        TextAnalysis.linearScore(Tables.load(s, dir, "documents"))
          .join(Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("text").contains("join").as("y")), "doc_id"),
        "score", "y", bins = 10),
      Some(s"""WITH t AS (SELECT doc_id, text, ${TextHash.wordHashesSql("text")} AS whs FROM documents),
             |sc AS (SELECT doc_id, text,
             |         list_reduce(list_transform(whs,
             |             wh -> CAST((wh * 2654435761) % ${TextHash.P} % 2001 - 1000 AS DOUBLE) / 1000.0),
             |           (x, y) -> x + y) / CAST(len(whs) AS DOUBLE) AS score
             |       FROM t WHERE len(whs) > 0),
             |lb AS (SELECT doc_id, CAST(floor(score * 10) AS BIGINT) AS bucket,
             |              CASE WHEN contains(text, 'join') THEN 1 ELSE 0 END AS y
             |       FROM sc)
             |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(y) AS BIGINT) AS n_pos,
             |       CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
             |FROM lb GROUP BY 1""".stripMargin)),

    // exact ROC AUC of the same filter via the rank-sum identity:
    // doubled average ranks over the collapsed score histogram,
    // 2U integral, one division
    QueryDef("q200_auc",
      (s, dir) => QualityChecks.aucRankSum(
        TextAnalysis.linearScore(Tables.load(s, dir, "documents"))
          .join(Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("text").contains("join").as("y")), "doc_id"),
        "score", "y"),
      Some(s"""WITH t AS (SELECT doc_id, text, ${TextHash.wordHashesSql("text")} AS whs FROM documents),
             |sc AS (SELECT doc_id, text,
             |         list_reduce(list_transform(whs,
             |             wh -> CAST((wh * 2654435761) % ${TextHash.P} % 2001 - 1000 AS DOUBLE) / 1000.0),
             |           (x, y) -> x + y) / CAST(len(whs) AS DOUBLE) AS score
             |       FROM t WHERE len(whs) > 0),
             |lb AS (SELECT score AS v, CASE WHEN contains(text, 'join') THEN 1 ELSE 0 END AS y
             |       FROM sc),
             |h AS (SELECT v, count(*) AS c, sum(y) AS cpos FROM lb GROUP BY 1),
             |r2 AS (SELECT c, cpos,
             |              2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
             |       FROM h),
             |m AS (SELECT CAST(sum(cpos) AS BIGINT) AS n_pos,
             |             CAST(sum(c - cpos) AS BIGINT) AS n_neg,
             |             sum(CAST(cpos AS HUGEINT) * r2) AS sum_r2_pos
             |      FROM r2)
             |SELECT n_pos, n_neg,
             |       CAST(sum_r2_pos - CAST(n_pos AS HUGEINT) * (CAST(n_pos AS HUGEINT) + 1)
             |            AS DOUBLE) AS u2,
             |       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
             |            ELSE CAST(sum_r2_pos - CAST(n_pos AS HUGEINT) * (CAST(n_pos AS HUGEINT) + 1)
             |                      AS DOUBLE)
             |                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
             |       END AS auc
             |FROM m""".stripMargin)),

    // lag-1..3 autocorrelation of per-type daily volumes: centered
    // terms scaled by n (c = n*x - S, exact), lead() pairs over the
    // observed sequence, acf one division per lag
    QueryDef("q201_acf",
      (s, dir) => TimeSeries.autocorrelation(
        Tables.events(s, dir), "event_type", "ts", maxLag = 3),
      Some("""WITH daily AS (SELECT event_type AS g,
             |                      epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |                      CAST(count(*) AS BIGINT) AS x
             |               FROM events GROUP BY 1, 2),
             |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
             |        FROM daily GROUP BY 1),
             |base AS (SELECT daily.g, day,
             |                CAST(n AS HUGEINT) * x - s AS cx, n
             |         FROM daily JOIN tot USING (g)),
             |den AS (SELECT g, CAST(max(n) AS BIGINT) AS n_days,
             |               CAST(sum(cx * cx) AS DECIMAL(38,0)) AS den
             |        FROM base GROUP BY 1),
             |led AS (SELECT g, k, cx,
             |               lead(cx, 1) OVER (PARTITION BY g, k ORDER BY day) AS cx1,
             |               lead(cx, 2) OVER (PARTITION BY g, k ORDER BY day) AS cx2,
             |               lead(cx, 3) OVER (PARTITION BY g, k ORDER BY day) AS cx3
             |        FROM base, (SELECT unnest([1, 2, 3]) AS k)),
             |num AS (SELECT g, k,
             |               CAST(sum(cx * CASE k WHEN 1 THEN cx1 WHEN 2 THEN cx2 ELSE cx3 END)
             |                    AS DECIMAL(38,0)) AS num
             |        FROM led
             |        WHERE (CASE k WHEN 1 THEN cx1 WHEN 2 THEN cx2 ELSE cx3 END) IS NOT NULL
             |        GROUP BY 1, 2)
             |SELECT num.g, CAST(k AS INTEGER) AS k, n_days,
             |       CAST(num AS DOUBLE) AS num, CAST(den AS DOUBLE) AS den,
             |       CASE WHEN den = 0 THEN NULL
             |            ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS acf
             |FROM num JOIN den USING (g)""".stripMargin)),

    // energy-gate VAD over the decoded WAV stream: windowed L1 energy
    // in the codec kernel, gaps-and-islands segment merge declaratively
    QueryDef("q202_vad",
      (s, dir) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s
        Multimodal.vadSegments(
          Multimodal.audioTable(Tables.load(s, dir, "documents")))
      },
      Some("""WITH m AS (SELECT doc_id, md5(text) AS h,
             |                 CAST(n_chars % 64 + 16 AS BIGINT) AS n
             |          FROM documents),
             |b AS (SELECT doc_id, n,
             |             list_transform(generate_series(1, 16),
             |               i -> (CAST(16 * (strpos('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1)
             |                          + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1) AS BIGINT)
             |                     - 128) * 200) AS amps
             |      FROM m),
             |s AS (SELECT doc_id, amps, unnest(generate_series(0, n - 1)) AS i FROM b),
             |wv AS (SELECT doc_id, i // 8 AS win,
             |              CAST(sum(abs(amps[(i % 16) + 1])) AS BIGINT) AS energy
             |       FROM s GROUP BY 1, 2),
             |act AS (SELECT doc_id, win,
             |               row_number() OVER (PARTITION BY doc_id ORDER BY win) AS rn
             |        FROM wv WHERE energy >= 100000),
             |seg AS (SELECT doc_id, win - rn AS island, count(*) AS run FROM act GROUP BY 1, 2),
             |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
             |               CAST(max(run) AS BIGINT) AS max_run,
             |               CAST(sum(run) AS BIGINT) AS n_active
             |        FROM seg GROUP BY 1),
             |nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM wv GROUP BY 1)
             |SELECT nw.doc_id, n_windows,
             |       COALESCE(n_active, 0) AS n_active,
             |       COALESCE(n_segments, 0) AS n_segments,
             |       COALESCE(max_run, 0) AS max_run
             |FROM nw LEFT JOIN per USING (doc_id)""".stripMargin)),

    // layout bake-off: the same rectangle probes scored against the
    // arrival-order manifest AND the z-order manifest — the measurement
    // that justifies OPTIMIZE ZORDER (2-D boxes prune z-shards, arrival
    // shards carry the full user range and never prune)
    QueryDef("q203_zorder_skipping",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
          floor(col("value")).cast("long").as("yv"))
        val preds = Seq((0L, 63L, 0L, 63L), (0L, 1499L, 100L, 120L),
          (40L, 50L, 0L, 600L), (0L, 2047L, 0L, 2047L))
        val zed = ev.withColumn("zkey",
          graft.operators.ZOrder.zValue(col("user_id"), col("yv"), 11))
        graft.operators.ZOrder.skippingAudit2D(ev,
            expr("event_id div 512"), "linear", "user_id", "yv", preds)
          .unionByName(graft.operators.ZOrder.skippingAudit2D(zed,
            expr("zkey div 4096"), "zorder", "user_id", "yv", preds))
      },
      Some {
        val z = graft.operators.ZOrder.zValueSql(
          "user_id", "CAST(floor(value) AS BIGINT)", 11)
        """WITH ev AS (SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS yv,
          |                   ZEXPR AS zkey
          |            FROM events),
          |p AS (SELECT CAST(xlo AS BIGINT) AS xlo, CAST(xhi AS BIGINT) AS xhi,
          |             CAST(ylo AS BIGINT) AS ylo, CAST(yhi AS BIGINT) AS yhi
          |      FROM (VALUES (0, 63, 0, 63), (0, 1499, 100, 120),
          |                   (40, 50, 0, 600), (0, 2047, 0, 2047)) AS t(xlo, xhi, ylo, yhi)),
          |ml AS (SELECT event_id // 512 AS shard, min(user_id) AS xmn, max(user_id) AS xmx,
          |              min(yv) AS ymn, max(yv) AS ymx, count(*) AS n_rows
          |       FROM ev GROUP BY 1),
          |mz AS (SELECT zkey // 4096 AS shard, min(user_id) AS xmn, max(user_id) AS xmx,
          |              min(yv) AS ymn, max(yv) AS ymx, count(*) AS n_rows
          |       FROM ev GROUP BY 1),
          |rl AS (SELECT 'linear' AS layout, xlo, xhi, ylo, yhi,
          |              CAST(count(*) AS BIGINT) AS n_shards,
          |              CAST(count(CASE WHEN xmx < xlo OR xmn > xhi
          |                               OR ymx < ylo OR ymn > yhi THEN 1 END) AS BIGINT) AS n_pruned,
          |              CAST(sum(CASE WHEN xmx < xlo OR xmn > xhi
          |                             OR ymx < ylo OR ymn > yhi THEN 0 ELSE n_rows END) AS BIGINT)
          |                AS rows_scanned_bound
          |       FROM p CROSS JOIN ml GROUP BY 2, 3, 4, 5),
          |rz AS (SELECT 'zorder' AS layout, xlo, xhi, ylo, yhi,
          |              CAST(count(*) AS BIGINT) AS n_shards,
          |              CAST(count(CASE WHEN xmx < xlo OR xmn > xhi
          |                               OR ymx < ylo OR ymn > yhi THEN 1 END) AS BIGINT) AS n_pruned,
          |              CAST(sum(CASE WHEN xmx < xlo OR xmn > xhi
          |                             OR ymx < ylo OR ymn > yhi THEN 0 ELSE n_rows END) AS BIGINT)
          |                AS rows_scanned_bound
          |       FROM p CROSS JOIN mz GROUP BY 2, 3, 4, 5)
          |SELECT * FROM rl UNION ALL SELECT * FROM rz""".stripMargin
          .replace("ZEXPR", z)
      }))
}
