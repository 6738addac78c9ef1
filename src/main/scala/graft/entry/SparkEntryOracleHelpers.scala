package graft

import graft.operators._

/** Shared oracle-SQL builders and tuning constants used by both the
  * queries map and the per-domain Oracle* traits — split verbatim out
  * of SparkEntry (r10 file-size refactor).
  */
private[graft] trait SparkEntryOracleHelpers {

  /** The #314 oracle, GENERATED from the same variable/pair list as
    * the Spark operator (`AnalyticsExt.CorrMatrixVars`) — adding a
    * variable changes both sides or neither (kcoreOracle precedent).
    */
  protected def corrMatrixOracle: String = {
    val vs = operators.AnalyticsExt.CorrMatrixVars
    val names = vs.map(_._1)
    val grids = vs.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val sums = names.map(v => s"CAST(sum($v) AS BIGINT) AS s_$v") ++
      (for { i <- names.indices; j <- i until names.length } yield {
        val (a, b) = (names(i), names(j))
        s"sum(CAST($a AS HUGEINT) * $b) AS s_${a}_${b}"
      })
    val pairSelects = (for {
      i <- names.indices
      j <- (i + 1) until names.length
    } yield {
      val (a, b) = (names(i), names(j))
      s"""SELECT '$a' AS var_x, '$b' AS var_y, n,
            CAST(n AS HUGEINT) * s_${a}_${b} - CAST(s_$a AS HUGEINT) * s_$b AS num,
            CAST(n AS HUGEINT) * s_${a}_${a} - CAST(s_$a AS HUGEINT) * s_$a AS den_x,
            CAST(n AS HUGEINT) * s_${b}_${b} - CAST(s_$b AS HUGEINT) * s_$b AS den_y
          FROM m"""
    }).mkString("\n          UNION ALL\n          ")
    s"""WITH base AS (SELECT $grids FROM lineitem),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n, ${sums.mkString(", ")} FROM base),
         pairs AS (
          $pairSelects)
         SELECT var_x, var_y, n,
           CASE WHEN den_x > 0 AND den_y > 0 THEN
             CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
               ((abs(num) * 1000 // den_x)
                * (abs(num) * 1000 // den_y)) AS BIGINT)
           ELSE NULL END AS r2_signed_e6
         FROM pairs"""
  }

  /** The minhash universal-hash family as a DuckDB list expression:
    * sig = [min over shingle hashes h of (aᵢ·(h mod P) + bᵢ) mod P]
    * with the SAME (aᵢ, bᵢ, P) constants the `minhash_sig` kernel uses
    * (graft.functions.MinHashSig) — signatures are bit-identical
    * across engines, which is what lets the LSH dedup chain be
    * hash-compared instead of rows-only checked.
    */
  protected def minhashFamilySql: String = {
    val p = graft.functions.MinHashSig.P
    (0 until 32)
      .map(i =>
        s"list_min([(${graft.functions.MinHashSig.a(i)}*(h % $p) + " +
          s"${graft.functions.MinHashSig.b(i)}) % $p for h in hs])")
      .mkString("[", ", ", "]")
  }

  /** Shared CTE prefix of the near-dup dedup oracles: the duplicated
    * corpus (every 5th doc truncated to 80% of tokens, ids offset by
    * 1M), 3-token shingles, the engine-portable 60-bit md5 hash
    * (`Dedup.hash60` ↔ `('0x' || substr(md5(s),1,15))::BIGINT`),
    * minhash signatures, and banded candidate pairs (8 bands × 4 rows,
    * pair survives iff some band slice matches exactly).
    */
  protected def minhashCandidatesCte(recursive: Boolean): String = {
    val kw = if (recursive) "WITH RECURSIVE" else "WITH"
    s"""$kw toks0 AS (
           SELECT doc_id,
             regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tok
           FROM documents),
         corpus AS (
           SELECT doc_id, tok FROM toks0
           UNION ALL
           SELECT doc_id + 1000000,
             tok[1:greatest(1, CAST(floor(len(tok) * 0.8) AS INT))]
           FROM toks0 WHERE doc_id % 5 = 0),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tok) < 3 THEN [array_to_string(tok, ' ')]
                  ELSE [array_to_string(tok[i:i+2], ' ') for i in range(1, len(tok)-1)] END AS sh
           FROM corpus),
         hsets AS (
           SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT for s in sh] AS hs
           FROM sh),
         sigs AS (
           SELECT doc_id, $minhashFamilySql AS sig, hs FROM hsets),
         cand AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b, a.hs AS hs_a, b.hs AS hs_b,
             CAST(len([bb for bb in range(8)
                       if a.sig[bb*4+1:bb*4+4] = b.sig[bb*4+1:bb*4+4]]) AS BIGINT)
               AS n_shared_bands
           FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)"""
  }

  /** The e6 half-up cosine used throughout the Vamana oracle. */
  private def vCosE6(a: String, b: String): String =
    s"CAST(floor(list_cosine_similarity($a, $b) * 1000000 + 0.5) AS BIGINT)"

  /** Score a (p, c) candidate CTE on the e6 grid —
    * `Similarity.scoreCandE6`'s replay.
    */
  private def vScoreCte(name: String, candCte: String): String =
    s"""$name AS MATERIALIZED (
           SELECT c0.p, c0.c, ${vCosE6("ep.emb", "ec.emb")} AS cos_e6
           FROM $candCte c0 JOIN e ep ON ep.vec_id = c0.p
                            JOIN e ec ON ec.vec_id = c0.c)"""

  /** RobustPrune replay (`Similarity.robustPrune`): `r` unrolled
    * pick-then-dominate rounds over a scored (p, c, cos_e6) CTE;
    * `${pfx}out` is the pruned list with selection-order rank.
    */
  private def vPruneCtes(pfx: String, candCte: String, r: Int): String = {
    val an = graft.operators.Similarity.VamanaAlphaNum
    val ad = graft.operators.Similarity.VamanaAlphaDen
    val rounds = (1 to r)
      .map { i =>
        val prev = if (i == 1) candCte else s"${pfx}r${i - 1}"
        val rem =
          if (i == r) ""
          else s""",
         ${pfx}r$i AS MATERIALIZED (
           SELECT t.p, t.c, t.cos_e6
           FROM $prev t
           JOIN ${pfx}b$i b ON b.p = t.p
           JOIN e es ON es.vec_id = b.c
           JOIN e ev ON ev.vec_id = t.c
           WHERE t.c <> b.c
             AND NOT ($an * (1000000 - ${vCosE6("es.emb", "ev.emb")})
                      <= $ad * (1000000 - t.cos_e6)))"""
        s"""${pfx}b$i AS MATERIALIZED (
           SELECT p, c, cos_e6 FROM (
             SELECT p, c, cos_e6,
               row_number() OVER (PARTITION BY p ORDER BY cos_e6 DESC, c) AS rn
             FROM $prev) WHERE rn = 1)$rem"""
      }
      .mkString(",\n         ")
    val out = (1 to r)
      .map(i => s"SELECT p, c, cos_e6, CAST($i AS BIGINT) AS rank FROM ${pfx}b$i")
      .mkString("\n             UNION ALL ")
    s"""$rounds,
         ${pfx}out AS MATERIALIZED (
           SELECT p, c, cos_e6, rank FROM (
             $out))"""
  }

  /** #428/#429 Vamana build CTEs: corpus `e`, the integer-mean medoid
    * entry, the hash-drawn e6-ranked init graph, two batch rounds of
    * symmetrized-graph walks (all points as queries) + robust prune,
    * and the final reverse-insertion prune — ending in `vgf`
    * (src, dst, cos_e6, rank), `Similarity.vamanaFrame`'s replay.
    */
  protected def vamanaCtes: String = {
    val r = graft.operators.Similarity.VamanaR
    val beam = graft.operators.Similarity.VamanaBeam
    val hops = graft.operators.Similarity.VamanaHops
    val roundSql = (1 to graft.operators.Similarity.VamanaRounds)
      .map { k =>
        s"""vsym$k AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM vg${k - 1}
             UNION ALL SELECT dst AS src, src AS dst FROM vg${k - 1})),
         vw${k}e AS MATERIALIZED (SELECT vq.query_id, vent.vec_id FROM vq, vent),
         ${hnswWalkCtes(s"vw${k}_", s"vw${k}e", beam, hops, s"vsym$k", "vq", withOut = false)},
         vc$k AS MATERIALIZED (SELECT DISTINCT p, c FROM (
             SELECT query_id AS p, vec_id AS c FROM vw${k}_v$hops
             UNION ALL SELECT src AS p, dst AS c FROM vg${k - 1}
             UNION ALL SELECT dst AS p, src AS c FROM vg${k - 1})
           WHERE p <> c),
         ${vScoreCte(s"vcs$k", s"vc$k")},
         ${vPruneCtes(s"vp${k}_", s"vcs$k", r)},
         vg$k AS MATERIALIZED (SELECT p AS src, c AS dst, cos_e6, rank FROM vp${k}_out)"""
      }
      .mkString(",\n         ")
    s"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         vq AS MATERIALIZED (SELECT vec_id AS query_id, emb AS q_emb FROM e),
         vel AS MATERIALIZED (
           SELECT vec_id,
             unnest([{'p': i - 1,
                      'x': CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0) AS BIGINT)}
                     for i in generate_series(1, 64)]) AS s
           FROM embeddings),
         vmu AS (SELECT s.p AS pos, CAST(floor(avg(CAST(s.x AS DOUBLE)) + 0.5) AS BIGINT) AS mu
                 FROM vel GROUP BY 1),
         vd2 AS MATERIALIZED (
           SELECT vec_id, CAST(sum((s.x - mu) * (s.x - mu)) AS BIGINT) AS d2
           FROM vel JOIN vmu ON vmu.pos = s.p GROUP BY 1),
         vent AS (SELECT vec_id FROM vd2 ORDER BY d2, vec_id LIMIT 1),
         vnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         vi0 AS MATERIALIZED (
           SELECT DISTINCT p, c FROM (
             SELECT v.vec_id AS p,
               ('0x' || substr(md5('vam:' || v.vec_id || '-' || gs.j), 1, 15))::BIGINT
                 % vnn.n AS c
             FROM e v, vnn, generate_series(1, $r) gs(j))
           WHERE p <> c),
         ${vScoreCte("vi0s", "vi0")},
         vg0 AS MATERIALIZED (SELECT p AS src, c AS dst, cos_e6, rank FROM (
             SELECT p, c, cos_e6,
               CAST(row_number() OVER (PARTITION BY p ORDER BY cos_e6 DESC, c) AS BIGINT)
                 AS rank
             FROM vi0s) WHERE rank <= $r),
         $roundSql,
         vcf AS MATERIALIZED (SELECT DISTINCT p, c FROM (
             SELECT src AS p, dst AS c FROM vg${graft.operators.Similarity.VamanaRounds}
             UNION ALL SELECT dst AS p, src AS c
             FROM vg${graft.operators.Similarity.VamanaRounds})
           WHERE p <> c),
         ${vScoreCte("vcsf", "vcf")},
         ${vPruneCtes("vpf_", "vcsf", r)},
         vgf AS MATERIALIZED (SELECT p AS src, c AS dst, cos_e6, rank FROM vpf_out)"""
  }

  /** #426/#427 HST density-outlier CTEs: planted ×scale copies on the
    * e4 grid, per-dim bounds, the hash-determinized (tree, depth) →
    * (dim, threshold-fraction) table, per-point leaf masks, leaf
    * occupancy, and per-point scores in `hscores` —
    * `Scale.hstScores`'s exact replay (all-BIGINT).
    */
  protected def hstScoreCtes: String = {
    val t = graft.operators.Scale.HstTrees
    val d = graft.operators.Scale.HstDepth
    val every = graft.operators.Scale.HstPlantEvery
    val off = graft.operators.Scale.HstPlantOffset
    val scale = graft.operators.Scale.HstPlantScale
    s"""hbase AS MATERIALIZED (
           SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT) for x in embedding] AS q
           FROM embeddings),
         hcorpus AS MATERIALIZED (
           SELECT vec_id, q FROM hbase
           UNION ALL
           SELECT vec_id + $off, [x * $scale for x in q]
           FROM hbase WHERE vec_id % $every = 0),
         hel AS MATERIALIZED (
           SELECT vec_id,
             unnest([{'p': i - 1, 'x': q[i]} for i in generate_series(1, 64)]) AS e
           FROM hcorpus),
         hbounds AS MATERIALIZED (
           SELECT e.p AS pos, CAST(min(e.x) AS BIGINT) AS lo,
             CAST(max(e.x) AS BIGINT) AS hi
           FROM hel GROUP BY 1),
         hthr AS MATERIALIZED (
           SELECT t, j, pos, lo + (hi - lo) * frac // 1000000 AS thr
           FROM (SELECT t, j,
                   ('0x' || substr(md5('hst:dim:' || t || ':' || j), 1, 15))::BIGINT
                     % 64 AS pos,
                   ('0x' || substr(md5('hst:thr:' || t || ':' || j), 1, 15))::BIGINT
                     % 1000000 AS frac
                 FROM range($t) r1(t), range($d) r2(j))
           JOIN hbounds USING (pos)),
         hleaves AS MATERIALIZED (
           SELECT hel.vec_id, hthr.t,
             CAST(sum(CASE WHEN hel.e.x > hthr.thr
                      THEN 1::BIGINT << hthr.j ELSE 0 END) AS BIGINT) AS leaf
           FROM hel JOIN hthr ON hthr.pos = hel.e.p
           GROUP BY 1, 2),
         hocc AS MATERIALIZED (
           SELECT t, leaf, CAST(count(*) AS BIGINT) AS occ
           FROM hleaves GROUP BY 1, 2),
         hscores AS MATERIALIZED (
           SELECT l.vec_id,
             CAST(CASE WHEN l.vec_id >= $off THEN 1 ELSE 0 END AS BIGINT) AS is_planted,
             CAST(sum(o.occ) AS BIGINT) AS score
           FROM hleaves l JOIN hocc o ON o.t = l.t AND o.leaf = l.leaf
           GROUP BY 1, 2)"""
  }

  /** #423/#424 Fellegi–Sunter CTEs, appended after
    * [[minhashCandidatesCte]] (which supplies `corpus` and the banded
    * `cand`): comparison fields, the SNM-window ∪ banding candidate
    * union, the hash-drawn u estimate, the init-scored pass whose
    * score ≥ 0 class re-estimates m (one EM M-step), and the final
    * scored+decided pairs in `fscored` — `Dedup.fsLinkage`'s exact
    * replay (ln-odds weights e6-floored per term, Laplace-smoothed
    * rates, thresholds 0 / −4e6).
    */
  protected def fsLinkageCtes: String = {
    val keys = Seq("prefix", "len", "last", "head")
    val mInit = graft.operators.Dedup.FsMInitE6
    def lnW(num: String, den: String) =
      s"CAST(floor(ln(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
    def score(mOf: String => String) = keys
      .map(k => s"""CASE WHEN g_$k = 1 THEN ${lnW(mOf(k), s"u_$k")}
                    ELSE ${lnW(s"(1000000 - ${mOf(k)})", s"(1000000 - u_$k)")} END""")
      .mkString(" + ")
    val agrees = keys
      .map(k => s"CAST(sum(CASE WHEN a.f_$k = b.f_$k THEN 1 ELSE 0 END) AS BIGINT) AS a_$k")
      .mkString(",\n             ")
    s"""flds AS MATERIALIZED (
           SELECT doc_id,
             substr(array_to_string(tok, ' '), 1, ${graft.operators.Dedup.FsPrefixLen})
               AS f_prefix,
             CAST(len(tok) // ${graft.operators.Dedup.FsLenBucket} AS BIGINT) AS f_len,
             tok[-1] AS f_last,
             array_to_string(tok[1:3], ' ') AS f_head
           FROM corpus),
         fsk AS MATERIALIZED (
           SELECT doc_id, substr(array_to_string(tok, ' '), 1, 24) AS k FROM corpus),
         fsr AS MATERIALIZED (
           SELECT doc_id, CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS rn
           FROM fsk),
         fsnm AS MATERIALIZED (
           SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b
           FROM fsr a CROSS JOIN range(1, 5) d(d) JOIN fsr b ON b.rn = a.rn + d.d),
         fcand AS MATERIALIZED (
           SELECT DISTINCT doc_a, doc_b FROM (
             SELECT doc_a, doc_b FROM cand WHERE n_shared_bands >= 1
             UNION ALL SELECT doc_a, doc_b FROM fsnm)),
         gam AS MATERIALIZED (
           SELECT c.doc_a, c.doc_b,
             ${keys
        .map(k => s"CAST(CASE WHEN a.f_$k = b.f_$k THEN 1 ELSE 0 END AS BIGINT) AS g_$k")
        .mkString(",\n             ")}
           FROM fcand c JOIN flds a ON a.doc_id = c.doc_a
                        JOIN flds b ON b.doc_id = c.doc_b),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         udraw AS MATERIALIZED (
           SELECT doc_id AS doc_a,
             CASE WHEN h % n = doc_id THEN (h % n + 1) % n ELSE h % n END AS doc_b
           FROM (SELECT doc_id,
                   ('0x' || substr(md5('fsu:' || doc_id), 1, 15))::BIGINT AS h
                 FROM documents), nb),
         uest AS MATERIALIZED (
           SELECT CAST(count(*) AS BIGINT) AS n_u,
             $agrees
           FROM udraw u JOIN flds a ON a.doc_id = u.doc_a
                        JOIN flds b ON b.doc_id = u.doc_b),
         ue6 AS MATERIALIZED (
           SELECT ${keys
        .map(k => s"CAST((a_$k + 1) * 1000000 // (n_u + 2) AS BIGINT) AS u_$k")
        .mkString(", ")}
           FROM uest),
         p1 AS MATERIALIZED (
           SELECT gam.*, ${score(_ => mInit.toString)} AS score1
           FROM gam, ue6),
         mest AS MATERIALIZED (
           SELECT CAST(count(*) AS BIGINT) AS n_m,
             ${keys.map(k => s"CAST(sum(g_$k) AS BIGINT) AS a_$k").mkString(", ")}
           FROM p1 WHERE score1 >= 0),
         me6 AS MATERIALIZED (
           SELECT ${keys
        .map(k => s"CAST((a_$k + 1) * 1000000 // (n_m + 2) AS BIGINT) AS m_$k")
        .mkString(", ")}
           FROM mest),
         fscored AS MATERIALIZED (
           SELECT gam.doc_a, gam.doc_b,
             ${keys.map(k => s"CAST(g_$k AS VARCHAR)").mkString(" || ")} AS gamma,
             ${keys.map(k => s"g_$k").mkString(" + ")} AS n_agree,
             ${score(k => s"m_$k")} AS score_e6,
             CASE WHEN ${score(k => s"m_$k")} >= 0 THEN 'match'
                  WHEN ${score(k => s"m_$k")} >= ${graft.operators.Dedup.FsPossibleFloorE6}
                  THEN 'possible_match'
                  ELSE 'non_match' END AS decision
           FROM gam, ue6, me6)"""
  }

  /** Shared CTE block of the hyperplane-LSH oracles — the exact
    * relational replay of `Similarity.hyperplaneBucket`: derived bit
    * count (smallest b with TargetBucket·2^b ≥ n, integer-exact on
    * both engines), the md5-parity Rademacher sign matrix
    * (`Similarity.lshSign`), 1e6 fixed-point embedding elements,
    * integer hyperplane dots (order-independent — integer sums are
    * exact), and the per-(table, vector) bucket id. `corpus` must
    * expose (vec_id, embedding); `countExpr` is a scalar subquery
    * yielding the n that `numPlanes` is derived from.
    */
  protected def lshBucketsCte(
      corpus: String,
      countExpr: String,
      tables: Int = graft.operators.Similarity.NumTables): String = {
    val tb = graft.operators.Similarity.TargetBucket
    val nt = tables
    s"""params AS (
          SELECT least(24, greatest(4, coalesce(
            (SELECT min(b) FROM range(25) rb(b)
             WHERE ($tb::BIGINT << b) >= ($countExpr)), 24))) AS bits),
        sgn AS (
          SELECT t, p, i,
            CASE WHEN ('0x' || substr(md5('graft-lsh:' || t || ':' || p || ':' || i),
                       1, 15))::BIGINT % 2 = 0
                 THEN 1 ELSE -1 END AS s
          FROM range($nt) r1(t), range(24) r2(p), range(64) r3(i), params
          WHERE p < bits),
        el AS (
          SELECT vec_id,
            unnest([{'i': i - 1,
                     'qx': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)}
                    for i in generate_series(1, 64)]) AS e
          FROM $corpus),
        dots AS (
          SELECT el.vec_id, sgn.t, sgn.p, sum(sgn.s * el.e.qx) AS dot
          FROM el JOIN sgn ON el.e.i = sgn.i
          GROUP BY el.vec_id, sgn.t, sgn.p),
        bk AS (
          SELECT vec_id, t,
            CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY vec_id, t)"""
  }

  /** Product-quantization replay shared by `ann_pq_codes` and
    * `ann_pq_search`: e4 fixed-point subvectors, seed codebooks from
    * the 16 lowest vec_ids, two unrolled Lloyd rounds on integer
    * squared-L2 (code tiebreak), integer-grid codeword means — every
    * sum is over BIGINTs, so the whole train lands bit-identical in
    * any engine (see Similarity.quantE4). `af` is the final code
    * assignment under the round-2 codebook `c2`.
    */
  /** Two-stage PQ ADC search replay body over a `pfx`-prefixed
    * training CTE chain: query distance tables off the round-2
    * codebook, ADC via code joins, top-100 shortlist, exact
    * integer-L2 re-rank; final CTE `${pfx}res` holds the top-10.
    */
  protected def pqSearchBody(pfx: String): String =
    s"""${pfx}qsub AS (SELECT vec_id AS query_id, s, sv FROM ${pfx}sub WHERE vec_id < 10),
         ${pfx}dt AS (
           SELECT u.query_id, u.s, c.code,
             CAST(list_sum([ (u.sv[i] - c.cw[i]) * (u.sv[i] - c.cw[i])
                             for i in generate_series(1, 16) ]) AS BIGINT) AS d
           FROM ${pfx}qsub u JOIN ${pfx}c2 c USING (s)),
         ${pfx}adc AS (
           SELECT dt.query_id, af.vec_id, CAST(sum(dt.d) AS BIGINT) AS adc_e8
           FROM ${pfx}af af JOIN ${pfx}dt dt ON af.s = dt.s AND af.code = dt.code
           GROUP BY dt.query_id, af.vec_id),
         ${pfx}cand AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_e8, vec_id) AS crank
             FROM ${pfx}adc WHERE vec_id <> query_id)
           WHERE crank <= 100),
         ${pfx}ex AS (
           SELECT c.query_id, c.vec_id,
             CAST(list_sum([ (e.eq[i] - q.eq[i]) * (e.eq[i] - q.eq[i])
                             for i in generate_series(1, 64) ]) AS BIGINT) AS dist_e8
           FROM ${pfx}cand c JOIN ${pfx}eq e ON e.vec_id = c.vec_id
                       JOIN ${pfx}eq q ON q.vec_id = c.query_id),
         ${pfx}res AS (
           SELECT query_id, vec_id, dist_e8, rank FROM (
             SELECT query_id, vec_id, dist_e8,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY dist_e8, vec_id) AS BIGINT) AS rank
             FROM ${pfx}ex)
           WHERE rank <= 10)"""

  protected def pqSearchOracle(ctes: String): String =
    s"""WITH $ctes,
         ${pqSearchBody("")}
         SELECT query_id, vec_id, dist_e8, rank FROM res"""

  /** q_ind_discovery oracle — GENERATED from Profile.indCandidates so
    * the oracle's candidate list can never drift from the operator's
    * (the kcoreOracle shared-constant precedent).
    */
  protected def indDiscoveryOracle: String =
    Profile.indCandidates
      .map { case (lt, lc, rt, rc) =>
        s"""SELECT '$lt.$lc' AS lhs, '$rt.$rc' AS rhs, n_lhs_values, n_missing,
              CAST((n_lhs_values - n_missing) * 1000000 // n_lhs_values AS BIGINT)
                AS coverage_e6,
              CAST(n_missing = 0 AS BIGINT) AS holds
            FROM (
              SELECT
                (SELECT CAST(count(DISTINCT $lc) AS BIGINT) FROM $lt
                 WHERE $lc IS NOT NULL) AS n_lhs_values,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM (SELECT DISTINCT $lc AS v FROM $lt WHERE $lc IS NOT NULL) t
                 WHERE NOT EXISTS (SELECT 1 FROM $rt WHERE $rc = t.v)) AS n_missing)"""
      }
      .mkString("\n UNION ALL \n")

  protected def plainEqList: String =
    """[CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)
           for i in generate_series(1, 64)]"""

  protected def pqCtes: String = pqCtesWith(plainEqList)

  /** A rotated-quantized list for one OPQ candidate: slot j reads dim
    * perm(j) with sign(j) — the SAME Scala-computed constants the
    * Spark expression inlines, so both engines evaluate a
    * literal-identical float op per element.
    */
  protected def opqEqList(salt: Int): String = {
    val (perm, sign) = graft.operators.Similarity.opqPermSign(salt)
    (0 until 64)
      .map { j =>
        val p = perm(j) + 1
        val sgn = if (sign(j) > 0) "1.0" else "-1.0"
        s"CAST(floor(CAST(embedding[$p] AS DOUBLE) * $sgn * 10000.0 + 0.5) AS BIGINT)"
      }
      .mkString("[", ", ", "]")
  }

  /** The OPQ rotation-selection replay: train + search under every
    * candidate (identity first, then the fixed salts), count each
    * candidate's recall hits against the brute-force exact-L2 truth,
    * and emit the winner's rows — `ORDER BY hits DESC, tag` replays
    * Spark's first-max-wins argmax (identity wins ties).
    */
  protected def opqSearchOracle: String = {
    val salts = graft.operators.Similarity.OpqSalts
    val tags = "i" +: salts.indices.map(k => ('a' + k).toChar.toString)
    val eqs = plainEqList +: salts.map(opqEqList)
    val chains = tags.zip(eqs).map { case (t, eq) =>
      s"${pqCtesWith(eq, s"${t}_")}, ${pqSearchBody(s"${t}_")}"
    }
    val scores = tags.zipWithIndex
      .map { case (t, k) =>
        s"""SELECT '${k}_$t' AS tag, (SELECT count(*) FROM ${t}_res r
             JOIN truth t ON r.query_id = t.query_id AND r.vec_id = t.vec_id) AS c"""
      }
      .mkString(" UNION ALL ")
    val pick = tags.zipWithIndex
      .map { case (t, k) =>
        s"""SELECT query_id, vec_id, dist_e8, rank FROM ${t}_res
            WHERE (SELECT tag FROM win) = '${k}_$t'"""
      }
      .mkString(" UNION ALL ")
    s"""WITH ${chains.mkString(",\n")},
        truth AS (SELECT query_id, vec_id FROM (
          SELECT q.vec_id AS query_id, e.vec_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_sum([ (e.eq[i] - q.eq[i]) * (e.eq[i] - q.eq[i])
                                  for i in generate_series(1, 64) ]), e.vec_id) AS rn
          FROM i_eq e JOIN i_eq q ON q.vec_id < 10 AND e.vec_id <> q.vec_id)
          WHERE rn <= 10),
        sc AS ($scores),
        win AS (SELECT tag FROM sc ORDER BY c DESC, tag LIMIT 1)
        $pick"""
  }

  /** Generated replay of the #445 two-stage RVQ cascade (Rvq): e4
    * full vectors, K-seed + 2 Lloyd rounds per stage, residuals
    * feeding stage 2 — the single-subspace mirror of [[pqCtesWith]].
    */
  protected def rvqCtes: String = {
    val k = graft.operators.Rvq.K
    val meanTerms = (1 to 64)
      .map(i => s"CAST(floor(avg(sv[$i]) + 0.5) AS BIGINT)")
      .mkString(", ")
    val dist =
      "list_sum([ (u.sv[i] - c.cw[i]) * (u.sv[i] - c.cw[i]) for i in generate_series(1, 64) ])"
    def assign(cents: String, src: String, out: String) =
      s"""$out AS (SELECT vec_id, sv, code, dist,
            [sv[i] - cw[i] for i in generate_series(1, 64)] AS res
          FROM (
            SELECT u.vec_id, u.sv, c.code, c.cw, CAST($dist AS BIGINT) AS dist,
              row_number() OVER (PARTITION BY u.vec_id ORDER BY $dist, c.code) AS rn
            FROM $src u, $cents c) WHERE rn = 1)"""
    def means(asg: String, out: String) =
      s"$out AS (SELECT code, [$meanTerms] AS cw FROM $asg GROUP BY code)"
    def seeds(src: String, out: String) =
      s"""$out AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
            sv AS cw
          FROM $src ORDER BY vec_id LIMIT $k)"""
    s"""req AS (SELECT vec_id, $plainEqList AS sv FROM embeddings),
       ${seeds("req", "r1s0")},
       ${assign("r1s0", "req", "r1a1")}, ${means("r1a1", "r1c1")},
       ${assign("r1c1", "req", "r1a2")}, ${means("r1a2", "r1c2")},
       ${assign("r1c2", "req", "r1af")},
       rsrc AS (SELECT vec_id, res AS sv FROM r1af),
       ${seeds("rsrc", "r2s0")},
       ${assign("r2s0", "rsrc", "r2a1")}, ${means("r2a1", "r2c1")},
       ${assign("r2c1", "rsrc", "r2a2")}, ${means("r2a2", "r2c2")},
       ${assign("r2c2", "rsrc", "r2af")}"""
  }

  protected def pqCtesWith(eqList: String, pfx: String = ""): String = {
    val meanTerms = (1 to graft.operators.Similarity.PqSubDim)
      .map(i => s"CAST(floor(avg(sv[$i]) + 0.5) AS BIGINT)")
      .mkString(", ")
    val distList =
      "list_sum([ (u.sv[i] - c.cw[i]) * (u.sv[i] - c.cw[i]) for i in generate_series(1, 16) ])"
    def assign(cents: String, out: String) =
      s"""$out AS (SELECT vec_id, s, sv, code, dist FROM (
            SELECT u.vec_id, u.s, u.sv, c.code,
              CAST($distList AS BIGINT) AS dist,
              row_number() OVER (PARTITION BY u.vec_id, u.s
                ORDER BY $distList, c.code) AS rn
            FROM ${pfx}sub u JOIN $cents c USING (s)) WHERE rn = 1)"""
    def means(asg: String, out: String) =
      s"$out AS (SELECT s, code, [$meanTerms] AS cw FROM $asg GROUP BY s, code)"
    s"""${pfx}eq AS (SELECT vec_id, $eqList AS eq
        FROM embeddings),
      ${pfx}sub AS (SELECT vec_id, CAST(r.s AS INT) AS s, eq[(r.s*16+1):(r.s*16+16)] AS sv
              FROM ${pfx}eq, (SELECT unnest(range(0, 4)) AS s) r),
      ${pfx}s0 AS (SELECT s,
               CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS INT) AS code,
               sv AS cw
             FROM ${pfx}sub
             WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
      ${assign(s"${pfx}s0", s"${pfx}a1")}, ${means(s"${pfx}a1", s"${pfx}c1")},
      ${assign(s"${pfx}c1", s"${pfx}a2")}, ${means(s"${pfx}a2", s"${pfx}c2")},
      ${assign(s"${pfx}c2", s"${pfx}af")}"""
  }

  /** Two-stage projected-search replay, shared by `ann_project_search`
    * and `ann_project_indexed` (bit-identical by construction):
    * identical float projection, 6dp projected cosine ranking with
    * vec_id tiebreak, exact re-score of the top-150 survivors.
    */
  protected def projectSearchOracle: String = {
    val k = 32
    val rows = (0 until k).map { j =>
      (0 until 64)
        .map(i =>
          s"${if (graft.operators.Similarity.rpSign(i, j) > 0) "+" else "-"} CAST(embedding[${i + 1}] AS DOUBLE)")
        .mkString(" ")
    }
    val ys = rows.map(t => s"CAST((0.0 $t) / sqrt(CAST($k AS DOUBLE)) AS FLOAT)").mkString(", ")
    s"""WITH pv AS (SELECT vec_id, embedding, [$ys] AS pvec FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, pvec AS q_pvec
              FROM pv WHERE vec_id < 10),
        cand AS (
          SELECT query_id, vec_id, embedding, q_emb,
            row_number() OVER (PARTITION BY query_id
              ORDER BY round(list_cosine_similarity(
                pvec::DOUBLE[], q_pvec::DOUBLE[]), 6) DESC, vec_id) AS crank
          FROM pv, q WHERE vec_id <> query_id)
        SELECT query_id, vec_id, cos, rank FROM (
          SELECT query_id, vec_id,
            round(list_cosine_similarity(embedding::DOUBLE[], q_emb::DOUBLE[]), 6) AS cos,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY round(list_cosine_similarity(
                embedding::DOUBLE[], q_emb::DOUBLE[]), 6) DESC, vec_id) AS BIGINT) AS rank
          FROM cand WHERE crank <= 150)
        WHERE rank <= 10"""
  }

  /** Lang-ID replay (stopword-marker argmax with the same (score,
    * lang) tiebreak), shared by `text_lang_id` and the confusion
    * audit that aggregates it.
    */
  protected def langIdOracle: String = {
    val markers = Seq(
      "de" -> Seq("der", "die", "das", "und", "ist", "zu"),
      "en" -> Seq("the", "a", "of", "and", "is", "to"),
      "es" -> Seq("el", "la", "los", "y", "es", "de"),
      "fr" -> Seq("le", "la", "les", "et", "est", "de"),
      "zh" -> Seq("的", "了", "是", "在", "和", "有"))
    val structs = markers
      .map { case (l, ws) =>
        val list = ws.map(w => s"'$w'").mkString("[", ",", "]")
        s"struct_pack(lang := '$l', score := len(list_filter(toks, w -> list_contains($list, w))))"
      }
      .mkString(",\n             ")
    s"""WITH t AS (SELECT doc_id, lang AS label_lang,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
         FROM documents),
       s AS (SELECT doc_id, label_lang, u.s.lang AS lang, u.s.score AS score
             FROM t, UNNEST([
           $structs
         ]) AS u(s))
       SELECT doc_id, label_lang,
         CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
         CAST(score AS BIGINT) AS marker_hits
       FROM (SELECT *, row_number() OVER
               (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn FROM s)
       WHERE rn = 1"""
  }

  /** Shared IVFADC replay: 3-round e4-cosine IVF train (as ann_ivf),
    * exact BIGINT residuals, 2-round integer PQ train on residuals,
    * per-probed-cell ADC, exact integer-L2 re-rank of the top-100.
    * `ann_ivfadc` and `ann_ivfadc_indexed` are bit-identical by
    * construction, so both entries use this text.
    */
  protected def ivfAdcOracle: String = {
    val meanTerms64 = (1 to 64)
        .map(i => s"CAST(floor(avg(CAST(embedding[$i] AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS FLOAT)")
        .mkString(", ")
      def iassign(cents: String, out: String) =
        s"""$out AS (SELECT vec_id, embedding, cell FROM (
              SELECT u.vec_id, u.embedding, c.cell,
                row_number() OVER (PARTITION BY u.vec_id
                  ORDER BY floor(list_cosine_similarity(
                    u.embedding::DOUBLE[], c.centroid::DOUBLE[]) * 10000 + 0.5)
                    DESC, c.cell) AS rn
              FROM u, $cents c) WHERE rn = 1)"""
      def imeans(asg: String, out: String) =
        s"$out AS (SELECT cell, [$meanTerms64] AS centroid FROM $asg GROUP BY cell)"
      val pqMeanTerms = (1 to 16)
        .map(i => s"CAST(floor(avg(sv[$i]) + 0.5) AS BIGINT)")
        .mkString(", ")
      val pdist =
        "list_sum([ (u.sv[i] - c.cw[i]) * (u.sv[i] - c.cw[i]) for i in generate_series(1, 16) ])"
      def passign(cents: String, out: String) =
        s"""$out AS (SELECT vec_id, cell, s, sv, code FROM (
              SELECT u.vec_id, u.cell, u.s, u.sv, c.code,
                row_number() OVER (PARTITION BY u.vec_id, u.s
                  ORDER BY $pdist, c.code) AS rn
              FROM rsub u JOIN $cents c USING (s)) WHERE rn = 1)"""
      def pmeans(asg: String, out: String) =
        s"$out AS (SELECT s, code, [$pqMeanTerms] AS cw FROM $asg GROUP BY s, code)"
      s"""WITH u AS (SELECT vec_id, embedding FROM embeddings),
         s0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                  embedding AS centroid
                FROM embeddings ORDER BY vec_id LIMIT 16),
         ${iassign("s0", "ia1")}, ${imeans("ia1", "ic1")},
         ${iassign("ic1", "ia2")}, ${imeans("ia2", "ic2")},
         ${iassign("ic2", "ia3")}, ${imeans("ia3", "ic3")},
         ${iassign("ic3", "acorp")},
         eq AS (SELECT vec_id,
                  [CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)
                   for i in generate_series(1, 64)] AS eq
                FROM embeddings),
         ceq AS (SELECT cell,
                   [CAST(floor(CAST(centroid[i] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)
                    for i in generate_series(1, 64)] AS ceq
                 FROM ic3),
         res AS (SELECT a.vec_id, a.cell,
                   [e.eq[i] - c.ceq[i] for i in generate_series(1, 64)] AS req
                 FROM acorp a JOIN eq e USING (vec_id) JOIN ceq c USING (cell)),
         rsub AS (SELECT vec_id, cell, CAST(r.s AS INT) AS s,
                    req[(r.s*16+1):(r.s*16+16)] AS sv
                  FROM res, (SELECT unnest(range(0, 4)) AS s) r),
         ps0 AS (SELECT s,
                   CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS INT) AS code,
                   sv AS cw
                 FROM rsub
                 WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
         ${passign("ps0", "pa1")}, ${pmeans("pa1", "pc1")},
         ${passign("pc1", "pa2")}, ${pmeans("pa2", "pc2")},
         ${passign("pc2", "paf")},
         q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 10),
         qc AS (SELECT query_id, cell FROM (
             SELECT q.query_id, c.cell,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY floor(list_cosine_similarity(
                   q.q_emb::DOUBLE[], c.centroid::DOUBLE[]) * 10000 + 0.5)
                   DESC, c.cell) AS rn
             FROM q, ic3 c) WHERE rn <= 2),
         qres AS (SELECT qc.query_id, qc.cell,
                    [e.eq[i] - c.ceq[i] for i in generate_series(1, 64)] AS qreq
                  FROM qc JOIN eq e ON e.vec_id = qc.query_id JOIN ceq c USING (cell)),
         qsub AS (SELECT query_id, cell, CAST(r.s AS INT) AS s,
                    qreq[(r.s*16+1):(r.s*16+16)] AS sv
                  FROM qres, (SELECT unnest(range(0, 4)) AS s) r),
         dt AS (SELECT u.query_id, u.cell, u.s, c.code,
                  CAST(list_sum([ (u.sv[i] - c.cw[i]) * (u.sv[i] - c.cw[i])
                                  for i in generate_series(1, 16) ]) AS BIGINT) AS d
                FROM qsub u JOIN pc2 c USING (s)),
         adc AS (SELECT dt.query_id, paf.vec_id, CAST(sum(dt.d) AS BIGINT) AS adc_e8
                 FROM paf JOIN dt ON paf.cell = dt.cell AND paf.s = dt.s
                                 AND paf.code = dt.code
                 GROUP BY dt.query_id, paf.vec_id),
         cand AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_e8, vec_id) AS crank
             FROM adc WHERE vec_id <> query_id) WHERE crank <= 100),
         ex AS (SELECT c.query_id, c.vec_id,
                  CAST(list_sum([ (e.eq[i] - qe.eq[i]) * (e.eq[i] - qe.eq[i])
                                  for i in generate_series(1, 64) ]) AS BIGINT) AS dist_e8
                FROM cand c JOIN eq e ON e.vec_id = c.vec_id
                            JOIN eq qe ON qe.vec_id = c.query_id)
         SELECT query_id, vec_id, dist_e8, rank FROM (
           SELECT query_id, vec_id, dist_e8,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist_e8, vec_id) AS BIGINT) AS rank
           FROM ex)
         WHERE rank <= 10"""
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */

  /** Shared CTE prefix for the classical-decomposition oracles
    * (`q_seasonal_decomp`, `q_anomaly_flags`): full gap-free centered
    * 7-day frames only; seasonal quotient sign-factored (DuckDB //
    * floors on negatives, Spark div truncates — magnitudes divided,
    * sign re-applied).
    */
  protected val seasonalKernelSql: String =
    """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         tw AS (
           SELECT event_type, day, c,
             sum(c) OVER w AS wsum, count(*) OVER w AS wcnt,
             min(day) OVER w AS wmin, max(day) OVER w AS wmax
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         kept AS (
           SELECT event_type, day, c, wsum // 7 AS trend,
             c - wsum // 7 AS det, day % 7 AS dow
           FROM tw WHERE wcnt = 7 AND wmax - wmin = 6),
         seas AS (
           SELECT event_type, dow, sum(det) AS snum, count(*) AS sn
           FROM kept GROUP BY 1, 2),
         sc AS (
           SELECT event_type, dow,
             CASE WHEN snum < 0 THEN -(abs(snum) // sn) ELSE snum // sn END AS seasonal
           FROM seas)"""

  /** Replica count for `q_bootstrap_ci` — single source of truth for
    * BOTH the Spark call and the generated oracle, so changing B can
    * never silently break hash parity (the kcoreOracle(k, rounds)
    * precedent).
    */
  protected val BootstrapB = 100

  /** KM right-censor horizon (months) and funnel step window (days) —
    * the Spark calls and the DuckDB oracles derive from these same
    * constants (the BootstrapB precedent: changing one cannot
    * silently break hash parity).
    */
  protected val KmCensorMonths = 2
  protected val FunnelWindowDays = 7

  /** Equi-depth threshold count for `q_pr_curve` — same
    * single-source-of-truth discipline as BootstrapB.
    */
  protected val PrCurveBins = 10

  /** Shard byte budget for `mm_shard_pack` and retention horizon for
    * `cdc_erasure_audit` — shared Spark-call/oracle constants (the
    * BootstrapB discipline).
    */
  protected val MmShardBudgetBytes = 262144L
  protected val ErasureHorizonDays = 7

  /** (z_{α/2} + z_β)·10³ at α=5%, power=80% for `q_power_analysis` —
    * shared by the Spark call and the generated oracle (which squares
    * it), the BootstrapB discipline.
    */
  protected val PowerZsumE3 = 1960L + 842L

  /** Landmark count for `ann_fps` — shared by the Spark call and the
    * generated oracle (the BootstrapB discipline).
    */
  protected val FpsK = 8

  /** Shared Holt trajectory CTE chain (daily, idx, rec) — generated
    * once, reused verbatim by the q_holt and q_forecast_backtest
    * oracles so the two can never drift apart.
    */
  protected def holtCtes: String = holtCtesBy("event_type")

  /** [[holtCtes]] with the series key parameterized — `q_holt` keys by
    * event_type; the streaming-maintenance driver row keys by the CDC
    * op (the #263 fold's group key).
    */
  protected def holtCtesBy(seriesExpr: String): String = {
    // sign-factored truncating quarter (both engines agree)
    def tq(a: String) = s"(CASE WHEN ($a) < 0 THEN -((-($a)) // 4) ELSE ($a) // 4 END)"
    val newl = tq("s.y + 3 * (h.l + h.b)")
    s"""daily AS (
           SELECT $seriesExpr AS event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT event_type, day, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
           FROM daily),
         rec AS (
           WITH RECURSIVE h(event_type, i, day, y, l, b) AS (
             SELECT event_type, i, day, y, y, CAST(0 AS BIGINT) FROM idx WHERE i = 1
             UNION ALL
             SELECT s.event_type, s.i, s.day, s.y,
               $newl,
               ${tq(s"($newl - h.l) + 3 * h.b")}
             FROM idx s JOIN h ON s.event_type = h.event_type AND s.i = h.i + 1)
           SELECT * FROM h)"""
  }

  /** The 3-round e4-quantized Lloyd train + corpus cell assignment as
    * CTEs (u, s0, a1..c3, acorp) — shared by the ann_ivf and
    * ann_knn_graph oracles so the replayed quantizer can never drift
    * between them. String-identical to the block ann_ivf carried
    * before the extraction.
    */
  protected def ivfTrainCtes: String = ivfTrainCtesFrom("embeddings")

  /** [[ivfTrainCtes]] over an arbitrary source relation (table name or
    * aliased subquery) — seeds are the k lowest vec_ids OF THE
    * SOURCE, mirroring `Similarity.trainCentroidsOn`; the scalable
    * graph oracles train on the base-90% members only. `finalProbe`
    * spills the FINAL assignment to the nearest `finalProbe` cells
    * (`Similarity.scalableCellPairs`' boundary duplication); training
    * rounds always assign argmax-only. `sqrtCells = false` keeps the
    * fixed 16-seed train of the IVF family; `true` derives the seed
    * count as ⌈√count⌉ of the source — the production cell rule the
    * scalable graph builds run (`Similarity.scalableIndex`, r13).
    */
  protected def ivfTrainCtesFrom(
      src: String,
      finalProbe: Int = 1,
      sqrtCells: Boolean = false): String = {
    val meanTerms = (1 to 64)
      .map(i => s"CAST(floor(avg(CAST(embedding[$i] AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS FLOAT)")
      .mkString(", ")
    def assign(cents: String, out: String, probe: Int = 1) =
      s"""$out AS (SELECT vec_id, embedding, cell FROM (
            SELECT u.vec_id, u.embedding, c.cell,
              row_number() OVER (PARTITION BY u.vec_id
                ORDER BY floor(list_cosine_similarity(
                  u.embedding::DOUBLE[], c.centroid::DOUBLE[]) * 10000 + 0.5)
                  DESC, c.cell) AS rn
            FROM u, $cents c) WHERE rn <= $probe)"""
    def means(asg: String, out: String) =
      s"$out AS (SELECT cell, [$meanTerms] AS centroid FROM $asg GROUP BY cell)"
    val seeds =
      if (sqrtCells)
        s"""kc AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM u),
          s0 AS (SELECT cell, centroid FROM (
                   SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                     embedding AS centroid
                   FROM u) t, kc WHERE t.cell < kc.k)"""
      else
        s"""s0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                   embedding AS centroid
                 FROM $src ORDER BY vec_id LIMIT 16)"""
    s"""u AS (SELECT vec_id, embedding FROM $src),
          $seeds,
          ${assign("s0", "a1")}, ${means("a1", "c1")},
          ${assign("c1", "a2")}, ${means("a2", "c2")},
          ${assign("c2", "a3")}, ${means("a3", "c3")},
          ${assign("c3", "acorp", finalProbe)}"""
  }

  /** Holt–Winters recursive-CTE trajectory (the holtCtes pattern plus
    * a 7-slot seasonal LIST rebuilt by slice concatenation, slot
    * indexed by calendar day-of-week) — same dyadic sign-factored
    * quarters as the Spark fold.
    */
  protected def hwCtes: String = {
    def tq(a: String) = s"(CASE WHEN ($a) < 0 THEN -((-($a)) // 4) ELSE ($a) // 4 END)"
    val sOld = "h.s[CAST(s.day % 7 AS INT) + 1]"
    val newl = tq(s"(s.y - $sOld) + 3 * (h.l + h.b)")
    val newb = tq(s"($newl - h.l) + 3 * h.b")
    val slot = tq(s"(s.y - $newl) + 3 * $sOld")
    s"""daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT event_type, day, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
           FROM daily),
         rec AS (
           WITH RECURSIVE h(event_type, i, day, y, l, b, s) AS (
             SELECT event_type, i, day, y, y, CAST(0 AS BIGINT),
               [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0] FROM idx WHERE i = 1
             UNION ALL
             SELECT s.event_type, s.i, s.day, s.y,
               $newl,
               $newb,
               h.s[1:CAST(s.day % 7 AS INT)] || [$slot]
                 || h.s[CAST(s.day % 7 AS INT) + 2:]
             FROM idx s JOIN h ON s.event_type = h.event_type AND s.i = h.i + 1)
           SELECT * FROM h)"""
  }

  /** Generated farthest-point-sampling replay: k−1 unrolled greedy
    * rounds, each picking the minimum max-cosine vector (vec_id
    * tiebreak) against every previously selected landmark via scalar
    * subqueries — derived from the SAME FpsK constant as the Spark
    * call.
    */
  /** Generated unrolled MMR replay for `ann_mmr`: the top-`poolK`
    * pool and its pairwise e6 sims once, then k−1 greedy rounds —
    * each a tuple anti-filter, a max over sims into the selected set,
    * and a rank-1 pick per query — the same integer score
    * 7·rel − 3·maxsim Spark selects on. Every round CTE MATERIALIZED
    * (each references the previous selection twice).
    */
  protected def mmrOracle(k: Int, poolK: Int): String = {
    val rounds = new StringBuilder
    for (r <- 2 to k) {
      rounds.append(s""",
          p$r AS MATERIALIZED (
            SELECT query_id, vec_id, rel_e6, mx,
              7 * rel_e6 - 3 * mx AS score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY 7 * rel_e6 - 3 * mx DESC, vec_id) AS rn
            FROM (
              SELECT p.query_id, p.vec_id, p.rel_e6, max(s.sim_e6) AS mx
              FROM pool p
              JOIN sims s ON s.query_id = p.query_id AND s.va = p.vec_id
              JOIN sel${r - 1} t ON t.query_id = s.query_id AND t.vec_id = s.vb
              WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} z
                WHERE z.query_id = p.query_id AND z.vec_id = p.vec_id)
              GROUP BY 1, 2, 3)),
          pick$r AS MATERIALIZED (
            SELECT query_id, vec_id, rel_e6, mx AS maxsim_e6, score AS mmr_score,
              CAST($r AS BIGINT) AS rank
            FROM p$r WHERE rn = 1),
          sel$r AS MATERIALIZED (
            SELECT query_id, vec_id FROM sel${r - 1}
            UNION ALL SELECT query_id, vec_id FROM pick$r)""")
    }
    val out = (1 to k)
      .map(r =>
        if (r == 1) "SELECT * FROM pick1"
        else s"SELECT * FROM pick$r")
      .mkString("\n          UNION ALL ")
    s"""WITH qe AS MATERIALIZED (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
            FROM embeddings WHERE vec_id < 10),
          pool AS MATERIALIZED (
            SELECT query_id, vec_id, emb,
              CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS rel_e6
            FROM (
              SELECT q.query_id, e.vec_id, e.embedding::DOUBLE[] AS emb,
                round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb), 6) AS cos,
                row_number() OVER (PARTITION BY q.query_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb), 6)
                    DESC, e.vec_id) AS pr
              FROM embeddings e, qe q WHERE e.vec_id <> q.query_id)
            WHERE pr <= $poolK),
          sims AS MATERIALIZED (
            SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
              CAST(floor(round(list_cosine_similarity(a.emb, b.emb), 6) * 1000000 + 0.5)
                AS BIGINT) AS sim_e6
            FROM pool a JOIN pool b
              ON b.query_id = a.query_id AND b.vec_id <> a.vec_id),
          pick1 AS MATERIALIZED (
            SELECT query_id, vec_id, rel_e6, CAST(0 AS BIGINT) AS maxsim_e6,
              7 * rel_e6 AS mmr_score, CAST(1 AS BIGINT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel_e6 DESC, vec_id) AS rn FROM pool)
            WHERE rn = 1),
          sel1 AS MATERIALIZED (SELECT query_id, vec_id FROM pick1)${rounds.toString}
          $out"""
  }

  protected def fpsOracle(k: Int): String = {
    val rounds = new StringBuilder
    for (r <- 2 to k) {
      val prevUnion =
        (1 until r).map(i => s"SELECT id FROM s$i").mkString(" UNION ALL ")
      rounds.append(
        s""",
          c$r AS MATERIALIZED ($prevUnion),
          m$r AS MATERIALIZED (
            SELECT a.vec_id,
              max(round(list_cosine_similarity(a.emb, b.emb), 6)) AS mx
            FROM e a, e b
            WHERE b.vec_id IN (SELECT id FROM c$r)
              AND a.vec_id NOT IN (SELECT id FROM c$r)
            GROUP BY 1),
          s$r AS MATERIALIZED (
            SELECT vec_id AS id, mx FROM m$r ORDER BY mx, vec_id LIMIT 1)""")
    }
    val out = (1 to k).map { r =>
      if (r == 1) s"SELECT CAST(1 AS BIGINT) AS rank, (SELECT id FROM s1) AS vec_id, 1.0 AS cov_cos"
      else s"SELECT CAST($r AS BIGINT), (SELECT id FROM s$r), (SELECT mx FROM s$r)"
    }.mkString("\n          UNION ALL ")
    s"""WITH e AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          s1 AS MATERIALIZED (SELECT min(vec_id) AS id FROM e)${rounds.toString}
          $out"""
  }

  /** NDCG position discounts w_i = ⌊10⁶/log₂(i+1)⌋, i = 1..10 — the
    * #211 precomputed-constants pattern (no engine-side log₂); single
    * source of truth for the Spark call and the generated oracle.
    * IDCG = Σ (11−i)·w_i = 29,966,086 is derived, never restated.
    */
  protected val NdcgWeightsE6: Seq[Long] =
    Seq(1000000L, 630929L, 500000L, 430676L, 386852L, 356207L, 333333L, 315464L, 301029L,
      289064L)

  /** Planted late-delivery offset shift for cdc_ooo_repair — shared
    * by the Spark call and the oracle SQL.
    */
  protected val OooDelayOffsets = 1000L

  /** Embedding dimensionality of the driver's `embeddings.parquet`
    * (`TESTDATA.md`). Single source of truth for every oracle whose
    * SQL must enumerate the dimensions (DuckDB has no dynamic
    * `size(array)` inside a comprehension bound); the gram-matrix
    * spec asserts the testdata actually has this dim.
    */
  val EmbeddingDim = 64

  /** Generated replay of the #437 k-means|| build (KmeansPar): the
    * e4-grid corpus, [[graft.operators.KmeansPar.Rounds]] hash-draw
    * oversampling rounds, nearest-candidate weights, and the
    * [[graft.operators.KmeansPar.FinalK]] unrolled weighted-greedy
    * selection rounds — shared by `ann_kmeanspar` and
    * `ann_kmeanspar_eval` so both oracles replay ONE construction.
    */
  protected def kmeansParCtes: String = {
    val d = EmbeddingDim
    val rounds = graft.operators.KmeansPar.Rounds
    val ell = graft.operators.KmeansPar.Oversample
    val k = graft.operators.KmeansPar.FinalK
    def d2(a: String, b: String) =
      s"list_sum([($a.q[i] - $b.q[i]) * ($a.q[i] - $b.q[i]) for i in generate_series(1, $d)])"
    val sb = new StringBuilder
    sb.append(s"""e AS MATERIALIZED (
          SELECT vec_id,
            [CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0) AS BIGINT)
             for i in generate_series(1, $d)] AS q
          FROM embeddings),
        k0 AS MATERIALIZED (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 1)""")
    for (r <- 1 to rounds) {
      sb.append(s""",
        d$r AS MATERIALIZED (
          SELECT a.vec_id, min(${d2("a", "s")}) AS d2
          FROM e a, k${r - 1} s GROUP BY a.vec_id),
        p$r AS (SELECT CAST(sum(d2) AS HUGEINT) AS phi FROM d$r),
        n$r AS MATERIALIZED (
          SELECT d.vec_id FROM d$r d, p$r
          WHERE ('0x' || substr(md5('kmpar:$r:' || d.vec_id), 1, 15))::BIGINT
                % 1000000000000
              < least(1000000000000,
                  CAST($ell AS HUGEINT) * d.d2 * 1000000000000 // phi)),
        k$r AS MATERIALIZED (
          SELECT DISTINCT vec_id, q FROM (
            SELECT vec_id, q FROM k${r - 1}
            UNION ALL
            SELECT e.vec_id, e.q FROM n$r JOIN e USING (vec_id)))""")
    }
    sb.append(s""",
        wgt AS MATERIALIZED (
          SELECT cand_id, CAST(count(*) AS BIGINT) AS w FROM (
            SELECT a.vec_id, s.vec_id AS cand_id,
              row_number() OVER (PARTITION BY a.vec_id
                ORDER BY ${d2("a", "s")}, s.vec_id) AS rn
            FROM e a, k$rounds s) WHERE rn = 1 GROUP BY 1),
        cand AS MATERIALIZED (
          SELECT k.vec_id, k.q, coalesce(w.w, CAST(0 AS BIGINT)) AS w
          FROM k$rounds k LEFT JOIN wgt w ON w.cand_id = k.vec_id),
        g1 AS MATERIALIZED (
          SELECT vec_id, q, w FROM cand ORDER BY w DESC, vec_id LIMIT 1)""")
    for (r <- 2 to k) {
      val prev = (1 until r).map(i => s"SELECT vec_id, q FROM g$i").mkString(" UNION ALL ")
      sb.append(s""",
        ch$r AS MATERIALIZED ($prev),
        g$r AS MATERIALIZED (
          SELECT vec_id, q, w FROM (
            SELECT c.vec_id, c.q, c.w,
              min(${d2("c", "s")}) AS md
            FROM cand c, ch$r s
            WHERE c.vec_id NOT IN (SELECT vec_id FROM ch$r)
            GROUP BY c.vec_id, c.q, c.w)
          ORDER BY CAST(w AS HUGEINT) * md DESC, vec_id LIMIT 1)""")
    }
    sb.toString
  }

  /** Generated replay of the md5-quantized Poisson bootstrap for
    * `q_bootstrap_ci`: `range(0, b)` replicas and the discrete
    * 2.5%/97.5% ranks derived from the SAME formulas as
    * `Scale.bootstrapCi` (lowIdx = max(1, ⌈b·0.025⌉), hiIdx =
    * ⌈b·0.975⌉). Positive sums so div and // agree on every quotient.
    */
  protected def bootstrapCiOracle(b: Int): String = {
    val lowIdx = math.max(1, math.ceil(b * 0.025).toInt)
    val hiIdx = math.ceil(b * 0.975).toInt
    s"""WITH rows0 AS (
           SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         wt AS (
           SELECT o_orderkey, cents, r.rep,
             (('0x' || substr(md5('graft-boot:' || o_orderkey || ':' || (r.rep // 6)),
                              1, 15))::BIGINT >> ((r.rep % 6) * 10)) & 1023 AS h
           FROM rows0, (SELECT unnest(range(0, $b)) AS rep) r),
         ww AS (
           SELECT rep, cents,
             CASE WHEN h < 377 THEN 0 WHEN h < 754 THEN 1
                  WHEN h < 942 THEN 2 WHEN h < 1004 THEN 3 ELSE 4 END AS w
           FROM wt),
         reps AS (
           SELECT rep,
             CAST(sum(w * cents) // sum(w) AS BIGINT) AS mean_cents
           FROM ww GROUP BY 1),
         ranked AS (
           SELECT rep, mean_cents,
             row_number() OVER (ORDER BY mean_cents, rep) AS rk
           FROM reps)
         SELECT CAST(count(*) AS BIGINT) AS n_replicas,
           min(CASE WHEN rk = $lowIdx THEN mean_cents END) AS ci_lo_cents,
           min(CASE WHEN rk = $hiIdx THEN mean_cents END) AS ci_hi_cents,
           CAST(sum(mean_cents) // count(*) AS BIGINT) AS boot_mean_cents
         FROM ranked"""
  }

  /** Generated capped-round peeling replay for `q_kcore`: `maxRounds`
    * degree/keep/restrict CTE triples — bit-identical to the Spark
    * loop whether or not the peel converged early (the restriction is
    * idempotent at the fixpoint). `converged` replays the Spark
    * loop's convergence scalar: peeling only removes edges, so
    * last-two-rounds edge-count equality ⟺ fixpoint within the cap.
    */
  /** Generated unrolled edge-peel replay for `q_ktruss`: per round a
    * wedge+closure triangle CTE, a per-edge support CTE, and the
    * filtered edge CTE — idempotent at the fixpoint, so the full
    * unroll compares bit-exactly to Spark's early-exited loop. Every
    * CTE MATERIALIZED (each round reads the previous edge set three
    * times; default inlining would grow the plan exponentially).
    */
  protected def ktrussOracle(k: Int, maxRounds: Int): String = {
    def supportCtes(i: Int, edges: String) =
      s"""tri$i AS MATERIALIZED (
            SELECT w.a, w.b, w.c
            FROM (SELECT ab.pa AS a, ab.pb AS b, bc.pb AS c
                  FROM $edges ab JOIN $edges bc ON ab.pb = bc.pa) w
            WHERE EXISTS (SELECT 1 FROM $edges x WHERE x.pa = w.a AND x.pb = w.c)),
          s$i AS MATERIALIZED (
            SELECT pa, pb, CAST(count(*) AS BIGINT) AS sup FROM (
              SELECT a AS pa, b AS pb FROM tri$i
              UNION ALL SELECT b, c FROM tri$i
              UNION ALL SELECT a, c FROM tri$i)
            GROUP BY 1, 2)"""
    val iters = (0 until maxRounds)
      .map { i =>
        s"""${supportCtes(i, s"e$i")},
           e${i + 1} AS MATERIALIZED (
             SELECT e.pa, e.pb FROM e$i e JOIN s$i s USING (pa, pb)
             WHERE s.sup >= ${k - 2})"""
      }
      .mkString(",\n         ")
    s"""WITH bp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pr AS MATERIALIZED (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
           FROM bp a JOIN bp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
         e0 AS MATERIALIZED (SELECT pa, pb FROM pr WHERE n >= 2),
         $iters,
         ${supportCtes(maxRounds, s"e$maxRounds")},
         conv AS (SELECT CAST((SELECT count(*) FROM e${maxRounds - 1})
                            = (SELECT count(*) FROM e$maxRounds) AS BIGINT) AS converged)
         SELECT e.pa, e.pb, s.sup AS support, converged
         FROM e$maxRounds e JOIN s$maxRounds s USING (pa, pb), conv"""
  }

  /** Shared graph CTEs for the sampled-BFS centrality oracles: the
    * support-2 symmetric co-purchase edge list (`sym`).
    */
  protected def symGraphCtes: String =
    s"""po AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS (
           SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
           FROM po a JOIN po b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         sym AS MATERIALIZED (SELECT part_a AS src, part_b AS dst FROM pairs
                 UNION ALL SELECT part_b, part_a FROM pairs)"""

  /** Unrolled sampled-BFS level CTEs `${p}l0..${p}l$depth` (σ path
    * counts as exact BIGINT sums, each level NOT-EXISTS-filtered
    * against the visited set). Every CTE MATERIALIZED — levels are
    * referenced by the next BFS round and (for Brandes) two dependency
    * rounds.
    */
  protected def bfsCtes(p: String, seedMod: Int, depth: Int): String = {
    val bfs = (1 to depth)
      .map { r =>
        s"""${p}l$r AS MATERIALIZED (
              SELECT q.s, e.dst AS v, CAST(sum(q.sigma) AS BIGINT) AS sigma
              FROM ${p}l${r - 1} q JOIN sym e ON e.src = q.v
              WHERE NOT EXISTS (SELECT 1 FROM ${p}vis${r - 1} x WHERE x.s = q.s AND x.v = e.dst)
              GROUP BY 1, 2),
            ${p}vis$r AS MATERIALIZED (
              SELECT s, v FROM ${p}vis${r - 1} UNION ALL SELECT s, v FROM ${p}l$r)"""
      }
      .mkString(",\n         ")
    s"""${p}l0 AS MATERIALIZED (
           SELECT v AS s, v, CAST(1 AS BIGINT) AS sigma
           FROM (SELECT DISTINCT src AS v FROM sym) WHERE v % $seedMod = 1),
         ${p}vis0 AS MATERIALIZED (SELECT s, v FROM ${p}l0),
         $bfs"""
  }

  /** Truncated-Brandes core: BFS levels + `depth−1` dependency CTEs
    * downward, each edge term the σ(v)·(10⁶+δ(w)) // σ(w) truncating
    * HUGEINT quotient Spark computes in DECIMAL(38,0); δ = 0 at the
    * truncation depth, v = s rows never enter. Emits `${p}bc(part,
    * bc_e6)`.
    */
  protected def brandesCtes(p: String, seedMod: Int, depth: Int): String = {
    val dep = ((depth - 1) to 1 by -1)
      .map { r =>
        s"""${p}d$r AS MATERIALIZED (
              SELECT l.s, l.v,
                CAST(coalesce(sum(CAST(l.sigma AS HUGEINT) * (1000000 + d.delta) // w.sigma), 0)
                  AS BIGINT) AS delta
              FROM ${p}l$r l
              LEFT JOIN sym e ON e.src = l.v
              LEFT JOIN ${p}l${r + 1} w ON w.s = l.s AND w.v = e.dst
              LEFT JOIN ${p}d${r + 1} d ON d.s = w.s AND d.v = w.v
              GROUP BY 1, 2)"""
      }
      .mkString(",\n         ")
    val union = ((depth - 1) to 1 by -1)
      .map(r => s"SELECT v, delta FROM ${p}d$r")
      .mkString(" UNION ALL ")
    s"""${bfsCtes(p, seedMod, depth)},
         ${p}d$depth AS MATERIALIZED (SELECT s, v, CAST(0 AS BIGINT) AS delta FROM ${p}l$depth),
         $dep,
         ${p}bc AS (SELECT v AS part, CAST(sum(CAST(delta AS HUGEINT)) AS BIGINT) AS bc_e6
                FROM ($union) GROUP BY 1)"""
  }

  protected def betweennessOracle(seedMod: Int, depth: Int, topK: Int): String =
    s"""WITH $symGraphCtes,
         ${brandesCtes("", seedMod, depth)}
         SELECT part, bc_e6, rank FROM (
           SELECT part, bc_e6,
             CAST(row_number() OVER (ORDER BY bc_e6 DESC, part) AS BIGINT) AS rank
           FROM bc)
         WHERE rank <= $topK"""

  /** Scorecard for `q_betweenness` (the approximation-ships-with-its-
    * scorecard invariant, §15.4): the production estimator's top-k
    * sets vs a DENSER reference (5× the seeds, one hop deeper) —
    * top-20/top-50 overlap counts + recall_e6, 1 row.
    */
  protected def betweennessEvalOracle(
      seedMod: Int,
      depth: Int,
      refSeedMod: Int,
      refDepth: Int): String = {
    def top(p: String, k: Int, name: String) =
      s"""$name AS (SELECT part FROM (
            SELECT part, CAST(row_number() OVER (ORDER BY bc_e6 DESC, part) AS BIGINT) AS rank
            FROM ${p}bc) WHERE rank <= $k)"""
    s"""WITH $symGraphCtes,
         ${brandesCtes("a", seedMod, depth)},
         ${brandesCtes("b", refSeedMod, refDepth)},
         ${top("a", 20, "a20")}, ${top("a", 50, "a50")},
         ${top("b", 20, "b20")}, ${top("b", 50, "b50")}
         SELECT
           CAST((SELECT count(*) FROM a20 JOIN b20 USING (part)) AS BIGINT) AS overlap_20,
           CAST((SELECT count(*) FROM a50 JOIN b50 USING (part)) AS BIGINT) AS overlap_50,
           CAST((SELECT count(*) FROM a20 JOIN b20 USING (part)) * 1000000 // 20 AS BIGINT)
             AS recall20_e6,
           CAST((SELECT count(*) FROM a50 JOIN b50 USING (part)) * 1000000 // 50 AS BIGINT)
             AS recall50_e6,
           CAST((SELECT count(*) FROM abc) AS BIGINT) AS n_scored,
           CAST((SELECT count(*) FROM bbc) AS BIGINT) AS n_scored_ref"""
  }

  /** Sampled harmonic closeness from the same BFS levels: for each
    * node, Σ over seeds reached of 10⁶ // d(s, v) (harmonic — the
    * unreachable-safe closeness), d from the level index. Top-k by
    * (harmonic desc, part).
    */
  protected def closenessOracle(seedMod: Int, depth: Int, topK: Int): String = {
    val union = (1 to depth)
      .map(r => s"SELECT v, $r AS d FROM l$r")
      .mkString(" UNION ALL ")
    s"""WITH $symGraphCtes,
         ${bfsCtes("", seedMod, depth)},
         harm AS (
           SELECT v AS part,
             CAST(sum(1000000 // d) AS BIGINT) AS harmonic_e6,
             CAST(count(*) AS BIGINT) AS n_seeds_reached
           FROM ($union) GROUP BY 1)
         SELECT part, harmonic_e6, n_seeds_reached, rank FROM (
           SELECT part, harmonic_e6, n_seeds_reached,
             CAST(row_number() OVER (ORDER BY harmonic_e6 DESC, part) AS BIGINT) AS rank
           FROM harm)
         WHERE rank <= $topK"""
  }

  protected def kcoreOracle(k: Int, maxRounds: Int): String = {
    // every CTE MATERIALIZED: each e_i references e_{i-1} three times,
    // so default inlining would expand the base scan 3^rounds times
    val iters = (0 until maxRounds)
      .map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg
             FROM (SELECT pa AS node FROM e$i UNION ALL SELECT pb FROM e$i)
             GROUP BY 1),
           k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
           e${i + 1} AS MATERIALIZED (SELECT pa, pb FROM e$i
             WHERE pa IN (SELECT node FROM k$i)
               AND pb IN (SELECT node FROM k$i))"""
      }
      .mkString(",\n         ")
    s"""WITH bp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pr AS MATERIALIZED (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
           FROM bp a JOIN bp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
         e0 AS MATERIALIZED (SELECT pa, pb FROM pr WHERE n >= 2),
         $iters,
         conv AS (SELECT CAST((SELECT count(*) FROM e${maxRounds - 1})
                            = (SELECT count(*) FROM e$maxRounds) AS BIGINT) AS converged)
         SELECT node, CAST(count(*) AS BIGINT) AS core_deg, converged
         FROM (SELECT pa AS node FROM e$maxRounds UNION ALL SELECT pb FROM e$maxRounds), conv
         GROUP BY 1, 3"""
  }

  /** Generated capped-round short-cutting label-propagation replay
    * for `q_components`: each round is a neighbor-min hop CTE (tᵢ)
    * then a pointer-jump CTE (lᵢ = t(t)) — bit-identical to the
    * Spark loop whether or not it early-exited (both steps are
    * idempotent at the fixpoint). Every round references the
    * previous one more than once, so every CTE is MATERIALIZED —
    * default inlining would blow the plan up exponentially in
    * `maxRounds`.
    */
  protected def componentsOracle(maxRounds: Int): String = {
    def round(prev: String, i: Int) =
      s"""t$i AS MATERIALIZED (
            SELECT l.part, least(l.label, coalesce(mn.m, l.label)) AS label
            FROM $prev l LEFT JOIN (
              SELECT e.src AS part, min(l2.label) AS m
              FROM sym e JOIN $prev l2 ON l2.part = e.dst GROUP BY e.src) mn
            USING (part)),
          l$i AS MATERIALIZED (
            SELECT h.part, j.label AS label
            FROM t$i h JOIN t$i j ON j.part = h.label)"""
    val iters = (1 to maxRounds).map(i => round(s"l${i - 1}", i)).mkString(",\n         ")
    s"""WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS (
           SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS w
           FROM po a JOIN po b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         sym AS MATERIALIZED (SELECT part_a AS src, part_b AS dst FROM pairs
                 UNION ALL SELECT part_b, part_a FROM pairs),
         l0 AS MATERIALIZED (SELECT DISTINCT l_partkey AS part, l_partkey AS label FROM po),
         $iters,
         conv AS (
           SELECT CAST(NOT EXISTS (
             SELECT 1 FROM l$maxRounds a JOIN l${maxRounds - 1} b USING (part)
             WHERE a.label <> b.label) AS BIGINT) AS converged),
         sizes AS (SELECT label, count(*) AS comp_size FROM l$maxRounds GROUP BY label)
         SELECT part, l$maxRounds.label AS component, comp_size, converged
         FROM l$maxRounds JOIN sizes USING (label), conv"""
  }

  /** Shared CTE prefix for the q_label_prop / q_label_prop_eval
    * oracles: the support-filtered weighted co-purchase graph and
    * [[graft.operators.AnalyticsExt.LabelPropRounds]] unrolled
    * synchronous LPA rounds (argmax-weight relabel, ties to the
    * smallest label), ending at `r{R}` — the same single source of
    * truth the operator's constants come from, so the replay can't
    * drift from the Spark loop.
    */
  protected def labelPropCtes: String = {
    val minSupport = graft.operators.AnalyticsExt.LabelPropMinSupport
    def round(i: Int) =
      s"""g$i AS (
            SELECT s.src AS part, l.label AS nl, CAST(sum(s.w) AS BIGINT) AS tw
            FROM sym s JOIN r${i - 1} l ON l.part = s.dst GROUP BY 1, 2),
          b$i AS (
            SELECT part, nl FROM (
              SELECT part, nl,
                row_number() OVER (PARTITION BY part ORDER BY tw DESC, nl) AS rn
              FROM g$i) WHERE rn = 1),
          r$i AS MATERIALIZED (
            SELECT r.part, COALESCE(b.nl, r.label) AS label
            FROM r${i - 1} r LEFT JOIN b$i b USING (part))"""
    val iters =
      (1 to graft.operators.AnalyticsExt.LabelPropRounds).map(round).mkString(",\n         ")
    s"""po AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS MATERIALIZED (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS w
           FROM po a JOIN po b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= $minSupport),
         sym AS MATERIALIZED (SELECT pa AS src, pb AS dst, w FROM pairs
                UNION ALL SELECT pb, pa, w FROM pairs),
         r0 AS MATERIALIZED (
           SELECT DISTINCT l_partkey AS part, l_partkey AS label FROM po),
         $iters"""
  }

  protected def labelPropOracle: String = {
    val r = s"r${graft.operators.AnalyticsExt.LabelPropRounds}"
    s"""WITH $labelPropCtes,
         sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS comm_size
                   FROM $r GROUP BY label)
         SELECT $r.part, $r.label AS community, comm_size
         FROM $r JOIN sizes USING (label)"""
  }

  /** Modularity fold of the LPA partition vs the brand partition on
    * the same support-filtered edge set; the sign-factored e6
    * quotient mirrors the Spark DECIMAL(38,0) algebra in HUGEINT.
    */
  protected def labelPropEvalOracle: String = {
    val r = s"r${graft.operators.AnalyticsExt.LabelPropRounds}"
    s"""WITH $labelPropCtes,
         el AS (SELECT la.label AS ca, lb.label AS cb
                FROM pairs e JOIN $r la ON la.part = e.pa
                             JOIN $r lb ON lb.part = e.pb),
         ml AS (SELECT CAST(count(*) AS BIGINT) AS m FROM el),
         il AS (SELECT ca AS comm, CAST(count(*) AS BIGINT) AS mc
                FROM el WHERE ca = cb GROUP BY 1),
         dl AS (SELECT comm, CAST(count(*) AS BIGINT) AS degc
                FROM (SELECT ca AS comm FROM el UNION ALL SELECT cb FROM el)
                GROUP BY 1),
         fl AS (SELECT CAST(count(*) AS BIGINT) AS n_comms,
                  CAST(sum(COALESCE(i.mc, 0)) AS HUGEINT) AS sum_mc,
                  sum(CAST(d.degc AS HUGEINT) * d.degc) AS sum_deg2
                FROM dl d LEFT JOIN il i ON i.comm = d.comm),
         eb AS (SELECT pa.p_brand AS ca, pb.p_brand AS cb
                FROM pairs e JOIN part pa ON pa.p_partkey = e.pa
                             JOIN part pb ON pb.p_partkey = e.pb),
         ib AS (SELECT ca AS comm, CAST(count(*) AS BIGINT) AS mc
                FROM eb WHERE ca = cb GROUP BY 1),
         db AS (SELECT comm, CAST(count(*) AS BIGINT) AS degc
                FROM (SELECT ca AS comm FROM eb UNION ALL SELECT cb FROM eb)
                GROUP BY 1),
         fb AS (SELECT CAST(count(*) AS BIGINT) AS n_comms,
                  CAST(sum(COALESCE(i.mc, 0)) AS HUGEINT) AS sum_mc,
                  sum(CAST(d.degc AS HUGEINT) * d.degc) AS sum_deg2
                FROM db d LEFT JOIN ib i ON i.comm = d.comm)
         SELECT ml.m, fl.n_comms AS n_comms_lpa, fb.n_comms AS n_comms_brand,
           CAST((CASE WHEN 4 * CAST(ml.m AS HUGEINT) * fl.sum_mc - fl.sum_deg2 < 0
                      THEN -1 ELSE 1 END)
                * (abs(4 * CAST(ml.m AS HUGEINT) * fl.sum_mc - fl.sum_deg2) * 1000000
                   // (4 * CAST(ml.m AS HUGEINT) * ml.m)) AS BIGINT) AS q_lpa_e6,
           CAST((CASE WHEN 4 * CAST(ml.m AS HUGEINT) * fb.sum_mc - fb.sum_deg2 < 0
                      THEN -1 ELSE 1 END)
                * (abs(4 * CAST(ml.m AS HUGEINT) * fb.sum_mc - fb.sum_deg2) * 1000000
                   // (4 * CAST(ml.m AS HUGEINT) * ml.m)) AS BIGINT) AS q_brand_e6,
           CAST(4 * CAST(ml.m AS HUGEINT) * fl.sum_mc - fl.sum_deg2
                > 4 * CAST(ml.m AS HUGEINT) * fb.sum_mc - fb.sum_deg2 AS BIGINT)
             AS lpa_wins
         FROM ml, fl, fb"""
  }

  /** Generated Markov-attribution replay: journey truncation + START/
    * NULL framing per user, scenario edge redirection, and exactly
    * [[graft.operators.AnalyticsExt.MarkovAttrRounds]] unrolled
    * propagation rounds of the quantized trajectory mass·n // n_from
    * — the same integer steps the Spark loop takes.
    */
  protected def markovAttrOracle: String = {
    val rounds = graft.operators.AnalyticsExt.MarkovAttrRounds
    val roundCtes = (1 to rounds)
      .map { i =>
        val prev = s"m${i - 1}"
        s"""m$i AS MATERIALIZED (
           SELECT se.scenario, se.b AS state,
             CAST(sum(p.mass * se.n // se.n_from) AS BIGINT) AS mass
           FROM se JOIN $prev p ON p.scenario = se.scenario AND p.state = se.a
           GROUP BY 1, 2)"""
      }
      .mkString(",\n         ")
    s"""WITH seqs AS (
           SELECT list(event_type ORDER BY ts, event_id) AS t0
           FROM events GROUP BY user_id),
         j1 AS (SELECT CASE WHEN list_position(t0, 'purchase') IS NOT NULL
                        THEN t0[1:list_position(t0, 'purchase')] ELSE t0 END AS t1
                FROM seqs),
         j2 AS (SELECT ['START'] || t1 ||
                  (CASE WHEN t1[-1] <> 'purchase' THEN ['NULL']
                        ELSE CAST([] AS VARCHAR[]) END) AS t
                FROM j1),
         tr AS (SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b FROM j2),
         e AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
         ch AS (SELECT DISTINCT s AS removed
                FROM (SELECT a AS s FROM e UNION ALL SELECT b FROM e)
                WHERE s NOT IN ('START', 'NULL', 'purchase')),
         sc AS (SELECT removed FROM ch UNION ALL SELECT 'base'),
         se0 AS (
           SELECT sc.removed AS scenario, e.a,
             CASE WHEN e.b = sc.removed THEN 'NULL' ELSE e.b END AS b, e.n
           FROM e, sc WHERE e.a <> sc.removed),
         se1 AS (SELECT scenario, a, b, CAST(sum(n) AS BIGINT) AS n
                 FROM se0 GROUP BY 1, 2, 3
                 UNION ALL
                 SELECT sc.removed, s.st, s.st, CAST(1 AS BIGINT)
                 FROM sc, (VALUES ('purchase'), ('NULL')) s(st)),
         se AS (SELECT scenario, a, b, n,
                  CAST(sum(n) OVER (PARTITION BY scenario, a) AS BIGINT) AS n_from
                FROM se1),
         m0 AS (SELECT removed AS scenario, 'START' AS state,
                  CAST(1000000 AS BIGINT) AS mass FROM sc),
         $roundCtes,
         conv AS (SELECT sc.removed AS scenario,
                    CAST(coalesce(m.mass, 0) AS BIGINT) AS conv_e6
                  FROM sc LEFT JOIN m$rounds m
                    ON m.scenario = sc.removed AND m.state = 'purchase'),
         base AS (SELECT conv_e6 AS base_conv_e6 FROM conv WHERE scenario = 'base'),
         eff AS (SELECT c.scenario AS channel, b.base_conv_e6,
                   c.conv_e6 AS removed_conv_e6,
                   CAST(b.base_conv_e6 - c.conv_e6 AS BIGINT) AS effect_e6
                 FROM conv c, base b WHERE c.scenario <> 'base'),
         tot AS (SELECT CAST(sum(effect_e6) AS BIGINT) AS sum_eff FROM eff)
         SELECT channel, base_conv_e6, removed_conv_e6, effect_e6,
           CAST(CASE WHEN sum_eff > 0 THEN effect_e6 * 1000000 // sum_eff
                ELSE 0 END AS BIGINT) AS attribution_e6
         FROM eff, tot"""
  }

  /** Shared CTE prefix of the #414/#415 HNSW oracles: vectors,
    * queries, the deterministic geometric levels (hash60 trailing
    * base-4 digits ↔ `Similarity.hnswLevels`), the two upper-layer
    * top-5 graphs, the layer-0 top-10 graph, and the 4-hop greedy
    * descent (two beam-1 hops per upper layer, argmax rounded cosine,
    * ties to the smaller vec_id) ending at the per-query entry `d4`.
    */
  /** Symmetrized top-`m` cosine graph among `from`'s (vec_id, emb)
    * rows — the oracle replay of `Similarity.symmetrize(knnAmong(…))`
    * (HNSW links are bidirectional): the directed kNN build
    * `${name}d`, then `$name` as the deduped union of both
    * directions. Shared by [[hnswCtes]] and [[graphInsertCtes]].
    */
  protected def knnSymCtes(name: String, from: String, m: Int): String =
    s"""${name}d AS MATERIALIZED (SELECT src, dst FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(b.emb, a.emb), 6) DESC,
                   b.vec_id) AS rnk
             FROM ($from) a, ($from) b WHERE a.vec_id <> b.vec_id)
           WHERE rnk <= $m),
         $name AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM ${name}d
             UNION ALL SELECT dst AS src, src AS dst FROM ${name}d))"""

  /** Greedy-descent hop `i` over upper graph `g` (`Similarity
    * .hnswEntry`'s replay): expand `d${i-1}`'s out-neighbors, keep
    * the argmax-rounded-cosine candidate per query (ties to the
    * smaller vec_id). Expects `e`(vec_id, emb) and
    * `q`(query_id, q_emb) CTEs in scope.
    */
  protected def descentHopCtes(i: Int, g: String): String =
    s"""dc$i AS MATERIALIZED (SELECT DISTINCT query_id, vec_id FROM (
             SELECT query_id, vec_id FROM d${i - 1}
             UNION ALL
             SELECT d.query_id, $g.dst AS vec_id
             FROM d${i - 1} d JOIN $g ON $g.src = d.vec_id)),
         d$i AS MATERIALIZED (SELECT query_id, vec_id FROM (
             SELECT c.query_id, c.vec_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY round(list_cosine_similarity(e.emb, q.q_emb), 6) DESC,
                   c.vec_id) AS rnk
             FROM dc$i c JOIN e ON e.vec_id = c.vec_id
                         JOIN q ON q.query_id = c.query_id)
           WHERE rnk = 1)"""

  /** #448–#450 scalable-index CTEs over `src` (the
    * `Similarity.scalableIndex` replay): spill-`ScalableNprobe`
    * quantizer assignment ([[ivfTrainCtesFrom]]), `ScalableDraws`
    * content-hash long links per node (out-of-frame targets dropped
    * by the `JOIN u` filter), top-`kNbrs` init over the union
    * candidates, `ScalableRounds` NN-Descent refinement rounds, and
    * the symmetrized walk graph keeping the long links. Defines
    * `u..acorp` (train), `se`, `snn`, `sdraw`, `scand0`,
    * `sg0..sg{rounds}` (directed lists; the final one is the index),
    * and `swg` (the walk graph).
    */
  protected def scalableIndexCtes(src: String, kNbrs: Int): String = {
    val nprobe = operators.Similarity.ScalableNprobe
    val draws = operators.Similarity.ScalableDraws
    val rounds = operators.Similarity.ScalableRounds
    def stopk(name: String, cand: String) =
      s"""$name AS MATERIALIZED (SELECT src, dst, cos, rank FROM (
             SELECT c.src, c.dst,
               round(list_cosine_similarity(es.emb, ed.emb), 6) AS cos,
               CAST(row_number() OVER (PARTITION BY c.src
                 ORDER BY round(list_cosine_similarity(es.emb, ed.emb), 6) DESC,
                   c.dst) AS BIGINT) AS rank
             FROM $cand c JOIN se es ON es.vec_id = c.src
                          JOIN se ed ON ed.vec_id = c.dst)
           WHERE rank <= $kNbrs)"""
    val roundsSql = (1 to rounds)
      .map { r =>
        s"""ssym$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM sg${r - 1}
             UNION ALL SELECT dst AS src, src AS dst FROM sg${r - 1})),
         scnd$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT a.src, b.dst FROM ssym$r a JOIN ssym$r b ON a.dst = b.src
             WHERE a.src <> b.dst
             UNION ALL SELECT src, dst FROM sg${r - 1})),
         ${stopk(s"sg$r", s"scnd$r")}"""
      }
      .mkString(",\n         ")
    s"""${ivfTrainCtesFrom(src, nprobe, sqrtCells = true)},
         se AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM u),
         snn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
         srk AS MATERIALIZED (SELECT vec_id,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS r FROM u),
         sdraw AS MATERIALIZED (SELECT DISTINCT d.src, rk.vec_id AS dst FROM (
             SELECT v.vec_id AS src,
               ('0x' || substr(md5('sg0:' || v.vec_id || '-' || gs.j), 1, 15))::BIGINT
                 % snn.n AS r
             FROM u v, snn, generate_series(1, $draws) gs(j)) d
           JOIN srk rk ON rk.r = d.r
           WHERE d.src <> rk.vec_id),
         scand0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst
             FROM acorp a JOIN acorp b ON a.cell = b.cell AND a.vec_id <> b.vec_id
             UNION ALL SELECT src, dst FROM sdraw)),
         ${stopk("sg0", "scand0")},
         $roundsSql,
         swg AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM sg$rounds
             UNION ALL SELECT dst AS src, src AS dst FROM sg$rounds
             UNION ALL SELECT src, dst FROM sdraw
             UNION ALL SELECT dst AS src, src AS dst FROM sdraw))"""
  }

  protected def hnswCtes: String =
    hnswCtesWithG0(knnSymCtes("g0", "SELECT vec_id, emb FROM e", 10))

  /** [[hnswCtes]] with the layer-0 block swappable — the exact build
    * ([[knnSymCtes]], default via [[hnswCtes]]) or the cell-bounded
    * one ([[cellG0Ctes]], #448). The block must define `g0`.
    */
  protected def hnswCtesWithG0(g0Block: String): String = {
    def knn(name: String, from: String, m: Int) = knnSymCtes(name, from, m)
    def hop(i: Int, g: String) = descentHopCtes(i, g)
    s"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
               FROM embeddings WHERE vec_id < 10),
         lv AS MATERIALIZED (SELECT vec_id, emb,
                  CASE WHEN h % 4 = 0
                       THEN CASE WHEN (h // 4) % 4 = 0 THEN 2 ELSE 1 END
                       ELSE 0 END AS lvl
                FROM (SELECT vec_id, emb,
                        ('0x' || substr(md5('hnsw-lvl:' || vec_id), 1, 15))::BIGINT AS h
                      FROM e)),
         ${knn("g2", "SELECT vec_id, emb FROM lv WHERE lvl >= 2", operators.Similarity.HnswUpperM)},
         ${knn("g1", "SELECT vec_id, emb FROM lv WHERE lvl >= 1", operators.Similarity.HnswUpperM)},
         $g0Block,
         ent AS MATERIALIZED (SELECT coalesce(min(CASE WHEN lvl >= 2 THEN vec_id END),
                   min(vec_id)) AS vec_id FROM lv),
         d0 AS MATERIALIZED (SELECT q.query_id, ent.vec_id FROM q, ent),
         ${(1 to 2 * operators.Similarity.DescentHops)
        .map(i => hop(i, if (i <= operators.Similarity.DescentHops) "g2" else "g1"))
        .mkString(",\n         ")}"""
  }

  /** The unrolled layer-0 beam walk of the HNSW oracles — `hops`
    * rounds of expand/score/top-`beam` from the per-query entry CTE,
    * accumulating the visited set; the final CTE `${pfx}out` is the
    * per-query top-10 of everything visited, self excluded
    * (the exact replay of `Similarity.beamWalk` ranked by `top10`).
    */
  protected def hnswWalkCtes(
      pfx: String,
      entryCte: String,
      beam: Int,
      hops: Int,
      graph: String = "g0",
      qCte: String = "q",
      withOut: Boolean = true): String = {
    val sb = new StringBuilder
    sb ++= s"""${pfx}b0 AS MATERIALIZED (SELECT query_id, vec_id FROM $entryCte),
         ${pfx}v0 AS MATERIALIZED (SELECT query_id, vec_id FROM ${pfx}b0)"""
    for (i <- 1 to hops) {
      sb ++= s""",
         ${pfx}c$i AS MATERIALIZED (SELECT DISTINCT query_id, vec_id FROM (
             SELECT query_id, vec_id FROM ${pfx}b${i - 1}
             UNION ALL
             SELECT b.query_id, $graph.dst AS vec_id
             FROM ${pfx}b${i - 1} b JOIN $graph ON $graph.src = b.vec_id)),
         ${pfx}v$i AS MATERIALIZED (SELECT DISTINCT query_id, vec_id FROM (
             SELECT query_id, vec_id FROM ${pfx}v${i - 1}
             UNION ALL SELECT query_id, vec_id FROM ${pfx}c$i))"""
      if (i < hops)
        sb ++= s""",
         ${pfx}b$i AS MATERIALIZED (SELECT query_id, vec_id FROM (
             SELECT c.query_id, c.vec_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY round(list_cosine_similarity(e.emb, $qCte.q_emb), 6) DESC,
                   c.vec_id) AS rnk
             FROM ${pfx}c$i c JOIN e ON e.vec_id = c.vec_id
                              JOIN $qCte ON $qCte.query_id = c.query_id)
           WHERE rnk <= $beam)"""
    }
    if (withOut)
      sb ++= s""",
         ${pfx}out AS MATERIALIZED (SELECT query_id, vec_id, cos, rank FROM (
             SELECT f.query_id, f.vec_id,
               round(list_cosine_similarity(e.emb, $qCte.q_emb), 6) AS cos,
               CAST(row_number() OVER (PARTITION BY f.query_id
                 ORDER BY round(list_cosine_similarity(e.emb, $qCte.q_emb), 6) DESC,
                   f.vec_id) AS BIGINT) AS rank
             FROM ${pfx}v$hops f JOIN e ON e.vec_id = f.vec_id
                                 JOIN $qCte ON $qCte.query_id = f.query_id
             WHERE f.vec_id <> f.query_id)
           WHERE rank <= 10)"""
    sb.toString
  }

  /** #416/#417 NN-Descent oracle CTEs: deterministic hash-draw init,
    * then `rounds` unrolled local-join refinements (symmetrize →
    * two-hop closure ∪ current → per-node top-k by rounded cosine) —
    * `Similarity.nnDescent`'s exact replay. MATERIALIZED throughout
    * (the HNSW lesson: inlining re-evaluates the nested chain
    * exponentially).
    */
  protected def nnDescentCtes(k: Int, rounds: Int): String = {
    def topk(name: String, cand: String) =
      s"""$name AS MATERIALIZED (SELECT src, dst, cos, rank FROM (
             SELECT c.src, c.dst,
               round(list_cosine_similarity(es.emb, ed.emb), 6) AS cos,
               CAST(row_number() OVER (PARTITION BY c.src
                 ORDER BY round(list_cosine_similarity(es.emb, ed.emb), 6) DESC,
                   c.dst) AS BIGINT) AS rank
             FROM $cand c JOIN e es ON es.vec_id = c.src
                          JOIN e ed ON ed.vec_id = c.dst)
           WHERE rank <= $k)"""
    val roundsSql = (1 to rounds)
      .map { r =>
        s"""sym$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM g${r - 1}
             UNION ALL SELECT dst AS src, src AS dst FROM g${r - 1})),
         cand$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT a.src, b.dst FROM sym$r a JOIN sym$r b ON a.dst = b.src
             WHERE a.src <> b.dst
             UNION ALL SELECT src, dst FROM g${r - 1})),
         ${topk(s"g$r", s"cand$r")}"""
      }
      .mkString(",\n         ")
    s"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         i0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT v.vec_id AS src,
               ('0x' || substr(md5('nnd:' || v.vec_id || '-' || gs.j), 1, 15))::BIGINT
                 % nn.n AS dst
             FROM e v, nn, generate_series(1, $k) gs(j))
           WHERE src <> dst),
         ${topk("g0", "i0")},
         $roundsSql"""
  }

  protected def nnDescentOracle(k: Int, rounds: Int): String =
    s"""WITH ${nnDescentCtes(k, rounds)}
         SELECT src, dst, cos, rank FROM g$rounds"""

  protected def nnDescentRecallOracle(k: Int, rounds: Int): String = {
    val rows = (0 to rounds)
      .map(r => s"""SELECT CAST($r AS BIGINT) AS round,
             (SELECT CAST(count(*) AS BIGINT) FROM bf) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM g$r t
              JOIN bf USING (src, dst)) AS n_hits,
             (SELECT CAST(count(*) AS BIGINT) FROM g$r t
              JOIN bf USING (src, dst)) * 1000000
               // (SELECT count(*) FROM bf) AS recall_e6""")
      .mkString("\n         UNION ALL\n         ")
    s"""WITH ${nnDescentCtes(k, rounds)},
         bf AS MATERIALIZED (SELECT src, dst FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(b.emb, a.emb), 6) DESC,
                   b.vec_id) AS rnk
             FROM e a, e b WHERE a.vec_id <> b.vec_id)
           WHERE rnk <= $k)
         $rows"""
  }

  /** #419/#420 incremental graph-fold CTEs: base directed lists, the
    * symmetrized walk graph (named `g0`/`q`/`e` so [[hnswWalkCtes]]
    * drops in unchanged), BASE-member HNSW levels + upper graphs +
    * the per-delta greedy descent to a near layer-0 entry (the r11
    * recall lift — `Similarity.graphInsertFrame`'s replay), the
    * per-delta beam-walk insertion from that entry, within-batch
    * exact pairs, and the reverse-updated base lists.
    */
  protected def graphInsertCtes(
      k: Int,
      beam: Int,
      hops: Int,
      cellBounded: Boolean = false): String = {
    def topk(name: String, cand: String) =
      s"""$name AS MATERIALIZED (SELECT src, dst, cos, rank FROM (
             SELECT c.src, c.dst,
               round(list_cosine_similarity(es.emb, ed.emb), 6) AS cos,
               CAST(row_number() OVER (PARTITION BY c.src
                 ORDER BY round(list_cosine_similarity(es.emb, ed.emb), 6) DESC,
                   c.dst) AS BIGINT) AS rank
             FROM $cand c JOIN e es ON es.vec_id = c.src
                          JOIN e ed ON ed.vec_id = c.dst)
           WHERE rank <= $k)"""
    // #450: the base directed lists come from the scalable index
    // (spill-cell + long-link init, NN-Descent refined) under a
    // quantizer trained on the base-90% members; the walk graph keeps
    // the long links (swg). The exact variant keeps the all-pairs
    // build and plain symmetrization.
    val trainPrefix =
      if (cellBounded)
        scalableIndexCtes(
          "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0) bsrc",
          k) + ",\n         "
      else ""
    val baseBlocks =
      if (cellBounded)
        s"""gbd AS MATERIALIZED (SELECT src, dst, cos, rank
               FROM sg${operators.Similarity.ScalableRounds}),
         g0 AS MATERIALIZED (SELECT src, dst FROM swg),"""
      else
        s"""gbdc AS MATERIALIZED (
             SELECT a.vec_id AS src, b.vec_id AS dst
             FROM bse a, bse b WHERE a.vec_id <> b.vec_id),
         ${topk("gbd", "gbdc")},
         g0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM gbd
             UNION ALL SELECT dst AS src, src AS dst FROM gbd)),"""
    s"""${trainPrefix}e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         bse AS MATERIALIZED (SELECT vec_id, emb FROM e WHERE vec_id % 10 <> 0),
         q AS MATERIALIZED (SELECT vec_id AS query_id, emb AS q_emb
               FROM e WHERE vec_id % 10 = 0),
         $baseBlocks
         lv AS MATERIALIZED (SELECT vec_id, emb,
                  CASE WHEN h % 4 = 0
                       THEN CASE WHEN (h // 4) % 4 = 0 THEN 2 ELSE 1 END
                       ELSE 0 END AS lvl
                FROM (SELECT vec_id, emb,
                        ('0x' || substr(md5('hnsw-lvl:' || vec_id), 1, 15))::BIGINT AS h
                      FROM bse)),
         ${knnSymCtes(
        "gi2",
        "SELECT vec_id, emb FROM lv WHERE lvl >= 2",
        operators.Similarity.HnswUpperM)},
         ${knnSymCtes(
        "gi1",
        "SELECT vec_id, emb FROM lv WHERE lvl >= 1",
        operators.Similarity.HnswUpperM)},
         ent AS MATERIALIZED (SELECT coalesce(min(CASE WHEN lvl >= 2 THEN vec_id END),
                   min(vec_id)) AS vec_id FROM lv),
         d0 AS MATERIALIZED (SELECT q.query_id, ent.vec_id FROM q, ent),
         ${(1 to 2 * operators.Similarity.DescentHops)
        .map(i =>
          descentHopCtes(i, if (i <= operators.Similarity.DescentHops) "gi2" else "gi1"))
        .mkString(",\n         ")},
         ${hnswWalkCtes("w_", s"d${2 * operators.Similarity.DescentHops}", beam, hops)},
         dcand AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT query_id AS src, vec_id AS dst FROM w_out
             UNION ALL
             SELECT a.query_id AS src, b.query_id AS dst
             FROM q a, q b WHERE a.query_id <> b.query_id)),
         ${topk("dl", "dcand")},
         bcand AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM gbd
             UNION ALL SELECT vec_id AS src, query_id AS dst FROM w_v$hops)),
         ${topk("bl", "bcand")}"""
  }

  protected def graphInsertOracle(
      k: Int,
      beam: Int,
      hops: Int,
      cellBounded: Boolean = false): String =
    s"""WITH ${graphInsertCtes(k, beam, hops, cellBounded)}
         SELECT src, dst, cos, rank FROM bl
         UNION ALL SELECT src, dst, cos, rank FROM dl"""

  /** #448: the unrolled NSW walk of `ann_nsw_search` with its graph
    * CTE swapped for the scalable index's walk graph.
    */
  protected def nswScalableOracle(kNbrs: Int, beam: Int, hops: Int): String =
    s"""WITH ${scalableIndexCtes("embeddings", kNbrs)},
         e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
               FROM embeddings WHERE vec_id < 10),
         sent AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM e),
         ent0 AS MATERIALIZED (SELECT q.query_id, sent.vec_id FROM q, sent),
         ${hnswWalkCtes("w_", "ent0", beam, hops, graph = "swg")}
         SELECT query_id, vec_id, cos, rank FROM w_out"""

  /** #449: `ann_hnsw_search`'s oracle with the layer-0 block swapped
    * for the scalable index's walk graph; levels, upper graphs, and
    * the descent are byte-identical to the exact variant.
    */
  protected def hnswScalableOracle(kNbrs: Int): String =
    s"""WITH ${scalableIndexCtes("embeddings", kNbrs)},
         ${hnswCtesWithG0("g0 AS MATERIALIZED (SELECT src, dst FROM swg)")},
         ${hnswWalkCtes("w_", s"d${2 * operators.Similarity.DescentHops}", beam = 10, hops = 4)}
         SELECT query_id, vec_id, cos, rank FROM w_out"""

  protected def graphInsertEvalOracle(k: Int, beam: Int, hops: Int): String = {
    val kinds = Seq("delta" -> "src % 10 = 0", "base" -> "src % 10 <> 0", "all" -> "TRUE")
    val rows = kinds
      .map { case (name, pred) =>
        s"""SELECT '$name' AS node_kind,
             (SELECT CAST(count(*) AS BIGINT) FROM bf WHERE $pred) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM fold
              JOIN bf USING (src, dst) WHERE $pred) AS n_hits,
             (SELECT CAST(count(*) AS BIGINT) FROM fold
              JOIN bf USING (src, dst) WHERE $pred) * 1000000
               // (SELECT count(*) FROM bf WHERE $pred) AS recall_e6"""
      }
      .mkString("\n         UNION ALL\n         ")
    s"""WITH ${graphInsertCtes(k, beam, hops)},
         fold AS MATERIALIZED (
             SELECT src, dst FROM bl UNION ALL SELECT src, dst FROM dl),
         bfc AS MATERIALIZED (
             SELECT a.vec_id AS src, b.vec_id AS dst
             FROM e a, e b WHERE a.vec_id <> b.vec_id),
         bft AS MATERIALIZED (SELECT src, dst, cos, rank FROM (
             SELECT c.src, c.dst,
               round(list_cosine_similarity(es.emb, ed.emb), 6) AS cos,
               CAST(row_number() OVER (PARTITION BY c.src
                 ORDER BY round(list_cosine_similarity(es.emb, ed.emb), 6) DESC,
                   c.dst) AS BIGINT) AS rank
             FROM bfc c JOIN e es ON es.vec_id = c.src
                        JOIN e ed ON ed.vec_id = c.dst)
           WHERE rank <= $k),
         bf AS MATERIALIZED (SELECT src, dst FROM bft)
         $rows"""
  }

  protected def vamanaRecallOracle: String = {
    val beams = graft.operators.Similarity.HnswBeamPoints
    val hops = graft.operators.Similarity.VamanaHops
    val walks = beams
      .map(b => hnswWalkCtes(s"vr${b}_", "vre", b, hops, "vgs", "q"))
      .mkString(",\n         ")
    val rows = beams
      .map(b => s"""SELECT CAST($b AS BIGINT) AS beam,
             (SELECT CAST(count(*) AS BIGINT) FROM bf) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM vr${b}_out t
              JOIN bf USING (query_id, vec_id)) AS n_hits,
             (SELECT CAST(count(*) AS BIGINT) FROM vr${b}_out t
              JOIN bf USING (query_id, vec_id)) * 1000000
               // (SELECT count(*) FROM bf) AS recall_e6""")
      .mkString("\n         UNION ALL\n         ")
    s"""WITH $vamanaCtes,
         vgs AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM vgf
             UNION ALL SELECT dst AS src, src AS dst FROM vgf)),
         q AS MATERIALIZED (SELECT vec_id AS query_id, emb AS q_emb FROM e
               WHERE vec_id < 10),
         vre AS MATERIALIZED (SELECT q.query_id, vent.vec_id FROM q, vent),
         $walks,
         bf AS MATERIALIZED (SELECT query_id, vec_id FROM (
             SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(e.emb, q.q_emb), 6) DESC,
                   e.vec_id) AS rnk
             FROM e, q WHERE e.vec_id <> q.query_id)
           WHERE rnk <= 10)
         $rows"""
  }

  protected def hnswSearchOracle: String =
    s"""WITH $hnswCtes,
         ${hnswWalkCtes("w_", s"d${2 * operators.Similarity.DescentHops}", beam = 10, hops = 4)}
         SELECT query_id, vec_id, cos, rank FROM w_out"""

  protected def hnswRecallOracle: String = {
    val beams = operators.Similarity.HnswBeamPoints
    val walks = beams.map(b => hnswWalkCtes(s"w${b}_", s"d${2 * operators.Similarity.DescentHops}", b, hops = 4)).mkString(",\n         ")
    val rows = beams
      .map(b => s"""SELECT CAST($b AS BIGINT) AS beam,
             (SELECT CAST(count(*) AS BIGINT) FROM bf) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM w${b}_out t
              JOIN bf USING (query_id, vec_id)) AS n_hits,
             (SELECT CAST(count(*) AS BIGINT) FROM w${b}_out t
              JOIN bf USING (query_id, vec_id)) * 1000000
               // (SELECT count(*) FROM bf) AS recall_e6""")
      .mkString("\n         UNION ALL\n         ")
    s"""WITH $hnswCtes,
         $walks,
         bf AS MATERIALIZED (SELECT query_id, vec_id FROM (
             SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(e.emb, q.q_emb), 6) DESC,
                   e.vec_id) AS rnk
             FROM e, q WHERE e.vec_id <> q.query_id)
           WHERE rnk <= 10)
         $rows"""
  }
}
