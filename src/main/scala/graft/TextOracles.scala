package graft

/** DuckDB oracles for [[TextQueries]].
  *
  * Parity notes:
  *  - DuckDB regexp_replace needs the 'g' flag to match Spark's
  *    replace-all default;
  *  - cosine must be computed with explicit ::DOUBLE casts —
  *    list_cosine_similarity accumulates in float32 and diverges from
  *    Spark's double math;
  *  - md5-derived minhashes/band keys are engine-independent by
  *    construction.
  */
object TextOracles {
  import TextOracleCtes._

  val all: Map[String, String] = SparkEntry.disjoint(TextOraclesB.all, Map(
    "gr1_pagerank" ->
      s"""WITH $pagerankCtes
         |SELECT node, round(r::DOUBLE / 1e12, 6) AS rank FROM r3""".stripMargin,

    // GR8: personalized PageRank — gr1's unrolled pico-exact power
    // steps with the teleport base AND the dangling redistribution
    // CONDITIONED on seed membership; shared CTEs MATERIALIZED (the
    // gr5 re-evaluation lesson)
    "gr8_ppr" -> {
      def iter(i: Int): String =
        s"""c$i AS (
           |  SELECT pr.dst AS node,
           |    CAST(sum(CAST(round(r.r * pr.p) AS BIGINT)) AS BIGINT) AS c
           |  FROM pr JOIN r${i - 1} r ON pr.src = r.node GROUP BY 1),
           |dg$i AS (
           |  SELECT coalesce(sum(r.r), 0) AS dm FROM r${i - 1} r
           |  WHERE r.node NOT IN (SELECT DISTINCT src FROM pr)),
           |r$i AS MATERIALIZED (
           |  SELECT n.node,
           |    CASE WHEN sd.node IS NOT NULL THEN
           |      (SELECT CAST(round((1.0 - 0.85) / count(*) * 1e12)
           |        AS BIGINT) FROM sd)
           |    ELSE 0 END +
           |    CAST(round(0.85 * (coalesce(c.c, 0) +
           |      CASE WHEN sd.node IS NOT NULL THEN
           |        CAST(round(dg$i.dm / (SELECT count(*) FROM sd)) AS BIGINT)
           |      ELSE 0 END)) AS BIGINT) AS r
           |  FROM nodes n
           |  LEFT JOIN sd ON n.node = sd.node
           |  LEFT JOIN c$i c ON n.node = c.node
           |  CROSS JOIN dg$i)""".stripMargin
      s"""WITH nn AS (SELECT count(*)::BIGINT AS N FROM documents),
         |e0 AS (
         |  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT N FROM nn)
         |    AS dst
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 3 + 2) % (SELECT N FROM nn)
         |  FROM documents),
         |ed AS (SELECT src, dst, count(*)::DOUBLE AS w FROM e0
         |       GROUP BY 1, 2),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT node FROM
         |    (SELECT src AS node FROM ed UNION SELECT dst FROM ed)),
         |pr AS MATERIALIZED (
         |  SELECT src, dst, w / tw AS p FROM
         |    (SELECT *, sum(w) OVER (PARTITION BY src) AS tw FROM ed)),
         |sd AS MATERIALIZED (
         |  SELECT doc_id AS node FROM documents
         |  WHERE doc_id % 97 = 0
         |    AND doc_id IN (SELECT node FROM nodes)),
         |r0 AS (
         |  SELECT n.node,
         |    CASE WHEN sd.node IS NOT NULL THEN
         |      (SELECT CAST(round(1.0 / count(*) * 1e12) AS BIGINT) FROM sd)
         |    ELSE 0 END AS r
         |  FROM nodes n LEFT JOIN sd ON n.node = sd.node),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT node, round(r::DOUBLE / 1e12, 6) AS rank FROM r3"""
        .stripMargin
    },

    // GR5: 8 unrolled peel rounds over the same modular graph —
    // rounds after the fixpoint remove nothing, so over-provisioning
    // is exact, not approximate
    "gr5_kcore" -> {
      val rounds = 8
      val peels = (1 to rounds).map { r =>
        val prev = if (r == 1) "rem0" else s"rem${r - 1}"
        s"""rem$r AS MATERIALIZED (
           |  SELECT node FROM $prev
           |  UNION
           |  SELECT n.node FROM nodes n
           |  WHERE n.node NOT IN (SELECT node FROM $prev)
           |    AND (SELECT count(*) FROM dir e WHERE e.u = n.node
           |         AND e.v NOT IN (SELECT node FROM $prev)) < 4)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*)::BIGINT AS N FROM documents),
         |e0 AS (
         |  SELECT doc_id AS s, (doc_id * 2 + 1) % (SELECT N FROM nn) AS t
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 3 + 2) % (SELECT N FROM nn)
         |  FROM documents),
         |und AS (
         |  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
         |  FROM e0 WHERE s <> t),
         |dir AS MATERIALIZED (SELECT a AS u, b AS v FROM und
         |        UNION ALL SELECT b, a FROM und),
         |nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM dir),
         |rem0 AS (SELECT CAST(NULL AS BIGINT) AS node WHERE false),
         |$peels
         |SELECT u AS node, count(*)::BIGINT AS core_degree
         |FROM dir
         |WHERE u NOT IN (SELECT node FROM rem$rounds)
         |  AND v NOT IN (SELECT node FROM rem$rounds)
         |GROUP BY 1""".stripMargin
    },

    // GR4: same undirected edges, same integer moments, same Pearson
    // expression shape
    // DD26: LSH planner — dd24's histogram chain, then a VALUES grid
    // with P(s)=1−(1−sʳ)ᵇ quantized at 1e6 per (bin, config); best row
    // by integer 10·fn+fp with (bands, rows) tie-break
    "dd26_lsh_plan" -> {
      val gridVals = Seq(2, 4, 8, 16, 32)
        .flatMap(b => Seq(1, 2, 4, 8).map(r => s"($b, $r)")).mkString(", ")
      s"""WITH $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id),
         |hist AS (
         |  SELECT CAST(least(floor(jaccard * 10), 9) AS BIGINT) AS jaccard_bin,
         |    count(*)::BIGINT AS n_pairs
         |  FROM verify GROUP BY 1),
         |grid AS (
         |  SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band
         |  FROM (VALUES $gridVals) AS g(b, r)),
         |sc AS (
         |  SELECT bands, rows_per_band,
         |    CAST(sum(n_pairs * pq) AS BIGINT) AS cq,
         |    CAST(sum(CASE WHEN jaccard_bin < 5 THEN n_pairs * pq
         |             ELSE 0 END) AS BIGINT) AS fpq,
         |    CAST(sum(CASE WHEN jaccard_bin >= 5 THEN n_pairs * (1000000 - pq)
         |             ELSE 0 END) AS BIGINT) AS fnq
         |  FROM (
         |    SELECT h.jaccard_bin, h.n_pairs, g.bands, g.rows_per_band,
         |      CAST(round((1.0 - pow(1.0 - pow(
         |        (h.jaccard_bin * 2 + 1)::DOUBLE / 20.0,
         |        g.rows_per_band::DOUBLE), g.bands::DOUBLE)) * 1e6)
         |        AS BIGINT) AS pq
         |    FROM hist h, grid g)
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT *, row_number() OVER (ORDER BY fnq * 10 + fpq, bands,
         |    rows_per_band) AS rk
         |  FROM sc)
         |SELECT bands, rows_per_band,
         |  round(cq::DOUBLE / 1e6, 6) AS exp_candidates,
         |  round(fpq::DOUBLE / 1e6, 6) AS fp_mass,
         |  round(fnq::DOUBLE / 1e6, 6) AS fn_mass,
         |  CASE WHEN rk = 1 THEN 1 ELSE 0 END AS is_best
         |FROM rk""".stripMargin
    },

    // TX29: RAKE — same tokenization CTE, stopword islands via cumsum,
    // word scores quantized once per word, phrase sums exact BIGINT
    "tx29_rake" ->
      s"""WITH $wordsCte,
         |tok AS (
         |  SELECT doc_id AS d, unnest(w) AS w0,
         |    unnest(range(1, len(w) + 1)) AS p
         |  FROM words),
         |tk AS (
         |  SELECT d, w0 AS w, p,
         |    CASE WHEN w0 IN (${graft.text.Rake.stopwordsSqlList})
         |         THEN 1 ELSE 0 END AS stop
         |  FROM tok WHERE w0 <> ''),
         |isl AS (
         |  SELECT d, w, p, stop,
         |    CAST(sum(stop) OVER (PARTITION BY d ORDER BY p
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS i
         |  FROM tk),
         |ph AS (
         |  SELECT d, w, p, i, count(*) OVER (PARTITION BY d, i) AS len
         |  FROM isl WHERE stop = 0),
         |ok AS (SELECT * FROM ph WHERE len <= 4),
         |ws AS (
         |  SELECT w, CAST(round(CAST(sum(len) AS BIGINT)::DOUBLE
         |    / count(*)::DOUBLE * 1e12) AS BIGINT) AS swq
         |  FROM ok GROUP BY 1),
         |phr AS (
         |  SELECT ok.d, ok.i, string_agg(ok.w, ' ' ORDER BY ok.p) AS phrase,
         |    CAST(sum(ws.swq) AS BIGINT) AS sq
         |  FROM ok JOIN ws USING (w)
         |  GROUP BY 1, 2),
         |fin AS (
         |  SELECT phrase, count(*)::BIGINT AS n_occurrences,
         |    max(sq) AS sq
         |  FROM phr GROUP BY 1)
         |SELECT phrase, n_occurrences, round(sq::DOUBLE / 1e12, 6) AS score
         |FROM fin ORDER BY score DESC, phrase LIMIT 25""".stripMargin,

    // GR7: Adamic–Adar — same modular multigraph as gr5; per-apex
    // 1/ln(deg) quantized at 1e12 (one rounding per apex), wedge
    // self-join (vs the engine's one-pass explode), non-adjacent only
    "gr7_adamic_adar" ->
      """WITH nn AS (SELECT count(*)::BIGINT AS N FROM documents),
        |e0 AS (
        |  SELECT doc_id AS s, (doc_id * 2 + 1) % (SELECT N FROM nn) AS t
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 3 + 2) % (SELECT N FROM nn)
        |  FROM documents),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |  FROM e0 WHERE s <> t),
        |nb AS (SELECT a AS apex, b AS nbr FROM und
        |       UNION ALL SELECT b, a FROM und),
        |dg AS (SELECT apex, count(*)::BIGINT AS deg FROM nb GROUP BY 1),
        |wn AS (
        |  SELECT nb.apex, nb.nbr,
        |    CAST(round(1.0 / ln(deg::DOUBLE) * 1e12) AS BIGINT) AS wq
        |  FROM nb JOIN dg USING (apex)
        |  WHERE deg >= 2 AND deg <= 64),
        |p AS (
        |  SELECT x.nbr AS n1, y.nbr AS n2, count(*)::BIGINT AS cn,
        |    CAST(sum(x.wq) AS BIGINT) AS aaq
        |  FROM wn x JOIN wn y ON x.apex = y.apex AND x.nbr < y.nbr
        |  GROUP BY 1, 2)
        |SELECT p.n1 AS node1, p.n2 AS node2, p.cn AS common_neighbors,
        |  round(p.aaq::DOUBLE / 1e12, 6) AS aa_score
        |FROM p
        |LEFT JOIN und ON p.n1 = und.a AND p.n2 = und.b
        |WHERE und.a IS NULL""".stripMargin,

    "gr4_assortativity" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
        |e0 AS (
        |  SELECT a.source AS s, b.source AS t
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
        |und AS (
        |  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |  FROM e0 WHERE s <> t AND s IS NOT NULL AND t IS NOT NULL),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS degree FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und) q
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT da.degree AS x, db.degree AS y
        |  FROM und u JOIN deg da ON u.a = da.node
        |             JOIN deg db ON u.b = db.node
        |  UNION ALL
        |  SELECT db.degree, da.degree
        |  FROM und u JOIN deg da ON u.a = da.node
        |             JOIN deg db ON u.b = db.node),
        |m AS (
        |  SELECT count(*)::BIGINT AS np,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM pairs),
        |nn AS (SELECT count(*)::BIGINT AS n_nodes FROM deg)
        |SELECT n_nodes, np // 2 AS n_edges,
        |  round(CASE WHEN
        |      sqrt((np::DOUBLE * sxx - sx::DOUBLE * sx) *
        |           (np::DOUBLE * syy - sy::DOUBLE * sy)) > 0
        |    THEN (np::DOUBLE * sxy - sx::DOUBLE * sy) /
        |      sqrt((np::DOUBLE * sxx - sx::DOUBLE * sx) *
        |           (np::DOUBLE * syy - sy::DOUBLE * sy)) END, 6)
        |    AS assortativity
        |FROM m, nn""".stripMargin,

    // triangles via the same degree-ordered orientation: each triangle
    // closes once at its lowest-ordered apex; row-value comparisons
    // mirror the Spark struct ordering
    "gr2_triangles" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
        |e0 AS (
        |  SELECT a.source AS s, b.source AS t
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
        |und AS (
        |  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |  FROM e0 WHERE s <> t AND s IS NOT NULL AND t IS NOT NULL),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS degree FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und) q
        |  GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN da.degree <= db.degree THEN u.a ELSE u.b END AS u,
        |         CASE WHEN da.degree <= db.degree THEN u.b ELSE u.a END AS v,
        |         CASE WHEN da.degree <= db.degree THEN db.degree
        |              ELSE da.degree END AS dv
        |  FROM und u JOIN deg da ON u.a = da.node
        |             JOIN deg db ON u.b = db.node),
        |w AS (
        |  SELECT e1.u AS apex, e1.v AS x, e2.v AS y
        |  FROM o e1 JOIN o e2
        |    ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)),
        |c AS (SELECT apex, x, y FROM w JOIN o ON o.u = w.x AND o.v = w.y),
        |pn AS (
        |  SELECT node, count(*)::BIGINT AS triangles FROM (
        |    SELECT apex AS node FROM c
        |    UNION ALL SELECT x FROM c
        |    UNION ALL SELECT y FROM c) q
        |  GROUP BY 1)
        |SELECT deg.node, deg.degree,
        |  coalesce(pn.triangles, 0) AS triangles,
        |  round(CASE WHEN deg.degree >= 2
        |    THEN coalesce(pn.triangles, 0)::DOUBLE * 2e6
        |       / (deg.degree * (deg.degree - 1)) END) / 1e6 AS clustering
        |FROM deg LEFT JOIN pn ON deg.node = pn.node""".stripMargin,

    "tx1_token_stats" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS token_count,
        |  length(text)::BIGINT AS char_len,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_estimate,
        |  CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
        |       THEN length(regexp_replace(trim(text), '\s+', '', 'g'))::DOUBLE /
        |            len(regexp_split_to_array(trim(text), '\s+'))
        |       ELSE 0.0 END AS mean_word_len
        |FROM documents""".stripMargin,

    "tx5_bpe_tokens" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text,
         |    '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9'']+|\\s+'))::BIGINT
         |    AS bpe_tokens,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT
         |    AS ws_tokens
         |FROM documents""".stripMargin,

    "tx2_lang_id" -> {
      val scores = Seq("de", "en", "es", "fr", "it")
        .map(l => s"(${langScore(l)}) AS s_$l").mkString(", ")
      s"""WITH $ltCte,
         |sc AS (SELECT doc_id, $scores FROM lt),
         |best AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_it) AS b FROM sc)
         |SELECT doc_id,
         |  CASE WHEN s_de = b AND b > 0 THEN 'de'
         |       WHEN s_en = b AND b > 0 THEN 'en'
         |       WHEN s_es = b AND b > 0 THEN 'es'
         |       WHEN s_fr = b AND b > 0 THEN 'fr'
         |       WHEN s_it = b AND b > 0 THEN 'it'
         |       ELSE 'und' END AS lang_id,
         |  s_en AS en_score
         |FROM best""".stripMargin
    },

    "tx3_quality" -> {
      val stop = langScore("en")
      s"""WITH $ltCte,
         |comp AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         |    length(text) AS n,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nospace,
         |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS alpha,
         |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS digit,
         |    ($stop) AS stops
         |  FROM lt),
         |ratios AS (
         |  SELECT doc_id,
         |    CASE WHEN tok > 0 THEN nospace::DOUBLE / tok ELSE 0.0 END AS mwl,
         |    CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END AS ar,
         |    CASE WHEN n > 0 THEN digit::DOUBLE / n ELSE 0.0 END AS dr,
         |    CASE WHEN tok > 0 THEN stops::DOUBLE / tok ELSE 0.0 END AS sr
         |  FROM comp)
         |SELECT doc_id,
         |  round(ar * 0.4 + (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |        least(sr * 5.0, 1.0) * 0.2 + (1.0 - least(dr * 5.0, 1.0)) * 0.2, 6) AS quality,
         |  round(ar, 6) AS alpha_ratio,
         |  round(dr, 6) AS digit_ratio
         |FROM ratios""".stripMargin
    },

    // budget selection replay: same quality formula as tx3, then the
    // histogram → descending cumulative window → boundary-bin rate →
    // id-hash membership chain
    "sp5_token_budget" -> {
      val stop = langScore("en")
      s"""WITH $ltCte,
         |comp AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         |    length(text) AS n,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nospace,
         |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS alpha,
         |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS digit,
         |    ($stop) AS stops
         |  FROM lt),
         |ratios AS (
         |  SELECT doc_id, tok,
         |    CASE WHEN tok > 0 THEN nospace::DOUBLE / tok ELSE 0.0 END AS mwl,
         |    CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END AS ar,
         |    CASE WHEN n > 0 THEN digit::DOUBLE / n ELSE 0.0 END AS dr,
         |    CASE WHEN tok > 0 THEN stops::DOUBLE / tok ELSE 0.0 END AS sr
         |  FROM comp),
         |scored AS (
         |  SELECT doc_id, tok,
         |    round(ar * 0.4 + (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |          least(sr * 5.0, 1.0) * 0.2 + (1.0 - least(dr * 5.0, 1.0)) * 0.2, 6) AS score
         |  FROM ratios),
         |b AS (SELECT doc_id, tok,
         |        LEAST(CAST(floor(score * 1000) AS INT), 999) AS bin
         |      FROM scored),
         |hist AS (SELECT bin, CAST(sum(tok) AS BIGINT) AS mass FROM b GROUP BY 1),
         |m AS (SELECT bin, mass,
         |        sum(mass) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM hist),
         |r AS (SELECT bin,
         |        CASE WHEN cum <= 10000 THEN 1.0
         |             WHEN cum - mass >= 10000 THEN 0.0
         |             ELSE (10000 - (cum - mass))::DOUBLE / mass END AS rate
         |      FROM m)
         |SELECT doc_id FROM b JOIN r USING (bin)
         |WHERE CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'budget', doc_id)), 1, 8))
         |      AS BIGINT) AS DOUBLE) / 4294967296.0 < rate""".stripMargin
    },

    // SP13: the sp5 chain with every stage partitioned by source
    "sp13_budget_per_source" -> {
      val stop = langScore("en")
      s"""WITH $ltCte,
         |comp AS (
         |  SELECT doc_id, source,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         |    length(text) AS n,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nospace,
         |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS alpha,
         |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS digit,
         |    ($stop) AS stops
         |  FROM lt),
         |ratios AS (
         |  SELECT doc_id, source, tok,
         |    CASE WHEN tok > 0 THEN nospace::DOUBLE / tok ELSE 0.0 END AS mwl,
         |    CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END AS ar,
         |    CASE WHEN n > 0 THEN digit::DOUBLE / n ELSE 0.0 END AS dr,
         |    CASE WHEN tok > 0 THEN stops::DOUBLE / tok ELSE 0.0 END AS sr
         |  FROM comp),
         |scored AS (
         |  SELECT doc_id, source, tok,
         |    round(ar * 0.4 + (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |          least(sr * 5.0, 1.0) * 0.2 + (1.0 - least(dr * 5.0, 1.0)) * 0.2, 6) AS score
         |  FROM ratios),
         |b AS (SELECT doc_id, source, tok,
         |        LEAST(CAST(floor(score * 1000) AS INT), 999) AS bin
         |      FROM scored),
         |hist AS (SELECT source, bin, CAST(sum(tok) AS BIGINT) AS mass
         |         FROM b GROUP BY 1, 2),
         |m AS (SELECT source, bin, mass,
         |        sum(mass) OVER (PARTITION BY source ORDER BY bin DESC
         |                        ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM hist),
         |r AS (SELECT source, bin,
         |        CASE WHEN cum <= 300 THEN 1.0
         |             WHEN cum - mass >= 300 THEN 0.0
         |             ELSE (300 - (cum - mass))::DOUBLE / mass END AS rate
         |      FROM m)
         |SELECT doc_id, source FROM b JOIN r USING (source, bin)
         |WHERE CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'budget', doc_id)), 1, 8))
         |      AS BIGINT) AS DOUBLE) / 4294967296.0 < rate""".stripMargin
    },

    // SP15: unigram^0.75 negative draws — DuckDB does the interval
    // join directly (oracle-side cost is irrelevant); the engine's
    // bucketed equi-join must land every draw on the same word
    "sp15_negative_samples" ->
      s"""WITH $wordsCte,
         |v AS (SELECT s AS word, count(*)::BIGINT AS f
         |      FROM (SELECT unnest(w) AS s FROM words) WHERE s <> ''
         |      GROUP BY 1),
         |c AS (SELECT word,
         |        CAST(round(sqrt(f::DOUBLE * sqrt(f::DOUBLE)) * 1e6) AS BIGINT)
         |          AS wq
         |      FROM v),
         |cum AS (SELECT word, wq,
         |          CAST(sum(wq) OVER (ORDER BY word ROWS UNBOUNDED PRECEDING)
         |            AS BIGINT) AS hi
         |        FROM c),
         |cum2 AS (SELECT word, hi - wq AS lo, hi FROM cum),
         |tot AS (SELECT CAST(max(hi) AS BIGINT) AS w_total FROM cum),
         |dr AS (
         |  SELECT doc_id, j,
         |    CAST(floor(CAST(CAST(concat('0x',
         |        substr(md5(concat_ws('|', 'neg', doc_id || '#' || j)), 1, 8))
         |      AS BIGINT) AS DOUBLE) / 4294967296.0 * w_total::DOUBLE)
         |      AS BIGINT) AS d
         |  FROM documents, unnest([0, 1, 2, 3, 4]) AS t(j), tot)
         |SELECT dr.doc_id, CAST(dr.j AS INT) AS draw_idx, c2.word AS neg_word
         |FROM dr JOIN cum2 c2 ON c2.lo <= dr.d AND dr.d < c2.hi""".stripMargin,

    "tx4_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_md5,
        |  md5(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |                          '\s+'))), ' ')) AS canonical_fp
        |FROM documents""".stripMargin,

    "tx7_top_ngrams" ->
      s"""WITH $shinglesCte,
         |flat AS (SELECT unnest(sh) AS ngram FROM sh)
         |SELECT ngram, count(*) AS n FROM flat
         |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,

    // Gopher filter parity: fractions rounded to 6 BEFORE the keep
    // comparison, exactly as the Spark side computes them
    "tx8_repetition" ->
      s"""WITH $gopherCtes
         |SELECT doc_id, top2 AS top2gram_frac, dup3 AS dup3gram_frac,
         |  dupline AS dup_line_frac, sym AS symbol_ratio,
         |  CAST($gopherKeepSql AS INT) AS keep
         |FROM fr""".stripMargin,

    // end-to-end curation pipeline: Gopher keep → exact dedup (lowest id
    // survives) → exact 5-gram decontamination vs the eval set → 90/10
    // split → per-(split, source) doc/token mass. Integer aggregates
    // only, so the whole chain hash-compares exactly.
    "pipeline_text" ->
      s"""WITH $gopherCtes,
         |keepset AS (
         |  SELECT doc_id FROM fr
         |  WHERE doc_id >= 50 AND $gopherKeepSql),
         |dedup AS (
         |  SELECT d.doc_id, d.source, d.text
         |  FROM documents d JOIN keepset k USING (doc_id)
         |  QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(d.text)))
         |                             ORDER BY d.doc_id) = 1),
         |gr5 AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 5
         |         THEN list_transform(range(1, len(w) - 3),
         |                             i -> array_to_string(w[i:i+4], ' '))
         |         ELSE [] END AS g
         |  FROM words),
         |refg AS (SELECT DISTINCT * FROM
         |  (SELECT unnest(g) AS s FROM gr5 WHERE doc_id < 50)),
         |cgr AS (SELECT DISTINCT * FROM
         |  (SELECT gr5.doc_id, unnest(gr5.g) AS s
         |   FROM gr5 JOIN dedup USING (doc_id))),
         |flagged AS (SELECT DISTINCT cgr.doc_id FROM cgr JOIN refg USING (s)),
         |clean AS (SELECT * FROM dedup
         |          WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |sp AS (
         |  SELECT source, text,
         |    CASE WHEN CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'split', doc_id)), 1, 8))
         |              AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.9
         |         THEN 'train' ELSE 'val' END AS split
         |  FROM clean)
         |SELECT split, source, count(*)::BIGINT AS docs,
         |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
         |           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
         |       AS BIGINT) AS tokens
         |FROM sp GROUP BY 1, 2""".stripMargin,

    "tx9_pii" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
      val ipv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id::VARCHAR || '@mail.example.com or 415-555-' ||
         |    lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' ip 10.0.' ||
         |    (doc_id % 256)::VARCHAR || '.1 ssn 123-45-6789' AS t
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$email'))::BIGINT AS n_email,
         |  len(regexp_extract_all(t, '$ipv4'))::BIGINT AS n_ipv4,
         |  len(regexp_extract_all(t, '$phone'))::BIGINT AS n_phone,
         |  len(regexp_extract_all(t, '$ssn'))::BIGINT AS n_ssn,
         |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |      '$email', '<EMAIL>', 'g'),
         |      '$ipv4', '<IP>', 'g'),
         |      '$ssn', '<SSN>', 'g'),
         |      '$phone', '<PHONE>', 'g')) AS redacted_md5
         |FROM p""".stripMargin
    },

    // PK2: the pk1 chain re-aggregated per shard; waste is exact
    // integer capacity minus placed mass
    "pk2_pack_efficiency" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n,
        |    CAST(concat('0x', substr(md5('pack|' || doc_id::VARCHAR), 1, 8))
        |         AS BIGINT) % 8 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n,
        |    CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS off
        |  FROM n WHERE n > 0),
        |packed AS (
        |  SELECT shard, u.seq_id, doc_id,
        |    least(off + n, (u.seq_id + 1) * 512) - greatest(off, u.seq_id * 512)
        |      AS tok_in_seq
        |  FROM c, unnest(generate_series(off // 512, (off + n - 1) // 512))
        |    AS u(seq_id))
        |SELECT shard,
        |  CAST(max(seq_id) + 1 AS BIGINT) AS n_seqs,
        |  CAST(sum(tok_in_seq) AS BIGINT) AS total_tokens,
        |  count(*)::BIGINT AS n_doc_spans,
        |  CAST((max(seq_id) + 1) * 512 - CAST(sum(tok_in_seq) AS BIGINT)
        |    AS BIGINT) AS waste_tokens
        |FROM packed GROUP BY 1""".stripMargin,

    // packing parity: BIGINT-only arithmetic (off // B exact in both
    // engines), per-shard running sum ordered by doc_id
    "pk1_pack_sequences" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n,
        |    CAST(concat('0x', substr(md5('pack|' || doc_id::VARCHAR), 1, 8))
        |         AS BIGINT) % 8 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n,
        |    CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS off
        |  FROM n WHERE n > 0)
        |SELECT shard, u.seq_id, doc_id,
        |  least(off + n, (u.seq_id + 1) * 512) - greatest(off, u.seq_id * 512) AS tok_in_seq
        |FROM c, unnest(generate_series(off // 512, (off + n - 1) // 512)) AS u(seq_id)"""
        .stripMargin,

    // BM25 parity: integer corpus stats (N, Σdl, df) so the unordered
    // combine is exact; every literal cast ::DOUBLE (a bare 0.5 is
    // DECIMAL in DuckDB and decimal division would diverge from IEEE);
    // operand order mirrors the Spark expression tree token for token
    // sparse tf-idf: tf per (doc, term), df over the tf pairs (hapax
    // pruned at df >= 2), weight tf·ln(N/df) rounded 6
    "ir2_tfidf" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS term FROM words),
         |tf AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf
         |  FROM tok WHERE term <> '' GROUP BY 1, 2),
         |df AS (
         |  SELECT term, count(*)::BIGINT AS df
         |  FROM tf GROUP BY 1 HAVING count(*) >= 2),
         |n AS (SELECT count(*)::BIGINT AS nn FROM documents
         |      WHERE text IS NOT NULL)
         |SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |  round(tf.tf * ln(nn::DOUBLE / df.df), 6) AS tfidf
         |FROM tf JOIN df USING (term), n""".stripMargin,

    "ir1_bm25" -> {
      def tf(i: Int, term: String) = s"len(list_filter(w, x -> x = '$term'))::BIGINT AS tf$i"
      val terms = Seq("spark", "join", "window")
      val scores = terms.zipWithIndex.map { case (_, i) =>
        s"""ln(1.0::DOUBLE + (N - df$i + 0.5::DOUBLE) / (df$i + 0.5::DOUBLE))
           | * tf$i * (1.2::DOUBLE + 1) /
           | (tf$i + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl::DOUBLE * N / sumdl))"""
          .stripMargin.replace("\n", "")
      }
      s"""WITH wd AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
         |                          '\\s+') AS w
         |  FROM documents WHERE text IS NOT NULL),
         |tf AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END::BIGINT AS dl,
         |    ${terms.zipWithIndex.map { case (t, i) => tf(i, t) }.mkString(",\n    ")}
         |  FROM wd),
         |st AS (
         |  SELECT count(*)::BIGINT AS N, CAST(sum(dl) AS BIGINT) AS sumdl,
         |    ${terms.indices.map(i =>
             s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
             .mkString(",\n    ")}
         |  FROM tf)
         |SELECT doc_id, score FROM (
         |  SELECT doc_id, round(${scores.mkString(" + ")}, 6) AS score
         |  FROM tf, st)
         |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    "sp3_mixture_rates" ->
      """WITH tok AS (
        |  SELECT source AS stratum,
        |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
        |      AS tokens
        |  FROM documents GROUP BY source),
        |t AS (
        |  SELECT stratum, tokens,
        |    CASE WHEN stratum = 'src1' THEN 0.20::DOUBLE
        |         WHEN stratum = 'src0' THEN 0.30::DOUBLE
        |         ELSE (0.5::DOUBLE / 18) END AS tgt
        |  FROM tok),
        |w AS (
        |  SELECT *, CAST(sum(tokens) OVER () AS BIGINT) AS total,
        |    min(CASE WHEN tgt > 0 AND tokens > 0
        |             THEN tokens::DOUBLE / tgt END) OVER () AS lambda
        |  FROM t)
        |SELECT stratum, tokens,
        |  round(tokens::DOUBLE / total, 6) AS share,
        |  round(CASE WHEN tgt > 0 AND tokens > 0
        |             THEN least(1.0::DOUBLE, lambda * tgt / tokens)
        |        WHEN tgt > 0 THEN 1.0::DOUBLE
        |        ELSE 0.0::DOUBLE END, 6) AS rate
        |FROM w""".stripMargin,

    // Unicode-script census: length-minus-stripped per literal char
    // range (BMP only, so UTF-16 and code-point lengths agree)
    "tx19_scripts" -> {
      def cnt(cls: String) = s"len(t) - len(regexp_replace(t, '$cls', '', 'g'))"
      val l = cnt("[A-Za-zÀ-ɏ]"); val c = cnt("[Ѐ-ӿ]")
      val k = cnt("[一-鿿぀-ヿ가-힯]"); val a = cnt("[؀-ۿ]")
      val d = cnt("[0-9]")
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text ||
         |    (CASE WHEN doc_id % 3 = 0 THEN ' привет мир' ELSE '' END) ||
         |    (CASE WHEN doc_id % 5 = 0 THEN ' 你好世界' ELSE '' END) ||
         |    (CASE WHEN doc_id % 7 = 0 THEN ' مرحبا' ELSE '' END) AS t
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, t,
         |    CAST(len(regexp_replace(t, '\\s', '', 'g')) AS BIGINT) AS n_chars,
         |    CAST($l AS BIGINT) AS lc, CAST($c AS BIGINT) AS cc,
         |    CAST($k AS BIGINT) AS kc, CAST($a AS BIGINT) AS ac,
         |    CAST($d AS BIGINT) AS dc
         |  FROM p)
         |SELECT doc_id, n_chars,
         |  round(CASE WHEN n_chars > 0 THEN lc::DOUBLE / n_chars ELSE 0.0 END, 6)
         |    AS latin_frac,
         |  round(CASE WHEN n_chars > 0 THEN cc::DOUBLE / n_chars ELSE 0.0 END, 6)
         |    AS cyrillic_frac,
         |  round(CASE WHEN n_chars > 0 THEN kc::DOUBLE / n_chars ELSE 0.0 END, 6)
         |    AS cjk_frac,
         |  round(CASE WHEN n_chars > 0 THEN ac::DOUBLE / n_chars ELSE 0.0 END, 6)
         |    AS arabic_frac,
         |  round(CASE WHEN n_chars > 0 THEN dc::DOUBLE / n_chars ELSE 0.0 END, 6)
         |    AS digit_frac,
         |  CASE WHEN lc >= cc AND lc >= kc AND lc >= ac AND lc > 0 THEN 'latin'
         |       WHEN cc >= kc AND cc >= ac AND cc > 0 THEN 'cyrillic'
         |       WHEN kc >= ac AND kc > 0 THEN 'cjk'
         |       WHEN ac > 0 THEN 'arabic'
         |       ELSE 'none' END AS dominant
         |FROM n""".stripMargin
    },

    // signature-agreement Jaccard estimate over the dd3 candidate set:
    // fraction of agreeing min-md5 components, exact matches/8 ratio
    "dd20_minhash_estimate" -> {
      val mh = (0 until 8).map(i =>
        s"list_min(list_transform(sh, s -> md5('$i|' || s))) AS mh$i")
        .mkString(",\n    ")
      val agree = (0 until 8).map(i =>
        s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |mh AS (
         |  SELECT doc_id,
         |    $mh
         |  FROM sig)
         |SELECT p.id_a, p.id_b,
         |  ($agree) / 8.0 AS est_jaccard
         |FROM pairs p
         |JOIN mh a ON p.id_a = a.doc_id
         |JOIN mh b ON p.id_b = b.doc_id""".stripMargin
    },

    // lexical diversity: distinct/total normalized words
    "tx20_ttr" ->
      s"""WITH $wordsCte,
         |cl AS (
         |  SELECT doc_id, list_filter(w, x -> x <> '') AS cw FROM words)
         |SELECT doc_id,
         |  CASE WHEN len(cw) > 0
         |       THEN round(len(list_distinct(cw))::DOUBLE / len(cw), 6)
         |       ELSE 0.0 END AS ttr
         |FROM cl""".stripMargin,

    // quality-aware survivors: dd8's recursive closure labels clusters,
    // dd17's quality replay ranks members, best (quality DESC, id) wins
    "dd21_best_survivors" -> {
      val stop = langScore("en")
      s"""WITH RECURSIVE $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id),
         |vp AS (SELECT id_a, id_b FROM verify WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM vp
         |          UNION SELECT id_b, id_a FROM vp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
         |$ltCte,
         |comp AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         |    length(text) AS n,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nospace,
         |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS alpha,
         |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS digit,
         |    ($stop) AS stops
         |  FROM lt),
         |q AS (
         |  SELECT doc_id,
         |    round((CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END) * 0.4 +
         |      (CASE WHEN tok > 0 AND nospace::DOUBLE / tok >= 3
         |                 AND nospace::DOUBLE / tok <= 10
         |            THEN 1.0 ELSE 0.0 END) * 0.2 +
         |      least((CASE WHEN tok > 0 THEN stops::DOUBLE / tok ELSE 0.0 END)
         |            * 5.0, 1.0) * 0.2 +
         |      (1.0 - least((CASE WHEN n > 0 THEN digit::DOUBLE / n
         |                    ELSE 0.0 END) * 5.0, 1.0)) * 0.2, 6) AS quality
         |  FROM comp),
         |losers AS (
         |  SELECT id FROM (
         |    SELECT l.id, row_number() OVER (PARTITION BY l.cluster
         |      ORDER BY q.quality DESC, l.id) AS rn
         |    FROM lab l JOIN q ON l.id = q.doc_id)
         |  WHERE rn > 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin
    },

    // semantic decontamination: sd1's trained quantizer partitions the
    // space; corpus×eval cosine within shared cells, best match per doc
    "sd3_semantic_decontam" -> {
      def sqDist(a: String, b: String) =
        s"sqrt(list_sum(list_transform(range(1, 65), " +
          s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))))"
      s"""WITH cent0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
         |         list_transform(embedding, x -> x::DOUBLE) AS centroid
         |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
         |asgn0 AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT e.vec_id, c.cell_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDist("e.embedding", "c.centroid")}, c.cell_id) AS rn
         |    FROM embeddings e CROSS JOIN cent0 c)
         |  WHERE rn = 1),
         |px AS (
         |  SELECT a.cell_id, t.i AS dim,
         |    CAST(round(e.embedding[t.i + 1]::DOUBLE * 1000000) AS BIGINT) AS xm
         |  FROM asgn0 a JOIN embeddings e USING (vec_id), range(0, 64) t(i)),
         |cm AS (
         |  SELECT cell_id, dim,
         |    CAST(sum(xm) AS BIGINT)::DOUBLE / count(*) / 1000000 AS value
         |  FROM px GROUP BY 1, 2),
         |cent AS (
         |  SELECT cell_id, list(value ORDER BY dim) AS centroid FROM cm GROUP BY 1),
         |asgn AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT e.vec_id, c.cell_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDist("e.embedding", "c.centroid")}, c.cell_id) AS rn
         |    FROM embeddings e CROSS JOIN cent c)
         |  WHERE rn = 1),
         |pr AS (
         |  SELECT e.vec_id, a.cell_id, e.embedding
         |  FROM embeddings e JOIN asgn a USING (vec_id)),
         |pairs AS (
         |  SELECT co.vec_id AS cid, ev.vec_id AS eid,
         |    ${cosine("co.embedding", "ev.embedding")} AS sim
         |  FROM pr co JOIN pr ev ON co.cell_id = ev.cell_id
         |  WHERE co.vec_id >= 100 AND ev.vec_id < 100)
         |SELECT cid AS vec_id, eid AS eval_id, round(sim, 6) AS sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cid
         |    ORDER BY sim DESC, eid DESC) AS rn
         |  FROM pairs WHERE sim >= 0.3)
         |WHERE rn = 1""".stripMargin
    },

    // hybrid RRF: bm25 lexical top-50 ∪ cosine semantic top-50, fused
    // as exact pico-quantized 1/(60+rank) sums
    "ir4_rrf" -> {
      def tf(i: Int, term: String) = s"len(list_filter(w, x -> x = '$term'))::BIGINT AS tf$i"
      val terms = Seq("spark", "join", "window")
      val scores = terms.zipWithIndex.map { case (_, i) =>
        s"""ln(1.0::DOUBLE + (N - df$i + 0.5::DOUBLE) / (df$i + 0.5::DOUBLE))
           | * tf$i * (1.2::DOUBLE + 1) /
           | (tf$i + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl::DOUBLE * N / sumdl))"""
          .stripMargin.replace("\n", "")
      }
      s"""WITH wd AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
         |                          '\\s+') AS w
         |  FROM documents),
         |tfx AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END::BIGINT AS dl,
         |    ${terms.zipWithIndex.map { case (t, i) => tf(i, t) }.mkString(",\n    ")}
         |  FROM wd),
         |st AS (
         |  SELECT count(*)::BIGINT AS N, CAST(sum(dl) AS BIGINT) AS sumdl,
         |    ${terms.indices.map(i =>
             s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
             .mkString(",\n    ")}
         |  FROM tfx),
         |lex AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |  FROM (
         |    SELECT doc_id, score FROM (
         |      SELECT doc_id, round(${scores.mkString(" + ")}, 6) AS score
         |      FROM tfx, st)
         |    WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 50)),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |sem AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS r
         |  FROM (
         |    SELECT e.vec_id AS doc_id, round(${cosine("e.embedding", "qv.q")}, 6) AS cosine
         |    FROM embeddings e, qv WHERE e.vec_id <> 0
         |    ORDER BY cosine DESC, doc_id LIMIT 50)),
         |tm AS (
         |  SELECT doc_id, CAST(round(1e12 / (60 + r)) AS BIGINT) AS t FROM lex
         |  UNION ALL
         |  SELECT doc_id, CAST(round(1e12 / (60 + r)) AS BIGINT) AS t FROM sem),
         |g AS (
         |  SELECT doc_id, CAST(sum(t) AS BIGINT) AS s2, count(*) AS n_lists
         |  FROM tm GROUP BY 1)
         |SELECT doc_id, n_lists, s2::DOUBLE / 1e12 AS rrf_score,
         |  CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (ORDER BY s2 DESC, doc_id) AS rank FROM g)
         |WHERE rank <= 20""".stripMargin
    },

    // temperature-scaled mixture: q ∝ share^0.3, max-retention rates
    // r = (share^(α−1)) / max(share^(α−1)); pow noise is sub-6dp
    "sp7_temperature" ->
      """WITH tok AS (
        |  SELECT source AS stratum,
        |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
        |      AS tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT stratum, tokens,
        |    tokens::DOUBLE / CAST(sum(tokens) OVER () AS BIGINT) AS share
        |  FROM tok),
        |p AS (
        |  SELECT stratum, tokens, share,
        |    CASE WHEN tokens > 0 THEN pow(share, 0.3) END AS qa,
        |    CASE WHEN tokens > 0 THEN pow(share, 0.3 - 1) END AS wt
        |  FROM w)
        |SELECT stratum, tokens,
        |  round(share, 6) AS share,
        |  round(coalesce(qa / sum(qa) OVER (), 0.0), 6) AS target_share,
        |  round(coalesce(wt / max(wt) OVER (), 0.0), 6) AS rate
        |FROM p""".stripMargin,

    // hash-unit = first 8 md5 hex chars of (seed|id) scaled by 2^-32 —
    // engine-independent, so membership reproduces bit-for-bit
    // k lowest (md5(seed|id), id) rows per stratum
    "sp6_k_per_stratum" ->
      """SELECT source, doc_id FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY md5(concat_ws('|', 'r5', doc_id)), doc_id) <= 7""".stripMargin,

    "sp1_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'corpus-v1', doc_id)), 1, 8))
        |         AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, source FROM h
        |WHERE u < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.25
        |           ELSE 0.1 END)""".stripMargin,

    "sp2_split" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'split', doc_id)), 1, 8))
        |         AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h""".stripMargin,

    // leakage-free group split: hash the group key (null → per-row id)
    "sp8_group_split" ->
      """WITH g AS (
        |  SELECT doc_id, nullif(source, 'src0') AS grp,
        |    coalesce(nullif(source, 'src0'),
        |             '__row|' || CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, grp,
        |    CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'split', key)), 1, 8))
        |         AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM g)
        |SELECT doc_id, grp,
        |  CASE WHEN u < 0.8 THEN 'train' ELSE 'test' END AS split
        |FROM h""".stripMargin,

    "tx6_chunks" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |n AS (SELECT doc_id, w, len(w) AS n FROM w),
        |c AS (SELECT doc_id, w, n,
        |  CASE WHEN n = 0 THEN 0
        |       ELSE CAST(ceil(greatest(n - 64, 0) / 48.0) AS INT) + 1 END AS k
        |  FROM n),
        |e AS (SELECT doc_id, w, n, unnest(range(0, k)) AS i FROM c)
        |SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |  CAST(least(64, n - i*48) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(w[(i*48 + 1):(i*48 + least(64, n - i*48))], ' '))
        |    AS chunk_md5
        |FROM e""".stripMargin,

    "dd1_exact_dedup" ->
      """SELECT md5(lower(trim(text))) AS content_key,
        |  min(doc_id) AS canonical_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    "dd2_canonical_dedup" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |                          '\s+'))), ' ')) AS fingerprint,
        |  min(doc_id) AS canonical_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    "dd3_minhash_lsh" ->
      s"""WITH $candidatesCte
         |SELECT DISTINCT id_a, id_b FROM cand""".stripMargin,

    // DD22: edit-distance verify over the dd3 candidates — DuckDB's
    // levenshtein implements the same classic recurrence
    "dd22_edit_verify" ->
      s"""WITH $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |tx AS (
         |  SELECT p.id_a, p.id_b,
         |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
         |    round(1.0 - levenshtein(da.text, db.text)::DOUBLE /
         |      greatest(length(da.text), length(db.text), 1), 6)
         |      AS similarity
         |  FROM pairs p
         |  JOIN documents da ON p.id_a = da.doc_id
         |  JOIN documents db ON p.id_b = db.doc_id)
         |SELECT * FROM tx WHERE similarity >= 0.3""".stripMargin,

    "dd4_near_duplicates" ->
      s"""WITH $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id)
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         |FROM verify WHERE jaccard >= 0.5""".stripMargin,

    // hashed unigram+bigram feature stream shared by the classifier
    // oracles: same normalization as wordsCte, same md5-prefix bucket
    // hash as sp4, empty tokens dropped (the engine's shingle stream
    // never emits them)
    "cl1_nb_model" ->
      s"""WITH $wordsCte,
         |gr AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(range(1, len(w)),
         |                             i -> array_to_string(w[i:i+1], ' '))
         |         ELSE [] END AS g
         |  FROM words),
         |feat AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % 256 AS b
         |  FROM (SELECT doc_id, unnest(w) AS s FROM words
         |        UNION ALL
         |        SELECT doc_id, unnest(g) AS s FROM gr)
         |  WHERE s <> '')
         |SELECT d.lang AS label, f.b AS bucket, count(*) AS cnt
         |FROM feat f JOIN documents d USING (doc_id)
         |WHERE doc_id < 400 GROUP BY 1, 2""".stripMargin,

    "cl2_nb_classify" ->
      s"""WITH $wordsCte,
         |gr AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(range(1, len(w)),
         |                             i -> array_to_string(w[i:i+1], ' '))
         |         ELSE [] END AS g
         |  FROM words),
         |feat AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % 256 AS b
         |  FROM (SELECT doc_id, unnest(w) AS s FROM words
         |        UNION ALL
         |        SELECT doc_id, unnest(g) AS s FROM gr)
         |  WHERE s <> ''),
         |model AS (
         |  SELECT d.lang AS label, f.b,
         |    count(*) AS cnt,
         |    CAST(round(ln(count(*) + 1.0) * 1000000) AS BIGINT) AS m
         |  FROM feat f JOIN documents d USING (doc_id)
         |  WHERE doc_id < 400 GROUP BY 1, 2),
         |tot AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS T FROM model GROUP BY 1),
         |pri AS (SELECT lang AS label, count(*) AS nl
         |        FROM documents WHERE doc_id < 400 GROUP BY 1),
         |nn AS (SELECT CAST(sum(nl) AS BIGINT) AS N FROM pri),
         |stats AS (
         |  SELECT label, ln(nl::DOUBLE / N) AS prior,
         |    ln((T + 256)::DOUBLE) AS lntb
         |  FROM tot JOIN pri USING (label) CROSS JOIN nn),
         |sc AS (
         |  SELECT f.doc_id, s.label,
         |    CAST(CAST(sum(coalesce(mo.m, 0)) AS BIGINT) AS DOUBLE) / 1000000
         |      - count(*)::DOUBLE * s.lntb + s.prior AS score
         |  FROM (SELECT doc_id, b FROM feat WHERE doc_id >= 400) f
         |  CROSS JOIN stats s
         |  LEFT JOIN model mo ON mo.label = s.label AND mo.b = f.b
         |  GROUP BY f.doc_id, s.label, s.lntb, s.prior),
         |r AS (
         |  SELECT doc_id, label, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, label) AS rn,
         |    score - coalesce(lead(score) OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, label), score) AS margin
         |  FROM sc)
         |SELECT doc_id, label AS predicted,
         |  round(score, 6) AS score, round(margin, 6) AS margin
         |FROM r WHERE rn = 1""".stripMargin,

    // BPE step-0 pair statistics: word-freq table → per-word char
    // sequences (+ '_' end marker) → adjacent-pair frequency sums
    "bpe0_pairs" ->
      s"""WITH $wordsCte,
         |wf AS (SELECT s AS word, count(*)::BIGINT AS freq
         |       FROM (SELECT unnest(w) AS s FROM words)
         |       WHERE s <> '' GROUP BY 1),
         |cs AS (SELECT freq, list_append(string_split(word, ''), '_') AS c
         |       FROM wf),
         |pr AS (SELECT freq, c[i] AS l, c[i + 1] AS r
         |       FROM cs, unnest(range(1, len(c))) AS t(i))
         |SELECT l, r, CAST(sum(freq) AS BIGINT) AS pair_freq
         |FROM pr GROUP BY 1, 2""".stripMargin,

    // BPE merge learning, 10 unrolled steps (the ev14 discipline:
    // MATERIALIZED CTEs, each step referencing only its predecessor).
    // The engine's greedy left-to-right merge pass is replicated with
    // DuckDB's leftmost-non-overlapping replace() over a DOUBLE-space
    // token encoding: tokens are separated by two spaces so each match
    // ' l  r ' consumes one delimiter space on each side and the result
    // stays in canonical form — 'a a a' under (a,a) gives [aa, a],
    // exactly the engine's fold semantics (Bpe.mergePass).
    "bpe1_merges" ->
      s"""WITH $wordsCte,
         |$bpeVocabCtes,
         |u AS (${(1 to BpeSteps).map(k => s"SELECT * FROM b$k")
               .mkString(" UNION ALL ")})
         |SELECT CAST(step AS BIGINT) AS step, l AS "left", r AS "right",
         |  pair_freq
         |FROM u""".stripMargin,

    // bpe3 = the driver-heap training path; SAME oracle as bpe1 — the
    // unrolled merge-step CTEs pin both implementations to one answer
    "bpe3_heap_merges" ->
      s"""WITH $wordsCte,
         |$bpeVocabCtes,
         |u AS (${(1 to BpeSteps).map(k => s"SELECT * FROM b$k")
               .mkString(" UNION ALL ")})
         |SELECT CAST(step AS BIGINT) AS step, l AS "left", r AS "right",
         |  pair_freq
         |FROM u""".stripMargin,

    // BPE encode: per-word token counts after the 10 learned merges
    // (the final vocab table v10 already holds each word's merged
    // sequence), equi-joined back onto the corpus word stream; docs
    // with no words emit 0 — mirroring Bpe.encode's factoring.
    "bpe2_encode" ->
      s"""WITH $wordsCte,
         |$bpeVocabCtes,
         |wcnt AS (SELECT word, len(string_split(trim(seq), '  ')) AS nt
         |         FROM v$BpeSteps),
         |tok AS (SELECT doc_id, unnest(w) AS s FROM words),
         |j AS (SELECT t.doc_id, w2.nt
         |      FROM (SELECT doc_id, s FROM tok WHERE s <> '') t
         |      JOIN wcnt w2 ON t.s = w2.word)
         |SELECT d.doc_id, CAST(coalesce(sum(j.nt), 0) AS BIGINT) AS n_tokens
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN j ON d.doc_id = j.doc_id
         |GROUP BY d.doc_id""".stripMargin,

    // RV1: same md5 weights, argmax by (weight DESC, shard ASC)
    "rv1_rendezvous" ->
      """WITH w AS (
        |  SELECT doc_id, s,
        |    CAST(concat('0x', substr(md5('rv' || '|' || s || '|' || doc_id),
        |      1, 8)) AS BIGINT) AS wt
        |  FROM documents, unnest(range(0, 17)) AS t(s)),
        |a16 AS (
        |  SELECT doc_id, s AS shard16 FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY wt DESC, s) AS rn
        |    FROM w WHERE s < 16) x WHERE rn = 1),
        |a17 AS (
        |  SELECT doc_id, s AS shard FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY wt DESC, s) AS rn
        |    FROM w) x WHERE rn = 1)
        |SELECT CAST(a17.shard AS BIGINT) AS shard,
        |  count(*)::BIGINT AS n_docs,
        |  CAST(sum(CASE WHEN a17.shard <> a16.shard16 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_arrived
        |FROM a17 JOIN a16 USING (doc_id)
        |GROUP BY 1""".stripMargin,

    // TX30: bpe2's per-doc token chain grouped by language; the ratio
    // is one double division of exact BIGINT sums
    "tx30_fertility" ->
      s"""WITH $wordsCte,
         |$bpeVocabCtes,
         |wcnt AS (SELECT word, len(string_split(trim(seq), '  ')) AS nt
         |         FROM v$BpeSteps),
         |tok AS (SELECT doc_id, unnest(w) AS s FROM words),
         |j AS (SELECT t.doc_id, w2.nt
         |      FROM (SELECT doc_id, s FROM tok WHERE s <> '') t
         |      JOIN wcnt w2 ON t.s = w2.word),
         |dt AS (SELECT d.doc_id, CAST(coalesce(sum(j.nt), 0) AS BIGINT)
         |         AS n_tokens
         |       FROM (SELECT DISTINCT doc_id FROM documents) d
         |       LEFT JOIN j ON d.doc_id = j.doc_id
         |       GROUP BY d.doc_id),
         |wsx AS (SELECT doc_id, lang,
         |          (CASE WHEN length(trim(text)) = 0 THEN 0
         |            ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         |            END)::BIGINT AS n_ws
         |        FROM documents)
         |SELECT wsx.lang,
         |  CAST(sum(dt.n_tokens) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(wsx.n_ws) AS BIGINT) AS ws_tokens,
         |  count(*)::BIGINT AS n_docs,
         |  round(CAST(sum(dt.n_tokens) AS BIGINT)::DOUBLE
         |        / CAST(sum(wsx.n_ws) AS BIGINT)::DOUBLE, 6) AS fertility
         |FROM wsx JOIN dt ON wsx.doc_id = dt.doc_id
         |GROUP BY 1""".stripMargin,

    // per-doc char entropy: H = ln n − (Σ c·ln c)/n, the Σ term
    // micro-nat quantized per (doc, char) so the sum is order-free
    "tx17_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |cc AS (SELECT doc_id, c, count(*)::BIGINT AS n
        |       FROM ch WHERE c <> '' GROUP BY 1, 2),
        |st AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
        |    CAST(sum(CAST(round(ln(n::DOUBLE) * 1e6) AS BIGINT) * n) AS BIGINT)
        |      AS s
        |  FROM cc GROUP BY 1)
        |SELECT doc_id, n_chars,
        |  round(ln(n_chars::DOUBLE) - s::DOUBLE / 1e6 / n_chars, 6) AS entropy
        |FROM st""".stripMargin,

    // PMI collocations: joint over the bigram total, marginals over the
    // unigram total; selection on the ROUNDED pmi then (l, r)
    "tx18_pmi" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS s FROM words),
         |uni AS (SELECT s AS word, count(*)::BIGINT AS cu
         |        FROM tok WHERE s <> '' GROUP BY 1),
         |bg AS (SELECT w[i] AS l, w[i + 1] AS r
         |       FROM words, unnest(range(1, len(w))) AS t(i)),
         |bgc AS (SELECT l, r, count(*)::BIGINT AS pair_cnt
         |        FROM bg GROUP BY 1, 2),
         |nb AS (SELECT CAST(sum(pair_cnt) AS BIGINT) AS tb FROM bgc),
         |nu AS (SELECT CAST(sum(cu) AS BIGINT) AS tu FROM uni)
         |SELECT b.l, b.r, b.pair_cnt,
         |  round(ln((b.pair_cnt::DOUBLE / nb.tb) /
         |    ((cl.cu::DOUBLE / nu.tu) * (cr.cu::DOUBLE / nu.tu))), 6) AS pmi
         |FROM bgc b
         |JOIN uni cl ON b.l = cl.word
         |JOIN uni cr ON b.r = cr.word
         |CROSS JOIN nb CROSS JOIN nu
         |WHERE b.pair_cnt >= 5
         |ORDER BY pmi DESC, b.l, b.r LIMIT 100""".stripMargin,

    // exact-phrase search: each query doc's leading trigram vs the
    // corpus trigram stream — overlapping occurrences by construction
    "ir3_phrase" ->
      s"""WITH $shinglesCte,
         |ph AS (
         |  SELECT doc_id AS phrase_id, array_to_string(w[1:3], ' ') AS p
         |  FROM words WHERE doc_id < 5 AND len(w) >= 3),
         |g AS (SELECT doc_id, unnest(sh) AS s FROM sh)
         |SELECT ph.phrase_id, g.doc_id, count(*)::BIGINT AS n_hits
         |FROM g JOIN ph ON g.s = ph.p
         |GROUP BY 1, 2""".stripMargin,

    // logistic regression: 3 GD iterations unrolled as CTEs — the
    // whole training loop replayed in SQL, weights compared exactly
    // (micro-integer arithmetic makes the replay deterministic)
    "cl3_logreg_model" ->
      s"""WITH $logregTrainedCtes
         |SELECT b AS bucket, wm::DOUBLE / 1e6 AS weight FROM w3""".stripMargin,

    "cl4_logreg_scores" ->
      s"""WITH $logregTrainedCtes,
         |fxs AS (
         |  SELECT doc_id, b, count(*)::BIGINT AS x
         |  FROM feat WHERE doc_id >= 400 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM documents WHERE doc_id >= 400)
         |SELECT f.doc_id,
         |  round(1.0 / (1.0 + exp(-(CAST(sum(coalesce(w.wm, 0) * f.x)
         |    AS BIGINT)::DOUBLE / 1e6))), 6) AS prob
         |FROM fxs f LEFT JOIN w3 w ON f.b = w.b
         |GROUP BY f.doc_id""".stripMargin,

    // incremental = the full-corpus near-dup result restricted to pairs
    // that involve a batch doc (id >= 400): LSH banding is deterministic,
    // so indexing old docs then banding the batch reproduces exactly the
    // full computation's buckets — an independent replay of that identity
    "dd18_incremental" ->
      s"""WITH $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand
         |          WHERE id_a >= 400 OR id_b >= 400),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id)
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         |FROM verify WHERE jaccard >= 0.5""".stripMargin,

    // connected components via transitive closure (WITH RECURSIVE): the
    // undirected closure of every verified pair always re-reaches the
    // start node (a→b→a), so min(b) over reach(a, ·) IS the component
    // minimum — the same label the engine's min-propagation converges to
    "dd7_dup_clusters" ->
      s"""WITH RECURSIVE $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id),
         |vp AS (SELECT id_a, id_b FROM verify WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM vp
         |          UNION SELECT id_b, id_a FROM vp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, min(b) AS cluster
         |FROM reach GROUP BY a""".stripMargin,

    // DD25: cluster-size histogram off the dd7 closure
    "dd25_cluster_sizes" ->
      s"""WITH RECURSIVE $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id),
         |vp AS (SELECT id_a, id_b FROM verify WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM vp
         |          UNION SELECT id_b, id_a FROM vp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |cl AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
         |sz AS (SELECT cluster, count(*) AS cs FROM cl GROUP BY 1)
         |SELECT cs::BIGINT AS cluster_size, count(*)::BIGINT AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin,

    // DD24: jaccard histogram over the verified candidate pairs
    "dd24_jaccard_hist" ->
      s"""WITH $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id)
         |SELECT CAST(least(floor(jaccard * 10), 9) AS BIGINT)
         |    AS jaccard_bin,
         |  count(*)::BIGINT AS n_pairs
         |FROM verify GROUP BY 1""".stripMargin,

    // TX28: source-overlap matrix — distinct (source, shingle) sets,
    // pair intersections via the md5 equi-join, inner pairs only
    "tx28_source_overlap" ->
      """WITH planted AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, 'src_copycat', text FROM documents
        |  WHERE doc_id < 50),
        |w AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g')), '\s+') AS w
        |  FROM planted),
        |sh AS (
        |  SELECT source,
        |    unnest(CASE WHEN len(w) >= 3
        |           THEN list_transform(range(1, len(w) - 1),
        |                               i -> array_to_string(w[i:i+2], ' '))
        |           ELSE [] END) AS s
        |  FROM w),
        |ds AS (SELECT DISTINCT source, md5(s) AS h FROM sh),
        |ps AS (SELECT source, count(*)::BIGINT AS n FROM ds GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*)::BIGINT AS n_common
        |  FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa AS source_a, sb AS source_b, n_common,
        |  round(n_common::DOUBLE / (pa.n + pb.n - n_common), 6) AS jaccard
        |FROM inter
        |JOIN ps pa ON inter.sa = pa.source
        |JOIN ps pb ON inter.sb = pb.source""".stripMargin,

    // TX27: per-source dup report — corpus-wide keep-first billing
    "tx27_source_dups" ->
      """WITH planted AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, 'src_copycat', text FROM documents
        |  WHERE doc_id < 50),
        |r AS (
        |  SELECT source,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |      AS rn
        |  FROM planted)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS dup_rate
        |FROM r GROUP BY 1""".stripMargin,

    // DD23: soft-dedup weights — the dd7 closure labels clusters, then
    // every doc weighs 1/|cluster| (1 when unclustered)
    "dd23_soft_weights" ->
      s"""WITH RECURSIVE $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id),
         |vp AS (SELECT id_a, id_b FROM verify WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM vp
         |          UNION SELECT id_b, id_a FROM vp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |clusters AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
         |sizes AS (SELECT cluster, count(*) AS cs FROM clusters GROUP BY 1)
         |SELECT d.doc_id, coalesce(s.cs, 1)::BIGINT AS cluster_size,
         |  round(1.0 / coalesce(s.cs, 1), 6) AS weight
         |FROM documents d
         |LEFT JOIN clusters c ON d.doc_id = c.id
         |LEFT JOIN sizes s ON c.cluster = s.cluster""".stripMargin,

    // end-to-end curation: ONE clustering closure feeds soft weights,
    // the training half is 5-gram decontaminated (reusing the SAME
    // `words` CTE the signature chain built), quality × weight fills a
    // 5000-token budget, keepers pack into 512-token sequences. Every
    // stage is the corresponding standalone oracle's formulation
    // (dd23 / dd11 / sp5 / pk1) composed over shared CTEs.
    "pipeline_curate" -> {
      val stop = langScore("en")
      s"""WITH RECURSIVE $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id),
         |vp AS (SELECT id_a, id_b FROM verify WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM vp
         |          UNION SELECT id_b, id_a FROM vp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |clusters AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
         |sizes AS (SELECT cluster, count(*) AS cs FROM clusters GROUP BY 1),
         |wts AS (
         |  SELECT d.doc_id, round(1.0 / coalesce(s.cs, 1), 6) AS weight
         |  FROM documents d
         |  LEFT JOIN clusters c ON d.doc_id = c.id
         |  LEFT JOIN sizes s ON c.cluster = s.cluster),
         |gr AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 5
         |         THEN list_transform(range(1, len(w) - 3),
         |                             i -> array_to_string(w[i:i+4], ' '))
         |         ELSE [] END AS g
         |  FROM words),
         |ref AS (SELECT DISTINCT * FROM
         |  (SELECT unnest(g) AS s FROM gr WHERE doc_id < 50)),
         |cg AS (SELECT DISTINCT * FROM
         |  (SELECT doc_id, unnest(g) AS s FROM gr WHERE doc_id >= 50)),
         |flagged AS (SELECT DISTINCT cg.doc_id FROM cg JOIN ref USING (s)),
         |clean AS (
         |  SELECT * FROM documents
         |  WHERE doc_id >= 50
         |    AND doc_id NOT IN (SELECT doc_id FROM flagged)),
         |ltc AS (SELECT *, ' ' || lower(text) || ' ' AS lt FROM clean),
         |comp AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         |    length(text) AS n,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nospace,
         |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS alpha,
         |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS digit,
         |    ($stop) AS stops
         |  FROM ltc),
         |ratios AS (
         |  SELECT doc_id, tok,
         |    CASE WHEN tok > 0 THEN nospace::DOUBLE / tok ELSE 0.0 END AS mwl,
         |    CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END AS ar,
         |    CASE WHEN n > 0 THEN digit::DOUBLE / n ELSE 0.0 END AS dr,
         |    CASE WHEN tok > 0 THEN stops::DOUBLE / tok ELSE 0.0 END AS sr
         |  FROM comp),
         |scored AS (
         |  SELECT r.doc_id, r.tok,
         |    round(r.ar * 0.4 +
         |          (CASE WHEN r.mwl >= 3 AND r.mwl <= 10 THEN 1.0 ELSE 0.0 END) * 0.2 +
         |          least(r.sr * 5.0, 1.0) * 0.2 +
         |          (1.0 - least(r.dr * 5.0, 1.0)) * 0.2, 6) * wt.weight AS score
         |  FROM ratios r JOIN wts wt USING (doc_id)),
         |b AS (SELECT doc_id, tok,
         |        LEAST(CAST(floor(score * 1000) AS INT), 999) AS bin
         |      FROM scored),
         |hist AS (SELECT bin, CAST(sum(tok) AS BIGINT) AS mass FROM b GROUP BY 1),
         |m AS (SELECT bin, mass,
         |        sum(mass) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM hist),
         |rt AS (SELECT bin,
         |        CASE WHEN cum <= 5000 THEN 1.0
         |             WHEN cum - mass >= 5000 THEN 0.0
         |             ELSE (5000 - (cum - mass))::DOUBLE / mass END AS rate
         |      FROM m),
         |kept AS (
         |  SELECT b.doc_id, b.tok FROM b JOIN rt USING (bin)
         |  WHERE CAST(CAST(concat('0x', substr(md5(concat_ws('|', 'budget', b.doc_id)), 1, 8))
         |        AS BIGINT) AS DOUBLE) / 4294967296.0 < rate),
         |pn AS (
         |  SELECT doc_id, tok::BIGINT AS n,
         |    CAST(concat('0x', substr(md5('pack|' || doc_id::VARCHAR), 1, 8))
         |         AS BIGINT) % 8 AS shard
         |  FROM kept),
         |pc AS (
         |  SELECT doc_id, shard, n,
         |    CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS off
         |  FROM pn WHERE n > 0),
         |packed AS (
         |  SELECT shard, u.seq_id, doc_id,
         |    least(off + n, (u.seq_id + 1) * 512) - greatest(off, u.seq_id * 512)
         |      AS tok_in_seq
         |  FROM pc, unnest(generate_series(off // 512, (off + n - 1) // 512))
         |    AS u(seq_id))
         |SELECT p.shard, p.seq_id, p.doc_id, p.tok_in_seq, wts.weight
         |FROM packed p JOIN wts ON wts.doc_id = p.doc_id""".stripMargin
    },

    // TX25: per-source boilerplate removal — line doc-frequency within
    // the source, full-occurrence removal past the 50% threshold
    "tx25_boilerplate" ->
      """WITH planted AS (
        |  SELECT doc_id, source,
        |    text || chr(10) || 'Visit ' || source || '.example.com' ||
        |    chr(10) || 'row ' || doc_id::VARCHAR AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS a
        |       FROM planted),
        |ln AS (
        |  SELECT doc_id, source, s.i AS p, s.l AS l FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(a, (x, i) -> {'i': i, 'l': x})) AS s
        |    FROM ls)
        |  WHERE trim(s.l) <> ''),
        |tot AS (SELECT source, count(*) AS docs FROM planted GROUP BY 1),
        |df AS (
        |  SELECT source, l, count(DISTINCT doc_id) AS df FROM ln
        |  GROUP BY 1, 2),
        |boiler AS (
        |  SELECT df.source, df.l FROM df JOIN tot USING (source)
        |  WHERE df.df >= 2 AND df.df >= tot.docs * 0.5)
        |SELECT ln.doc_id, ln.source,
        |  md5(string_agg(ln.l, chr(10) ORDER BY ln.p)) AS text_md5
        |FROM ln
        |LEFT JOIN boiler b ON ln.source = b.source AND ln.l = b.l
        |WHERE b.l IS NULL
        |GROUP BY 1, 2""".stripMargin,

    // dd7+dd8 composed from ONE closure: every doc labeled with its
    // component minimum (itself when unclustered), survivor = canonical
    "pipeline_dedup" ->
      s"""WITH RECURSIVE $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id),
         |vp AS (SELECT id_a, id_b FROM verify WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM vp
         |          UNION SELECT id_b, id_a FROM vp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)
         |SELECT d.doc_id,
         |  coalesce(l.cluster, d.doc_id) AS cluster,
         |  coalesce(l.cluster, d.doc_id) = d.doc_id AS survivor
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id""".stripMargin,

    "dd8_survivors" ->
      s"""WITH RECURSIVE $candidatesCte,
         |pairs AS (SELECT DISTINCT id_a, id_b FROM cand),
         |verify AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM pairs p
         |  JOIN sig a ON p.id_a = a.doc_id
         |  JOIN sig b ON p.id_b = b.doc_id),
         |vp AS (SELECT id_a, id_b FROM verify WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM vp
         |          UNION SELECT id_b, id_a FROM vp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT a FROM reach GROUP BY a HAVING min(b) <> a)""".stripMargin,

    // cross-corpus (decontamination) variant: the band join is BETWEEN
    // the corpus half (doc_id >= 50) and the eval half (< 50)
    "dd9_decontamination" -> {
      val unions = (0 until 4).map { b =>
        s"""SELECT a.doc_id AS corpus_id, b.doc_id AS ref_id
           |  FROM sig a JOIN sig b ON a.band_$b = b.band_$b
           |  WHERE a.doc_id >= 50 AND b.doc_id < 50""".stripMargin
      }
      s"""WITH $sigCte,
         |cand AS (
         |  ${unions.mkString("\n  UNION\n  ")}),
         |verify AS (
         |  SELECT c.corpus_id, c.ref_id,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM cand c
         |  JOIN sig a ON c.corpus_id = a.doc_id
         |  JOIN sig b ON c.ref_id = b.doc_id)
         |SELECT corpus_id, ref_id, round(jaccard, 6) AS jaccard
         |FROM verify WHERE jaccard >= 0.5""".stripMargin
    },

    "dd10_decontaminated" -> {
      val unions = (0 until 4).map { b =>
        s"""SELECT a.doc_id AS corpus_id, b.doc_id AS ref_id
           |  FROM sig a JOIN sig b ON a.band_$b = b.band_$b
           |  WHERE a.doc_id >= 50 AND b.doc_id < 50""".stripMargin
      }
      s"""WITH $sigCte,
         |cand AS (
         |  ${unions.mkString("\n  UNION\n  ")}),
         |verify AS (
         |  SELECT c.corpus_id,
         |    len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))::DOUBLE /
         |    (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) -
         |     len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))) AS jaccard
         |  FROM cand c
         |  JOIN sig a ON c.corpus_id = a.doc_id
         |  JOIN sig b ON c.ref_id = b.doc_id)
         |SELECT doc_id FROM documents
         |WHERE doc_id >= 50 AND doc_id NOT IN (
         |  SELECT corpus_id FROM verify WHERE jaccard >= 0.5)""".stripMargin
    },
  ))
}
