"""Contract queries for the round-6 corpus-curation operators
(SURVEY.md §2 K north-star): line-level boilerplate dedup,
duplicated-substring coverage, n-gram LM quality scoring, and
SemDeDup-style semantic dedup.

The documents fixture is single-line text, so the line-dedup contract
first derives a deterministic multi-line form (8-token lines joined by
newline) IDENTICALLY in both engines — the operator under test is the
dedup, not the synthesis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jane_spark.contracts.registry import contract
from jane_spark.engine.catalog import Catalog

_LINEDEDUP_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
lined AS (SELECT doc_id,
                 list_transform(generate_series(1, CAST(ceil(len(toks) / 8.0) AS INT)),
                                i -> array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' '))
                     AS lines
          FROM t),
ex AS (SELECT doc_id, unnest(lines) AS line FROM lined),
bp AS (SELECT line FROM ex GROUP BY line HAVING count(DISTINCT doc_id) > 1),
bpl AS (SELECT coalesce(list(line), CAST([] AS VARCHAR[])) AS bl FROM bp),
out AS (SELECT l.doc_id AS doc_id, l.lines AS lines,
               list_filter(l.lines, x -> NOT list_contains(b.bl, x)) AS keptl
        FROM lined l CROSS JOIN bpl b)
SELECT doc_id,
       coalesce(array_to_string(keptl, chr(10)), '') AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(keptl) AS BIGINT) AS n_kept,
       round((len(lines) - len(keptl)) / CAST(len(lines) AS DOUBLE), 4)
           AS removed_frac
FROM out
"""


@contract(
    "q_t11_linededup",
    oracle=_LINEDEDUP_ORACLE,
    survey_rows="K1,K2",
    doc="CCNet-style line-level boilerplate removal: lines shared by "
    ">1 distinct documents are dropped everywhere and documents "
    "reassembled in original line order (operators.curation.line_dedup). "
    "One df-count shuffle on the line text + a broadcastable anti-join; "
    "reassembly order comes from the carried position, never from "
    "shuffle order. The multi-line form is derived (8-token lines) "
    "identically in both engines",
)
def q_t11(spark, sf_dir):
    from jane_spark.operators.curation import line_dedup

    docs = Catalog(spark, sf_dir).documents
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
            ),
        ).alias("text"),
    )
    return line_dedup(lined, "doc_id", "text", sep="\n", max_df=1)


_DUPSPAN_ORACLE = """
WITH t AS (SELECT doc_id, length(text) AS n_chars, text FROM documents),
g0 AS (SELECT doc_id, n_chars,
              unnest(list_transform(generate_series(1, greatest(n_chars - 29, 0)),
                     i -> {'pos': i,
                           'gk': CAST('0x' || substr(md5(substr(text, i, 30)), 1, 15)
                                      AS BIGINT)})) AS s
       FROM t),
g AS (SELECT doc_id, s.pos AS pos, s.gk AS gk FROM g0),
d AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2),
p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gk)),
m AS (SELECT doc_id, pos, pos + 29 AS e,
             max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_cover
      FROM p),
c AS (SELECT doc_id,
             sum(CASE WHEN prev_cover IS NULL THEN e - pos + 1
                      ELSE greatest(e - prev_cover, 0) END) AS covered
      FROM m GROUP BY doc_id)
SELECT t.doc_id AS doc_id,
       CAST(t.n_chars AS BIGINT) AS n_chars,
       CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_chars,
       round(coalesce(c.covered, 0) / CAST(t.n_chars AS DOUBLE), 4) AS dup_frac
FROM t LEFT JOIN c USING (doc_id)
"""


@contract(
    "q_t12_dupspan",
    oracle=_DUPSPAN_ORACLE,
    survey_rows="K1,K2",
    doc="duplicated-substring coverage per document (the n-gram "
    "approximation of Lee et al. 2022 exact-substring dedup): char "
    "30-grams keyed by a portable 60-bit md5-prefix hash, corpus-wide "
    "count >= 2 marks duplication, spans merged by the D6 running-max "
    "interval coalescer (operators.curation.dup_span_coverage). One "
    "gram-key groupBy + one semi-join + one window — no suffix array, "
    "no quadratic stage",
)
def q_t12(spark, sf_dir):
    from jane_spark.operators.curation import dup_span_coverage

    docs = Catalog(spark, sf_dir).documents
    return dup_span_coverage(docs, "doc_id", "text", k=30)


_EXACT_SPANS_ORACLE = """
WITH t AS (SELECT doc_id, text FROM documents),
g0 AS (SELECT doc_id,
              unnest(generate_series(1, greatest(length(text) - 29, 0)))
                  AS pos,
              text
       FROM t),
g AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
             CAST('0x' || substr(md5(substr(text, pos, 30)), 1, 15)
                  AS BIGINT) AS gk
      FROM g0),
d AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2),
an AS (SELECT g.doc_id, g.pos, g.gk FROM g JOIN d USING (gk)),
p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.pos AS a_pos, a.pos - b.pos AS diag
      FROM an a JOIN an b ON a.gk = b.gk
      WHERE a.doc_id < b.doc_id
         OR (a.doc_id = b.doc_id AND a.pos < b.pos)),
m AS (SELECT a_id, b_id, diag, a_pos,
             CASE WHEN lag(a_pos) OVER w IS NULL
                    OR a_pos - lag(a_pos) OVER w > 1
                  THEN 1 ELSE 0 END AS brk
      FROM p
      WINDOW w AS (PARTITION BY a_id, b_id, diag ORDER BY a_pos)),
s AS (SELECT a_id, b_id, diag, a_pos,
             sum(brk) OVER (PARTITION BY a_id, b_id, diag ORDER BY a_pos
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM m),
r AS (SELECT a_id, b_id, diag, min(a_pos) AS a_start,
             max(a_pos) - min(a_pos) + 30 AS span_len
      FROM s GROUP BY a_id, b_id, diag, run)
SELECT r.a_id, r.b_id, CAST(r.a_start AS INTEGER) AS a_start,
       CAST(r.a_start - r.diag AS INTEGER) AS b_start,
       CAST(r.span_len AS INTEGER) AS span_len,
       md5(substr(t.text, r.a_start, r.span_len)) AS span_md5
FROM r JOIN t ON t.doc_id = r.a_id
"""


@contract(
    "q_t45_exact_spans",
    oracle=_EXACT_SPANS_ORACLE,
    survey_rows="T45,T12,T21",
    doc="MAXIMAL exact duplicated substrings at SPAN granularity — "
    "the true Lee et al. 2022 criterion T12/T21 approximate with "
    "per-position coverage (operators/curation.exact_dup_spans): "
    "anchor k-gram matches on one (doc-pair, diagonal) are EXACTLY "
    "the consecutive-position runs of a maximal common substring, "
    "so one lag-break sessionization per diagonal (the D6/I4 "
    "coalescer) recovers the precise span — both documents, both "
    "offsets, exact length, md5 content witness — with no suffix "
    "array and no character extension loop. Pair fan-out is "
    "C(count,2) per duplicated gram (fixture counts are 2-3; the "
    "max_gram_count cap is the K28 blocking move at boilerplate "
    "scale — capped runs touching an over-cap anchor are DROPPED so "
    "emitted spans stay genuinely maximal, and with no cap a "
    "fanout_guard raise_error fires past 1000 occurrences instead "
    "of silently exploding, ADVICE/VERDICT r14). Maximality + "
    "b-side-equality + cap-maximality laws pytest-pinned",
)
def q_t45(spark, sf_dir):
    from jane_spark.operators.curation import exact_dup_spans

    docs = Catalog(spark, sf_dir).documents
    return exact_dup_spans(docs, "doc_id", "text", k=30)


_SPAN_REMOVAL_ORACLE = """
WITH t AS (SELECT doc_id, text FROM documents),
g0 AS (SELECT doc_id,
              unnest(generate_series(1, greatest(length(text) - 19, 0)))
                  AS pos,
              text
       FROM t),
g AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
             CAST('0x' || substr(md5(substr(text, pos, 20)), 1, 15)
                  AS BIGINT) AS gk
      FROM g0),
d AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2),
an AS (SELECT g.doc_id, g.pos, g.gk FROM g JOIN d USING (gk)),
p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.pos AS a_pos, a.pos - b.pos AS diag
      FROM an a JOIN an b ON a.gk = b.gk
      WHERE a.doc_id < b.doc_id
         OR (a.doc_id = b.doc_id AND a.pos < b.pos)),
m AS (SELECT a_id, b_id, diag, a_pos,
             CASE WHEN lag(a_pos) OVER w IS NULL
                    OR a_pos - lag(a_pos) OVER w > 1
                  THEN 1 ELSE 0 END AS brk
      FROM p
      WINDOW w AS (PARTITION BY a_id, b_id, diag ORDER BY a_pos)),
s AS (SELECT a_id, b_id, diag, a_pos,
             sum(brk) OVER (PARTITION BY a_id, b_id, diag ORDER BY a_pos
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM m),
r AS (SELECT a_id, b_id, diag, min(a_pos) AS a_start,
             max(a_pos) - min(a_pos) + 20 AS span_len
      FROM s GROUP BY a_id, b_id, diag, run),
rr AS (SELECT * FROM r WHERE span_len >= 40),
occ AS (SELECT a_id AS id, a_start AS st, a_start + span_len - 1 AS en
        FROM rr
        UNION
        SELECT b_id, a_start - diag, a_start - diag + span_len - 1
        FROM rr),
mk AS (SELECT id, st, en,
             CASE WHEN max(en) OVER wp IS NULL
                    OR st > max(en) OVER wp + 1
                  THEN 1 ELSE 0 END AS brk
       FROM occ
       WINDOW wp AS (PARTITION BY id ORDER BY st, en
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
mrg AS (SELECT id, min(st) AS st, max(en) AS en FROM (
            SELECT id, st, en,
                   sum(brk) OVER (PARTITION BY id ORDER BY st, en
                                  ROWS UNBOUNDED PRECEDING) AS run
            FROM mk) GROUP BY id, run),
seg AS (SELECT id,
               coalesce(lag(en) OVER (PARTITION BY id ORDER BY st), 0) + 1
                   AS ks,
               st - 1 AS ke
        FROM mrg
        UNION ALL
        SELECT id, max(en) + 1, NULL FROM mrg GROUP BY id),
pieces AS (SELECT seg.id, seg.ks,
                  substr(t.text, ks,
                         coalesce(ke, length(t.text)) - ks + 1) AS piece
           FROM seg JOIN t ON t.doc_id = seg.id
           WHERE coalesce(ke, length(t.text)) >= ks),
cleaned AS (SELECT mm.id,
                   coalesce(string_agg(p.piece, '' ORDER BY p.ks), '')
                       AS clean_text
            FROM (SELECT DISTINCT id FROM mrg) mm
            LEFT JOIN pieces p ON p.id = mm.id
            GROUP BY mm.id),
stats AS (SELECT id, CAST(count(*) AS BIGINT) AS n_spans,
                 CAST(sum(en - st + 1) AS BIGINT) AS removed
          FROM mrg GROUP BY id)
SELECT t.doc_id AS doc_id,
       coalesce(c.clean_text, t.text) AS clean_text,
       CAST(length(coalesce(c.clean_text, t.text)) AS BIGINT)
           AS n_chars_clean,
       CAST(coalesce(st.removed, 0) AS BIGINT) AS removed_chars,
       CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans
FROM t LEFT JOIN cleaned c ON c.id = t.doc_id
LEFT JOIN stats st ON st.id = t.doc_id
"""


@contract(
    "q_t45_span_removal",
    oracle=_SPAN_REMOVAL_ORACLE,
    survey_rows="T45,T21,T12",
    doc="Span-granularity duplicate REMOVAL — the Lee et al. 2022 "
    "edit step completed at T45's exact maximal spans (VERDICT r14 "
    "next-step #3; operators/curation.exact_span_removal): anchors "
    "are 20-grams but the REMOVAL criterion is the paper's own "
    "'duplicated substring >= 40 chars' — the detect-small/"
    "remove-long decoupling T21's per-position coverage cannot "
    "express. Every occurrence of every maximal span (both run "
    "sides, same-doc repeats) becomes a removal interval; intervals "
    "merge when overlapping or touching; each document is "
    "reassembled from the text between them by one row-local "
    "aggregate stitch. The oracle replays the WHOLE edit in SQL — "
    "gram scan, diagonal runs, interval merge, string_agg "
    "reassembly — so the driver hash pins clean_text BYTE-EXACTLY "
    "on every document, not just counts. Brute-force byte equality "
    "+ the min_len==k T21-coincidence law pytest-pinned",
)
def q_t45_removal(spark, sf_dir):
    from jane_spark.operators.curation import exact_span_removal

    docs = Catalog(spark, sf_dir).documents
    return exact_span_removal(docs, "doc_id", "text", k=20, min_len=40)


_DUPREMOVE_ORACLE = """
WITH t AS (SELECT doc_id, text, length(text) AS n_chars FROM documents),
g0 AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, greatest(n_chars - 29, 0)),
                     i -> {'pos': i,
                           'gk': CAST('0x' || substr(md5(substr(text, i, 30)), 1, 15)
                                      AS BIGINT)})) AS s
       FROM t),
g AS (SELECT doc_id, s.pos AS pos, s.gk AS gk FROM g0),
d AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2),
p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gk)),
cov AS (SELECT DISTINCT doc_id, i
        FROM (SELECT doc_id, unnest(generate_series(pos, pos + 29)) AS i
              FROM p)),
ap AS (SELECT doc_id, text, unnest(generate_series(1, n_chars)) AS i FROM t),
keptc AS (SELECT ap.doc_id AS doc_id, ap.i AS i, substr(ap.text, ap.i, 1) AS ch
          FROM ap LEFT JOIN cov ON ap.doc_id = cov.doc_id AND ap.i = cov.i
          WHERE cov.i IS NULL),
r AS (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS clean_text
      FROM keptc GROUP BY doc_id),
m AS (SELECT doc_id, pos,
             max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_cover
      FROM p),
ns AS (SELECT doc_id,
              sum(CASE WHEN prev_cover IS NULL OR pos > prev_cover + 1
                       THEN 1 ELSE 0 END) AS n_spans
       FROM m GROUP BY doc_id)
SELECT t.doc_id AS doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(length(coalesce(r.clean_text, '')) AS BIGINT) AS n_chars_clean,
       CAST(t.n_chars - length(coalesce(r.clean_text, '')) AS BIGINT)
           AS removed_chars,
       CAST(coalesce(ns.n_spans, 0) AS BIGINT) AS n_spans
FROM t LEFT JOIN r USING (doc_id) LEFT JOIN ns USING (doc_id)
"""


@contract(
    "q_t21_dupremove",
    oracle=_DUPREMOVE_ORACLE,
    survey_rows="K1,K2",
    doc="duplicated-substring REMOVAL (the edit step of Lee et al. 2022 "
    "— q_t12 measures, this cuts): every corpus-duplicated char 30-gram "
    "span is excised and the document reassembled from the text between "
    "its merged covered runs (operators.curation.dup_span_removal). "
    "Spark stitches row-locally by folding the bounded spans array; "
    "the oracle reconstructs per character position — two independent "
    "formulations agreeing byte-exactly. removed_chars == q_t12's "
    "covered_chars by construction (pytest-pinned)",
)
def q_t21(spark, sf_dir):
    from jane_spark.operators.curation import dup_span_removal

    docs = Catalog(spark, sf_dir).documents
    return dup_span_removal(docs, "doc_id", "text", k=30)


_LM_ORACLE = """
WITH ref AS (SELECT lower(text) AS t FROM documents WHERE source = 'src0'),
rg AS (SELECT unnest(list_transform(generate_series(1, greatest(length(t) - 2, 0)),
              i -> substr(t, i, 3))) AS gram
       FROM ref),
cnt AS (SELECT gram, count(*) AS c FROM rg GROUP BY gram),
tot AS (SELECT sum(c) AS N, count(*) AS V FROM cnt),
model AS (SELECT gram, ln((c + 1) / CAST(N + V AS DOUBLE)) AS logp
          FROM cnt CROSS JOIN tot),
oov AS (SELECT ln(1.0 / CAST(N + V AS DOUBLE)) AS logp_oov FROM tot),
dg0 AS (SELECT doc_id, lower(text) AS t FROM documents),
dg AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, greatest(length(t) - 2, 0)),
                     i -> substr(t, i, 3))) AS gram
       FROM dg0),
sc AS (SELECT dg.doc_id AS doc_id, coalesce(m.logp, o.logp_oov) AS lp
       FROM dg LEFT JOIN model m USING (gram) CROSS JOIN oov o)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, round(-avg(lp), 4) AS nll
FROM sc GROUP BY doc_id
"""


@contract(
    "q_t13_lm_score",
    oracle=_LM_ORACLE,
    survey_rows="K5,K6",
    doc="character-trigram LM quality score (the CCNet/KenLM perplexity "
    "bucket signal as public count math): model trained on the "
    "source='src0' reference slice with add-one smoothing, every "
    "document ranked by mean negative log-likelihood; OOV grams get the "
    "smoothing floor (operators.curation.train_char_lm / lm_score). The "
    "model table is charset-bounded, so scoring broadcasts it; the only "
    "corpus-keyed shuffle is the per-doc average",
)
def q_t13(spark, sf_dir):
    from jane_spark.operators.curation import lm_score, train_char_lm

    docs = Catalog(spark, sf_dir).documents
    model = train_char_lm(docs.filter(F.col("source") == "src0"), "text", n=3)
    return lm_score(docs, "doc_id", "text", model, n=3)


_SEMDEDUP_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
p AS (SELECT DISTINCT b.vec_id AS dup_id
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6)
            >= 0.4)
SELECT e.vec_id AS vec_id, CAST(e.label AS INT) AS cluster,
       coalesce(p.dup_id IS NOT NULL, FALSE) AS is_dup
FROM e LEFT JOIN p ON e.vec_id = p.dup_id
"""


@contract(
    "q_k16_semdedup",
    oracle=_SEMDEDUP_ORACLE,
    survey_rows="K3,K8",
    doc="SemDeDup-style within-cluster semantic dedup (Abbas et al. "
    "2023): pairs are searched ONLY inside a cluster (here the fixture "
    "label column stands in for the k-means assignment, making the "
    "stage oracle-expressible); a vector is a duplicate iff a "
    "smaller-id cluster-mate has round(cosine,6) >= 0.4 "
    "(operators.semdedup.semantic_dedup). Equi-join on the cluster id "
    "with an id-order band — never a corpus cross product",
)
def q_k16(spark, sf_dir):
    from jane_spark.operators.semdedup import semantic_dedup

    emb = Catalog(spark, sf_dir).embeddings
    return semantic_dedup(emb, "vec_id", "embedding", "label", threshold=0.4)


_CAPPED_SEMDEDUP_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
p AS (SELECT DISTINCT b.vec_id AS dup_id
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6)
            >= 0.4),
s AS (SELECT e.vec_id, CAST(e.label AS INT) AS cluster
      FROM e LEFT JOIN p ON e.vec_id = p.dup_id
      WHERE p.dup_id IS NULL),
w AS (SELECT vec_id, cluster,
             CAST(row_number() OVER (PARTITION BY cluster
                                     ORDER BY vec_id) AS INT) AS rk,
             CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
                 AS n_survivors
      FROM s)
SELECT vec_id, cluster, rk, n_survivors FROM w WHERE rk <= 3
"""


@contract(
    "q_k16_capped",
    oracle=_CAPPED_SEMDEDUP_ORACLE,
    survey_rows="K44,K16,T23",
    doc="cluster-size-CAPPED SemDeDup (operators.semdedup."
    "capped_survivors): after the q_k16 within-cluster near-dup "
    "removal, keep at most 3 survivors per cluster (deterministic "
    "id-asc rank) — the output-mix guard SemDeDup itself lacks: "
    "dedup removes redundancy but not imbalance, so one "
    "over-represented semantic region would still dominate the "
    "deduped corpus (the per-domain-cap q_t23 policy in embedding "
    "space). Pre-cap survivor counts stay in the hashed surface so "
    "the cap is auditable per cluster. One window over the survivor "
    "table on top of q_k16 plan-for-plan — no new pair work",
)
def q_k16_capped(spark, sf_dir):
    from jane_spark.operators.semdedup import capped_survivors

    emb = Catalog(spark, sf_dir).embeddings
    return capped_survivors(
        emb, "vec_id", "embedding", "label", threshold=0.4, cap=3
    )


_DBSCAN_ORACLE = """
WITH RECURSIVE
v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pr AS (SELECT a.id AS a_id, b.id AS b_id
       FROM v a JOIN v b ON a.id < b.id
       WHERE list_cosine_similarity(a.v, b.v) >= 0.33),
sym AS (SELECT a_id AS a, b_id AS b FROM pr
        UNION ALL SELECT b_id, a_id FROM pr),
deg AS (SELECT v.id, CAST(coalesce(d.n, 1) AS BIGINT) AS n_nbrs
        FROM v LEFT JOIN
             (SELECT a, count(*) + 1 AS n FROM sym GROUP BY a) d
             ON d.a = v.id),
core AS (SELECT id FROM deg WHERE n_nbrs >= 4),
ce AS (SELECT s.a, s.b FROM sym s
       JOIN core ca ON ca.id = s.a
       JOIN core cb ON cb.id = s.b),
reach AS (SELECT id AS node, id AS comp FROM core
          UNION
          SELECT ce.b, reach.comp FROM reach JOIN ce ON reach.node = ce.a),
lab AS (SELECT node AS id, min(comp) AS comp FROM reach GROUP BY node),
bord AS (SELECT s.a AS id, min(lab.comp) AS comp
         FROM sym s JOIN lab ON lab.id = s.b
         WHERE s.a NOT IN (SELECT id FROM core)
         GROUP BY s.a)
SELECT d.id AS vec_id,
       CAST(coalesce(lab.comp, bord.comp, -1) AS BIGINT) AS cluster,
       (CASE WHEN lab.comp IS NOT NULL THEN 'core'
             WHEN bord.comp IS NOT NULL THEN 'border'
             ELSE 'noise' END) AS role,
       d.n_nbrs
FROM deg d
LEFT JOIN lab ON lab.id = d.id
LEFT JOIN bord ON bord.id = d.id
"""


@contract(
    "q_k16_dbscan",
    oracle=_DBSCAN_ORACLE,
    survey_rows="K3,K8,K10",
    doc="density-based clustering (DBSCAN, Ester et al. KDD'96) over "
    "the embedding column — operators.dbscan.dbscan(sim>=0.33, "
    "min_pts=4): eps-pairs (q_k8 machinery) -> degree count -> core "
    "points -> connected components over core-core edges (the q_k10 "
    "min-label fixpoint) -> border points take the min neighboring "
    "core label, rest is noise. 18 clusters / 125 core / 171 border / "
    "204 noise at sf0.01; every label is integer arithmetic, the one "
    "float cut's fixture margin (|sim-0.33| >= 2.7e-5) is pytest-"
    "pinned. Oracle = the same chain with a recursive-CTE closure; "
    "scale path swaps the exact pair join for the LSH prefilter "
    "(method='lsh' — deterministic >=85% point-label agreement at "
    "this mid-similarity threshold, pytest-pinned; at near-dup "
    "thresholds the prefilter is near-lossless)",
)
def q_k16_dbscan(spark, sf_dir):
    from jane_spark.operators.dbscan import dbscan

    emb = Catalog(spark, sf_dir).embeddings
    return dbscan(
        emb, "vec_id", "embedding", sim_threshold=0.33, min_pts=4,
        method="gemm",
    )


_EMBED_DECONTAM_ORACLE = """
WITH train AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
mx AS (SELECT t.vec_id AS vec_id,
              max(round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])),
                        6)) AS max_eval_sim
       FROM train t CROSS JOIN ev e GROUP BY t.vec_id)
SELECT vec_id, max_eval_sim, max_eval_sim >= 0.4 AS contaminated FROM mx
"""


@contract(
    "q_t14_embed_decontam",
    oracle=_EMBED_DECONTAM_ORACLE,
    survey_rows="T5,K3,K8",
    doc="semantic benchmark decontamination: max cosine of every train "
    "vector (even vec_ids) against the full eval set (odd vec_ids), "
    "contaminated at round(max,6) >= 0.4 — the embedding analogue of "
    "the T5 shingle decontaminator, catching paraphrased leakage "
    "(operators.vector.embed_decontam). Exact via the block_topk grid "
    "GEMM shape with a max-merge (order-insensitive, so grid "
    "parallelism never changes the answer); the oracle is the "
    "quadratic cross join",
)
def q_t14(spark, sf_dir):
    from jane_spark.operators.vector import embed_decontam

    emb = Catalog(spark, sf_dir).embeddings
    train = emb.filter(F.col("vec_id") % 2 == 0)
    ev = emb.filter(F.col("vec_id") % 2 == 1)
    return embed_decontam(train, ev, "vec_id", "embedding", threshold=0.4)


_SHUFFLE_ORACLE = """
WITH h AS (SELECT doc_id,
                  md5(concat('epoch0:', CAST(doc_id AS VARCHAR))) AS hh,
                  CAST(concat('0x', substr(md5(concat('epoch0:',
                       CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8 AS shard
           FROM documents)
SELECT doc_id, CAST(shard AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1
            AS BIGINT) AS pos
FROM h
"""


@contract(
    "q_p6_shuffle",
    oracle=_SHUFFLE_ORACLE,
    survey_rows="P1,P4",
    doc="deterministic global training-order permutation "
    "(functions.sampling.corpus_shuffle): salted-md5 hash assigns each "
    "doc a shard and a rank within it — reproducible across runs, "
    "cluster sizes, and partition layouts (orderBy(rand()) is none of "
    "these); a new salt is a new epoch permutation. NO global sort: "
    "one window per shard, shard count bounds the per-task sort",
)
def q_p6(spark, sf_dir):
    from jane_spark.functions.sampling import corpus_shuffle

    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    return corpus_shuffle(docs, "doc_id", n_shards=8, salt="epoch0:")


_HEAVYHITTERS_ORACLE = """
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
g AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2)
SELECT gram AS item, CAST(count(*) AS BIGINT) AS est_count,
       CAST(0 AS BIGINT) AS err_bound
FROM g GROUP BY gram
ORDER BY est_count DESC, item ASC
LIMIT 50
"""


@contract(
    "q_k17_heavyhitters",
    oracle=_HEAVYHITTERS_ORACLE,
    survey_rows="K5,K4",
    doc="top-50 word 2-grams via the mergeable Misra-Gries sketch "
    "(operators.sketch.frequent_ngrams): per-partition summaries are "
    "capacity-bounded regardless of vocabulary size, the merge shuffles "
    "partitions*capacity rows, top-k is TakeOrdered. At contract "
    "capacity (65536 > distinct 2-grams) nothing is subtracted, so "
    "est_count is exact and err_bound 0 — which is exactly what the "
    "plain-groupBy oracle pins; the approximate small-capacity regime "
    "is bound-tested in pytest",
)
def q_k17(spark, sf_dir):
    from jane_spark.operators.sketch import frequent_ngrams

    docs = Catalog(spark, sf_dir).documents
    return frequent_ngrams(docs, "text", n=2, k=50, capacity=65536)


_CMS_ORACLE = """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
cell AS (SELECT r.r AS r,
                CAST(concat('0x', substr(md5(
                    'cms:' || CAST(r.r AS VARCHAR) || ':' || tok), 1, 8))
                    AS BIGINT) % 256 AS b,
                CAST(count(*) AS BIGINT) AS cnt
         FROM tok CROSS JOIN generate_series(0, 3) r(r)
         GROUP BY 1, 2),
top AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_count
        FROM tok GROUP BY tok
        ORDER BY exact_count DESC, tok ASC LIMIT 20),
probe AS (SELECT top.tok, top.exact_count, r.r AS r,
                 CAST(concat('0x', substr(md5(
                     'cms:' || CAST(r.r AS VARCHAR) || ':' || top.tok),
                     1, 8)) AS BIGINT) % 256 AS b
          FROM top CROSS JOIN generate_series(0, 3) r(r))
SELECT probe.tok AS token, min(cell.cnt) AS est_count,
       probe.exact_count
FROM probe JOIN cell ON cell.r = probe.r AND cell.b = probe.b
GROUP BY probe.tok, probe.exact_count
"""


@contract(
    "q_k17_cms",
    oracle=_CMS_ORACLE,
    survey_rows="K5,K4",
    doc="count-min sketch frequency estimation "
    "(operators.sketch.cms_build/cms_query, d=4 x w=256 portable-hash "
    "cells): corpus token counts land in a d*w-bounded cell table "
    "(groupBy state is CONSTANT in vocabulary size — the 100 TB "
    "complement to Misra-Gries top-k), point estimates are min over "
    "the d probed cells and never undercount. Contract pins the full "
    "chain — build cells, probe the exact top-20 tokens, est vs exact "
    "side by side; the never-undercount law and cellwise-sum merge "
    "law are pytest-pinned",
)
def q_k17_cms(spark, sf_dir):
    from jane_spark.operators.sketch import cms_build, cms_query

    docs = Catalog(spark, sf_dir).documents
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    cms = cms_build(toks, "tok", d=4, w=256)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("tok").asc())
        .limit(20)
    )
    est = cms_query(cms, top, "tok", d=4, w=256)
    return est.select(
        F.col("tok").alias("token"),
        F.col("est_count"),
        F.col("exact_count"),
    )


_C4FILTER_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
lined AS (SELECT doc_id,
                 list_transform(generate_series(1, CAST(ceil(len(toks) / 8.0) AS INT)),
                                i -> array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' '))
                     AS lines
          FROM t),
f AS (SELECT doc_id, lines,
             list_filter(lines,
                         x -> len(string_split(x, ' ')) >= 8
                              AND length(x) <= 200
                              AND NOT list_has_any(string_split(x, ' '),
                                                   ['slow'])) AS keptl
      FROM lined)
SELECT doc_id,
       coalesce(array_to_string(keptl, chr(10)), '') AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(keptl) AS BIGINT) AS n_kept,
       round(len(keptl) / CAST(len(lines) AS DOUBLE), 4) AS kept_frac,
       len(keptl) >= 3 AS doc_keep
FROM f
"""


@contract(
    "q_t16_c4filter",
    oracle=_C4FILTER_ORACLE,
    survey_rows="K9,K12",
    doc="C4-style per-line policy filtering (Raffel et al. 2020 §2.2): "
    "lines kept iff >= 8 words, <= 200 chars, and no blocklisted word; "
    "document flag at >= 3 surviving lines "
    "(operators.curation.policy_line_filter). Every rule is line-local, "
    "so the stage is pure higher-order expressions — ZERO shuffles, "
    "scales with the scan (contrast line_dedup, whose signal is "
    "corpus-wide). The multi-line form is derived (8-token lines) "
    "identically in both engines",
)
def q_t16(spark, sf_dir):
    from jane_spark.operators.curation import policy_line_filter

    # clustered(): heavy per-row string compute parallelizes from the
    # pinned multi-partition layout when one exists (single-row-group
    # testdata parquet scans as ONE task otherwise); plain scan in
    # unpinned sessions, so the zero-shuffle plan guard still holds
    docs = Catalog(spark, sf_dir).clustered("documents", "doc_id")
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
            ),
        ).alias("text"),
    )
    return policy_line_filter(
        lined,
        "doc_id",
        "text",
        sep="\n",
        min_words=8,
        max_line_chars=200,
        blocklist=["slow"],
        min_kept_lines=3,
    )


_MIXTURE_ORACLE = """
WITH d AS (SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
a AS (SELECT source, sum(n_tokens) AS avail FROM d GROUP BY source),
f AS (SELECT source,
             least(1.0,
                   ((10000.0 * CAST((CAST(substr(source, 4) AS INT) % 4) + 1
                               AS DOUBLE)) / 50.0)
                   / CAST(avail AS DOUBLE)) AS frac
      FROM a)
SELECT d.source AS source, d.doc_id AS doc_id, d.n_tokens AS n_tokens
FROM d JOIN f USING (source)
WHERE CAST(CAST(concat('0x', substr(md5(concat('mix:',
           CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE)
      < frac * 4294967296.0
"""


@contract(
    "q_p7_mixture",
    oracle=_MIXTURE_ORACLE,
    survey_rows="P1,P2,K5",
    doc="token-budget mixture sampling (the GPT-3/LLaMA/DoReMi data-"
    "mixture stage): per-source weight w_i = (i %% 4) + 1 over a "
    "10k-token budget gives each source frac = min(1, budget*w/sum(w) "
    "/ available_tokens), realized by the salted-md5 content hash "
    "(functions.sampling.mixture_sample) — reproducible across runs, "
    "cluster sizes, and partition layouts. ONE tiny per-source "
    "aggregate broadcast back; the corpus never shuffles; identical "
    "IEEE double arithmetic order on both engines makes the keep set "
    "bit-reproducible",
)
def q_p7(spark, sf_dir):
    from jane_spark.functions.sampling import mixture_sample

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    weights = {f"src{i}": float(i % 4 + 1) for i in range(20)}
    return mixture_sample(
        docs, "doc_id", "source", "n_tokens", weights, 10000.0, salt="mix:"
    )


@contract(
    "q_p16_sys_sample",
    oracle="""
        WITH base AS (SELECT doc_id, n_chars AS w
                      FROM documents WHERE n_chars > 0),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM base),
        cum AS (SELECT doc_id, w,
                       CAST(sum(w) OVER (ORDER BY doc_id) AS BIGINT) AS hi
                FROM base),
        sel AS (SELECT doc_id, w, hi, hi - w AS lo FROM cum)
        SELECT doc_id, CAST(w AS BIGINT) AS weight,
               CAST(((400 * hi + tw - 1) // (2 * tw))
                    - ((400 * lo + tw - 1) // (2 * tw)) AS BIGINT)
                   AS n_copies
        FROM sel, tot
        WHERE ((400 * hi + tw - 1) // (2 * tw))
              - ((400 * lo + tw - 1) // (2 * tw)) > 0
    """,
    survey_rows="P2,P7,P3",
    doc="deterministic weighted sampling by SYSTEMATIC resampling "
    "(functions.sampling.systematic_weighted_sample): 200 equally "
    "spaced probes over the cumulative n_chars line give each doc "
    "n·w/W expected copies with sub-multinomial variance, zero RNG "
    "state, and pure-integer probe arithmetic (every numerator kept "
    "non-negative so Spark's truncating div == the oracle's flooring "
    "//). Long docs may draw several copies (upsampling); "
    "sum(n_copies) == 200 exactly (the probe grid telescopes; pytest-"
    "pinned). Scale: the global prefix sum is TWO-LEVEL — per-4096-id-"
    "bucket totals cumsummed in a tiny window, then a within-bucket "
    "window + broadcast offset — so no single-partition pass ever "
    "touches row-scale data, unlike the naive ORDER BY cumsum the "
    "oracle runs",
)
def q_p16_sys_sample(spark, sf_dir):
    from jane_spark.functions.sampling import systematic_weighted_sample

    docs = Catalog(spark, sf_dir).documents
    return systematic_weighted_sample(
        docs, "doc_id", "n_chars", n=200, bucket_width=64
    )


_HTML_PRE = (
    '<html><body><h1>Doc</h1><script type="text/javascript">var x = 1 < 2;'
    "</script><p>"
)
_HTML_POST = (
    '</p><style>.nav { color: red }</style><div class="nav">menu item</div>'
    "</body></html>"
)

_HTMLSTRIP_ORACLE = f"""
WITH h AS (SELECT doc_id,
                  '{_HTML_PRE.replace("'", "''")}'
                  || replace(text, ' the ', ' &amp; ')
                  || '{_HTML_POST.replace("'", "''")}' AS html
           FROM documents),
s1 AS (SELECT doc_id,
              regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS t
       FROM h),
s2 AS (SELECT doc_id,
              regexp_replace(t, '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s2),
s4 AS (SELECT doc_id,
              replace(replace(replace(replace(replace(replace(t,
                  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                  '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
       FROM s3),
s5 AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text
       FROM s4)
SELECT doc_id, clean_text,
       CAST(length(clean_text) AS BIGINT) AS n_chars_clean
FROM s5
"""


@contract(
    "q_t17_htmlstrip",
    oracle=_HTMLSTRIP_ORACLE,
    survey_rows="K9,K12",
    doc="HTML-to-text extraction (the CommonCrawl WET step): drop "
    "script/style blocks with their contents, strip remaining tags "
    "keeping element text, decode the common entities (&amp; last, so "
    "double-escaped forms never re-become markup), collapse whitespace "
    "(functions.text.strip_html). Pure regexp_replace/replace "
    "projection — RE2-safe patterns so Java regex and RE2 agree "
    "byte-exactly; zero shuffles. The HTML wrapper is derived "
    "identically in both engines; the script body deliberately "
    "contains a bare '<'",
)
def q_t17(spark, sf_dir):
    from jane_spark.functions.text import strip_html

    docs = Catalog(spark, sf_dir).clustered("documents", "doc_id")
    html = F.concat(
        F.lit(_HTML_PRE),
        F.replace(F.col("text"), F.lit(" the "), F.lit(" &amp; ")),
        F.lit(_HTML_POST),
    )
    clean = strip_html(html)
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).cast("bigint").alias("n_chars_clean"),
    )


_CCNET_ORACLE = """
WITH ref AS (SELECT lower(text) AS t FROM documents WHERE source = 'src0'),
rg AS (SELECT unnest(list_transform(generate_series(1, greatest(length(t) - 2, 0)),
              i -> substr(t, i, 3))) AS gram
       FROM ref),
cnt AS (SELECT gram, count(*) AS c FROM rg GROUP BY gram),
tot AS (SELECT sum(c) AS N, count(*) AS V FROM cnt),
model AS (SELECT gram, ln((c + 1) / CAST(N + V AS DOUBLE)) AS logp
          FROM cnt CROSS JOIN tot),
oov AS (SELECT ln(1.0 / CAST(N + V AS DOUBLE)) AS logp_oov FROM tot),
dg0 AS (SELECT doc_id, lower(text) AS t FROM documents),
dg AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, greatest(length(t) - 2, 0)),
                     i -> substr(t, i, 3))) AS gram
       FROM dg0),
sc AS (SELECT dg.doc_id AS doc_id, coalesce(m.logp, o.logp_oov) AS lp
       FROM dg LEFT JOIN model m USING (gram) CROSS JOIN oov o),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               round(-avg(lp), 4) AS nll
        FROM sc GROUP BY doc_id),
b AS (SELECT doc_id, n_grams, nll,
             ntile(3) OVER (ORDER BY nll ASC, doc_id ASC) AS nt
      FROM agg)
SELECT doc_id, n_grams, nll,
       CASE WHEN nt = 1 THEN 'head' WHEN nt = 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM b
"""


@contract(
    "q_t18_ccnet_buckets",
    oracle=_CCNET_ORACLE,
    survey_rows="K5,K6,K12",
    doc="CCNet head/middle/tail corpus split: trigram-LM NLL per "
    "document (T13), then equal-size quality buckets via ntile ordered "
    "by (nll, doc_id) (operators.curation.perplexity_buckets) — the "
    "curation decision CCNet feeds its filter with. The ntile sorts "
    "only the (id, score) table (~16 B/doc); the deterministic "
    "tie-break makes bucket edges engine-reproducible where percentile "
    "interpolation would not be",
)
def q_t18(spark, sf_dir):
    from jane_spark.operators.curation import (
        lm_score,
        perplexity_buckets,
        train_char_lm,
    )

    docs = Catalog(spark, sf_dir).documents
    model = train_char_lm(docs.filter(F.col("source") == "src0"), "text", n=3)
    scored = lm_score(docs, "doc_id", "text", model, n=3)
    return perplexity_buckets(scored, "doc_id", "nll")


_DIRTY_PRE = "“Q” – "
_DIRTY_POST = " …​ end"

_NORMALIZE_ORACLE = f"""
WITH h AS (SELECT doc_id,
                  '{_DIRTY_PRE}' || replace(text, ' a ', '   ')
                  || '{_DIRTY_POST}' || chr(7) AS dirty
           FROM documents),
m AS (SELECT doc_id,
             replace(replace(replace(replace(replace(replace(replace(
             replace(replace(replace(replace(replace(dirty,
                 ' ', ' '), '‘', ''''), '’', ''''),
                 '“', '"'), '”', '"'), '–', '-'),
                 '—', '-'), '…', '...'), '​', ''),
                 '‌', ''), '‍', ''), '﻿', '') AS t
      FROM h),
c AS (SELECT doc_id,
             regexp_replace(t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]',
                            ' ', 'g') AS t
      FROM m),
w AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text
      FROM c)
SELECT doc_id, clean_text,
       CAST(length(clean_text) AS BIGINT) AS n_chars_clean
FROM w
"""


@contract(
    "q_t19_normalize",
    oracle=_NORMALIZE_ORACLE,
    survey_rows="K9,K12",
    doc="typographic/control-character normalization (the ftfy-lite "
    "cleanup every web corpus runs after extraction): NBSP, curly "
    "quotes, en/em dashes, ellipsis, zero-width characters, C0/DEL "
    "controls, whitespace runs (functions.text.normalize_text). Pure "
    "literal-replace + one RE2-safe regex class — zero shuffles. The "
    "dirty wrapper (curly quotes, NBSP, zero-width space, BEL control) "
    "is derived identically in both engines",
)
def q_t19(spark, sf_dir):
    from jane_spark.functions.text import normalize_text

    docs = Catalog(spark, sf_dir).clustered("documents", "doc_id")
    dirty = F.concat(
        F.lit(_DIRTY_PRE),
        F.replace(F.col("text"), F.lit(" a "), F.lit("   ")),
        F.lit(_DIRTY_POST + "\x07"),
    )
    clean = normalize_text(dirty)
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).cast("bigint").alias("n_chars_clean"),
    )


_CLF_SCORE_ORACLE = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents),
e AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
f AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 256
                 AS bucket,
             count(*) / CAST(min(n) AS DOUBLE) AS x
      FROM e GROUP BY doc_id, bucket),
s AS (SELECT doc_id,
             -0.5 + sum((((bucket * 37) % 21) - 10) / 10.0 * x) AS z
      FROM f GROUP BY doc_id)
SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS prob FROM s
"""


_AUC_ORACLE = """
WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ltoks
           FROM documents),
e AS (SELECT doc_id, len(ltoks) AS n, unnest(ltoks) AS tok FROM t),
f AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 256
                 AS bucket,
             count(*) / CAST(min(n) AS DOUBLE) AS x
      FROM e GROUP BY doc_id, bucket),
z AS (SELECT doc_id,
             CAST(round(round(-0.5 + sum((((bucket * 37) % 21) - 10)
                                         / 10.0 * x), 6) * 1000000)
                  AS BIGINT) AS s
      FROM f GROUP BY doc_id),
lab AS (SELECT doc_id,
               CAST((len(toks) BETWEEN 50 AND 100000)
                AND ((list_aggregate(list_transform(toks,
                         x -> length(x)), 'sum')
                      / CAST(greatest(len(toks), 1) AS DOUBLE))
                     BETWEEN 3.0 AND 10.0)
                AND (((length(tx) - length(replace(tx, '#', ''))
                       + (length(tx) - length(replace(tx, '...', ''))) / 3)
                      / CAST(greatest(len(toks), 1) AS DOUBLE)) < 0.1)
                AND ((len(list_filter(lines,
                          l -> left(l, 1) IN ('-', '*', '•')))
                      / CAST(greatest(len(lines), 1) AS DOUBLE)) < 0.9)
                AND ((len(list_filter(lines, l -> right(l, 3) = '...'))
                      / CAST(greatest(len(lines), 1) AS DOUBLE)) < 0.3)
                AND ((len(list_filter(toks,
                          x -> regexp_matches(x, '[A-Za-z]')))
                      / CAST(greatest(len(toks), 1) AS DOUBLE)) >= 0.8)
               AS INT) AS y
        FROM (SELECT doc_id, text AS tx,
                     list_filter(string_split(text, ' '),
                                 x -> x <> '') AS toks,
                     string_split(text, chr(10)) AS lines
              FROM t)),
g AS (SELECT z.s, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(lab.y) AS BIGINT) AS pos
      FROM z JOIN lab USING (doc_id) GROUP BY z.s),
r AS (SELECT s, cnt, pos,
             CAST(coalesce(sum(cnt) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_prev
      FROM g),
a AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
             CAST(sum(pos * (2 * cum_prev + cnt + 1))
                  - sum(pos) * (sum(pos) + 1) AS BIGINT) AS u2
      FROM r)
SELECT n_pos, n_neg, u2,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE CAST((u2 * 10000) // (2 * n_pos * n_neg) AS BIGINT)
       END AS auc_e4
FROM a
"""


@contract(
    "q_k45_auc",
    oracle=_AUC_ORACLE,
    survey_rows="K45,K21,T32",
    doc="classifier-vs-gate AGREEMENT as Mann-Whitney AUC "
    "(operators.classifier.rank_auc): does the cheap hashed-LR score "
    "(the q_t20 fixed model) rank documents the way the expensive "
    "6-rule Gopher gate (q_t32 minus the stop rule — the q_p22 "
    "fixture variant) decides them? The DCLM/GPT-3 production "
    "question: a fast classifier stands in for heavy quality rules, "
    "and AUC is the agreement audit run before trusting it. Integer-"
    "exact end to end: the score is the 6dp LR MARGIN (sigmoid is "
    "monotone, so AUC is identical — and the margin is rational "
    "arithmetic, NO transcendental, dodging the cross-libm tie class "
    "the prob surface would carry) in 1e6 fixed point; doubled "
    "average ranks make tie handling pure BIGINT (u2 = 2U); auc_e4 = "
    "(u2*10000) div (2*n_pos*n_neg). One (score,label) count "
    "aggregate + one windowed pass over <= V distinct-score rows + "
    "one scalar agg",
)
def q_k45(spark, sf_dir):
    from jane_spark.functions.text import gopher_quality_flags
    from jane_spark.operators.classifier import rank_auc, score_logreg

    docs = Catalog(spark, sf_dir).documents
    weights = {b: (((b * 37) % 21) - 10) / 10.0 for b in range(256)}
    scores = score_logreg(
        docs, "doc_id", "text", weights, -0.5, dim=256, margin=True
    )
    labels = docs.select(
        "doc_id",
        gopher_quality_flags(F.col("text")).alias("g"),
    ).select(
        "doc_id",
        (
            F.col("g.words_ok")
            & F.col("g.word_len_ok")
            & F.col("g.symbol_ok")
            & F.col("g.bullet_ok")
            & F.col("g.ellipsis_ok")
            & F.col("g.alpha_ok")
        ).alias("y"),
    )
    return rank_auc(scores.join(labels, "doc_id"), "z6", "y")


@contract(
    "q_t20_clf_score",
    oracle=_CLF_SCORE_ORACLE,
    survey_rows="K12,K5",
    doc="model-based quality scoring (the GPT-3/DCLM fastText-filter "
    "shape): hashed bag-of-words (md5-portable bucket % 256, "
    "length-normalized counts) -> broadcast weight table -> sigmoid "
    "(operators.classifier.score_logreg). The contract fixes an "
    "arithmetic weight vector w_b = ((b*37)%21 - 10)/10 so the "
    "cross-engine scoring path is oracle-checkable; training is the "
    "rows-only q_k21 chain. Corpus shuffles once on (doc, bucket); "
    "the dim-bounded weights broadcast",
)
def q_t20(spark, sf_dir):
    from jane_spark.operators.classifier import score_logreg

    docs = Catalog(spark, sf_dir).documents
    weights = {b: (((b * 37) % 21) - 10) / 10.0 for b in range(256)}
    return score_logreg(docs, "doc_id", "text", weights, -0.5, dim=256)


def _k21_oracle_sql(dim: int = 256, iters: int = 10, lr: float = 2.0) -> str:
    """Unrolled full-batch-GD DuckDB twin of train_logreg +
    score_logreg on binary hashed features (r7: converts q_k21 from
    rows-only to oracle-backed, the q_k16_kmeans precedent). The fixed
    step count unrolls into chained (z, r, w, b) CTEs; weights/bias
    round 9 dp per step exactly like the Spark side, scoring rounds
    6 dp, class averages 4 dp."""
    # AS MATERIALIZED everywhere: the chained (w_i -> w_{i+1})
    # references would otherwise INLINE exponentially (DuckDB CTEs
    # default to inlining), re-scanning the parquet per mention
    ctes = [
        "t AS MATERIALIZED (SELECT doc_id, string_split(lower(text), ' ') "
        "AS toks FROM documents)",
        "lab AS MATERIALIZED (SELECT doc_id, "
        "CAST(list_contains(toks, 'hash') AS INT) AS y FROM t)",
        "e AS MATERIALIZED (SELECT doc_id, unnest(toks) AS tok FROM t)",
        f"f AS MATERIALIZED (SELECT DISTINCT doc_id, "
        f"CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % {dim} "
        f"AS bucket FROM e)",
        "nn AS MATERIALIZED (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) "
        "AS n FROM f)",
        "fy AS MATERIALIZED (SELECT f.doc_id, f.bucket, lab.y FROM f "
        "JOIN lab USING (doc_id))",
        "d0 AS MATERIALIZED (SELECT DISTINCT doc_id, y FROM fy)",
        "r0 AS MATERIALIZED (SELECT doc_id, y, 0.5 - y AS r FROM d0)",
        f"w1 AS MATERIALIZED (SELECT fy.bucket, "
        f"round(0.0 - {lr} * sum(r0.r) / any_value(nn.n), 9) AS w "
        f"FROM fy JOIN r0 USING (doc_id) CROSS JOIN nn GROUP BY fy.bucket)",
        f"b1 AS MATERIALIZED (SELECT round(0.0 - {lr} * sum(r) / "
        f"any_value(nn.n), 9) AS b FROM r0 CROSS JOIN nn)",
    ]
    for i in range(1, iters):
        ctes.append(
            f"z{i} AS MATERIALIZED (SELECT fy.doc_id, min(fy.y) AS y, "
            f"(SELECT b FROM b{i}) + sum(coalesce(w{i}.w, 0.0)) AS z "
            f"FROM fy LEFT JOIN w{i} USING (bucket) GROUP BY fy.doc_id)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT doc_id, y, "
            f"1.0 / (1.0 + exp(-z)) - y AS r FROM z{i})"
        )
        ctes.append(
            f"w{i + 1} AS MATERIALIZED (SELECT w.bucket, "
            f"round(w.w - {lr} * g.g / any_value(nn.n), 9) AS w "
            f"FROM w{i} w JOIN (SELECT bucket, sum(r) AS g FROM fy "
            f"JOIN r{i} USING (doc_id) GROUP BY bucket) g "
            f"ON w.bucket = g.bucket CROSS JOIN nn GROUP BY w.bucket, w.w, g.g)"
        )
        ctes.append(
            f"b{i + 1} AS MATERIALIZED (SELECT round((SELECT b FROM b{i}) "
            f"- {lr} * (SELECT sum(r) FROM r{i}) / any_value(n), 9) "
            f"AS b FROM nn)"
        )
    ctes.append(
        f"sc AS MATERIALIZED (SELECT f.doc_id, round(1.0 / (1.0 + exp(-("
        f"(SELECT b FROM b{iters}) + sum(coalesce(w.w, 0.0))))), 6) "
        f"AS prob FROM f LEFT JOIN w{iters} w USING (bucket) "
        f"GROUP BY f.doc_id)"
    )
    return (
        "WITH " + ",\n".join(ctes) + """
        SELECT lab.y AS label, count(*) AS n_docs,
               round(avg(sc.prob), 4) AS avg_prob
        FROM sc JOIN lab USING (doc_id) GROUP BY lab.y
    """
    )


@contract(
    "q_k21_quality_clf",
    oracle=_k21_oracle_sql(),
    survey_rows="K12,K5,K6",
    doc="END-TO-END model-based quality filter: hashed-feature logistic "
    "regression TRAINED in-plan (full-batch GD, 10 steps; positives = "
    "documents containing the token 'hash', a text-derived concept the "
    "model can provably learn) then scoring the whole corpus "
    "(operators.classifier.train_logreg/score_logreg). Per GD step: "
    "one doc-keyed margin aggregate + one bucket-keyed gradient "
    "aggregate, collecting only the dim-bounded gradient (the IVF "
    "bounded-collect pattern). Output = doc counts + mean probability "
    "per true class; the positive class must score far above the "
    "negative (pytest-pinned vs the pure-Python twin). Oracle-backed "
    "since r7: the fixed step count unrolls the GD loop into chained "
    "MATERIALIZED CTEs (the q_k16_kmeans precedent), 9 dp per-step "
    "weight rounding matching the Spark side exactly",
)
def q_k21(spark, sf_dir):
    from jane_spark.operators.classifier import (
        hashed_features,
        score_logreg,
        train_logreg,
    )

    docs = Catalog(spark, sf_dir).documents
    label = F.array_contains(F.split(F.lower(F.col("text")), " "), "hash")
    labels = docs.select("doc_id", label.cast("int").alias("label"))
    # binary presence features: unit scale, so the one bucket that
    # carries the label concept separates within a few GD steps
    feats = hashed_features(docs, "doc_id", "text", dim=256, binary=True)
    w, b = train_logreg(
        feats, labels, "doc_id", "label", dim=256, iters=10, lr=2.0
    )
    scored = score_logreg(docs, "doc_id", "text", w, b, dim=256, binary=True)
    return (
        labels.join(scored, "doc_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("prob"), 4).alias("avg_prob"),
        )
    )


_PHASH_PORTABLE_ORACLE = """
WITH m AS (
  SELECT k, n, round((CASE WHEN k = 0 THEN 1.0/sqrt(2.0) ELSE 1.0 END)
         * cos(pi() * (2*n+1) * k / 64.0) * sqrt(2.0/32.0), 9) AS m
  FROM range(8) t1(k), range(32) t2(n)),
pix AS (
  SELECT doc_id AS item_id, r, c,
         CAST((doc_id*37 + (r//2)*(r//2)*3 + (c//2)*(c//2)*5
               + (r//2)*(c//2)*7 + (r//2)*16 + (c//2)) % 256
              AS DOUBLE) AS v
  FROM documents, range(32) t1(r), range(32) t2(c)
  WHERE doc_id < 40),
u AS (
  SELECT item_id, m.k, pix.c, round(sum(m.m * pix.v), 6) AS u
  FROM pix JOIN m ON m.n = pix.r GROUP BY item_id, m.k, pix.c),
t AS (
  SELECT item_id, u.k, m2.k AS l, round(sum(m2.m * u.u), 6) AS t
  FROM u JOIN m m2 ON m2.n = u.c GROUP BY item_id, u.k, m2.k),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY item_id ORDER BY t, k, l) AS rn FROM t),
med AS (SELECT item_id, avg(t) AS med FROM ranked
        WHERE rn IN (32, 33) GROUP BY item_id)
SELECT item_id, CAST(sum(CASE WHEN ranked.t > med.med THEN
    CASE WHEN k*8 + l = 63
         THEN CAST(-9223372036854775807 AS BIGINT) - CAST(1 AS BIGINT)
         ELSE (CAST(1 AS BIGINT) << (k*8 + l)) END
    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash
FROM ranked JOIN med USING (item_id) GROUP BY item_id
"""


@contract(
    "q_k7_phash_portable",
    oracle=_PHASH_PORTABLE_ORACLE,
    survey_rows="K7,K2",
    doc="ORACLE-BACKED pHash (r9, converting the weakest rows-only "
    "evidence): on constructed images the whole 64-bit DCT pHash "
    "chain is fixed linear algebra, so it runs as pure relational "
    "ops (operators/imagehash.phash_relational) — separable DCT as "
    "two broadcast-join aggregations against the 9 dp-rounded 8x32 "
    "coefficient table (each sum rounded 6 dp), numpy's even-n "
    "median via row_number 32/33, bits packed into a signed long "
    "with the i=63 term negative. Pixels are synthesized "
    "arithmetically per doc (a NONLINEAR quadratic formula mod 256 "
    "— a linear ramp makes most DCT coefficients exactly zero and "
    "the median a float-noise toss-up; the quadratic keeps every "
    "low-frequency coefficient >=0.1 away from the median — as a "
    "16x16 image pre-resized nearest-neighbor to 32x32); "
    "the oracle replays the identical arithmetic in SQL, and a "
    "pytest pins phash_relational == the numpy phash64 the real "
    "codec path uses, welding this contract to q_k7_phash",
)
def q_k7_phash_portable(spark, sf_dir):
    from jane_spark.operators.imagehash import phash_relational

    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.col("doc_id") < 40)
    )
    r = spark.range(32).withColumnRenamed("id", "r")
    c = spark.range(32).withColumnRenamed("id", "c")
    pix = (
        docs.crossJoin(r)
        .crossJoin(c)
        .select(
            F.col("doc_id").alias("item_id"),
            "r",
            "c",
            (
                (
                    F.col("doc_id") * 37
                    + F.floor(F.col("r") / 2) * F.floor(F.col("r") / 2) * 3
                    + F.floor(F.col("c") / 2) * F.floor(F.col("c") / 2) * 5
                    + F.floor(F.col("r") / 2) * F.floor(F.col("c") / 2) * 7
                    + F.floor(F.col("r") / 2) * 16
                    + F.floor(F.col("c") / 2)
                )
                % 256
            )
            .cast("double")
            .alias("v"),
        )
    )
    return phash_relational(pix, "item_id", "r", "c", "v")


_AUDIO_PORTABLE_ORACLE = """
WITH smp AS (
  SELECT doc_id AS item_id, t // 64 AS seg, t % 64 AS n,
         CAST((doc_id*31 + t*t*7 + t*13) % 97 AS DOUBLE)/97.0 - 0.5 AS v
  FROM documents, range(512) tt(t) WHERE doc_id < 20),
four AS (
  SELECT f, n, round(cos(2*pi()*f*n/64.0), 9) AS cosv,
               round(sin(2*pi()*f*n/64.0), 9) AS sinv
  FROM range(33) t1(f), range(64) t2(n)),
bandmap AS (
  SELECT f, b AS band FROM range(33) t1(f), range(8) t2(b)
  WHERE 200.0*pow(512.0/200.0, b/8.0) <= f*16.0
    AND f*16.0 < 200.0*pow(512.0/200.0, (b+1)/8.0)),
dft AS (
  SELECT item_id, seg, four.f,
         round(sum(v*cosv), 6) AS re, round(sum(v*sinv), 6) AS im
  FROM smp JOIN four ON four.n = smp.n GROUP BY item_id, seg, four.f),
mag AS (SELECT item_id, seg, f,
               round(sqrt(re*re + im*im), 6) AS mag FROM dft),
en AS (
  SELECT item_id, seg, band, round(sum(mag), 6) AS e
  FROM mag JOIN bandmap USING (f) GROUP BY item_id, seg, band),
frame AS (
  SELECT ids.item_id, s AS seg, b AS band
  FROM (SELECT DISTINCT item_id FROM smp) ids,
       range(8) t1(s), range(8) t2(b)),
grid AS (
  SELECT frame.item_id, frame.seg, frame.band,
         round(ln(1.0 + coalesce(en.e, 0.0)), 6) AS g
  FROM frame LEFT JOIN en
    ON en.item_id = frame.item_id AND en.seg = frame.seg
   AND en.band = frame.band),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY item_id ORDER BY g, seg, band) AS rn FROM grid),
med AS (SELECT item_id, avg(g) AS med FROM ranked
        WHERE rn IN (32, 33) GROUP BY item_id)
SELECT item_id, CAST(sum(CASE WHEN ranked.g > med.med THEN
    CASE WHEN seg*8 + band = 63
         THEN CAST(-9223372036854775807 AS BIGINT) - CAST(1 AS BIGINT)
         ELSE (CAST(1 AS BIGINT) << CAST(seg*8 + band AS INT)) END
    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS afp
FROM ranked JOIN med USING (item_id) GROUP BY item_id
"""


@contract(
    "q_k7_audio_portable",
    oracle=_AUDIO_PORTABLE_ORACLE,
    survey_rows="K20,K2",
    doc="ORACLE-BACKED audio fingerprint (r9 — the sound twin of "
    "q_k7_phash_portable, completing the multimodal-hash pair): on "
    "constructed clips the Haitsma-Kalker-style 64-bit spectral "
    "fingerprint is fixed linear algebra, run as pure relational ops "
    "(operators/imagehash.audio_fp_relational) — direct DFT per "
    "8-segment via a broadcast join against the 9 dp-rounded cos/sin "
    "table (re/im sums and magnitudes rounded 6 dp), log-spaced band "
    "energies ln(1+x)-compressed at 6 dp, row_number-32/33 median, "
    "signed bit packing. Samples are synthesized arithmetically "
    "(quadratic mod-97 noise, 512 samples @ 1024 Hz per doc); the "
    "oracle derives the band layout from the same log-spaced edge "
    "formula and replays the identical arithmetic; a pytest welds "
    "audio_fp_relational to the numpy audio_fp64 the real-codec "
    "path uses",
)
def q_k7_audio_portable(spark, sf_dir):
    from jane_spark.operators.imagehash import audio_fp_relational

    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.col("doc_id") < 20)
    )
    t = spark.range(512).withColumnRenamed("id", "t")
    smp = docs.crossJoin(t).select(
        F.col("doc_id").alias("item_id"),
        F.floor(F.col("t") / 64).cast("long").alias("seg"),
        (F.col("t") % 64).alias("n"),
        (
            (
                (F.col("doc_id") * 31 + F.col("t") * F.col("t") * 7
                 + F.col("t") * 13) % 97
            ).cast("double")
            / F.lit(97.0)
            - F.lit(0.5)
        ).alias("v"),
    )
    return audio_fp_relational(
        smp, "item_id", "seg", "n", "v", rate=1024, seg_len=64
    )


@contract(
    "q_k7_phash",
    oracle=None,  # binary image payloads — rows-only check
    survey_rows="K7,K2",
    doc="image near-duplicate detection: documents rendered 16x16 "
    "grayscale (ids mod 3: PGM / zlib PNG / baseline JPEG q97 — the "
    "JPEG leg runs the real lossy T.81 decode, which pHash must "
    "absorb), each paired with a one-pixel-perturbed copy at "
    "id+100000; 64-bit DCT pHash per image (operators.imagehash."
    "phash_images, Arrow-batched mapInPandas over the pure-stdlib "
    "codecs), then 8-block pigeonhole Hamming join (phash_near_pairs) "
    "— candidates from equi-joins on 8-bit blocks, never all-pairs. "
    "Output pins signature count, candidate pairs, and how many "
    "recovered perturbed twins at Hamming <= 6",
)
def q_k7_phash(spark, sf_dir):
    import pandas as pd

    from jane_spark.operators.imagehash import phash_images, phash_near_pairs

    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )

    def to_img(batches):
        import numpy as np

        from jane_spark.sources.media_codecs import (
            encode_jpeg,
            encode_png,
            encode_ppm,
        )

        codecs = [
            (encode_ppm, "image/x-portable-graymap"),
            (encode_png, "image/png"),
            (lambda a: encode_jpeg(a, quality=97), "image/jpeg"),
        ]
        for pdf in batches:
            ids, payloads, types = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                arr = np.frombuffer(
                    text.encode("utf-8", "replace")[:256].ljust(256, b"\x00"),
                    np.uint8,
                ).reshape(16, 16)
                twin = arr.copy()
                twin[0, 0] ^= 1  # one-pixel perturbation
                enc, mt = codecs[doc_id % 3]
                for item_id, a in ((doc_id, arr), (doc_id + 100000, twin)):
                    ids.append(item_id)
                    payloads.append(enc(a))
                    types.append(mt)
            yield pd.DataFrame(
                {"item_id": ids, "payload": payloads, "media_type": types}
            )

    imgs = docs.mapInPandas(
        to_img, "item_id long, payload binary, media_type string"
    )
    sig = phash_images(imgs, "item_id", "payload")
    pairs = phash_near_pairs(sig, "item_id", max_hamming=6)
    return sig.agg(F.count(F.lit(1)).alias("n_sigs")).crossJoin(
        pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("id_b") - F.col("id_a") == 100000, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_twin_pairs"),
        )
    )


def _kmeans_oracle_sql(k: int = 8, iters: int = 5) -> str:
    """Unrolled-Lloyd DuckDB twin of kmeans_assign (r7: converts the
    contract from rows-only to oracle-backed). The iteration count is
    FIXED, so the loop unrolls into `iters` chained CTE pairs
    (assign_i, centroids_i) — seeding, squared-L2 argmin with ties to
    the smaller centroid id, per-dim mean rounded 9 dp (the same
    stabilisation the Spark side applies), empty clusters carrying
    the previous centroid."""
    ctes, dist = _kmeans_ctes(k, iters)
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT id AS vec_id, CAST(cid AS INT) AS cluster FROM (
            SELECT v.id, c.cid, row_number() OVER (
                PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn
            FROM v CROSS JOIN c{iters} c) WHERE rn = 1
    """
    )


def _kmeans_ctes(
    k: int,
    iters: int,
    suffix: str = "",
    vec_expr: str = "list_transform(embedding, x -> CAST(x AS DOUBLE))",
    src: str = "embeddings",
    id_expr: str = "vec_id",
) -> tuple[list[str], str]:
    """(CTE list, distance expression) for the unrolled Lloyd chain —
    shared by the k-means oracle, the portable-IVF oracle (which
    consumes the fitted ``c{iters}`` centroid table), the PQ oracle
    (one suffixed chain per subvector over a sliced ``vec_expr``) and
    the residual-PQ oracle (chains sourced from a residual CTE via
    ``src``/``id_expr``)."""
    dist = (
        "list_sum(list_transform(generate_series(1, len(v.v)), "
        "j -> (v.v[j] - c.cv[j]) * (v.v[j] - c.cv[j])))"
    )
    S = suffix
    ctes = [
        f"v{S} AS (SELECT {id_expr} AS id, {vec_expr} AS v FROM {src})",
        f"c0{S} AS (SELECT (row_number() OVER (ORDER BY id)) - 1 AS cid, "
        f"v AS cv FROM v{S} ORDER BY id LIMIT {k})",
    ]
    for i in range(iters):
        ctes.append(
            f"a{i}{S} AS (SELECT id, v, cid FROM ("
            f"SELECT v.id, v.v, c.cid, row_number() OVER ("
            f"PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM v{S} v CROSS JOIN c{i}{S} c) WHERE rn = 1)"
        )
        ctes.append(
            f"m{i}{S} AS (SELECT cid, list(m ORDER BY dim) AS cv FROM ("
            f"SELECT cid, dim, round(avg(val), 9) AS m FROM ("
            f"SELECT cid, generate_subscripts(v, 1) AS dim, "
            f"unnest(v) AS val FROM a{i}{S}) GROUP BY cid, dim) "
            f"GROUP BY cid)"
        )
        ctes.append(
            f"c{i + 1}{S} AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv "
            f"FROM c{i}{S} c LEFT JOIN m{i}{S} m ON c.cid = m.cid)"
        )
    return ctes, dist


def _pq_oracle_sql(
    dim: int = 64, m: int = 4, k: int = 4, iters: int = 2
) -> str:
    """PQ twin: one suffixed unrolled-Lloyd chain per subvector over
    the sliced embedding, final select joins the m per-subvector
    assignments into the code tuple."""
    sub_d = dim // m
    all_ctes: list[str] = []
    for s in range(m):
        lo, hi = s * sub_d + 1, (s + 1) * sub_d
        vexpr = (
            f"list_transform(embedding[{lo}:{hi}], "
            "x -> CAST(x AS DOUBLE))"
        )
        ctes, dist = _kmeans_ctes(k, iters, suffix=f"_s{s}", vec_expr=vexpr)
        all_ctes.extend(ctes)
        all_ctes.append(
            f"code_s{s} AS (SELECT id, CAST(cid AS INT) AS code FROM ("
            f"SELECT v.id, c.cid, row_number() OVER ("
            f"PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM v_s{s} v CROSS JOIN c{iters}_s{s} c) WHERE rn = 1)"
        )
    joins = " ".join(
        f"JOIN code_s{s} USING (id)" for s in range(1, m)
    )
    cols = ", ".join(f"code_s{s}.code AS code_{s}" for s in range(m))
    return (
        "WITH " + ",\n".join(all_ctes) + f"""
        SELECT id AS vec_id, {cols}
        FROM code_s0 {joins}
    """
    )


def _pq_adc_ctes(
    dim: int = 64,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    round_dp: int = 6,
    query_mod: int = 100,
) -> list[str]:
    """The shared CTE chain of the ADC oracles, ending in ``adc``
    (q_id, b_id, adc): m suffixed unrolled-Lloyd chains, codebook
    union, per-query 9 dp-rounded distance table, codes join, and the
    left-associated lookup sum rounded before any rank."""
    sub_d = dim // m
    all_ctes: list[str] = []
    for s in range(m):
        lo, hi = s * sub_d + 1, (s + 1) * sub_d
        vexpr = (
            f"list_transform(embedding[{lo}:{hi}], "
            "x -> CAST(x AS DOUBLE))"
        )
        ctes, dist = _kmeans_ctes(k, iters, suffix=f"_s{s}", vec_expr=vexpr)
        all_ctes.extend(ctes)
        all_ctes.append(
            f"code_s{s} AS (SELECT id, CAST(cid AS INT) AS code FROM ("
            f"SELECT v.id, c.cid, row_number() OVER ("
            f"PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM v_s{s} v CROSS JOIN c{iters}_s{s} c) WHERE rn = 1)"
        )
    cb_union = " UNION ALL ".join(
        f"SELECT {s} AS s, cid, cv FROM c{iters}_s{s}" for s in range(m)
    )
    all_ctes.append(f"cb AS ({cb_union})")
    all_ctes.append(
        "q AS (SELECT vec_id AS q_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv "
        f"FROM embeddings WHERE vec_id % {query_mod} = 0)"
    )
    all_ctes.append(
        "dt AS (SELECT q.q_id, cb.s, cb.cid, "
        f"round(list_sum(list_transform(generate_series(1, {sub_d}), "
        f"j -> (q.qv[cb.s * {sub_d} + j] - cb.cv[j]) * "
        f"(q.qv[cb.s * {sub_d} + j] - cb.cv[j]))), 9) AS d "
        "FROM q CROSS JOIN cb)"
    )
    code_joins = " ".join(f"JOIN code_s{s} USING (id)" for s in range(1, m))
    code_cols = ", ".join(f"code_s{s}.code AS c{s}" for s in range(m))
    all_ctes.append(
        f"codes AS (SELECT id AS vec_id, {code_cols} "
        f"FROM code_s0 {code_joins})"
    )
    dt_joins = " ".join(
        f"JOIN dt dt{s} ON dt{s}.q_id = q.q_id AND dt{s}.s = {s} "
        f"AND dt{s}.cid = codes.c{s}"
        for s in range(m)
    )
    sum_expr = " + ".join(f"dt{s}.d" for s in range(m))
    all_ctes.append(
        f"adc AS (SELECT q.q_id, codes.vec_id AS b_id, "
        f"round({sum_expr}, {round_dp}) AS adc "
        f"FROM q CROSS JOIN codes {dt_joins})"
    )
    return all_ctes


def _pq_adc_oracle_sql(
    dim: int = 64,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    k_top: int = 5,
    round_dp: int = 6,
    query_mod: int = 100,
) -> str:
    """ADC-search twin: the m suffixed unrolled-Lloyd chains from the
    PQ oracle (codebooks + per-vector codes), then the asymmetric
    read path — per-query m×k distance table (9 dp-pre-rounded,
    matching the Spark entries), per-item distance as the SAME
    left-associated 4-term sum, rounded before ranking, row_number
    top-k with the b_id tie-break."""
    all_ctes = _pq_adc_ctes(dim, m, k, iters, round_dp, query_mod)
    return (
        "WITH " + ",\n".join(all_ctes) + f"""
        SELECT q_id, b_id, adc FROM (
            SELECT q_id, b_id, adc, row_number() OVER (
                PARTITION BY q_id ORDER BY adc, b_id) AS rn FROM adc)
        WHERE rn <= {k_top}
    """
    )


def _pq_adc_rerank_oracle_sql(
    dim: int = 64,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    candidates: int = 20,
    k_top: int = 5,
    round_dp: int = 6,
    query_mod: int = 100,
) -> str:
    """ADC+R twin (Jégou et al. 2011 §5.2): the shared ADC chain
    shortlists ``candidates`` per query, then only the shortlist is
    re-ranked by exact squared-L2 over the full-dim vectors — the
    same 6 dp pre-round before the (dist, b_id) rank."""
    all_ctes = _pq_adc_ctes(dim, m, k, iters, round_dp, query_mod)
    all_ctes.append(
        "vall AS (SELECT vec_id AS id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings)"
    )
    all_ctes.append(
        f"short AS (SELECT q_id, b_id FROM ("
        f"SELECT q_id, b_id, row_number() OVER ("
        f"PARTITION BY q_id ORDER BY adc, b_id) AS rn FROM adc) "
        f"WHERE rn <= {candidates})"
    )
    all_ctes.append(
        "ex AS (SELECT s.q_id, s.b_id, "
        f"round(list_sum(list_transform(generate_series(1, {dim}), "
        "j -> (vq.v[j] - vb.v[j]) * (vq.v[j] - vb.v[j]))), "
        f"{round_dp}) AS dist "
        "FROM short s JOIN vall vq ON vq.id = s.q_id "
        "JOIN vall vb ON vb.id = s.b_id)"
    )
    return (
        "WITH " + ",\n".join(all_ctes) + f"""
        SELECT q_id, b_id, dist FROM (
            SELECT q_id, b_id, dist, row_number() OVER (
                PARTITION BY q_id ORDER BY dist, b_id) AS rn FROM ex)
        WHERE rn <= {k_top}
    """
    )


def _ivf_pq_oracle_sql(
    dim: int = 64,
    n_lists: int = 8,
    n_probe: int = 3,
    lloyd_iters: int = 5,
    m: int = 4,
    k: int = 4,
    pq_iters: int = 2,
    k_top: int = 5,
    round_dp: int = 6,
) -> str:
    """Composed IVF-PQ twin: the coarse-quantizer Lloyd chain + probe
    ranking from the portable-IVF oracle, the m suffixed PQ chains
    from the ADC oracle, candidates equi-joined on the list id, and
    the same lookup-sum-rank ADC arithmetic over the pruned set."""
    sub_d = dim // m
    coarse, _ = _kmeans_ctes(n_lists, lloyd_iters)
    all_ctes = list(coarse)
    all_ctes.append(
        f"sims AS (SELECT vv.id, c.cid, "
        f"round(list_cosine_similarity(vv.v, c.cv), 9) AS s "
        f"FROM v vv CROSS JOIN c{lloyd_iters} c)"
    )
    all_ctes.append(
        "rankedl AS (SELECT id, cid, row_number() OVER ("
        "PARTITION BY id ORDER BY s DESC, cid ASC) AS rn FROM sims)"
    )
    all_ctes.append(
        "corpus AS (SELECT id, cid AS list_id FROM rankedl WHERE rn = 1)"
    )
    all_ctes.append(
        f"probes AS (SELECT id, cid AS list_id FROM rankedl "
        f"WHERE rn <= {n_probe})"
    )
    for s in range(m):
        lo, hi = s * sub_d + 1, (s + 1) * sub_d
        vexpr = (
            f"list_transform(embedding[{lo}:{hi}], "
            "x -> CAST(x AS DOUBLE))"
        )
        ctes, dist = _kmeans_ctes(
            k, pq_iters, suffix=f"_s{s}", vec_expr=vexpr
        )
        all_ctes.extend(ctes)
        all_ctes.append(
            f"code_s{s} AS (SELECT id, CAST(cid AS INT) AS code FROM ("
            f"SELECT v.id, c.cid, row_number() OVER ("
            f"PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM v_s{s} v CROSS JOIN c{pq_iters}_s{s} c) WHERE rn = 1)"
        )
    cb_union = " UNION ALL ".join(
        f"SELECT {s} AS s, cid, cv FROM c{pq_iters}_s{s}"
        for s in range(m)
    )
    all_ctes.append(f"cb AS ({cb_union})")
    all_ctes.append(
        "dt AS (SELECT q.id AS q_id, cb.s, cb.cid, "
        f"round(list_sum(list_transform(generate_series(1, {sub_d}), "
        f"j -> (q.v[cb.s * {sub_d} + j] - cb.cv[j]) * "
        f"(q.v[cb.s * {sub_d} + j] - cb.cv[j]))), 9) AS d "
        "FROM v q CROSS JOIN cb)"
    )
    code_joins = " ".join(f"JOIN code_s{s} USING (id)" for s in range(1, m))
    code_cols = ", ".join(f"code_s{s}.code AS c{s}" for s in range(m))
    all_ctes.append(
        f"codes AS (SELECT id, {code_cols} FROM code_s0 {code_joins})"
    )
    all_ctes.append(
        "cand AS (SELECT p.id AS a_id, c.id AS b_id "
        "FROM probes p JOIN corpus c USING (list_id) "
        "WHERE p.id <> c.id)"
    )
    dt_joins = " ".join(
        f"JOIN dt dt{s} ON dt{s}.q_id = cand.a_id AND dt{s}.s = {s} "
        f"AND dt{s}.cid = codes.c{s}"
        for s in range(m)
    )
    sum_expr = " + ".join(f"dt{s}.d" for s in range(m))
    all_ctes.append(
        f"adc AS (SELECT cand.a_id, cand.b_id, "
        f"round({sum_expr}, {round_dp}) AS adc "
        f"FROM cand JOIN codes ON codes.id = cand.b_id {dt_joins})"
    )
    return (
        "WITH " + ",\n".join(all_ctes) + f"""
        SELECT a_id, b_id, adc FROM (
            SELECT a_id, b_id, adc, row_number() OVER (
                PARTITION BY a_id ORDER BY adc, b_id) AS rn FROM adc)
        WHERE rn <= {k_top}
    """
    )


@contract(
    "q_k23_ivf_pq",
    oracle=_ivf_pq_oracle_sql(),
    survey_rows="K23,K3",
    doc="the COMPOSED IVF-PQ search (Jégou et al. 2011 — the "
    "billion-vector architecture, closing the family): every vector "
    "self-queries, the coarse quantizer (the q_k3_ivf_portable Lloyd "
    "chain, 9 dp-pre-rounded cosine probe ranking) prunes candidates "
    "to the 3 nearest of 8 inverted lists via an equi-join on the "
    "list id, and the pruned set is ranked by ADC over the PQ codes "
    "(the q_k23_pq_adc lookup-sum-rank arithmetic) — full-dim corpus "
    "vectors touched by neither stage after training. "
    "operators/vector.ivf_pq_topk; the oracle composes the two "
    "proven CTE chains verbatim",
)
def q_k23_ivf_pq(spark, sf_dir):
    from jane_spark.operators.vector import ivf_pq_topk

    emb = Catalog(spark, sf_dir).embeddings
    return ivf_pq_topk(
        emb, "vec_id", "embedding", dim=64, n_lists=8, n_probe=3,
        lloyd_iters=5, m=4, k=4, pq_iters=2, k_top=5,
    )


def _ivf_pq_residual_oracle_sql(
    dim: int = 64,
    n_lists: int = 8,
    n_probe: int = 3,
    lloyd_iters: int = 5,
    m: int = 4,
    k: int = 4,
    pq_iters: int = 2,
    k_top: int = 5,
    round_dp: int = 6,
) -> str:
    """TRUE-IVFADC twin: the coarse chain + probe ranking verbatim
    from the IVF-PQ oracle, then a residual CTE (x − its list
    centroid), the m suffixed PQ Lloyd chains SOURCED FROM the
    residuals, per-(query, probed-list) ADC tables over the QUERY
    residual (q − c_list), and the lookup-sum-rank arithmetic keyed
    by (q_id, list_id)."""
    sub_d = dim // m
    coarse, _ = _kmeans_ctes(n_lists, lloyd_iters)
    all_ctes = list(coarse)
    all_ctes.append(
        f"sims AS (SELECT vv.id, c.cid, "
        f"round(list_cosine_similarity(vv.v, c.cv), 9) AS s "
        f"FROM v vv CROSS JOIN c{lloyd_iters} c)"
    )
    all_ctes.append(
        "rankedl AS (SELECT id, cid, row_number() OVER ("
        "PARTITION BY id ORDER BY s DESC, cid ASC) AS rn FROM sims)"
    )
    all_ctes.append(
        "corpus AS (SELECT id, cid AS list_id FROM rankedl WHERE rn = 1)"
    )
    all_ctes.append(
        f"probes AS (SELECT id, cid AS list_id FROM rankedl "
        f"WHERE rn <= {n_probe})"
    )
    all_ctes.append(
        f"res AS (SELECT vv.id, "
        f"list_transform(generate_series(1, {dim}), "
        f"j -> vv.v[j] - cl.cv[j]) AS rv "
        f"FROM v vv JOIN corpus co ON co.id = vv.id "
        f"JOIN c{lloyd_iters} cl ON cl.cid = co.list_id)"
    )
    for s in range(m):
        lo, hi = s * sub_d + 1, (s + 1) * sub_d
        ctes, dist = _kmeans_ctes(
            k, pq_iters, suffix=f"_s{s}", vec_expr=f"rv[{lo}:{hi}]",
            src="res", id_expr="id",
        )
        all_ctes.extend(ctes)
        all_ctes.append(
            f"code_s{s} AS (SELECT id, CAST(cid AS INT) AS code FROM ("
            f"SELECT v.id, c.cid, row_number() OVER ("
            f"PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM v_s{s} v CROSS JOIN c{pq_iters}_s{s} c) WHERE rn = 1)"
        )
    cb_union = " UNION ALL ".join(
        f"SELECT {s} AS s, cid, cv FROM c{pq_iters}_s{s}"
        for s in range(m)
    )
    all_ctes.append(f"cb AS ({cb_union})")
    all_ctes.append(
        f"dt AS (SELECT p.id AS q_id, p.list_id, cb.s, cb.cid, "
        f"round(list_sum(list_transform(generate_series(1, {sub_d}), "
        f"j -> ((q.v[cb.s * {sub_d} + j] - cl.cv[cb.s * {sub_d} + j]) "
        f"- cb.cv[j]) * "
        f"((q.v[cb.s * {sub_d} + j] - cl.cv[cb.s * {sub_d} + j]) "
        f"- cb.cv[j]))), 9) AS d "
        f"FROM probes p JOIN v q ON q.id = p.id "
        f"JOIN c{lloyd_iters} cl ON cl.cid = p.list_id "
        f"CROSS JOIN cb)"
    )
    code_joins = " ".join(f"JOIN code_s{s} USING (id)" for s in range(1, m))
    code_cols = ", ".join(f"code_s{s}.code AS c{s}" for s in range(m))
    all_ctes.append(
        f"codes AS (SELECT id, {code_cols} FROM code_s0 {code_joins})"
    )
    all_ctes.append(
        "cand AS (SELECT p.id AS a_id, p.list_id, c.id AS b_id "
        "FROM probes p JOIN corpus c USING (list_id) "
        "WHERE p.id <> c.id)"
    )
    dt_joins = " ".join(
        f"JOIN dt dt{s} ON dt{s}.q_id = cand.a_id "
        f"AND dt{s}.list_id = cand.list_id AND dt{s}.s = {s} "
        f"AND dt{s}.cid = codes.c{s}"
        for s in range(m)
    )
    sum_expr = " + ".join(f"dt{s}.d" for s in range(m))
    all_ctes.append(
        f"adc AS (SELECT cand.a_id, cand.b_id, "
        f"round({sum_expr}, {round_dp}) AS adc "
        f"FROM cand JOIN codes ON codes.id = cand.b_id {dt_joins})"
    )
    # MATERIALIZE every CTE: DuckDB inlines CTEs by default, and the
    # residual chains reference the res subtree (itself v + the full
    # coarse chain) from four suffixed Lloyd chains — inlining blows
    # the parquet scan count up exponentially (observed: fd
    # exhaustion at 20k open files). Materialization is purely
    # physical — results are identical — and makes each CTE compute
    # exactly once.
    all_ctes = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in all_ctes]
    return (
        "WITH " + ",\n".join(all_ctes) + f"""
        SELECT a_id, b_id, adc FROM (
            SELECT a_id, b_id, adc, row_number() OVER (
                PARTITION BY a_id ORDER BY adc, b_id) AS rn FROM adc)
        WHERE rn <= {k_top}
    """
    )


@contract(
    "q_k23_ivf_pq_residual",
    oracle=_ivf_pq_residual_oracle_sql(),
    survey_rows="K23,K3,K50",
    doc="TRUE IVFADC — RESIDUAL product quantization (Jégou, Douze & "
    "Schmid, TPAMI 2011 §IV: encode r(x) = x − c(list(x)), not x; "
    "VERDICT r14 next-step #2): q_k23_ivf_pq spends code entropy "
    "re-describing the region the coarse quantizer already paid "
    "for — here the PQ codebooks are trained on the residuals, so "
    "coarse and fine quantization compose multiplicatively at the "
    "same code size (residual recall > raw recall at equal m is "
    "pytest-pinned at m=2 AND m=4). The ADC table becomes "
    "per-(query, probed list) — entries round(||(q − c_l)_s − "
    "books[s][c]||², 9) — because a candidate's code is a residual "
    "against ITS list = the probed list; the lookup sum stays "
    "left-associated and 6 dp-rounded before the (adc, b_id) rank. "
    "operators/vector.ivf_pq_residual_topk; the oracle reuses the "
    "coarse Lloyd chain and sources the m PQ chains from a residual "
    "CTE (exact IEEE double subtraction on both engines)",
)
def q_k23_ivf_pq_residual(spark, sf_dir):
    from jane_spark.operators.vector import ivf_pq_residual_topk

    emb = Catalog(spark, sf_dir).embeddings
    return ivf_pq_residual_topk(
        emb, "vec_id", "embedding", dim=64, n_lists=8, n_probe=3,
        lloyd_iters=5, m=4, k=4, pq_iters=2, k_top=5,
    )


@contract(
    "q_k23_pq_adc",
    oracle=_pq_adc_oracle_sql(),
    survey_rows="K23,K3",
    doc="asymmetric-distance (ADC) top-k search over the PQ codes "
    "(Jégou et al. 2011 §4 — completes IVF-PQ as a SEARCH path, not "
    "just a memory layout): 5 query vectors (vec_id % 100 = 0) keep "
    "full precision and precompute a 4×4 table of 9 dp-rounded "
    "squared-L2 distances to every codebook centroid; each corpus "
    "item's distance is its 4 table lookups summed in fixed subvector "
    "order, rounded 6 dp BEFORE the (adc, b_id) rank — "
    "operators/vector.pq_adc_topk. The corpus's full-dim vectors are "
    "never touched after encoding. Oracle reuses the four suffixed "
    "unrolled-Lloyd chains and replays the same lookup-sum-rank "
    "arithmetic",
)
def q_k23_adc(spark, sf_dir):
    from jane_spark.operators.vector import pq_adc_topk

    emb = Catalog(spark, sf_dir).embeddings
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_adc_topk(
        emb, qs, "vec_id", "embedding", dim=64, m=4, k=4, iters=2,
        k_top=5, round_dp=6,
    )


@contract(
    "q_k23_adc_rerank",
    oracle=_pq_adc_rerank_oracle_sql(),
    survey_rows="K23,K3",
    doc="ADC with EXACT re-rank (Jégou et al. 2011 §5.2, 'IVFADC+R' — "
    "the standard recall recovery): the ADC chain shortlists 20 "
    "candidates per query from the codes alone, then ONLY the "
    "shortlist's full-dim vectors are fetched and re-ranked by exact "
    "squared-L2 (6 dp pre-round before the (dist, b_id) rank) — "
    "d-dim arithmetic on 20 rows per query instead of the corpus. "
    "operators/vector.pq_adc_rerank_topk; oracle = the shared ADC "
    "CTE chain + an exact-distance re-rank over the shortlist. The "
    "recall-recovery pytest pins rerank recall strictly above raw "
    "ADC recall on the m=4 fixture",
)
def q_k23_adc_rerank(spark, sf_dir):
    from jane_spark.operators.vector import pq_adc_rerank_topk

    emb = Catalog(spark, sf_dir).embeddings
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_adc_rerank_topk(
        emb, qs, "vec_id", "embedding", dim=64, m=4, k=4, iters=2,
        candidates=20, k_top=5, round_dp=6,
    )


@contract(
    "q_k23_pq_codes",
    oracle=_pq_oracle_sql(),
    survey_rows="K23,K3,K16",
    doc="product-quantization encoding (Jégou et al. 2011 — the "
    "IVF-PQ memory path completing the quantization family beside "
    "int8/binary/Matryoshka): 64-dim embeddings split into 4 "
    "subvectors, an independent deterministic Lloyd codebook per "
    "subvector (k-smallest-id seeding, 2 fixed iterations, ties to "
    "the smaller centroid — operators/vector.pq_encode over "
    "semdedup's kmeans), each vector emitted as its 4-code tuple. "
    "Oracle = four suffixed unrolled-Lloyd CTE chains over sliced "
    "embeddings joined into the tuple; codes are integers end to "
    "end, so the hash check is exact",
)
def q_k23_pq(spark, sf_dir):
    from jane_spark.operators.vector import pq_encode

    emb = Catalog(spark, sf_dir).embeddings
    return pq_encode(emb, "vec_id", "embedding", dim=64, m=4, k=4, iters=2)


@contract(
    "q_k16_kmeans",
    oracle=_kmeans_oracle_sql(),
    survey_rows="K3,K8",
    doc="deterministic k-means assignment over the "
    "embedding column (operators.semdedup.kmeans_assign): centroids "
    "seeded from the k smallest ids, 5 fixed Lloyd's iterations, "
    "ties toward the smaller centroid id — the loop runs in one Arrow "
    "task when the vectors fit one (engine.onetask), else as one "
    "k-by-d-keyed shuffle per iteration against k-by-d centroid "
    "literals; the assignment is one SQL projection against the "
    "fitted centroids; "
    "oracle = the Lloyd loop UNROLLED into chained SQL CTEs (fixed "
    "iteration count makes it one-shot-expressible after all, r7); "
    "byte-identical across runs and partitionings (pytest pins the "
    "assignment against a NumPy twin)",
)
def q_k16_kmeans(spark, sf_dir):
    from jane_spark.operators.semdedup import kmeans_assign

    emb = Catalog(spark, sf_dir).embeddings
    return kmeans_assign(emb, "vec_id", "embedding", k=8, iters=5)


# ---------------------------------------------------------- URL curation

# Deterministic URL synthesis shared by the two URL contracts: the
# Spark side builds ONE raw url string per document and pushes it
# through the real parse/normalize chain (functions/urls.py); the
# ORACLE side never parses — it computes the expected outputs directly
# from the same arithmetic parts, so the two derivations are
# independent (construction vs parse), the strongest twin available.
_URL_PARTS_SQL = """
    SELECT doc_id, n_chars, text,
           concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'HtTPs' END,
                  '://',
                  CASE WHEN doc_id % 5 = 0 THEN 'bob@' ELSE 'WWW.' END,
                  'Site', CAST(doc_id % 20 AS VARCHAR), '.',
                  CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                                  WHEN 2 THEN 'org' ELSE 'com.au' END,
                  CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':8080'
                                  ELSE '' END,
                  CASE WHEN doc_id % 7 = 0 THEN ''
                       ELSE concat('/p/', CAST(doc_id AS VARCHAR)) END,
                  '?utm_source=x&b=', CAST(doc_id % 3 AS VARCHAR), '&a=1',
                  '#sec', CAST(doc_id % 2 AS VARCHAR)) AS url,
           concat(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END,
                  '://',
                  CASE WHEN doc_id % 5 = 0 THEN '' ELSE 'www.' END,
                  'site', CAST(doc_id % 20 AS VARCHAR), '.',
                  CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                                  WHEN 2 THEN 'org' ELSE 'com.au' END,
                  CASE WHEN doc_id % 3 = 1 THEN ':8080'
                       WHEN doc_id % 3 = 0 AND doc_id % 2 = 1 THEN ':80'
                       ELSE '' END,
                  CASE WHEN doc_id % 7 = 0 THEN '/'
                       ELSE concat('/p/', CAST(doc_id AS VARCHAR)) END,
                  '?a=1&b=', CAST(doc_id % 3 AS VARCHAR)) AS expect_norm,
           concat('site', CAST(doc_id % 20 AS VARCHAR), '.',
                  CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                                  WHEN 2 THEN 'org' ELSE 'com.au' END)
               AS expect_domain
    FROM documents
"""


def _synth_urls(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("HtTPs")),
        F.lit("://"),
        F.when(did % 5 == 0, F.lit("bob@")).otherwise(F.lit("WWW.")),
        F.lit("Site"), (did % 20).cast("string"), F.lit("."),
        F.when(did % 4 == 0, F.lit("com"))
        .when(did % 4 == 1, F.lit("co.uk"))
        .when(did % 4 == 2, F.lit("org"))
        .otherwise(F.lit("com.au")),
        F.when(did % 3 == 0, F.lit(":80"))
        .when(did % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p/"), did.cast("string"))
        ),
        F.lit("?utm_source=x&b="), (did % 3).cast("string"), F.lit("&a=1"),
        F.lit("#sec"), (did % 2).cast("string"),
    )
    return docs.select("doc_id", "n_chars", "text", url.alias("url"))


@contract(
    "q_t22_urlnorm",
    oracle=f"WITH parts AS ({_URL_PARTS_SQL}) "
    "SELECT doc_id, expect_norm AS norm, expect_domain AS domain "
    "FROM parts",
    survey_rows="T22",
    doc="URL normalization for web-corpus dedup keys "
    "(functions/urls.url_normalize): lowercase scheme/host, userinfo "
    "and fragment dropped, default ports dropped (https:80 kept!), "
    "empty path -> '/', tracking params stripped + query sorted, and "
    "registrable domain via the 2-level-suffix heuristic. The oracle "
    "CONSTRUCTS the expected canonical form arithmetically — the "
    "Spark side must PARSE its way to the same bytes",
)
def q_t22(spark, sf_dir):
    from jane_spark.functions.urls import with_normalized_url

    u = _synth_urls(spark, sf_dir)
    return with_normalized_url(u, "url").select("doc_id", "norm", "domain")


# blocklist + best-3-per-domain fragment, shared with the q_p11
# composed-pipeline oracle (expects a `parts` CTE in scope; one edit
# point for the cap semantics)
_URL_UNBLOCKED_CAPPED_SQL = """
    unblocked AS (SELECT * FROM parts
                  WHERE expect_domain NOT IN ('site0.com', 'site1.co.uk')),
    capped AS (SELECT * FROM (
                   SELECT *, row_number() OVER (
                       PARTITION BY expect_domain
                       ORDER BY n_chars DESC, doc_id ASC) AS rn
                   FROM unblocked)
               WHERE rn <= 3)
"""


@contract(
    "q_t23_domaincap",
    oracle=f"WITH parts AS ({_URL_PARTS_SQL}), {_URL_UNBLOCKED_CAPPED_SQL} "
    "SELECT doc_id, expect_domain AS domain FROM capped",
    survey_rows="T23,F3",
    doc="per-domain document cap + domain blocklist (the RefinedWeb "
    "anti-viral-domain stage): blocklist filter, then keep the best 3 "
    "docs per registrable domain (longest first, id tie-break) — one "
    "shuffle on the domain key; salted top-k is the skew path",
)
def q_t23(spark, sf_dir):
    from jane_spark.functions.urls import domain_blocklist_filter, domain_cap

    u = _synth_urls(spark, sf_dir)
    kept = domain_blocklist_filter(u, "url", ["site0.com", "site1.co.uk"])
    capped = domain_cap(
        kept.drop("domain"),
        "url",
        3,
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
    )
    return capped.select("doc_id", "domain")


# PSL fixture for q_t27: a publicsuffix.org-format data file covering
# every rule kind — plain rules at 1/2/3 labels, a wildcard, an
# exception — so the full matching algorithm is oracle-exercised.
PSL_FIXTURE = """
// q_t27 fixture — publicsuffix.org/list format
// ===BEGIN ICANN DOMAINS===
com
uk
co.uk
gov.uk
us
ma.us
k12.ma.us
ck
*.ck
!www.ck
// ===END ICANN DOMAINS===
"""


@contract(
    "q_t27_psl_domain",
    oracle="""
        SELECT doc_id,
               concat(CASE doc_id % 8
                      WHEN 0 THEN concat('www.site', CAST(doc_id AS VARCHAR), '.com')
                      WHEN 1 THEN concat('a.b.site', CAST(doc_id AS VARCHAR), '.gov.uk')
                      WHEN 2 THEN concat('x', CAST(doc_id AS VARCHAR), '.k12.ma.us')
                      WHEN 3 THEN concat('a', CAST(doc_id AS VARCHAR), '.b.ck')
                      WHEN 4 THEN 'www.ck'
                      WHEN 5 THEN 'co.uk'
                      WHEN 6 THEN concat('deep.sub.site', CAST(doc_id AS VARCHAR), '.co.uk')
                      ELSE concat('site', CAST(doc_id AS VARCHAR), '.unknowntld')
                      END, '') AS host,
               concat(CASE doc_id % 8
                      WHEN 0 THEN concat('site', CAST(doc_id AS VARCHAR), '.com')
                      WHEN 1 THEN concat('site', CAST(doc_id AS VARCHAR), '.gov.uk')
                      WHEN 2 THEN concat('x', CAST(doc_id AS VARCHAR), '.k12.ma.us')
                      WHEN 3 THEN concat('a', CAST(doc_id AS VARCHAR), '.b.ck')
                      WHEN 4 THEN 'www.ck'
                      WHEN 5 THEN 'co.uk'
                      WHEN 6 THEN concat('site', CAST(doc_id AS VARCHAR), '.co.uk')
                      ELSE concat('site', CAST(doc_id AS VARCHAR), '.unknowntld')
                      END, '') AS domain
        FROM documents
    """,
    survey_rows="T22,T23",
    doc="registrable domain under a Public Suffix List DATA FILE "
    "(functions/urls.parse_psl + registrable_domain_psl) — the exact "
    "publicsuffix.org algorithm: exception rules prevail, else the "
    "most-label rule, '*' matches one label, implicit '*' default; "
    "suffix-only hosts return unchanged. The rule set partitions into "
    "per-depth InSet probes, so the full ~10k-rule PSL is still a "
    "zero-shuffle codegen projection. The oracle CONSTRUCTS the "
    "expected domain per case; the Spark side must MATCH its way "
    "there through the rule table",
)
def q_t27(spark, sf_dir):
    from jane_spark.functions.urls import parse_psl, registrable_domain_psl

    docs = Catalog(spark, sf_dir).documents
    did = F.col("doc_id")
    ds = did.cast("string")
    m = did % 8
    host = (
        F.when(m == 0, F.concat(F.lit("www.site"), ds, F.lit(".com")))
        .when(m == 1, F.concat(F.lit("a.b.site"), ds, F.lit(".gov.uk")))
        .when(m == 2, F.concat(F.lit("x"), ds, F.lit(".k12.ma.us")))
        .when(m == 3, F.concat(F.lit("a"), ds, F.lit(".b.ck")))
        .when(m == 4, F.lit("www.ck"))
        .when(m == 5, F.lit("co.uk"))
        .when(m == 6, F.concat(F.lit("deep.sub.site"), ds, F.lit(".co.uk")))
        .otherwise(F.concat(F.lit("site"), ds, F.lit(".unknowntld")))
    )
    rules = parse_psl(PSL_FIXTURE)
    return docs.select(
        "doc_id",
        host.alias("host"),
        registrable_domain_psl(host, rules).alias("domain"),
    )


# ------------------------------------------------------------ BPE (K22)


@contract(
    "q_k22_bpe_pairs",
    oracle="""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                   FROM documents),
        wc AS (SELECT word, count(*) AS n FROM w
               WHERE word <> '' GROUP BY word),
        sy AS (SELECT n,
                      list_concat(ch[1:len(ch)-1],
                                  [ch[-1] || '</w>']) AS syms
               FROM (SELECT n, string_split(word, '') AS ch FROM wc)),
        pr AS (SELECT n, unnest(list_transform(
                   generate_series(1, len(syms) - 1),
                   i -> struct_pack(l := syms[i], r := syms[i+1]))) AS p
               FROM sy)
        SELECT p.l AS left_sym, p.r AS right_sym,
               CAST(sum(n) AS BIGINT) AS cnt
        FROM pr GROUP BY p.l, p.r
        ORDER BY cnt DESC, left_sym ASC, right_sym ASC
        LIMIT 50
    """,
    survey_rows="K22",
    doc="BPE training statistics, iteration 1: adjacent-symbol pair "
    "counts over the word-TYPE table (chars + </w> marker) — the "
    "corpus is touched once (one explode + one groupBy), every merge "
    "iteration then runs on the vocabulary-sized table "
    "(operators/bpe.py); top-50 pairs, (count, pair) tie-broken",
)
def q_k22_pairs(spark, sf_dir):
    from jane_spark.operators.bpe import (
        _adjacent_pairs,
        _initial_symbols,
        word_counts,
    )

    docs = Catalog(spark, sf_dir).documents
    vocab = word_counts(docs).select(
        _initial_symbols(F.col("word")).alias("syms"), "n"
    )
    return (
        vocab.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "n")
        .groupBy(
            F.col("p.left").alias("left_sym"), F.col("p.right").alias("right_sym")
        )
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("left_sym").asc(), F.col("right_sym").asc())
        .limit(50)
    )


def _bpe_oracle_ctes(n_merges: int = 8) -> list[str]:
    """Shared CTE chain for the unrolled BPE-training DuckDB twin (r7,
    the q_k16_kmeans/q_k21 precedent). The greedy left-to-right merge
    fold has a CLOSED FORM the oracle derives independently of the
    Spark fold: for a merge (a, b) with a != b two adjacent positions
    can never both match, so every match merges; for a == b matches
    come in runs and greedy picks alternate positions from each run's
    start — `(j - last_non_match) % 2 = 1` selects exactly those.
    MATERIALIZED throughout (the v_i -> v_{i+1} chain would inline
    exponentially)."""
    merge_select = """
  SELECT word, n, CASE WHEN len(syms) < 2 THEN syms ELSE
    flatten(list_transform(generate_series(1, len(syms)), j ->
      CASE
        WHEN j > 1 AND mm[j - 1] THEN []
        WHEN j < len(syms) AND mm[j] THEN [a || b]
        ELSE [syms[j]]
      END))
  END AS syms
  FROM (
    SELECT word, n, syms, a, b,
      list_transform(generate_series(1, greatest(len(syms) - 1, 0)), j ->
        syms[j] = a AND syms[j + 1] = b AND
        ((j - coalesce(list_max(list_filter(generate_series(1, j - 1),
             i2 -> NOT (syms[i2] = a AND syms[i2 + 1] = b))), 0)) % 2 = 1)
      ) AS mm
    FROM v{i} CROSS JOIN (SELECT l AS a, r AS b FROM m{i})
  )"""
    ctes = [
        "bwc AS MATERIALIZED (SELECT word, count(*) AS n FROM ("
        "SELECT unnest(string_split(text, ' ')) AS word FROM documents) "
        "WHERE word <> '' GROUP BY word)",
        "v0 AS MATERIALIZED (SELECT word, n, "
        "list_concat(ch[1:len(ch) - 1], [ch[-1] || '</w>']) AS syms "
        "FROM (SELECT word, n, string_split(word, '') AS ch FROM bwc))",
    ]
    for i in range(n_merges):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT p.l AS l, p.r AS r, "
            f"sum(n) AS cnt FROM ("
            f"SELECT n, unnest(list_transform("
            f"generate_series(1, len(syms) - 1), "
            f"j -> struct_pack(l := syms[j], r := syms[j + 1]))) AS p "
            f"FROM v{i}) GROUP BY p.l, p.r "
            f"ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"
        )
        ctes.append(
            f"v{i + 1} AS MATERIALIZED ("
            + merge_select.format(i=i)
            + ")"
        )
    return ctes


def _bpe_train_oracle(n_merges: int = 8) -> str:
    ranks = " UNION ALL ".join(
        f"SELECT {i} AS rank, l AS left, r AS right, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM m{i}"
        for i in range(n_merges)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_oracle_ctes(n_merges))
        + f" SELECT CAST(rank AS INT) AS rank, \"left\", \"right\", "
        f"pair_count FROM ({ranks})"
    )


def _bpe_encode_oracle(n_merges: int = 8) -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_oracle_ctes(n_merges))
        + f""",
        enc AS MATERIALIZED (SELECT word, len(syms) AS n_word_tokens
                             FROM v{n_merges}),
        ew AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents)
        SELECT ew.doc_id, CAST(sum(enc.n_word_tokens) AS BIGINT)
               AS n_bpe_tokens
        FROM ew JOIN enc USING (word)
        WHERE ew.word <> ''
        GROUP BY ew.doc_id
    """
    )


#: Fixed WordPiece vocabulary for q_k25: the corpus alphabet as both
#: word-initial and '##' continuation pieces (every word tokenizes —
#: UNKs would hide greedy-match bugs behind a constant) plus
#: multi-char pieces that exercise longest-match-first.
WORDPIECE_VOCAB = tuple(
    [c for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    + ["##" + c for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    + ["th", "##he", "##er", "##ing", "##ed", "an", "##nd", "re",
       "##es", "on", "##on", "##at", "in", "##in"]
)


def _wordpiece_oracle(vocab: tuple) -> str:
    """Recursive-CTE twin of operators.bpe.wordpiece_encode (the FFD
    state-machine precedent): each recursion step consumes the longest
    matching piece; words whose recursion dies mid-way count as one
    [UNK] token. Independent derivation: the Spark side folds with an
    expression chain, the oracle walks a recursion. Raw max piece
    length (not len-2 for '##' pieces) so the pos=1 probe reaches a
    full '##xyz' literal — BERT's start=0 semantics, shared with
    wordpiece_encode."""
    max_l = max(len(t) for t in vocab)
    inlist = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(vocab))
    chain = "CASE "
    for l in range(max_l, 0, -1):
        chain += (
            f"WHEN pos + {l} - 1 <= length(word) AND "
            f"(CASE WHEN pos = 1 THEN substr(word, pos, {l}) "
            f"ELSE '##' || substr(word, pos, {l}) END) IN ({inlist}) "
            f"THEN (CASE WHEN pos = 1 THEN substr(word, pos, {l}) "
            f"ELSE '##' || substr(word, pos, {l}) END) "
        )
    chain += "END"
    return f"""
        WITH RECURSIVE
        wc AS MATERIALIZED (SELECT DISTINCT word FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> ''),
        r(word, pos, n_toks) AS (
            SELECT word, 1, 0 FROM wc
            UNION ALL
            SELECT word,
                   pos + length(tok)
                       - CASE WHEN pos > 1 THEN 2 ELSE 0 END,
                   n_toks + 1
            FROM (SELECT word, pos, n_toks, {chain} AS tok
                  FROM r WHERE pos <= length(word))
            WHERE tok IS NOT NULL),
        fin AS (SELECT word, max(pos) AS max_pos,
                       max_by(n_toks, pos) AS n_toks
                FROM r GROUP BY word),
        enc AS (SELECT word,
                       CASE WHEN max_pos > length(word) THEN n_toks
                            ELSE 1 END AS n_wp
                FROM fin),
        ew AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents)
        SELECT ew.doc_id, CAST(sum(enc.n_wp) AS BIGINT) AS n_wp_tokens
        FROM ew JOIN enc USING (word)
        WHERE ew.word <> ''
        GROUP BY ew.doc_id
    """


@contract(
    "q_k25_wordpiece",
    oracle=_wordpiece_oracle(WORDPIECE_VOCAB),
    survey_rows="K25,K22,K4",
    doc="WordPiece encoding (BERT's greedy longest-match-first, "
    "Devlin et al. 2019 — the other dominant subword scheme beside "
    "BPE): per-document piece counts under a fixed vocabulary of "
    "alphabet + continuation pieces + multi-char pieces that exercise "
    "longest-match greediness (operators.bpe.wordpiece_encode over "
    "the word-TYPE table, equi-joined back — repeated words never "
    "re-encode). The Spark side is ONE zero-shuffle fold whose "
    "expression is O(max piece length); the oracle walks a recursive "
    "CTE — two independent derivations of the same greedy automaton",
)
def q_k25(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    from jane_spark.operators.bpe import wordpiece_encode

    exploded = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    enc = wordpiece_encode(
        exploded.select("word").distinct(), list(WORDPIECE_VOCAB)
    ).select("word", F.size("tokens").alias("n_wp"))
    return (
        exploded.join(enc, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_wp").alias("n_wp_tokens"))
    )


#: Fixed Unigram-LM vocabulary for q_k26: every letter (so the DP is
#: total over the corpus alphabet) + multi-char pieces whose INTEGER
#: scores (centi-nat log-probs) force non-greedy Viterbi choices —
#: e.g. 'batch' → ba+tch (-150) beats the greedy longest-first bat+ch
#: (-165), while 'order' keeps the whole-word piece (-160 vs -165).
UNIGRAM_VOCAB: dict[str, int] = {
    **{c: -60 for c in "abcdefghijklmnopqrstuvwxyz"},
    "me": -80, "mer": -100, "merge": -150,
    "ta": -80, "ble": -90, "table": -140,
    "an": -70, "sc": -85, "scan": -130,
    "spark": -160, "park": -120,
    "er": -65, "ge": -70, "or": -70, "der": -95, "order": -160,
    "ba": -70, "tch": -80, "bat": -90, "ch": -75,
    "win": -90, "dow": -95, "row": -110,
    "que": -100, "ry": -75, "data": -120, "val": -95, "ue": -70,
    "fil": -90, "ter": -85, "cus": -95, "tom": -90,
    "lin": -85, "ne": -65, "so": -70, "rt": -70,
    "key": -110, "hash": -140, "join": -145, "agg": -115,
    "the": -95, "fast": -140, "slow": -135, "small": -155, "big": -105,
    "str": -90, "eam": -95, "dup": -110, "gro": -95, "up": -70,
    "vec": -95, "tor": -90, "col": -90, "umn": -95, "part": -125,
}


def _unigram_dp_cte(vocab: dict[str, int], unk: int = -1000) -> str:
    """Shared recursive-CTE Viterbi body (wc + r): the DP state is
    (scores, cnts, bps) lists grown one position per recursion step;
    each step's argmax over piece lengths packs (score, tie) into ONE
    integer key — key = (prev + piece_score) * 64 + (L - l) — so
    list_aggregate 'max' reproduces Spark's (score desc, len asc)
    tie-break exactly in integer arithmetic (no float anywhere)."""
    max_l = max(len(p) for p in vocab)
    case = (
        "CASE substr(word, pos + 2 - l, CAST(l AS INTEGER)) "
        + " ".join(
            f"WHEN '{p}' THEN {s}" for p, s in sorted(vocab.items())
        )
        + " END"
    )
    sc = f"CASE WHEN l = 1 THEN coalesce({case}, {unk}) ELSE {case} END"
    cand = (
        f"CASE WHEN pos + 1 >= l AND ({sc}) IS NOT NULL THEN "
        f"(scores[CAST(pos + 2 - l AS INTEGER)] + ({sc})) * 64 "
        f"+ ({max_l} - l) END"
    )
    return f"""
        wc AS MATERIALIZED (SELECT DISTINCT word FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> ''),
        r(word, pos, scores, cnts, bps) AS (
            SELECT word, 0, [CAST(0 AS BIGINT)], [0], [0] FROM wc
            UNION ALL
            SELECT word, pos + 1,
                   list_append(scores, (best - pm) // 64),
                   list_append(
                       cnts,
                       cnts[CAST(pos + 2 - ({max_l} - pm) AS INTEGER)] + 1),
                   list_append(bps, CAST({max_l} - pm AS INTEGER))
            FROM (
                SELECT word, pos, scores, cnts, bps, best,
                       (best % 64 + 64) % 64 AS pm
                FROM (
                    SELECT word, pos, scores, cnts, bps,
                           list_aggregate(
                               list_filter(
                                   list_transform(range(1, {max_l + 1}),
                                                  l -> {cand}),
                                   x -> x IS NOT NULL),
                               'max') AS best
                    FROM r WHERE pos < length(word))))"""


def _unigram_oracle(vocab: dict[str, int], unk: int = -1000) -> str:
    """Per-doc Viterbi token counts + total scores over the shared DP
    CTE (_unigram_dp_cte)."""
    return f"""
        WITH RECURSIVE
        {_unigram_dp_cte(vocab, unk)},
        fin AS (SELECT word,
                       scores[length(word) + 1] AS wscore,
                       cnts[length(word) + 1] AS wtok
                FROM r WHERE pos = length(word)),
        ew AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents)
        SELECT ew.doc_id,
               CAST(sum(fin.wtok) AS BIGINT) AS n_tokens,
               CAST(sum(fin.wscore) AS BIGINT) AS total_score
        FROM ew JOIN fin USING (word)
        WHERE ew.word <> ''
        GROUP BY ew.doc_id
    """


def _unigram_estep_oracle(vocab: dict[str, int], unk: int = -1000) -> str:
    """Unigram hard-EM E-step twin: walk the DP backpointers into the
    token list per word (second recursion — the wordpiece-walk
    precedent), then sum corpus piece counts weighted by word
    frequency. All integers end to end."""
    return f"""
        WITH RECURSIVE
        {_unigram_dp_cte(vocab, unk)},
        fin AS (SELECT word, bps FROM r WHERE pos = length(word)),
        walk(word, pos, bps, toks) AS (
            SELECT word, length(word), bps, CAST([] AS VARCHAR[])
            FROM fin
            UNION ALL
            SELECT word, pos - l, bps,
                   list_prepend(
                       substr(word, pos - l + 1, CAST(l AS INTEGER)), toks)
            FROM (SELECT word, pos, bps, toks,
                         bps[CAST(pos + 1 AS INTEGER)] AS l
                  FROM walk WHERE pos > 0)),
        tok AS (SELECT word, unnest(toks) AS piece
                FROM walk WHERE pos = 0),
        wn AS (SELECT word, count(*) AS n FROM (
                   SELECT unnest(string_split(text, ' ')) AS word
                   FROM documents)
               WHERE word <> '' GROUP BY word)
        SELECT tok.piece,
               CAST(sum(wn.n) AS BIGINT) AS cnt
        FROM tok JOIN wn USING (word)
        GROUP BY tok.piece
    """


@contract(
    "q_k26_unigram",
    oracle=_unigram_oracle(UNIGRAM_VOCAB),
    survey_rows="K26,K22,K4",
    doc="Unigram-LM tokenization (Kudo 2018 — the SentencePiece "
    "default, completing the subword family beside BPE and WordPiece): "
    "Viterbi-optimal segmentation under integer piece scores "
    "(operators/bpe.unigram_encode — one zero-shuffle DP fold per "
    "word, O(max piece length) expression; word-TYPE table equi-joined "
    "back so repeated words never re-encode). Per-doc token counts + "
    "total scores; the oracle walks the same DP as a recursive CTE "
    "with (score, tie) packed into one integer key — two independent "
    "derivations of the same argmax, no float boundary anywhere",
)
def q_k26(spark, sf_dir):
    from jane_spark.operators.bpe import unigram_encode

    docs = Catalog(spark, sf_dir).documents
    exploded = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    enc = unigram_encode(
        exploded.select("word").distinct(), UNIGRAM_VOCAB
    ).select("word", "n_tokens", "score")
    return (
        exploded.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("score").alias("total_score"),
        )
    )


@contract(
    "q_k26_unigram_estep",
    oracle=_unigram_estep_oracle(UNIGRAM_VOCAB),
    survey_rows="K26,K22",
    doc="Unigram-LM training E-step (Kudo 2018, hard-EM/Viterbi "
    "counts): per-piece corpus usage counts under the optimal "
    "segmentation — the statistic the M-step renormalizes and pruning "
    "ranks by (operators/bpe.unigram_piece_counts: ONE corpus shuffle "
    "for word types, DP per word TYPE, frequency-weighted piece "
    "explosion). Oracle = the same DP as a recursive CTE plus a "
    "backpointer-walk recursion emitting the token lists — integers "
    "end to end, so the E-step statistics are hash-checked exactly",
)
def q_k26_estep(spark, sf_dir):
    from jane_spark.operators.bpe import unigram_piece_counts

    docs = Catalog(spark, sf_dir).documents
    return unigram_piece_counts(docs, UNIGRAM_VOCAB)


def _unigram_dp_iter(idx: int, vm: str, max_l: int = 4) -> str:
    """One Viterbi-DP + backpointer-walk + piece-count round against
    the score map CTE ``vm`` (the table-driven twin of
    _unigram_dp_cte's literal CASE)."""
    look = (
        f"{vm}.m[substr(word, CAST(pos + 2 - l AS INTEGER), "
        f"CAST(l AS INTEGER))][1]"
    )
    cand = (
        f"CASE WHEN pos + 1 >= l AND {look} IS NOT NULL THEN "
        f"(scores[CAST(pos + 2 - l AS INTEGER)] + {look}) * 64 "
        f"+ ({max_l} - l) END"
    )
    return f"""
        r{idx}(word, pos, scores, bps) AS (
            SELECT word, 0, [CAST(0 AS BIGINT)], [0] FROM wc
            UNION ALL
            SELECT word, pos + 1,
                   list_append(scores, (best - pm) // 64),
                   list_append(bps, CAST({max_l} - pm AS INTEGER))
            FROM (
                SELECT word, pos, scores, bps, best,
                       (best % 64 + 64) % 64 AS pm
                FROM (
                    SELECT word, pos, scores, bps,
                           list_aggregate(
                               list_filter(
                                   list_transform(range(1, {max_l + 1}),
                                                  l -> {cand}),
                                   x -> x IS NOT NULL),
                               'max') AS best
                    FROM r{idx}, {vm} WHERE pos < length(word)))),
        walk{idx}(word, pos, bps, toks) AS (
            SELECT word, length(word), bps, CAST([] AS VARCHAR[])
            FROM r{idx} WHERE pos = length(word)
            UNION ALL
            SELECT word, pos - l, bps,
                   list_prepend(
                       substr(word, pos - l + 1, CAST(l AS INTEGER)), toks)
            FROM (SELECT word, pos, bps, toks,
                         bps[CAST(pos + 1 AS INTEGER)] AS l
                  FROM walk{idx} WHERE pos > 0)),
        counts{idx} AS (
            SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM (
                SELECT word, unnest(toks) AS piece
                FROM walk{idx} WHERE pos = 0) t
            JOIN wc USING (word) GROUP BY piece),
        m{idx} AS (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt ASC, piece ASC) AS rn,
                   count(*) OVER () AS n_multis
            FROM counts{idx} WHERE length(piece) > 1),
        vc{idx} AS (
            SELECT piece, cnt FROM counts{idx} WHERE length(piece) = 1
            UNION ALL
            SELECT piece, cnt FROM m{idx}
            WHERE rn > CAST(floor(n_multis * 0.2) AS BIGINT)
            UNION ALL
            SELECT s.piece, CAST(0 AS BIGINT) FROM singles s
            WHERE s.piece NOT IN (SELECT piece FROM counts{idx}
                                  WHERE length(piece) = 1))"""


def _unigram_score_map(idx: int, src: str, clamp: bool) -> str:
    c = "greatest(cnt, 1)" if clamp else "cnt"
    return f"""
        v{idx} AS (
            SELECT piece,
                   CAST(round(round(100.0 * ln(
                       CAST({c} AS DOUBLE) /
                       (SELECT CAST(sum({c}) AS DOUBLE) FROM {src})),
                       9)) AS BIGINT) AS score
            FROM {src}),
        vm{idx} AS (
            SELECT map(list(piece ORDER BY piece),
                       list(score ORDER BY piece)) AS m
            FROM v{idx})"""


def _unigram_train_oracle(seed_size: int = 40, max_piece_len: int = 4) -> str:
    return f"""
        WITH RECURSIVE
        wc AS MATERIALIZED (
            SELECT word, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)
            WHERE word <> '' GROUP BY word),
        pieces AS (
            SELECT unnest(list_filter(flatten(list_transform(
                       range(1, length(word) + 1),
                       i -> list_transform(range(1, {max_piece_len} + 1),
                            l -> CASE WHEN i + l - 1 <= length(word)
                                 THEN substr(word, CAST(i AS INTEGER),
                                             CAST(l AS INTEGER)) END))),
                   x -> x IS NOT NULL)) AS piece, n
            FROM wc),
        pc AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
               FROM pieces GROUP BY piece),
        singles AS (SELECT piece, cnt FROM pc WHERE length(piece) = 1),
        seed AS (
            SELECT piece, cnt FROM singles
            UNION ALL
            SELECT piece, cnt FROM (
                SELECT piece, cnt FROM pc WHERE length(piece) > 1
                ORDER BY cnt DESC, piece ASC LIMIT {seed_size})),
        {_unigram_score_map(0, "seed", clamp=False)},
        {_unigram_dp_iter(1, "vm0", max_piece_len)},
        {_unigram_score_map(1, "vc1", clamp=True)},
        {_unigram_dp_iter(2, "vm1", max_piece_len)}
        SELECT vc2.piece,
               CAST(round(round(100.0 * ln(
                   CAST(greatest(vc2.cnt, 1) AS DOUBLE) /
                   (SELECT CAST(sum(greatest(cnt, 1)) AS DOUBLE)
                    FROM vc2)), 9)) AS INTEGER) AS score,
               CAST(vc2.cnt AS BIGINT) AS cnt
        FROM vc2
    """


@contract(
    "q_k26_unigram_train",
    oracle=_unigram_train_oracle(seed_size=40),
    survey_rows="K26,K22",
    doc="full Unigram-LM tokenizer training (Kudo 2018, hard-EM): "
    "substring-frequency seed vocabulary (top-N multi-char pieces + "
    "the whole alphabet), then per round Viterbi-segment the word-TYPE "
    "table under integer centi-nat scores, count piece usage "
    "(operators/bpe.unigram_piece_counts — the oracle-backed E-step), "
    "prune the weakest fraction, and re-score (M-step, 9 dp "
    "pre-rounded ln — the float-boundary playbook). Corpus touched "
    "once; every iteration is vocabulary-sized with a bounded collect "
    "(the train_bpe loop contract). ORACLE-BACKED since r10 (the "
    "Lloyd/PQ unrolling precedent): both EM rounds unroll into "
    "recursive-CTE Viterbi DPs whose piece scores come from DERIVED "
    "score-map tables (seed substring frequencies -> counts -> prune "
    "-> centi-nat re-score), so the full training loop — not just one "
    "E-step — hash-checks against DuckDB. The UNK fallback can never "
    "fire here (the alphabet is never pruned and covers every word "
    "char), so the oracle's join-only candidate set is faithful",
)
def q_k26_train(spark, sf_dir):
    from jane_spark.operators.bpe import train_unigram

    docs = Catalog(spark, sf_dir).documents
    vocab = train_unigram(docs, n_iters=2, seed_size=40)
    return spark.createDataFrame(
        vocab, "piece string, score int, cnt long"
    )


@contract(
    "q_k22_bpe_train",
    oracle=_bpe_train_oracle(),
    survey_rows="K22",
    doc="full BPE training loop (operators/bpe.train_bpe): 8 merges, "
    "each iteration = one vocabulary-sized pair-count shuffle + ONE "
    "row collected (the argmax pair, IVF-centroid precedent), "
    "lineage cut per iteration; a word-type table that fits one task "
    "(engine.onetask.in_one_task: at most onetask.MAX_ROWS rows, "
    "counted in the task) runs all 8 merges in ONE Arrow task "
    "instead; (count desc, pair asc) ties make the "
    "merge table byte-deterministic across partitionings. Oracle-"
    "backed since r7: the greedy merge fold has a CLOSED FORM "
    "(a!=b merges every match; a==b picks alternate positions per "
    "run) the unrolled SQL twin derives INDEPENDENTLY of the fold",
)
def q_k22_train(spark, sf_dir):
    from jane_spark.operators.bpe import merges_df, train_bpe

    docs = Catalog(spark, sf_dir).documents
    return merges_df(spark, train_bpe(docs, n_merges=8))


@contract(
    "q_k22_bpe_encode",
    oracle=_bpe_encode_oracle(),
    survey_rows="K22,K4",
    doc="train->encode chain: 8 learned merges replayed as row-local "
    "folds over the word-TYPE table, equi-joined back to the exploded "
    "corpus (repeated words never re-encode), summed per document — "
    "two shuffles beyond training (operators/bpe.bpe_token_stats). "
    "Oracle-backed since r7 via the same closed-form unrolled twin",
)
def q_k22_encode(spark, sf_dir):
    from jane_spark.operators.bpe import bpe_token_stats, train_bpe

    docs = Catalog(spark, sf_dir).documents
    merges = train_bpe(docs, n_merges=8)
    return bpe_token_stats(docs, merges)


_SB_ORACLE = """
WITH base AS (SELECT doc_id, source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
pos AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks)),
                   i -> struct_pack(prev := CASE WHEN i > 1 THEN toks[i-1] END,
                                    cur := toks[i]))) AS p
        FROM base),
flat AS (SELECT doc_id, p.prev AS prev, p.cur AS cur FROM pos),
train AS (SELECT toks FROM base WHERE source = 'src0'),
unic AS (SELECT w, count(*) AS c
         FROM (SELECT unnest(toks) AS w FROM train) GROUP BY w),
bic AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c
        FROM (SELECT unnest(list_transform(generate_series(2, len(toks)),
                  i -> struct_pack(w1 := toks[i-1], w2 := toks[i]))) AS p
              FROM train)
        GROUP BY p.w1, p.w2),
nt AS (SELECT CAST(sum(c) AS DOUBLE) AS N FROM unic),
sc AS (SELECT f.doc_id,
              CASE WHEN f.prev IS NULL
                       THEN coalesce(CAST(uc.c AS DOUBLE), 1.0) / nt.N
                   WHEN bc.c IS NOT NULL
                       THEN CAST(bc.c AS DOUBLE) / CAST(up.c AS DOUBLE)
                   ELSE 0.4 * (coalesce(CAST(uc.c AS DOUBLE), 1.0) / nt.N)
              END AS s
       FROM flat f
       LEFT JOIN unic uc ON f.cur = uc.w
       LEFT JOIN unic up ON f.prev = up.w
       LEFT JOIN bic bc ON f.prev = bc.w1 AND f.cur = bc.w2
       CROSS JOIN nt)
SELECT doc_id, count(*) AS n_tokens, round(-avg(ln(s)), 4) AS nll
FROM sc GROUP BY doc_id
"""


@contract(
    "q_t24_stupid_backoff",
    oracle=_SB_ORACLE,
    survey_rows="K5,T13",
    doc="word-bigram Stupid Backoff LM score (Brants et al. 2007 — the "
    "backoff scheme built FOR distributed count tables: raw counts, "
    "fixed alpha=0.4, no normalization pass): counts trained on the "
    "source='src0' slice, every document scored by mean negative log "
    "score; first position scores as unigram MLE, unseen bigrams back "
    "off, OOV words take pseudo-count 1. Count tables broadcast "
    "(vocabulary-bounded); the only corpus-keyed shuffle is the "
    "per-doc average (operators.curation.train_bigram_lm / "
    "stupid_backoff_score)",
)
def q_t24(spark, sf_dir):
    from jane_spark.operators.curation import (
        stupid_backoff_score,
        train_bigram_lm,
    )

    docs = Catalog(spark, sf_dir).documents
    uni, bi = train_bigram_lm(docs.filter(F.col("source") == "src0"), "text")
    return stupid_backoff_score(docs, "doc_id", "text", uni, bi)


def _ivf_portable_oracle(
    k: int = 5, n_lists: int = 8, iters: int = 5, n_probe: int = 3
) -> str:
    """Portable-IVF twin: the fitted Lloyd centroids (shared k-means
    CTE chain) quantize corpus AND queries by 9-dp-rounded cosine
    (ties to the smaller list id — exactly _assign_lists'
    probe_round_dp path), candidates equi-join on the list id, exact
    top-k re-rank at 6 dp."""
    ctes, _ = _kmeans_ctes(n_lists, iters)
    return (
        "WITH " + ",\n".join(ctes) + f""",
        sims AS (SELECT vv.id, c.cid,
                        round(list_cosine_similarity(vv.v, c.cv), 9) AS s
                 FROM v vv CROSS JOIN c{iters} c),
        ranked AS (SELECT id, cid, row_number() OVER (
                       PARTITION BY id ORDER BY s DESC, cid ASC) AS rn
                   FROM sims),
        corpus AS (SELECT id, cid AS list_id FROM ranked WHERE rn = 1),
        probes AS (SELECT id, cid AS list_id FROM ranked
                   WHERE rn <= {n_probe}),
        cand AS (SELECT p.id AS a_id, c.id AS b_id
                 FROM probes p JOIN corpus c USING (list_id)
                 WHERE p.id <> c.id),
        sc AS (SELECT cand.a_id, cand.b_id,
                      round(list_cosine_similarity(va.v, vb.v), 6) AS sim
               FROM cand
               JOIN v va ON va.id = cand.a_id
               JOIN v vb ON vb.id = cand.b_id)
        SELECT a_id, b_id, sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn
            FROM sc) WHERE rn <= {k}
    """
    )


@contract(
    "q_k3_ivf_portable",
    oracle=_ivf_portable_oracle(),
    survey_rows="K3,K8",
    doc="IVF coarse-quantizer search with PORTABLE training "
    "(operators.semdedup.kmeans_fit feeding operators.vector.ivf_topk "
    "with probe_round_dp=9): the coarse quantizer is the distributed "
    "Lloyd loop whose every step is SQL-derivable (the q_k16_kmeans "
    "chain), list assignment and probe selection round cosines to "
    "9 dp before ranking (ties to the smaller list id), so TRAINING, "
    "quantization, candidate join, and exact re-rank all hash-check "
    "end to end — the full data-adaptive ANN path audited against an "
    "engine sharing no code with Spark. 8 lists, 3 probes, top-5",
)
def q_k3_ivf_portable(spark, sf_dir):
    import numpy as np

    from jane_spark.operators.semdedup import kmeans_fit
    from jane_spark.operators.vector import ivf_topk

    emb = Catalog(spark, sf_dir).embeddings
    _assign, cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=5)
    return ivf_topk(
        emb, "vec_id", "embedding", k=5, n_lists=8, n_probe=3,
        centroids=np.array(cents, dtype=np.float64), probe_round_dp=9,
    )


@contract(
    "q_t33_kneser_ney",
    oracle="""
WITH base AS (SELECT doc_id, source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
pos AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks)),
                   i -> struct_pack(prev := CASE WHEN i > 1 THEN toks[i-1] END,
                                    cur := toks[i]))) AS p
        FROM base),
flat AS (SELECT doc_id, p.prev AS prev, p.cur AS cur FROM pos),
train AS (SELECT toks FROM base WHERE source = 'src0'),
unic AS (SELECT w, count(*) AS c
         FROM (SELECT unnest(toks) AS w FROM train) GROUP BY w),
bic AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c
        FROM (SELECT unnest(list_transform(generate_series(2, len(toks)),
                  i -> struct_pack(w1 := toks[i-1], w2 := toks[i]))) AS p
              FROM train)
        GROUP BY p.w1, p.w2),
ctx AS (SELECT w1, sum(c) AS c_ctx, count(*) AS n1p_fwd FROM bic GROUP BY w1),
cont AS (SELECT w2, count(*) AS n1p_back FROM bic GROUP BY w2),
tot AS (SELECT (SELECT count(*) FROM bic) AS n_bi_types,
               (SELECT count(*) FROM unic) AS v),
sc AS (SELECT f.doc_id,
              CASE WHEN f.prev IS NULL OR ctx.c_ctx IS NULL
                   THEN (coalesce(CAST(cont.n1p_back AS DOUBLE), 0.0) + 1.0)
                        / CAST(tot.n_bi_types + tot.v + 1 AS DOUBLE)
                   ELSE greatest(coalesce(CAST(bic.c AS DOUBLE), 0.0) - 0.75,
                                 0.0) / CAST(ctx.c_ctx AS DOUBLE)
                        + 0.75 * CAST(ctx.n1p_fwd AS DOUBLE)
                          / CAST(ctx.c_ctx AS DOUBLE)
                          * ((coalesce(CAST(cont.n1p_back AS DOUBLE), 0.0)
                              + 1.0)
                             / CAST(tot.n_bi_types + tot.v + 1 AS DOUBLE))
              END AS s
       FROM flat f
       LEFT JOIN bic ON f.prev = bic.w1 AND f.cur = bic.w2
       LEFT JOIN ctx ON f.prev = ctx.w1
       LEFT JOIN cont ON f.cur = cont.w2
       CROSS JOIN tot)
SELECT doc_id, count(*) AS n_tokens, round(-avg(ln(s)), 4) AS nll
FROM sc GROUP BY doc_id
    """,
    survey_rows="T33,K5,T13",
    doc="interpolated KNESER-NEY bigram LM scoring (Kneser & Ney 1995; "
    "Chen & Goodman 1999 eq. 4.25) — the canonical count-based quality "
    "LM the Stupid Backoff family approximates: absolute discounting "
    "plus the continuation-probability backoff, with a documented "
    "+1/(types+V+1) smoothing on Pcont for OOV totality. Counts from "
    "the source='src0' slice via train_bigram_lm; vocabulary-bounded "
    "broadcast joins, one doc-keyed average shuffle "
    "(operators.curation.kneser_ney_score)",
)
def q_t33(spark, sf_dir):
    from jane_spark.operators.curation import (
        kneser_ney_score,
        train_bigram_lm,
    )

    docs = Catalog(spark, sf_dir).documents
    uni, bi = train_bigram_lm(docs.filter(F.col("source") == "src0"), "text")
    return kneser_ney_score(docs, "doc_id", "text", uni, bi)


@contract(
    "q_t32_gopher",
    oracle="""
        WITH p AS (SELECT doc_id,
                          CASE WHEN doc_id % 11 = 0
                               THEN concat('- b1', chr(10), '- b2', chr(10),
                                           '- b3', chr(10), '- b4', chr(10),
                                           '- b5', chr(10), '- b6', chr(10),
                                           '- b7', chr(10), '- b8', chr(10),
                                           '- b9', chr(10), '- b10')
                               ELSE concat(text,
                                 CASE WHEN doc_id % 3 = 0
                                      THEN ' the of and that' ELSE '' END,
                                 CASE WHEN doc_id % 5 = 0
                                      THEN concat(chr(10), '- bullet one',
                                                  chr(10), '- bullet two',
                                                  chr(10), 'tail line...')
                                      ELSE '' END,
                                 CASE WHEN doc_id % 7 = 0
                                      THEN ' ### ... ### ...' ELSE '' END)
                          END AS t
                   FROM documents),
        f AS (SELECT doc_id, t,
                     list_filter(string_split(t, ' '), x -> x <> '') AS toks,
                     string_split(t, chr(10)) AS lines
              FROM p)
        SELECT doc_id,
               len(toks) BETWEEN 50 AND 100000 AS words_ok,
               (list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                   / CAST(greatest(len(toks), 1) AS DOUBLE))
                   BETWEEN 3.0 AND 10.0 AS word_len_ok,
               ((length(t) - length(replace(t, '#', ''))
                 + (length(t) - length(replace(t, '...', ''))) / 3)
                   / CAST(greatest(len(toks), 1) AS DOUBLE)) < 0.1
                   AS symbol_ok,
               (len(list_filter(lines, l -> left(l, 1) IN ('-', '*', '•')))
                   / CAST(greatest(len(lines), 1) AS DOUBLE)) < 0.9
                   AS bullet_ok,
               (len(list_filter(lines, l -> right(l, 3) = '...'))
                   / CAST(greatest(len(lines), 1) AS DOUBLE)) < 0.3
                   AS ellipsis_ok,
               (len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                   / CAST(greatest(len(toks), 1) AS DOUBLE)) >= 0.8
                   AS alpha_ok,
               len(list_intersect(
                   list_distinct(list_filter(
                       string_split(lower(t), ' '), x -> x <> '')),
                   ['the', 'be', 'to', 'of', 'and', 'that', 'have',
                    'with'])) >= 2 AS stop_ok
        FROM f
    """,
    survey_rows="T32,K12,T16",
    doc="the Gopher/MassiveText document-quality preset (Rae et al. "
    "2021 A1.1) as one struct projection "
    "(functions.text.gopher_quality_flags): word-count bounds, mean "
    "word length, symbol-to-word ratio (#/ellipsis), bullet-line and "
    "ellipsis-line fractions, alphabetic-word fraction, >=2 Gopher "
    "stop words. The fixture appends stopword/bullet/ellipsis/symbol "
    "noise to deterministic doc slices (and makes %11 docs pure bullet "
    "lists) so every rule fires both ways; zero "
    "shuffles, all ratios derived from one token/line split",
)
def q_t32(spark, sf_dir):
    from jane_spark.functions.text import gopher_quality_flags

    docs = Catalog(spark, sf_dir).documents
    noisy = F.when(
        F.col("doc_id") % 11 == 0,
        F.lit("\n".join(f"- b{i}" for i in range(1, 11))),
    ).otherwise(
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" the of and that")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\n- bullet one\n- bullet two\ntail line..."),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" ### ... ### ...")
            ).otherwise(F.lit("")),
        )
    )
    g = gopher_quality_flags(noisy)
    return docs.select(
        "doc_id",
        *[g[f].alias(f) for f in (
            "words_ok", "word_len_ok", "symbol_ok", "bullet_ok",
            "ellipsis_ok", "alpha_ok", "stop_ok",
        )],
    )


@contract(
    "q_t31_compress",
    oracle=None,  # zlib has no DuckDB twin — pytest pins the Python twin
    survey_rows="T31,K9",
    doc="DEFLATE compression-ratio quality signal "
    "(functions.text.compression_ratio — the Gopher/MassiveText "
    "redundancy filter): compressed/raw bytes at fixed level 6, "
    "near-0 flags templated/repeated text. Arrow-batched Series->"
    "Series pandas UDF, pure projection (no shuffle); output buckets "
    "the corpus by ratio decile so the driver check witnesses the "
    "whole distribution, not one number",
)
def q_t31(spark, sf_dir):
    from jane_spark.functions.text import compression_ratio

    docs = Catalog(spark, sf_dir).documents
    cr = compression_ratio(docs, "doc_id", "text")
    return (
        cr.groupBy(
            F.floor(F.col("compression_ratio") * 10).cast("int").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("compression_ratio"), 4).alias("avg_ratio"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("zlib_bytes").alias("zlib_bytes"),
        )
        .orderBy("decile")
    )


@contract(
    "q_t30_sentences",
    oracle="""
        WITH p AS (SELECT doc_id,
                          replace(replace(text, ' the ', '. The '),
                                  ' and ', '! And ') AS t0
                   FROM documents),
        m AS (SELECT doc_id,
                     regexp_replace(t0, '([.!?]+)\\s+',
                                    '\\1' || chr(30), 'g') AS t
              FROM p),
        s AS (SELECT doc_id,
                     unnest(list_filter(
                         list_transform(string_split(t, chr(30)),
                                        x -> trim(x)),
                         x -> x <> '')) AS sent,
                     generate_subscripts(list_filter(
                         list_transform(string_split(t, chr(30)),
                                        x -> trim(x)),
                         x -> x <> ''), 1) AS idx
              FROM m)
        SELECT doc_id, CAST(idx - 1 AS INT) AS sent_idx,
               md5(sent) AS sent_md5,
               length(sent) AS n_chars
        FROM s
    """,
    survey_rows="T30,K4",
    doc="rule-based sentence segmentation (functions.text."
    "split_sentences — the primitive sentence-level dedup and chunk "
    "alignment build on): a sentence ends at a terminal-punctuation "
    "run followed by whitespace; separator-insert + split, NO "
    "lookarounds so the identical rule derives in RE2/DuckDB; empty "
    "sentences drop. Per-sentence md5 witnesses every byte and every "
    "boundary decision",
)
def q_t30(spark, sf_dir):
    from jane_spark.functions.text import split_sentences

    docs = Catalog(spark, sf_dir).documents
    # punctuate deterministically (same derivation both engines) so
    # real multi-sentence splitting is what gets hash-checked
    punct = F.replace(
        F.replace(F.col("text"), F.lit(" the "), F.lit(". The ")),
        F.lit(" and "),
        F.lit("! And "),
    )
    sent = docs.select("doc_id", F.posexplode(split_sentences(punct)))
    return sent.select(
        "doc_id",
        F.col("pos").cast("int").alias("sent_idx"),
        F.md5(F.col("col")).alias("sent_md5"),
        F.length(F.col("col")).cast("bigint").alias("n_chars"),
    )


# expected survivor text of the q_t29 synthesized page — shared with
# the q_p14 WARC end-to-end oracle (one edit point for the wrapper's
# keep/drop semantics)
_T29_MAIN_CTE = """
    t29c AS (SELECT doc_id,
                    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS body
             FROM documents),
    t29m AS (SELECT doc_id,
                    CASE WHEN length(body) >= 25
                         THEN body || chr(10)
                              || 'Validation paragraph for document '
                              || CAST(doc_id AS VARCHAR)
                              || ' keeps enough characters to stay.'
                         ELSE 'Validation paragraph for document '
                              || CAST(doc_id AS VARCHAR)
                              || ' keeps enough characters to stay.'
                    END AS main_text
             FROM t29c)
"""


@contract(
    "q_t29_extract",
    oracle=f"WITH {_T29_MAIN_CTE} SELECT doc_id, main_text FROM t29m",
    survey_rows="T29,K9",
    doc="main-content extraction / boilerplate removal (the justext-"
    "readability block model RefinedWeb/FineWeb run between WET "
    "extraction and quality filtering): block segmentation at block-"
    "tag boundaries, per-block visible-length + LINK-DENSITY scoring "
    "(functions.text.extract_main_content) — nav/footer/related-links "
    "blocks drop (short or link-saturated), article blocks keep, "
    "inline link text survives. The synthesized page wraps each doc "
    "in nav + article + tiny block + link-saturated footer; the "
    "oracle CONSTRUCTS the surviving text arithmetically, the Spark "
    "side must parse/segment/score its way to the same bytes. All "
    "regexes run once per row at full-string scope; the block lambda "
    "is translate/length/substring_index only (the urlnorm lesson)",
)
def q_t29(spark, sf_dir):
    from jane_spark.functions.text import extract_main_content

    docs = Catalog(spark, sf_dir).documents
    html = F.concat(
        F.lit(
            '<html><head><title>t</title><style>p{margin:0}</style></head>'
            '<body><nav><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact</a></nav><!-- boilerplate --><article><p>'
        ),
        F.col("text"),
        F.lit("</p><p>Validation paragraph for document "),
        F.col("doc_id").cast("string"),
        F.lit(
            " keeps enough characters to stay.</p></article><p>Tiny.</p>"
            '<footer><a href="/x">A very long related-articles caption '
            "that is pure link text and must drop</a></footer></body></html>"
        ),
    )
    return docs.select(
        "doc_id",
        extract_main_content(html).alias("main_text"),
    )


_SB3_ORACLE = """
WITH base AS (SELECT doc_id, source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
pos AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks)),
                   i -> struct_pack(
                       prev2 := CASE WHEN i > 2 THEN toks[i-2] END,
                       prev := CASE WHEN i > 1 THEN toks[i-1] END,
                       cur := toks[i]))) AS p
        FROM base),
flat AS (SELECT doc_id, p.prev2 AS prev2, p.prev AS prev, p.cur AS cur
         FROM pos),
train AS (SELECT toks FROM base WHERE source = 'src0'),
unic AS (SELECT w, count(*) AS c
         FROM (SELECT unnest(toks) AS w FROM train) GROUP BY w),
bic AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c
        FROM (SELECT unnest(list_transform(generate_series(2, len(toks)),
                  i -> struct_pack(w1 := toks[i-1], w2 := toks[i]))) AS p
              FROM train)
        GROUP BY p.w1, p.w2),
tric AS (SELECT p.w1 AS w1, p.w2 AS w2, p.w3 AS w3, count(*) AS c
         FROM (SELECT unnest(list_transform(generate_series(3, len(toks)),
                   i -> struct_pack(w1 := toks[i-2], w2 := toks[i-1],
                                    w3 := toks[i]))) AS p
               FROM train)
         GROUP BY p.w1, p.w2, p.w3),
nt AS (SELECT CAST(sum(c) AS DOUBLE) AS N FROM unic),
sc AS (SELECT f.doc_id,
              CASE WHEN f.prev IS NULL
                       THEN coalesce(CAST(uc.c AS DOUBLE), 1.0) / nt.N
                   WHEN f.prev2 IS NULL THEN
                       CASE WHEN bc.c IS NOT NULL
                                THEN CAST(bc.c AS DOUBLE) / CAST(up.c AS DOUBLE)
                            ELSE 0.4 * (coalesce(CAST(uc.c AS DOUBLE), 1.0) / nt.N)
                       END
                   WHEN tc.c IS NOT NULL
                       THEN CAST(tc.c AS DOUBLE) / CAST(cx.c AS DOUBLE)
                   ELSE 0.4 * (
                       CASE WHEN bc.c IS NOT NULL
                                THEN CAST(bc.c AS DOUBLE) / CAST(up.c AS DOUBLE)
                            ELSE 0.4 * (coalesce(CAST(uc.c AS DOUBLE), 1.0) / nt.N)
                       END)
              END AS s
       FROM flat f
       LEFT JOIN unic uc ON f.cur = uc.w
       LEFT JOIN unic up ON f.prev = up.w
       LEFT JOIN bic bc ON f.prev = bc.w1 AND f.cur = bc.w2
       LEFT JOIN bic cx ON f.prev2 = cx.w1 AND f.prev = cx.w2
       LEFT JOIN tric tc ON f.prev2 = tc.w1 AND f.prev = tc.w2
                        AND f.cur = tc.w3
       CROSS JOIN nt)
SELECT doc_id, count(*) AS n_tokens, round(-avg(ln(s)), 4) AS nll
FROM sc GROUP BY doc_id
"""


@contract(
    "q_t28_trigram_backoff",
    oracle=_SB3_ORACLE,
    survey_rows="K5,T13",
    doc="word-TRIGRAM Stupid Backoff LM score — the Brants et al. 2007 "
    "setup proper (their distributed LMs are 3-gram+; q_t24's bigram "
    "was the simplification): S(w|u,v) = c(uvw)/c(uv) when the trigram "
    "is known, else alpha times the bigram score, which itself backs "
    "off to alpha*unigram; positions 1 and 2 score at their maximal "
    "available order. Same shapes as q_t24 — vocabulary-bounded count "
    "tables broadcast (now three of them), row-local gram assembly, "
    "one corpus-keyed shuffle for the per-doc average "
    "(operators.curation.train_trigram_lm / stupid_backoff_score with "
    "trigrams=)",
)
def q_t28(spark, sf_dir):
    from jane_spark.operators.curation import (
        stupid_backoff_score,
        train_trigram_lm,
    )

    docs = Catalog(spark, sf_dir).documents
    uni, bi, tri = train_trigram_lm(
        docs.filter(F.col("source") == "src0"), "text"
    )
    return stupid_backoff_score(
        docs, "doc_id", "text", uni, bi, trigrams=tri
    )


@contract(
    "q_t25_chunking",
    oracle="""
        WITH t AS (SELECT doc_id,
                          list_filter(string_split(text, ' '),
                                      x -> x <> '') AS toks
                   FROM documents),
        c AS (SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, greatest(CAST(ceil((len(toks) - 16)
                                                         / 48.0) AS INT), 1)),
                         i -> struct_pack(
                             chunk_idx := CAST(i - 1 AS INT),
                             chunk := array_to_string(
                                 toks[(i-1)*48+1:(i-1)*48+64], ' '),
                             n_tokens := CAST(least(64,
                                 len(toks) - (i-1)*48) AS INT)))) AS ch
              FROM t
              WHERE len(toks) > 0)
        SELECT doc_id, ch.chunk_idx AS chunk_idx,
               md5(ch.chunk) AS chunk_md5, ch.n_tokens AS n_tokens
        FROM c
    """,
    survey_rows="T25,K4",
    doc="RAG/embedding chunking (functions/text.chunk_tokens): 64-token "
    "chunks, 16-token overlap (step 48), last partial chunk kept, "
    "empty docs chunk to [] — row-local higher-order slicing, the "
    "corpus explodes AFTER chunking; per-chunk md5 witnesses every "
    "byte of every chunk",
)
def q_t25(spark, sf_dir):
    from jane_spark.functions.text import chunk_tokens

    docs = Catalog(spark, sf_dir).documents
    ch = docs.select(
        "doc_id",
        F.explode(chunk_tokens(F.col("text"), 64, overlap=16)).alias("c"),
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.md5(F.col("c.chunk")).alias("chunk_md5"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


@contract(
    "q_p13_corpus_diff",
    oracle="""
        WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents
                     WHERE doc_id % 3 <> 0),
        new AS (SELECT doc_id,
                       md5(CASE WHEN doc_id % 5 = 0
                                THEN concat(text, ' edited')
                                ELSE text END) AS fp
                FROM documents WHERE doc_id % 4 <> 0)
        SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.fp = n.fp THEN 'unchanged'
                    ELSE 'changed' END AS status,
               count(*) AS n_docs
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        GROUP BY status
    """,
    survey_rows="P13,C2",
    doc="corpus release diff (operators/curation.corpus_diff): FULL "
    "OUTER join of two corpus versions on doc id comparing content "
    "fingerprints -> added/removed/changed/unchanged counts — the "
    "rebuild-audit every corpus pipeline runs; the join carries "
    "(id, fp) pairs only, one id-keyed shuffle",
)
def q_p13(spark, sf_dir):
    from jane_spark.operators.curation import corpus_diff_summary

    docs = Catalog(spark, sf_dir).documents
    old = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5("text").alias("fp")
    )
    new = docs.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" edited"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    return corpus_diff_summary(old, new, "doc_id", "fp")


@contract(
    "q_t36_novelty",
    oracle="""
        WITH g AS (
            SELECT DISTINCT doc_id AS id,
                   unnest(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 2),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2])) AS gram
            FROM documents
            WHERE len(string_split(text, ' ')) >= 3),
        dfc AS (SELECT gram, count(DISTINCT id) AS df FROM g GROUP BY gram),
        pd AS (SELECT g.id,
                      CAST(count(*) AS BIGINT) AS n_grams,
                      CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END)
                           AS BIGINT) AS novel
               FROM g JOIN dfc USING (gram) GROUP BY g.id)
        SELECT d.doc_id AS id,
               CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
               CAST((10000 * coalesce(pd.novel, 0))
                    // greatest(coalesce(pd.n_grams, 0), 1) AS BIGINT)
                   AS novel_e4
        FROM documents d LEFT JOIN pd ON pd.id = d.doc_id
    """,
    survey_rows="T36,T12,T5",
    doc="per-document n-gram NOVELTY (functions.text.ngram_novelty): "
    "the fraction of a doc's distinct word trigrams appearing in NO "
    "other document — high marks fresh content, low marks boilerplate "
    "/ template spam / memorization-prone near-duplication that "
    "survives exact dedup (the leave-one-out complement of the "
    "T12 duplication-coverage signal). One distinct-gram explode + "
    "one gram-keyed df count + one doc-keyed ratio, 1e4 fixed point",
)
def q_t36(spark, sf_dir):
    from jane_spark.functions.text import ngram_novelty

    docs = Catalog(spark, sf_dir).documents
    return ngram_novelty(docs, "doc_id", "text", n=3)


@contract(
    "q_t37_fertility",
    oracle="""
        WITH t AS (
            SELECT text,
                   list_distinct((string_split(lower(text), ' '))[1:200])
                       AS toks
            FROM documents),
        h AS (
            SELECT text,
                   len(list_intersect(toks, ['the','and','of','to','is']))
                       AS h_en,
                   len(list_intersect(toks, ['le','la','et','les','des']))
                       AS h_fr,
                   len(list_intersect(toks, ['el','de','la','los','que']))
                       AS h_es,
                   len(list_intersect(toks, ['der','die','und','das','ist']))
                       AS h_de
            FROM t),
        p AS (
            SELECT text,
                   CASE
                WHEN regexp_matches(substr(text, 1, 200), '[一-鿿]')
                    THEN 'zh'
                WHEN greatest(h_en, h_fr, h_es, h_de) <= 0 THEN 'und'
                WHEN h_en = greatest(h_en, h_fr, h_es, h_de) THEN 'en'
                WHEN h_fr = greatest(h_en, h_fr, h_es, h_de) THEN 'fr'
                WHEN h_es = greatest(h_en, h_fr, h_es, h_de) THEN 'es'
                ELSE 'de' END AS lang_pred
            FROM h),
        s AS (SELECT lang_pred,
                     CAST(length(text) AS BIGINT) AS nc,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
              FROM p)
        SELECT lang_pred,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS tok_total,
               CAST(sum(nc) AS BIGINT) AS char_total,
               CAST((CAST(sum(nc) AS BIGINT) * 10000)
                    // CAST(sum(nt) AS BIGINT) AS BIGINT)
                   AS chars_per_tok_e4,
               CAST((CAST(sum(nt) AS BIGINT) * 100)
                    // CAST(count(*) AS BIGINT) AS BIGINT)
                   AS toks_per_doc_e2
        FROM s GROUP BY lang_pred
    """,
    survey_rows="T37,K6,K4",
    doc="tokenizer-fertility profile per predicted language (the "
    "pre-training corpus report Rust et al. 2021 / Acs 2019 run "
    "before committing a tokenizer: chars-per-token and tokens-per-"
    "doc by language expose scripts the tokenizer will shred into "
    "byte fallbacks). Language from the proven marker-word argmax "
    "expression (q_t2 chain), whitespace tokens, integer e4/e2 fixed-"
    "point ratios (sum*10000 div sum — no float). One scan, one "
    "|langs|-group aggregate, all map-side combinable",
)
def q_t37(spark, sf_dir):
    from jane_spark.functions.text import detect_language_expr

    docs = Catalog(spark, sf_dir).documents
    s = docs.select(
        detect_language_expr(F.col("text")).alias("lang_pred"),
        F.length("text").cast("bigint").alias("nc"),
        F.size(F.split(F.col("text"), " ", -1)).cast("bigint").alias("nt"),
    )
    return (
        s.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("tok_total"),
            F.sum("nc").alias("char_total"),
        )
        .select(
            "lang_pred",
            "n_docs",
            "tok_total",
            "char_total",
            F.expr("(char_total * 10000) div tok_total")
            .cast("bigint")
            .alias("chars_per_tok_e4"),
            F.expr("(tok_total * 100) div n_docs")
            .cast("bigint")
            .alias("toks_per_doc_e2"),
        )
    )


@contract(
    "q_t40_leakage",
    oracle="""
        WITH t AS (
            SELECT doc_id, source,
                   list_distinct(string_split(text, ' ')) AS toks
            FROM documents),
        e AS (
            SELECT doc_id, source, len(toks) AS n_toks, unnest(toks) AS tok
            FROM t),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.n_toks AS na, b.n_toks AS nb, count(*) AS common
            FROM e a
            JOIN e b ON a.source = b.source AND a.tok = b.tok
                    AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4),
        nd AS (SELECT id_a, id_b FROM p
               WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.9),
        sp AS (SELECT id_a, id_b,
                      CASE WHEN CAST(concat('0x', substr(md5(concat(
                               'split:', CAST(id_a AS VARCHAR))), 1, 8))
                               AS BIGINT) % 10000 < 8000 THEN 'train'
                           WHEN CAST(concat('0x', substr(md5(concat(
                               'split:', CAST(id_a AS VARCHAR))), 1, 8))
                               AS BIGINT) % 10000 < 9000 THEN 'val'
                           ELSE 'test' END AS split_a,
                      CASE WHEN CAST(concat('0x', substr(md5(concat(
                               'split:', CAST(id_b AS VARCHAR))), 1, 8))
                               AS BIGINT) % 10000 < 8000 THEN 'train'
                           WHEN CAST(concat('0x', substr(md5(concat(
                               'split:', CAST(id_b AS VARCHAR))), 1, 8))
                               AS BIGINT) % 10000 < 9000 THEN 'val'
                           ELSE 'test' END AS split_b
               FROM nd)
        SELECT split_a, split_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               split_a <> split_b AS leaks
        FROM sp GROUP BY split_a, split_b
    """,
    survey_rows="T40,K2,P1,T5",
    doc="train/test LEAKAGE audit — the post-split check every "
    "FineWeb/Dolma-style release runs: near-duplicate pairs (the "
    "proven q_k2_jaccard >= 0.9 chain) whose members land in "
    "DIFFERENT hash splits are eval contamination that survived "
    "dedup; emitted as the (split_a, split_b) pair-count matrix with "
    "a leaks verdict per cell. Deterministic end to end (md5 split "
    "buckets, integer counts). Same inverted-index join + one split "
    "projection + one tiny groupBy — the audit costs one extra "
    "aggregate over the pair table a dedup pipeline already built",
)
def q_t40(spark, sf_dir):
    from jane_spark.contracts.northstar import q_k2j
    from jane_spark.functions.sampling import split_assign

    pairs = q_k2j(spark, sf_dir).select("id_a", "id_b")
    sa = split_assign(
        F.col("id_a"), {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split:"
    )
    sb = split_assign(
        F.col("id_b"), {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split:"
    )
    return (
        pairs.select(sa.alias("split_a"), sb.alias("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("leaks", F.col("split_a") != F.col("split_b"))
    )


@contract(
    "q_t43_ks_drift",
    oracle="""
        WITH c AS (SELECT source AS src, CAST(n_chars AS BIGINT) AS x,
                          CAST(count(*) AS BIGINT) AS c
                   FROM documents GROUP BY 1, 2),
        srcs AS (SELECT DISTINCT src FROM c),
        sup AS (SELECT DISTINCT x FROM c),
        cum AS (SELECT g.src, g.x,
                       CAST(sum(coalesce(c.c, 0)) OVER (
                           PARTITION BY g.src ORDER BY g.x
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM (SELECT src, x FROM srcs, sup) g
                LEFT JOIN c ON c.src = g.src AND c.x = g.x),
        tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        ks AS (SELECT a.src AS src_a, b.src AS src_b,
                      ta.n AS n_a, tb.n AS n_b,
                      CAST(max(abs(a.cum * tb.n - b.cum * ta.n))
                           AS BIGINT) AS ks_num
               FROM cum a JOIN cum b ON a.x = b.x AND a.src < b.src
               JOIN tot ta ON ta.src = a.src
               JOIN tot tb ON tb.src = b.src
               GROUP BY 1, 2, 3, 4)
        SELECT src_a, src_b, n_a, n_b, ks_num,
               CAST((ks_num * 10000) // (n_a * n_b) AS BIGINT) AS ks_e4
        FROM ks
    """,
    survey_rows="T43,T41,K37",
    doc="pairwise Kolmogorov-Smirnov DRIFT matrix over the per-doc "
    "quality score (operators.profile.ks_drift_matrix): "
    "sup_x |F_a - F_b| between every two sources' empirical score "
    "CDFs — the order-sensitive complement of q_t41's token-mix TV "
    "distance (a snapshot whose vocabulary holds steady can still "
    "slide its QUALITY distribution; KS is the alarm for that). "
    "Division-free integer surface by cross-multiplication: ks_num = "
    "max |cum_a*n_b - cum_b*n_a| on the union support, ks_e4 = "
    "(ks_num*10000) div (n_a*n_b) — every value BIGINT. One "
    "combinable (source, value) count shuffle out of the scan; CDFs "
    "and the pair max run on S x V / S^2 x V sketch grids, never "
    "data (the t41 posture)",
)
def q_t43(spark, sf_dir):
    from jane_spark.operators.profile import ks_drift_matrix

    docs = Catalog(spark, sf_dir).documents
    return ks_drift_matrix(docs, "source", "n_chars")


@contract(
    "q_t41_drift",
    oracle="""
        WITH c AS (SELECT source AS src,
                          CAST(concat('0x', substr(md5('drift:' || tok),
                               1, 8)) AS BIGINT) % 1024 AS b,
                          CAST(count(*) AS BIGINT) AS c
                   FROM (SELECT source,
                                unnest(string_split(text, ' ')) AS tok
                         FROM documents)
                   GROUP BY 1, 2),
        t AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY src),
        grid AS (SELECT a.src AS src_a, bb.src AS src_b, k.b
                 FROM (SELECT DISTINCT src FROM c) a
                 JOIN (SELECT DISTINCT src FROM c) bb ON a.src < bb.src
                 CROSS JOIN (SELECT DISTINCT b FROM c) k),
        j AS (SELECT g.src_a, g.src_b, ta.n AS n_a, tb.n AS n_b,
                     abs(coalesce(ca.c, 0) * tb.n
                         - coalesce(cb.c, 0) * ta.n) AS term
              FROM grid g
              LEFT JOIN c ca ON ca.src = g.src_a AND ca.b = g.b
              LEFT JOIN c cb ON cb.src = g.src_b AND cb.b = g.b
              JOIN t ta ON ta.src = g.src_a
              JOIN t tb ON tb.src = g.src_b)
        SELECT src_a, src_b, n_a, n_b,
               CAST(sum(term) AS BIGINT) AS l1_num,
               CAST((CAST(sum(term) AS BIGINT) * 10000)
                    // (2 * n_a * n_b) AS BIGINT) AS tv_e4
        FROM j GROUP BY src_a, src_b, n_a, n_b
    """,
    survey_rows="T41,K37,K6",
    doc="pairwise corpus-DRIFT matrix (functions.text."
    "source_drift_matrix): total-variation distance between every two "
    "sources' hashed-unigram distributions — the snapshot-shift alarm "
    "a pipeline runs between crawls (the distributional twin of the "
    "K37 KMV overlap matrix, which only sees set membership). Pure "
    "integer surface: l1_num = sum |c_a*N_b - c_b*N_a| and tv_e4 = "
    "(l1_num*10000) div (2*N_a*N_b) — no float anywhere. One token "
    "pass, one (source, bucket) combinable count shuffle; the matrix "
    "runs on an S^2 x B sketch grid, never data",
)
def q_t41(spark, sf_dir):
    from jane_spark.functions.text import source_drift_matrix

    docs = Catalog(spark, sf_dir).documents
    return source_drift_matrix(docs, "source", "text", n_buckets=1024)


@contract(
    "q_t42_lang_confusion",
    oracle="""
        WITH t AS (
            SELECT lang,
                   list_distinct((string_split(lower(text), ' '))[1:200])
                       AS toks,
                   text
            FROM documents),
        h AS (
            SELECT lang, text,
                   len(list_intersect(toks, ['the','and','of','to','is']))
                       AS h_en,
                   len(list_intersect(toks, ['le','la','et','les','des']))
                       AS h_fr,
                   len(list_intersect(toks, ['el','de','la','los','que']))
                       AS h_es,
                   len(list_intersect(toks, ['der','die','und','das','ist']))
                       AS h_de
            FROM t),
        p AS (
            SELECT lang,
                   CASE
                WHEN regexp_matches(substr(text, 1, 200), '[一-鿿]')
                    THEN 'zh'
                WHEN greatest(h_en, h_fr, h_es, h_de) <= 0 THEN 'und'
                WHEN h_en = greatest(h_en, h_fr, h_es, h_de) THEN 'en'
                WHEN h_fr = greatest(h_en, h_fr, h_es, h_de) THEN 'fr'
                WHEN h_es = greatest(h_en, h_fr, h_es, h_de) THEN 'es'
                ELSE 'de' END AS lang_pred
            FROM h)
        SELECT lang, lang_pred,
               CAST(count(*) AS BIGINT) AS n,
               lang = lang_pred AS correct
        FROM p GROUP BY lang, lang_pred
    """,
    survey_rows="T42,K6,T37",
    doc="language-ID CONFUSION MATRIX against the corpus's own lang "
    "labels — the classifier-quality audit every curation pipeline "
    "runs before trusting a lang gate (per-(label, prediction) "
    "counts + a correct flag; precision/recall are driver formulas "
    "over these integers). Prediction from the proven K6 marker-word "
    "argmax expression; one scan + one |langs|^2-group map-side-"
    "combinable aggregate",
)
def q_t42(spark, sf_dir):
    from jane_spark.functions.text import detect_language_expr

    docs = Catalog(spark, sf_dir).documents
    return (
        docs.select(
            "lang",
            detect_language_expr(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("correct", F.col("lang") == F.col("lang_pred"))
    )


@contract(
    "q_t44_kappa",
    oracle="""
        WITH t AS (
            SELECT lang,
                   list_distinct((string_split(lower(text), ' '))[1:200])
                       AS toks,
                   text
            FROM documents),
        h AS (
            SELECT lang, text,
                   len(list_intersect(toks, ['the','and','of','to','is']))
                       AS h_en,
                   len(list_intersect(toks, ['le','la','et','les','des']))
                       AS h_fr,
                   len(list_intersect(toks, ['el','de','la','los','que']))
                       AS h_es,
                   len(list_intersect(toks, ['der','die','und','das','ist']))
                       AS h_de
            FROM t),
        p AS (
            SELECT lang,
                   CASE
                WHEN regexp_matches(substr(text, 1, 200), '[一-鿿]')
                    THEN 'zh'
                WHEN greatest(h_en, h_fr, h_es, h_de) <= 0 THEN 'und'
                WHEN h_en = greatest(h_en, h_fr, h_es, h_de) THEN 'en'
                WHEN h_fr = greatest(h_en, h_fr, h_es, h_de) THEN 'fr'
                WHEN h_es = greatest(h_en, h_fr, h_es, h_de) THEN 'es'
                ELSE 'de' END AS lang_pred
            FROM h),
        cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
                  FROM p GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                       CAST(sum(CASE WHEN lang = lang_pred THEN n
                                     ELSE 0 END) AS BIGINT) AS agree
                FROM cells),
        rm AS (SELECT lang AS k, CAST(sum(n) AS BIGINT) AS rn
               FROM cells GROUP BY 1),
        cm AS (SELECT lang_pred AS k, CAST(sum(n) AS BIGINT) AS cn
               FROM cells GROUP BY 1),
        e AS (SELECT CAST(sum(COALESCE(rn, 0) * COALESCE(cn, 0))
                          AS BIGINT) AS exp_num
              FROM rm FULL JOIN cm USING (k))
        SELECT nn AS n, agree, exp_num,
               CAST(nn * agree - exp_num AS BIGINT) AS kappa_num,
               CAST(nn * nn - exp_num AS BIGINT) AS kappa_den,
               CAST(CASE WHEN nn * nn - exp_num = 0 THEN NULL
                    WHEN nn * agree - exp_num >= 0
                        THEN ((nn * agree - exp_num) * 10000)
                             // (nn * nn - exp_num)
                    ELSE -(((exp_num - nn * agree) * 10000)
                           // (nn * nn - exp_num))
               END AS BIGINT) AS kappa_e4
        FROM tot, e
    """,
    survey_rows="T44,T42,K6",
    doc="Cohen's KAPPA for the lang-ID gate (operators/profile.py "
    "chance_corrected_agreement) — the chance-corrected summary T42's "
    "raw confusion matrix needs before anyone trusts its accuracy "
    "number: a gate predicting the majority language everywhere "
    "scores high accuracy on a skewed corpus and kappa ~ 0 (Cohen "
    "1960). Kappa travels as the EXACT integer rational kappa_num / "
    "kappa_den (cross-multiplying (p_o - p_e)/(1 - p_e) clears every "
    "division; exp_num = sum_k row_k * col_k over the marginals) plus "
    "a sign-split 1e4 fixed-point readout (floor == trunc on both "
    "engines for the non-negative split) — the pmi integer-surface "
    "discipline, no transcendental anywhere. One |langs|^2 cell "
    "aggregate + |langs|-bounded marginal join + two 1-row folds",
)
def q_t44(spark, sf_dir):
    from jane_spark.functions.text import detect_language_expr
    from jane_spark.operators.profile import chance_corrected_agreement

    docs = Catalog(spark, sf_dir).documents
    labeled = docs.select(
        "lang", detect_language_expr(F.col("text")).alias("lang_pred")
    )
    return chance_corrected_agreement(labeled, "lang", "lang_pred")


def _dimperm_pq_oracle_sql(
    dim: int = 16, m: int = 4, k: int = 4, iters: int = 2
) -> str:
    """DuckDB twin of dimperm_encode (operators/vector.py): per-dim
    exact integer variance numerators in HUGEINT (the e6 gram
    quantization), rank → serpentine subspace deal as pure rank
    arithmetic, gather per (id, s) into rank-ordered subvectors, then
    the proven suffixed unrolled-Lloyd chain per subspace (ctes[0]
    swapped to read the permuted subvector table)."""
    all_ctes: list[str] = [
        "px AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim, "
        "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) "
        "AS BIGINT) AS q FROM embeddings)",
        f"pvar AS (SELECT dim, CAST(count(*) AS HUGEINT) AS n, "
        f"CAST(sum(q) AS HUGEINT) AS sx, CAST(sum(q * q) AS HUGEINT) "
        f"AS sxx FROM px WHERE dim <= {dim} GROUP BY dim)",
        "prank AS (SELECT dim, row_number() OVER (ORDER BY "
        "(n * sxx - sx * sx) DESC, dim ASC) - 1 AS r FROM pvar)",
        f"pj AS (SELECT dim, CASE WHEN (r // {m}) % 2 = 0 THEN r % {m} "
        f"ELSE {m} - 1 - (r % {m}) END AS s, r FROM prank)",
        "vperm AS (SELECT e.vec_id AS id, p.s, "
        "list(CAST(e.embedding[p.dim] AS DOUBLE) ORDER BY p.r) AS v "
        "FROM embeddings e CROSS JOIN pj p GROUP BY e.vec_id, p.s)",
    ]
    for s in range(m):
        ctes, dist = _kmeans_ctes(k, iters, suffix=f"_s{s}")
        ctes[0] = f"v_s{s} AS (SELECT id, v FROM vperm WHERE s = {s})"
        all_ctes.extend(ctes)
        all_ctes.append(
            f"code_s{s} AS (SELECT id, CAST(cid AS INT) AS code FROM ("
            f"SELECT v.id, c.cid, row_number() OVER ("
            f"PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM v_s{s} v CROSS JOIN c{iters}_s{s} c) WHERE rn = 1)"
        )
    joins = " ".join(f"JOIN code_s{s} USING (id)" for s in range(1, m))
    cols = ", ".join(f"code_s{s}.code AS code_{s}" for s in range(m))
    return (
        "WITH " + ",\n".join(all_ctes) + f"""
        SELECT id AS vec_id, {cols}
        FROM code_s0 {joins}
    """
    )


@contract(
    "q_k49_dimperm",
    oracle=_dimperm_pq_oracle_sql(),
    survey_rows="K49,K23,K47",
    doc="variance-balanced dimension-PERMUTED product quantization — "
    "the oracle-expressible half of OPQ (Ge et al. CVPR 2013)'s "
    "allocation idea (operators/vector.dimperm_encode): per-dim "
    "variances as EXACT integer numerators (e6 gram quantization, "
    "n·Σq²−(Σq)² in arbitrary precision), dims ranked and dealt to "
    "the 4 subspaces SERPENTINE (closed-form rank arithmetic — no "
    "greedy state, so any engine replays it), then the proven "
    "deterministic Lloyd PQ over the permuted 16-dim layout. One "
    "aggregate row to the driver (2d+1 cells), one gather "
    "projection, the q_k23 training chain. The learned-rotation OPQ "
    "capstone (eigen-rotation + product-balancing allocation over "
    "pca_fit axes) is q_k49_opq — rows-only by structural necessity "
    "(no eigendecomposition in DuckDB), NumPy-parity + recall-ladder "
    "pytest-pinned",
)
def q_k49_dimperm(spark, sf_dir):
    from jane_spark.operators.vector import dimperm_encode

    emb = Catalog(spark, sf_dir).embeddings
    return dimperm_encode(emb, "vec_id", "embedding", dim=16, m=4, k=4,
                          iters=2)


@contract(
    "q_k49_opq",
    oracle=None,  # driver-side eigendecomposition (numpy eigh) has no
    # DuckDB twin — rows-only by structural necessity; the allocation
    # idea is oracle-green under q_k49_dimperm, NumPy parity + the
    # recall ladder (OPQ >= plain PQ on anisotropic data) are
    # pytest-pinned, and codes are md5-witnessed deterministic
    survey_rows="K49,K23,K47",
    doc="OPQ rotated product quantization (Ge et al. CVPR 2013, the "
    "parametric OPQ_P solution) — the K47→K23 capstone: cluster-side "
    "integer Gram statistics → driver d×d eigendecomposition "
    "(pca_fit, bounded-collect) → greedy eigenvalue allocation "
    "balancing per-subspace variance PRODUCTS → rotation inlined as "
    "codegen literals (pca_project) → the proven deterministic PQ "
    "trainer in rotated space (operators/vector.opq_encode). Emits "
    "16-dim 4×4 codes + a bit_xor/md5 witness surface so the driver "
    "rows-only check still pins determinism",
)
def q_k49_opq(spark, sf_dir):
    from jane_spark.operators.vector import opq_encode

    emb = Catalog(spark, sf_dir).embeddings
    codes = opq_encode(emb, "vec_id", "embedding", dim=16, m=4, k=4,
                       iters=2)
    return codes.orderBy("vec_id").limit(200)


def _opq2_oracle_sql(dim: int = 16) -> str:
    """DuckDB twin of opq2_block_rotate (operators/vector.py): exact
    HUGEINT covariance numerators per 2-dim block, the closed-form
    2×2 eigendecomposition in DOUBLE with the SAME parenthesization
    as the Spark expressions (every op IEEE exact-rounded — see the
    operator's determinism argument), rotated centered coordinates
    rounded at 6 dp."""
    m = dim // 2
    stats = ["CAST(count(*) AS HUGEINT) AS n"]
    for j in range(m):
        x, y = 2 * j + 1, 2 * j + 2
        stats += [
            f"sum(ve[{x}]) AS sx_{j}",
            f"sum(ve[{y}]) AS sy_{j}",
            f"sum(ve[{x}] * ve[{x}]) AS sxx_{j}",
            f"sum(ve[{y}] * ve[{y}]) AS syy_{j}",
            f"sum(ve[{x}] * ve[{y}]) AS sxy_{j}",
        ]
    parts = []
    for j in range(m):
        x, y = 2 * j + 1, 2 * j + 2
        a = f"CAST(n * sxx_{j} - sx_{j} * sx_{j} AS DOUBLE)"
        d0 = f"CAST(n * syy_{j} - sy_{j} * sy_{j} AS DOUBLE)"
        b = f"CAST(n * sxy_{j} - sx_{j} * sy_{j} AS DOUBLE)"
        lam = (
            f"(({a}) + ({d0})) / 2 + sqrt(((({a}) - ({d0})) / 2) * "
            f"((({a}) - ({d0})) / 2) + ({b}) * ({b}))"
        )
        nrm = (
            f"sqrt(({b}) * ({b}) + (({lam}) - ({a})) * "
            f"(({lam}) - ({a})))"
        )
        c_e = (
            f"CASE WHEN ({b}) = 0 THEN (CASE WHEN ({a}) >= ({d0}) "
            f"THEN 1.0 ELSE 0.0 END) ELSE abs({b}) / ({nrm}) END"
        )
        s_e = (
            f"CASE WHEN ({b}) = 0 THEN (CASE WHEN ({a}) >= ({d0}) "
            f"THEN 0.0 ELSE 1.0 END) ELSE (CASE WHEN ({b}) > 0 "
            f"THEN 1.0 ELSE -1.0 END) * (({lam}) - ({a})) / ({nrm}) END"
        )
        mx = f"(CAST(sx_{j} AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000"
        my = f"(CAST(sy_{j} AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000"
        xc = f"(vv[{x}] - ({mx}))"
        yc = f"(vv[{y}] - ({my}))"
        parts.append(
            f"SELECT id, CAST({j} AS INTEGER) AS block, "
            f"round(({c_e}) * ({xc}) + ({s_e}) * ({yc}), 6) AS r1, "
            f"round(-({s_e}) * ({xc}) + ({c_e}) * ({yc}), 6) AS r2 "
            f"FROM v CROSS JOIN st"
        )
    return (
        """
        WITH v AS (SELECT vec_id AS id,
                          list_transform(embedding,
                              x -> CAST(x AS DOUBLE)) AS vv,
                          list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE)
                                   * 1000000) AS HUGEINT)) AS ve
                   FROM embeddings),
        st AS (SELECT """
        + ", ".join(stats)
        + " FROM v) "
        + " UNION ALL ".join(parts)
    )


@contract(
    "q_k49_opq2",
    oracle=_opq2_oracle_sql(),
    survey_rows="K49,K23,K47",
    doc="OPQ with 2-DIM subspace blocks — the hash-checkable "
    "ROTATION leg of K49 (VERDICT r13 #5): a 2×2 symmetric "
    "covariance diagonalizes in closed form (λmax = trace/2 + "
    "sqrt(((a−d)/2)² + b²), eigenvector (b, λmax−a), sign-"
    "canonicalized), so unlike q_k49_opq's general-d numpy eigh the "
    "eigen-ROTATION itself replays as SQL and the driver hashes the "
    "rotated coordinates (operators/vector.opq2_block_rotate). "
    "Covariance numerators are exact e6-quantized integers in "
    "DECIMAL(38,0)/HUGEINT; the float stage is one cast + "
    "{+,−,×,/,sqrt} with identical parenthesization both sides — "
    "all IEEE exact-rounded, so the doubles are bit-identical and "
    "the 6 dp rounding cannot tie across engines. ONE combinable "
    "aggregate (5·dim/2+1 cells), broadcast 1-row cross join, pure "
    "codegen projection — no shuffle, no Python, no driver collect. "
    "Per-block decorrelation + variance-order laws pytest-pinned",
)
def q_k49_opq2(spark, sf_dir):
    from jane_spark.operators.vector import opq2_block_rotate

    emb = Catalog(spark, sf_dir).embeddings
    return opq2_block_rotate(emb, "vec_id", "embedding", dim=16)


def _ivf_incr_oracle_sql(n_lists: int = 8, iters: int = 5) -> str:
    """Incremental-IVF twin: the Lloyd chain trains on the STORED
    corpus only (vec_id % 10 <> 0 — ctes[0] swapped), the new batch
    is assigned against the frozen centroids by the same
    9-dp-rounded-cosine argmax the portable-IVF oracle proved."""
    ctes, _ = _kmeans_ctes(n_lists, iters)
    ctes[0] = (
        "v AS (SELECT vec_id AS id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings "
        "WHERE vec_id % 10 <> 0)"
    )
    return (
        "WITH " + ",\n".join(ctes) + f""",
        nb AS (SELECT vec_id AS id, list_transform(embedding,
                   x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings WHERE vec_id % 10 = 0),
        sims AS (SELECT nb.id, c.cid,
                        round(list_cosine_similarity(nb.v, c.cv), 9) AS s
                 FROM nb CROSS JOIN c{iters} c)
        SELECT id AS vec_id, CAST(cid AS INT) AS list_id FROM (
            SELECT id, cid, row_number() OVER (
                PARTITION BY id ORDER BY s DESC, cid ASC) AS rn
            FROM sims) WHERE rn = 1
    """
    )


@contract(
    "q_k50_ivf_incr",
    oracle=_ivf_incr_oracle_sql(),
    survey_rows="K50,K3,I6",
    doc="IVF INCREMENTAL maintenance — assign a new ingest batch to "
    "the EXISTING coarse quantizer without retraining "
    "(operators/vector.ivf_assign_batch): the stored corpus "
    "(vec_id % 10 <> 0) trains the 8-list Lloyd quantizer (the "
    "proven q_k3_ivf_portable chain), the new batch (vec_id % 10 "
    "= 0) is argmax-assigned against the FROZEN centroids — one "
    "broadcast-literal projection per batch row, no full-corpus "
    "re-scan, lists stay exactly consistent with the stored "
    "assignment. The operational half of ANN at 100 TB (daily "
    "ingest); whether the frozen quantizer still fits is "
    "q_k50_drift_trigger's measured answer",
)
def q_k50_ivf_incr(spark, sf_dir):
    import numpy as np

    from jane_spark.operators.semdedup import kmeans_fit
    from jane_spark.operators.vector import ivf_assign_batch

    emb = Catalog(spark, sf_dir).embeddings
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    _a, cents = kmeans_fit(corpus, "vec_id", "embedding", k=8, iters=5)
    return ivf_assign_batch(
        batch, "vec_id", "embedding",
        np.array(cents, dtype=np.float64), probe_round_dp=9,
    )


@contract(
    "q_k50_drift_trigger",
    oracle="""
        WITH po AS (SELECT generate_subscripts(embedding, 1) AS dim,
                           CAST(round(CAST(unnest(embedding) AS DOUBLE)
                               * 1000000, 0) AS BIGINT) AS q
                    FROM embeddings WHERE vec_id % 10 <> 0),
        so AS (SELECT dim, CAST(count(*) AS HUGEINT) AS n_old,
                      CAST(sum(q) AS HUGEINT) AS sx_old,
                      CAST(sum(q * q) AS HUGEINT) AS sxx_old
               FROM po WHERE dim <= 16 GROUP BY dim),
        pn0 AS (SELECT generate_subscripts(embedding, 1) AS dim,
                       CAST(unnest(embedding) AS DOUBLE) AS val
                FROM embeddings WHERE vec_id % 10 = 0),
        pn AS (SELECT dim, CAST(round((val + CASE WHEN dim <= 3
                   THEN 0.5 ELSE 0 END) * 1000000, 0) AS BIGINT) AS q
               FROM pn0 WHERE dim <= 16),
        sn AS (SELECT dim, CAST(count(*) AS HUGEINT) AS n_new,
                      CAST(sum(q) AS HUGEINT) AS sx_new
               FROM pn GROUP BY dim)
        SELECT CAST(so.dim AS INT) AS dim,
               CAST(n_old AS BIGINT) AS n_old,
               CAST(n_new AS BIGINT) AS n_new,
               (4 * (sx_new * n_old - sx_old * n_new)
                  * (sx_new * n_old - sx_old * n_new))
               > (n_new * n_new * (n_old * sxx_old - sx_old * sx_old))
                   AS drifted
        FROM so JOIN sn ON so.dim = sn.dim
    """,
    survey_rows="K50,K31,T41",
    doc="quantizer-DRIFT trigger — the measured retrain decision for "
    "the frozen IVF/PQ coarse quantizer (operators/vector."
    "moment_drift_trigger, tau = 1/2): per-dimension e6-quantized "
    "integer moments of stored corpus vs new batch (the K31 "
    "discipline), drift iff tau_den^2*(Sq_new*n_old - Sq_old*n_new)^2 "
    "> tau_num^2*n_new^2*(n_old*Sq2_old - Sq_old^2) — division-free, "
    "DECIMAL(38,0)/HUGEINT exact, so the retrain DECISION itself "
    "hash-checks across engines. Fixture: the batch is the held-out "
    "tenth with dims 1-3 shifted +0.5 (0.5 is a binary power — the "
    "shift is float-exact in any engine), so exactly those dims must "
    "trip. Two 1-row aggregates + a |dim|-row join — the decision "
    "costs less than one assignment pass",
)
def q_k50_drift(spark, sf_dir):
    from jane_spark.operators.vector import moment_drift_trigger

    emb = Catalog(spark, sf_dir).embeddings
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "embedding",
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i < 3 "
            "THEN CAST(x AS DOUBLE) + 0.5D "
            "ELSE CAST(x AS DOUBLE) END)"
        ),
    )
    return moment_drift_trigger(
        corpus, batch, "embedding", dim=16, tau_num=1, tau_den=2
    )


_CDC_ORACLE = """
WITH t AS (SELECT doc_id, text, length(text) AS len FROM documents),
cuts0 AS (SELECT doc_id,
                 unnest(generate_series(2, greatest(len - 15, 1))) AS pos,
                 text
          FROM t WHERE len >= 17),
cuts AS (SELECT doc_id, CAST(pos AS INTEGER) AS start
         FROM cuts0
         WHERE CAST('0x' || substr(md5('cdc:' || substr(text, pos, 16)),
                                   1, 15) AS BIGINT) % 64 = 0
         UNION ALL
         SELECT doc_id, 1 FROM t),
ch AS (SELECT c.doc_id, c.start,
              row_number() OVER w AS chunk_idx,
              coalesce(lead(c.start) OVER w, t.len + 1) - c.start
                  AS chunk_len
       FROM cuts c JOIN t ON t.doc_id = c.doc_id
       WINDOW w AS (PARTITION BY c.doc_id ORDER BY c.start))
SELECT ch.doc_id,
       CAST(ch.chunk_idx AS INTEGER) AS chunk_idx,
       CAST(ch.start AS INTEGER) AS start,
       CAST(ch.chunk_len AS INTEGER) AS chunk_len,
       md5(substr(t.text, ch.start, ch.chunk_len)) AS chunk_md5
FROM ch JOIN t ON t.doc_id = ch.doc_id
"""


@contract(
    "q_t46_cdc_chunks",
    oracle=_CDC_ORACLE,
    survey_rows="T46,T45,K1",
    doc="CONTENT-DEFINED CHUNKING (LBFS, Muthitacharoen et al. SOSP "
    "2001; FastCDC, Xia et al. ATC 2016 — "
    "operators/curation.cdc_chunks): cut every document where the "
    "16-gram window's portable 60-bit md5 fingerprint has 6 low zero "
    "bits (expected 64-char chunks), so boundaries follow CONTENT "
    "and a prefix insert re-aligns at the first surviving cut — "
    "every later chunk hashes identically, the storage-dedup "
    "property fixed-size chunking cannot give (shift-robustness vs "
    "fixed chunking pytest-pinned, plus the Σ chunks == text "
    "reconstruction law). The byte-level rung of the dedup ladder "
    "below T45's span grain: crawl snapshots dedup at "
    "distinct/total chunk cost. One row-local gram projection + one "
    "per-doc lead window + one substring join; hashed surface is "
    "integers + md5 strings",
)
def q_t46(spark, sf_dir):
    from jane_spark.operators.curation import cdc_chunks

    docs = Catalog(spark, sf_dir).documents
    return cdc_chunks(docs, "doc_id", "text", w=16, mask_bits=6)
