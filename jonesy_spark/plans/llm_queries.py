"""LLM-data-pipeline operator queries over the ``documents`` and
``embeddings`` fixtures: dedup (exact / MinHash-LSH / SimHash / n-gram
Jaccard / embedding-cosine), similarity search (brute-force + bucketed
ANN), and text analysis (lang-id, quality, token counts, fingerprints).

These extend beyond the reference's surface per the driver's north star
(BASELINE.json); SURVEY.md §7 Phase 5 is the build plan. Every operator
still gets a DuckDB oracle: sketches are built on md5 (identical hex on
both engines) and all floating-point outputs are rounded at the
boundary, so even MinHash-LSH is exactly reproducible in ANSI SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import cache_scope, checkpoint, persist
from ..catalog import Catalog, spread
from ..functions import scalars as SC
from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import similarity as SIM

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# Shared oracle CTE fragments -------------------------------------------------

_TOK = """
    tok AS (
        SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS toks
        FROM documents
    )
"""

_EMB = """
    emb AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    nemb AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm
        FROM emb
    )
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT
        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
        min(doc_id) AS representative_id,
        count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize (lower/trim/collapse-ws), md5-group, keep
    min doc_id. The shuffle key is the 32-byte digest, never the text."""
    return DD.exact_dedup(Catalog(spark, sf_dir).documents)


#: MinHash(16) + LSH(2x8) banding, hot-bucket cap, and Jaccard>=0.8
#: verification as CTEs ending in ``vpairs(doc_a, doc_b, jaccard_micro)`` —
#: shared by the dedup_minhash_lsh oracle and the dedup_clusters
#: oracle's transitive closure so the two can never drift apart.
_MINHASH_VERIFIED_PAIRS = f"""
    {_TOK},
    toki AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   toks, t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)) AS toks
        FROM tok
    ),
    mh AS (
        SELECT doc_id, r.i,
               min((((2654435761 * (r.i+1)) % 2147483647) * u.h
                    + ((97531 * (r.i+1)) % 2147483647))
                   % 2147483647) AS h
        FROM toki, range(16) r(i), unnest(toki.toks) u(h)
        GROUP BY doc_id, r.i
    ),
    band AS (
        SELECT doc_id, i // 8 AS band_id,
               md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)) AS band_key
        FROM mh GROUP BY doc_id, i // 8
    ),
    bstat AS (
        SELECT doc_id, band_id, band_key,
               count(*) OVER (PARTITION BY band_id, band_key) AS bkt_n,
               min(doc_id) OVER (PARTITION BY band_id, band_key) AS rep
        FROM band
    ),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bstat a
            JOIN bstat b ON a.band_id = b.band_id AND a.band_key = b.band_key
                        AND a.doc_id < b.doc_id
            WHERE a.bkt_n <= {DD.BUCKET_CAP}
            UNION ALL
            SELECT rep AS doc_a, doc_id AS doc_b
            FROM bstat WHERE bkt_n > {DD.BUCKET_CAP} AND doc_id > rep
        )
    ),
    vpairs AS (
        SELECT p.doc_a, p.doc_b,
               CAST(round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                          / len(list_distinct(list_concat(ta.toks, tb.toks)))
                          * 1000000) AS BIGINT)
                   AS jaccard_micro
        FROM cand p
        JOIN toki ta ON ta.doc_id = p.doc_a
        JOIN toki tb ON tb.doc_id = p.doc_b
        WHERE CAST(round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                         / len(list_distinct(list_concat(ta.toks, tb.toks)))
                         * 1000000) AS BIGINT) >= 800000
    )
"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_VERIFIED_PAIRS}
    SELECT doc_a, doc_b, jaccard_micro FROM vpairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(2 bands × 8) candidate pairs, verified at
    Jaccard >= 0.8. See operators.dedup.minhash_lsh_pairs for the
    banding math and scale notes."""
    return DD.minhash_lsh_pairs(
        Catalog(spark, sf_dir).documents, n_hashes=16, n_bands=2, threshold=0.8
    )


@query(
    "prefix_jaccard_join",
    oracle=f"""
    WITH {_TOK},
    toki AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   toks, t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)) AS toks
        FROM tok
    ),
    tokrow AS (SELECT doc_id, u.h FROM toki, unnest(toks) AS u(h)),
    dft AS (SELECT h, count(*) AS df FROM tokrow GROUP BY h),
    pos AS (
        SELECT t.doc_id, t.h,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df, t.h) AS pos,
               count(*) OVER (PARTITION BY t.doc_id) AS sz
        FROM tokrow t JOIN dft d USING (h)
    ),
    pref AS (
        SELECT doc_id, h, sz FROM pos
        WHERE pos <= sz - ceil(round(0.8 * sz, 9)) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.h = b.h AND a.doc_id < b.doc_id
         AND a.sz >= 0.8 * b.sz AND b.sz >= 0.8 * a.sz
    )
    SELECT c.doc_a, c.doc_b,
           CAST(round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                      / len(list_distinct(list_concat(ta.toks, tb.toks)))
                      * 1000000) AS BIGINT)
               AS jaccard_micro
    FROM cand c
    JOIN toki ta ON ta.doc_id = c.doc_a
    JOIN toki tb ON tb.doc_id = c.doc_b
    WHERE CAST(round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                     / len(list_distinct(list_concat(ta.toks, tb.toks)))
                     * 1000000) AS BIGINT) >= 800000
    """,
)
def prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.8 self-join by prefix filtering (PPJoin
    family) — recall 1.0 by theorem, the deterministic complement to
    the LSH row. operators.dedup.prefix_jaccard_pairs has the
    global-df-ordering and rounding-before-ceil notes.

    BOUNDED TIER, enforced in machinery (VERDICT r12 #7): this row
    runs with pair_density_limit=100M — the operator counts its
    candidate pairs exactly (one cheap agg over the prefix buckets)
    and REFUSES past the budget instead of silently going quadratic.
    Measured density (r14, pre-counted by the contract itself):
    ~445k pairs at sf0.01 (the driver scale), ~44.6M at sf0.1 (the
    benched scale, the 7.2x decade ratio's cause), ~445.5M at sf1 and
    ~4.455B at sf10 — candidate mass scales exactly linearly with the
    disjoint replica corpora, and the row refuses BY CONTRACT at both
    sf1 and sf10 (r13's docstring extrapolated "~4.4B at sf1"; the
    r14 pre-counts correct that — 4.4B is sf10's figure).
    dedup_minhash_lsh is the documented 100 TB path (lsh_recall
    measures that trade against this tier's ground truth)."""
    return DD.prefix_jaccard_pairs(
        Catalog(spark, sf_dir).documents,
        threshold=0.8,
        pair_density_limit=100_000_000,
    )


@query(
    "lsh_recall",
    # f-string: reuses the SHARED verified-pairs fragment so the report
    # and dedup_minhash_lsh can never drift apart engine-side.
    oracle=f"""
    WITH {_MINHASH_VERIFIED_PAIRS},
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(round(len(list_intersect(a.toks, b.toks))::DOUBLE
                          / len(list_distinct(list_concat(a.toks, b.toks)))
                          * 1000000) AS BIGINT)
                   AS jaccard_micro
        FROM toki a JOIN toki b
          ON a.doc_id < b.doc_id
         AND len(a.toks) >= 0.8 * len(b.toks)
         AND len(b.toks) >= 0.8 * len(a.toks)
        WHERE CAST(round(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / len(list_distinct(list_concat(a.toks, b.toks)))
                         * 1000000) AS BIGINT) >= 800000
    ),
    hit AS (
        SELECT t.jaccard_micro,
               CASE WHEN v.doc_a IS NOT NULL THEN 1 ELSE 0 END AS h
        FROM truth t
        LEFT JOIN vpairs v
          ON v.doc_a = t.doc_a AND v.doc_b = t.doc_b
    )
    SELECT (SELECT count(*) FROM toki) AS n_docs,
           count(*) AS n_true_pairs,
           (SELECT count(*) FROM vpairs) AS n_lsh_pairs,
           CAST(CASE WHEN count(*) = 0 THEN 1000000
                     ELSE round(sum(h)::DOUBLE / count(*) * 1000000)
                END AS BIGINT) AS recall_micro,
           coalesce(max(CASE WHEN h = 0 THEN jaccard_micro END),
                    CAST(-1 AS BIGINT)) AS worst_miss_micro
    FROM hit
    """,
)
def lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-recall report (dedup.lsh_recall_report) at
    sample_frac=1.0 so the oracle reuses the shared verified-pairs
    fragment verbatim: exact all-pairs ground truth vs the SAME
    MinHash(16)+LSH(2x8) pairs, one-row report with worst_miss. The
    sampled path (the 100 TB budget control) keeps its pytest tier."""
    return DD.lsh_recall_report(
        Catalog(spark, sf_dir).documents, threshold=0.8, sample_frac=1.0
    )


@query(
    "dedup_simhash",
    # f-string solely to interpolate the SHARED cap constant — a literal
    # here and a different DD.BUCKET_CAP would silently diverge the two
    # engines on corpora with buckets between the two values.
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               list_distinct(string_split(lower(trim(text)), ' ')) AS toks
        FROM documents
    ),
    votes AS (
        SELECT doc_id, r.p,
               sum(CASE WHEN (('0x' || substr(md5(u.t), ((r.p-1)//4)::INT + 1, 1))::INT
                              & (8 >> ((r.p-1) % 4))::INT) > 0
                        THEN 1 ELSE -1 END) AS v
        FROM tok, range(1, 65) r(p), unnest(tok.toks) u(t)
        GROUP BY doc_id, r.p
    ),
    fp AS (
        SELECT v.doc_id,
               sum(CASE WHEN v.v >= 0 AND v.p <= 32
                        THEN (1::BIGINT << (32 - v.p)::INT) ELSE 0 END)::BIGINT AS fpa,
               sum(CASE WHEN v.v >= 0 AND v.p > 32
                        THEN (1::BIGINT << (64 - v.p)::INT) ELSE 0 END)::BIGINT AS fpb
        FROM votes v GROUP BY v.doc_id
    ),
    fpl AS (
        SELECT f.doc_id, t.lang, f.fpa, f.fpb
        FROM fp f JOIN tok t ON t.doc_id = f.doc_id
    ),
    banded AS (
        SELECT doc_id, lang, r.bd AS band_id,
               CASE WHEN r.bd < 4 THEN (fpa >> ((3 - r.bd) * 8)::INT) & 255
                    ELSE (fpb >> ((7 - r.bd) * 8)::INT) & 255 END AS band_bits
        FROM fpl, range(8) r(bd)
    ),
    bstat AS (
        SELECT doc_id, lang, band_id, band_bits,
               count(*) OVER (PARTITION BY lang, band_id, band_bits) AS bkt_n,
               min(doc_id) OVER (PARTITION BY lang, band_id, band_bits) AS rep
        FROM banded
    ),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bstat a
            JOIN bstat b ON a.lang = b.lang AND a.band_id = b.band_id
                        AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
            WHERE a.bkt_n <= {DD.BUCKET_CAP}
            UNION ALL
            SELECT rep AS doc_a, doc_id AS doc_b
            FROM bstat WHERE bkt_n > {DD.BUCKET_CAP} AND doc_id > rep
        )
    )
    SELECT c.doc_a, c.doc_b,
           (bit_count(xor(a.fpa, b.fpa)) + bit_count(xor(a.fpb, b.fpb)))::INT AS hamming
    FROM cand c
    JOIN fpl a ON a.doc_id = c.doc_a
    JOIN fpl b ON b.doc_id = c.doc_b
    WHERE (bit_count(xor(a.fpa, b.fpa)) + bit_count(xor(a.fpb, b.fpb))) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit, 8 pigeonhole bands) near-dup pairs within language
    blocks at Hamming distance <= 3. Fingerprints are majority votes over
    the leading 64 md5 BITS (4 per hex digit — ONE md5 per token) —
    map-only, cross-engine deterministic. The oracle mirrors the
    pigeonhole banding AND the hot-bucket cap (buckets over the shared
    DD.BUCKET_CAP collapse to their min-id representative), so outputs
    coincide at any SF;
    with no over-full bucket both equal all-pairs-within-lang
    (max_hamming < n_bands makes banding lossless)."""
    return DD.simhash_near_dup(Catalog(spark, sf_dir).documents, max_hamming=3)


@query(
    "dedup_ngram_jaccard",
    # f-string solely to interpolate the SHARED cap constant (see
    # dedup_simhash).
    oracle=f"""
    WITH g0 AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(range(1, length(text) - 1),
                                            i -> substr(text, i, 3))) AS grams
        FROM documents
    ),
    g AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   grams, gm -> ('0x' || substr(md5(gm), 1, 7))::BIGINT)) AS grams
        FROM g0
    ),
    mh AS (
        SELECT doc_id, r.i,
               min((((2654435761 * (r.i+1)) % 2147483647) * u.h
                    + ((97531 * (r.i+1)) % 2147483647))
                   % 2147483647) AS h
        FROM g, range(16) r(i), unnest(g.grams) u(h)
        GROUP BY doc_id, r.i
    ),
    band AS (
        SELECT doc_id, i // 2 AS band_id,
               md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)) AS band_key
        FROM mh GROUP BY doc_id, i // 2
    ),
    bl AS (
        SELECT b.doc_id, g.lang, b.band_id, b.band_key, len(g.grams) AS sz
        FROM band b JOIN g ON g.doc_id = b.doc_id
    ),
    bstat AS (
        SELECT doc_id, lang, band_id, band_key, sz,
               count(*) OVER (PARTITION BY lang, band_id, band_key) AS bkt_n,
               min(doc_id) OVER (PARTITION BY lang, band_id, band_key) AS rep
        FROM bl
    ),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bstat a
            JOIN bstat b ON a.lang = b.lang AND a.band_id = b.band_id
                        AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            WHERE a.bkt_n <= {DD.BUCKET_CAP}
              AND a.sz >= 0.6 * b.sz AND b.sz >= 0.6 * a.sz
            UNION ALL
            SELECT rep AS doc_a, doc_id AS doc_b
            FROM bstat WHERE bkt_n > {DD.BUCKET_CAP} AND doc_id > rep
        )
    )
    SELECT c.doc_a, c.doc_b,
           CAST(round(len(list_intersect(ga.grams, gb.grams))::DOUBLE
                      / len(list_distinct(list_concat(ga.grams, gb.grams)))
                      * 1000000) AS BIGINT) AS jaccard_micro
    FROM cand c
    JOIN g ga ON ga.doc_id = c.doc_a
    JOIN g gb ON gb.doc_id = c.doc_b
    WHERE ga.lang = gb.lang
      AND CAST(round(len(list_intersect(ga.grams, gb.grams))::DOUBLE
                     / len(list_distinct(list_concat(ga.grams, gb.grams)))
                     * 1000000) AS BIGINT) >= 600000
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram Jaccard near-dup pairs, blocked by (lang, MinHash
    band over the gram set) — block-key cardinality grows with the
    corpus (see operators.dedup.ngram_jaccard_pairs for the recall
    math), unlike the former fixed (lang, length-bucket) block."""
    return DD.ngram_jaccard_pairs(Catalog(spark, sf_dir).documents, n=3, threshold=0.6)


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH {_EMB},
    cent AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM nemb
        WHERE vec_id < (SELECT greatest(16, power(2, floor(log2(count(*))/2)+1))::BIGINT
                        FROM emb)
    ),
    scored AS (
        SELECT e.vec_id, c.cid,
               -CAST(round(list_sum(list_transform(range(1, len(e.v)+1),
                                                   i -> e.v[i] * c.cv[i]))
                           / (e.nrm * c.cnrm) * 1000000) AS BIGINT) AS ncos
        FROM nemb e CROSS JOIN cent c
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY ncos, cid) AS rk
            FROM scored
        ) WHERE rk <= 4
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           CAST(round(list_sum(list_transform(range(1, len(ea.v)+1),
                                              i -> ea.v[i] * eb.v[i]))
                      / (ea.nrm * eb.nrm) * 1000000) AS BIGINT) AS cosine_micro
    FROM cand c
    JOIN nemb ea ON ea.vec_id = c.vec_a
    JOIN nemb eb ON eb.vec_id = c.vec_b
    WHERE CAST(round(list_sum(list_transform(range(1, len(ea.v)+1),
                                             i -> ea.v[i] * eb.v[i]))
                     / (ea.nrm * eb.nrm) * 1000000) AS BIGINT) >= 300000
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by deterministic IVF
    cells (K = sqrt(n) rounded up to a power of two — 32 on this
    fixture — with 4 probes); replaces the fixed-cardinality label block
    (11% recall on the fixture) with a cell count that grows with the
    corpus (~75% measured recall at the 0.3 threshold in the fixture's
    near-isotropic worst case, ->1 for true high-cosine near-dups).
    Dot products via built-in fold — no UDF."""
    return SIM.embedding_near_dup(Catalog(spark, sf_dir).embeddings, threshold=0.3)


@query(
    "semantic_dedup",
    oracle=f"""
    WITH {_EMB},
    cells AS (
        SELECT vec_id,
               array_to_string(list_transform(range(1, 7),
                   i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END),
                   '') AS cell,
               v, nrm
        FROM nemb
    ),
    hits AS (
        SELECT a.vec_id, min(b.vec_id) AS hit_by
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND b.vec_id < a.vec_id
        WHERE CAST(round(list_sum(list_transform(range(1, len(a.v)+1),
                      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm)
                      * 1000000) AS BIGINT) >= 300000
        GROUP BY a.vec_id
    )
    SELECT c.vec_id, c.cell,
           h.hit_by IS NOT NULL AS is_pruned,
           CAST(coalesce(h.hit_by, -1) AS BIGINT) AS pruned_by
    FROM cells c LEFT JOIN hits h ON h.vec_id = c.vec_id
    """,
)
def semantic_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): one row
    per vector with its cell, whether a smaller-id in-cell semantic
    duplicate exists at cosine >= 0.3, and the min such id (-1 for
    survivors). Cells are the deterministic sign buckets so the frame
    is exactly SQL-reproducible; the k-means-cell variant is the IVF
    tier (pytest-pinned). operators.similarity.semantic_dedup."""
    return SIM.semantic_dedup(
        Catalog(spark, sf_dir).embeddings, threshold=0.3
    )


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH {_EMB},
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nemb WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id,
               CAST(round(list_sum(list_transform(range(1, len(e.v)+1),
                                                  i -> q.qv[i] * e.v[i]))
                          / (q.qn * e.nrm) * 1000000) AS BIGINT) AS cosine_micro
        FROM nemb e JOIN q ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine_micro,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_micro DESC, vec_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 10 query vectors (broadcast
    queries × corpus scan + rank window). The exact baseline for ANN."""
    return SIM.cosine_topk(Catalog(spark, sf_dir).embeddings, k=10, n_queries=10)


@query(
    "ann_bucketed_topk",
    oracle=f"""
    WITH {_EMB},
    be AS (
        SELECT vec_id, v, nrm,
               array_to_string(list_transform(range(1, 7),
                   i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
        FROM nemb
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qbucket
          FROM be WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id,
               CAST(round(list_sum(list_transform(range(1, len(e.v)+1),
                                                  i -> q.qv[i] * e.v[i]))
                          / (q.qn * e.nrm) * 1000000) AS BIGINT) AS cosine_micro
        FROM be e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine_micro,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_micro DESC, vec_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 within deterministic sign buckets (64 IVF-style
    cells) — the 100 TB plan shape: bucket equi-join, not a cross
    product. Oracle reproduces the same approximation."""
    return SIM.bucketed_topk(Catalog(spark, sf_dir).embeddings, k=5, n_queries=10)


@query(
    "repeated_span_removal",
    oracle="""
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
        FROM documents
    ),
    toks AS (
        SELECT doc_id, i - 1 AS pos, arr[i] AS tok
        FROM base, unnest(generate_series(1, len(arr))) AS s(i)
        WHERE arr[i] <> ''
    ),
    grams AS (
        SELECT doc_id, i AS start,
               md5(lower(array_to_string(arr[i + 1 : i + 13], ' '))) AS g
        FROM base, unnest(generate_series(0, len(arr) - 13)) AS u(i)
        WHERE len(arr) >= 13
    ),
    hot AS (
        SELECT g, min(doc_id) AS keeper_doc
        FROM (SELECT DISTINCT doc_id, g FROM grams)
        GROUP BY g HAVING count(*) >= 2
    ),
    removed AS (
        SELECT gr.doc_id, gr.start FROM grams gr JOIN hot USING (g)
        WHERE gr.doc_id <> hot.keeper_doc
    ),
    covered AS (
        SELECT DISTINCT doc_id, start + d AS pos
        FROM removed, unnest(generate_series(0, 12)) AS v(d)
    ),
    kept AS (
        SELECT t.* FROM toks t ANTI JOIN covered c
          ON t.doc_id = c.doc_id AND t.pos = c.pos
    ),
    totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
    rebuilt AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(t.n_tokens AS INT) AS n_tokens,
           CAST(t.n_tokens - coalesce(r.n_kept, 0) AS INT) AS n_removed
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span removal (span-level exact dedup,
    Lee et al. 2022): every 13-token span shared by >= 2 documents
    survives only in the min-id document. operators.hygiene.
    repeated_span_removal; oracle reproduces gram keys, keeper choice,
    position coverage and reassembly relationally."""
    from ..operators import hygiene as H

    return H.repeated_span_removal(Catalog(spark, sf_dir).documents, k=13)


@query("ann_quantized_topk")
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 whose candidate scan reads the int8 quantized store, with
    an exact float re-rank of the survivors (similarity.quantized_topk)
    — the storage-tier ANN shape. REGISTRY-ONLY, deliberately no DuckDB
    oracle: the int8 rounding boundary (round(x/scale) at exact .5) is
    the one place engine ulp differences could flip a candidate, so
    correctness is pinned instead by the pytest equalities — re-ranked
    scores EXACTLY equal the float scores for every overlapping pair,
    and recall vs cosine_topk >= 0.9 (test_operators.py)."""
    return SIM.quantized_topk(Catalog(spark, sf_dir).embeddings, k=10)


@query("ann_pq_topk")
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by product quantization + asymmetric distance — the
    IVF-PQ billion-scale recipe (Jégou 2011): the corpus scans as
    8-byte PQ codes (32x fewer bytes than float32 at dim 64), each
    query's m x k lookup table broadcasts, ADC ranks, and the exact
    float re-rank of the overfetched tail makes every reported score
    exact (similarity.pq_topk). REGISTRY-ONLY, deliberately no DuckDB
    oracle: the per-subspace k-means codebooks are iterative (the
    kmeans_centroids class) — correctness is pinned by the pytest
    equalities instead (re-ranked scores EXACTLY equal the brute-force
    float scores for every reported pair; recall floor vs cosine_topk
    on the near-isotropic fixture; identical vectors share code words;
    test_operators.py). Benched for the scan-compression cost story."""
    return SIM.pq_topk(Catalog(spark, sf_dir).embeddings, k=10)


@query("bpe_token_stats")
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 64-merge BPE table on the corpus (one distributed
    word-count pass + bounded driver merge loop), then tokenize every
    document under it: (doc_id, n_chars, n_pretokens, n_bpe_tokens,
    chars_per_token). REGISTRY-ONLY, deliberately no DuckDB oracle: the
    iterative merge induction is not SQL-expressible — correctness is
    pinned instead by the pytest differentials (merge table == an
    independent naive recount-per-round reference; distributed trainer
    == driver trainer merge-for-merge; encode == sequential merge
    replay; exact concat round-trip)."""
    from ..operators import tokenize as TOK

    docs = Catalog(spark, sf_dir).documents
    merges = TOK.bpe_train(docs, n_merges=64)
    return TOK.bpe_token_stats(docs, merges)


@query("unigram_token_stats")
def unigram_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 256-piece unigram-LM vocabulary on the corpus (Kudo
    2018 / the SentencePiece trainer: one distributed word-count pass
    + bounded driver EM/shrink rounds), then Viterbi-tokenize every
    document under it: (doc_id, n_chars, n_pretokens,
    n_unigram_tokens, chars_per_token_micro) — column-for-column the
    BPE report, so the two vocabularies the public tooling toggles
    between compare on one dashboard. REGISTRY-ONLY, deliberately no
    DuckDB oracle: EM over the segmentation lattice is not
    SQL-expressible — correctness is pinned by the pytest
    differentials instead (Viterbi == exhaustive-enumeration argmax
    under the declared total order; EM likelihood monotone; every
    single character retained; exact concat round-trip)."""
    from ..operators import tokenize as TOK

    docs = Catalog(spark, sf_dir).documents
    pieces = TOK.unigram_train(docs, vocab_size=256, seed_size=2048)
    return TOK.unigram_token_stats(docs, pieces)


@query("tokenizer_family_compare")
def tokenizer_family_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-vs-unigram toggle decision on one frame (r9 verdict #7):
    train both families on the same corpus with the pinned row params
    (64 merges / 256 pieces) and fold each family's token_stats to one
    scalar row — (family, vocab_rows, n_docs, n_tokens,
    tokens_per_doc_micro, chars_per_token_micro), exact decimal
    rationals floored to micro-units. DRIVER-FACING WITHOUT an oracle
    (rows-only check), deliberately: both trainers are iterative (merge
    induction / lattice EM) and not SQL-expressible — the driver
    witnesses the composed frame's shape and stability while the
    underlying per-family stats keep their pytest differentials
    (Viterbi == exhaustive enumeration, merge replay, concat
    round-trips), and the fold itself is pinned equal to independently
    aggregating the two pytest-pinned stats frames
    (tests/test_tokenize.py)."""
    from ..operators import tokenize as TOK

    docs = Catalog(spark, sf_dir).documents
    return TOK.tokenizer_family_compare(
        docs, n_merges=64, vocab_size=256, seed_size=2048
    )


#: Pinned per-document tokenizer stats — (family, vocab_rows, doc_id,
#: n_tokens, n_chars) for both families trained on the sf0.001 corpus
#: with the compare row's params. Committed, regenerated by
#: scripts/gen_tokenizer_fixture.py, and content-pinned against a fresh
#: training run by tests/test_tokenize.py — the trainers are
#: deterministic, so drift fails the suite.
import pathlib as _pathlib  # noqa: E402

TOKENIZER_STATS_FIXTURE = str(
    _pathlib.Path(__file__).resolve().parent
    / "fixtures"
    / "tokenizer_family_stats.parquet"
)

#: Pinned ANN store — the sf0.001 embeddings with their FROZEN int8
#: quantization (q, scale) and FROZEN PQ codes, plus the m x k PQ
#: codebook table. Committed, regenerated by scripts/gen_ann_fixture.py,
#: and content-pinned against a fresh run by tests/test_operators.py —
#: quantization and the k-means codebooks are deterministic for a fixed
#: corpus, so drift fails the suite. These feed the oracle-checked
#: ann_int8_rerank / ann_pq_rerank rows (VERDICT r13 #6): freezing the
#: round(x/scale) boundary and the iterative codebooks removes the only
#: two non-SQL-replayable steps from the quantized-ANN surface.
ANN_STORE_FIXTURE = str(
    _pathlib.Path(__file__).resolve().parent / "fixtures" / "ann_store.parquet"
)
ANN_CODEBOOKS_FIXTURE = str(
    _pathlib.Path(__file__).resolve().parent
    / "fixtures"
    / "ann_codebooks.parquet"
)


@query(
    "tokenizer_family_fold",
    oracle=f"""
    SELECT family,
           CAST(min(vocab_rows) AS BIGINT) AS vocab_rows,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_tokens) * 1000000 // greatest(count(*), 1)
                AS BIGINT) AS tokens_per_doc_micro,
           CAST(sum(n_chars) * 1000000 // greatest(sum(n_tokens), 1)
                AS BIGINT) AS chars_per_token_micro
    FROM read_parquet('{TOKENIZER_STATS_FIXTURE}')
    GROUP BY family
    """,
)
def tokenizer_family_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checked half of the tokenizer-family comparison (r10
    verdict #6): tokenizer_family_compare = iterative training (BPE
    merge induction / unigram-LM EM — pytest-pinned, not
    SQL-expressible) composed with THIS fold, a plain hash aggregate.
    Splitting the frame lets the driver hash-verify the fold against
    DuckDB over the pinned per-document stats fixture (the trainers are
    deterministic, so the fixture is stable; tests regenerate it from a
    fresh training run and assert equality), shrinking the compare
    row's unchecked surface to training alone.

    ``sf_dir`` is deliberately unused: the fold's input contract is the
    pinned stats frame, not a per-SF table — both engines read the SAME
    committed parquet, so this row checks the aggregation, not the
    corpus."""
    from ..operators.tokenize import tokenizer_family_fold as fold

    return fold(spark.read.parquet(TOKENIZER_STATS_FIXTURE))


@query(
    "lang_id_heuristic",
    oracle="""
    WITH c AS (
        SELECT doc_id, lang AS tagged_lang,
            CAST((length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3
                 AS INTEGER) AS c_the,
            CAST((length(lower(text)) - length(replace(lower(text), 'data', ''))) / 4
                 AS INTEGER) AS c_data,
            CAST((length(lower(text)) - length(replace(lower(text), 'query', ''))) / 5
                 AS INTEGER) AS c_query,
            CAST((length(lower(text)) - length(replace(lower(text), 'row', ''))) / 3
                 AS INTEGER) AS c_row
        FROM documents
    )
    SELECT doc_id, tagged_lang, c_the, c_data, c_query, c_row,
           CASE WHEN c_the >= greatest(c_data, c_query, c_row) THEN 'en'
                WHEN c_data >= greatest(c_query, c_row) THEN 'de'
                WHEN c_query >= c_row THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM c
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-count language-ID heuristic: count marker substrings
    via the exact length-difference trick, argmax with a fixed
    preference order. Map-only projection — no shuffle at any scale."""
    docs = Catalog(spark, sf_dir).documents
    low = F.lower(F.col("text"))
    counts = {
        "c_the": TX.occurrences(low, "the"),
        "c_data": TX.occurrences(low, "data"),
        "c_query": TX.occurrences(low, "query"),
        "c_row": TX.occurrences(low, "row"),
    }
    d = docs.select(
        "doc_id",
        F.col("lang").alias("tagged_lang"),
        *[c.alias(n) for n, c in counts.items()],
    )
    return d.withColumn(
        "predicted_lang",
        F.when(
            F.col("c_the") >= F.greatest("c_data", "c_query", "c_row"), "en"
        )
        .when(F.col("c_data") >= F.greatest("c_query", "c_row"), "de")
        .when(F.col("c_query") >= F.col("c_row"), "fr")
        .otherwise("es"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH m AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(trim(text), ' ')) AS n_tokens,
               length(replace(text, ' ', '')) AS n_nonspace,
               CAST((length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3
                    AS INTEGER) AS c_stop
        FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(round(n_nonspace::DOUBLE / n_tokens * 1000000) AS BIGINT)
               AS avg_token_len_micro,
           CAST(round(c_stop::DOUBLE / n_tokens * 1000000) AS BIGINT)
               AS stopword_ratio_micro,
           CAST(round(least(1.0, n_tokens / 100.0)
                      * (1.0 - least(1.0, c_stop::DOUBLE / n_tokens))
                      * 1000000) AS BIGINT) AS quality_micro
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, avg token length, stopword-marker
    ratio, composite score — the standard pretraining-corpus filters,
    all exact integer/rounded math, map-only."""
    # spread: per-doc token/ratio map over a 1-split fixture scan
    # (no-op at scale)
    docs = spread(Catalog(spark, sf_dir).documents)
    n_tokens = TX.whitespace_token_count(F.col("text"))
    n_nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    c_stop = TX.occurrences(F.lower(F.col("text")), "the")
    d = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_nonspace.alias("n_nonspace"),
        c_stop.alias("c_stop"),
    )
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        SC.micro_units(F.col("n_nonspace") / F.col("n_tokens")).alias(
            "avg_token_len_micro"
        ),
        SC.micro_units(F.col("c_stop") / F.col("n_tokens")).alias(
            "stopword_ratio_micro"
        ),
        SC.micro_units(
            F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
            * (1.0 - F.least(F.lit(1.0), F.col("c_stop") / F.col("n_tokens")))
        ).alias("quality_micro"),
    )


@query(
    "token_counts",
    oracle="""
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS n_ws_tokens,
           CAST(list_sum(list_transform(string_split(trim(text), ' '),
                t -> CAST(ceil(length(t) / 4.0) AS INTEGER))) AS INTEGER)
               AS n_subtokens,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish ceil(len/4) subtoken
    bound per token — the budgeting pass of a training-data pipeline."""
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        TX.whitespace_token_count(F.col("text")).alias("n_ws_tokens"),
        TX.subtoken_count(F.col("text")).alias("n_subtokens"),
        F.length("text").alias("n_chars_measured"),
    )


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(text) AS full_hash,
           (SELECT min(md5(substr(text,
                               greatest(1, 1 + (length(text) - 16) * i // 3),
                               16)))
            FROM range(4) r(i)) AS window_fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-content md5 + winnowing-style min
    hash over 4 evenly spaced 16-char windows (rolling-hash stand-in)."""
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        F.md5("text").alias("full_hash"),
        TX.doc_fingerprint(F.col("text")).alias("window_fingerprint"),
    )


@query(
    "top_tokens_per_lang",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS token
        FROM documents
    ), counted AS (
        SELECT lang, token, count(*) AS n
        FROM tok WHERE token <> '' GROUP BY lang, token
    )
    SELECT lang, token, n,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, token) AS BIGINT) AS rank
    FROM counted
    QUALIFY rank <= 5
    """,
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-5 tokens per language bucket
    (explode → count → rank window, deterministic tiebreak on token).

    Scale: explode multiplies rows by tokens/doc, but the count
    aggregates map-side first, so the shuffle carries (lang, token)
    partial counts — vocabulary-sized, not corpus-sized.
    """
    docs = Catalog(spark, sf_dir).documents
    from pyspark.sql import Window

    tok = docs.select(
        "lang", F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    counted = tok.groupBy("lang", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM tok WHERE token <> '' GROUP BY doc_id, token
    ), df_ AS (
        SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), n_docs AS (
        SELECT count(*) AS n FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.token,
               CAST(round(tf.tf * n_docs.n / df_.df * 1000000) AS BIGINT)
                   AS salience_micro
        FROM tf JOIN df_ ON tf.token = df_.token, n_docs
    )
    SELECT doc_id, token, salience_micro,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY salience_micro DESC, token) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms: TF-IDF-style scoring with a log-free
    rational idf (tf × N / df) so the score is an exact rational →
    identical across engines (libm log() is not bit-portable); ranking
    and keyword selection behave like classic TF-IDF.

    Scale: tf and df are two aggregations sharing the token key. The
    df-join is NOT broadcast-hinted: at web scale the distinct-token
    table is tens of GB and a forced broadcast OOMs executors, so
    Catalyst decides — auto-broadcast under the threshold, otherwise a
    shuffle join already co-partitioned on ``token`` (tf was just
    aggregated on that key, so the exchange is reused). Only the
    single-row corpus count is broadcast unconditionally.
    """
    # spread: the token explode runs over a 1-split fixture scan
    # (no-op at cluster scale)
    docs = spread(Catalog(spark, sf_dir).documents, "doc_id")
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    # Persisted: tf feeds the df aggregation AND the scoring join —
    # without the persist both re-run the explode from the scan (r14).
    tf = persist(tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df_, "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            SC.micro_units(F.col("tf") * F.col("n") / F.col("df")).alias(
                "salience_micro"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("salience_micro").desc(), F.col("token")
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 3
    )


@query(
    "doc_chunking",
    oracle="""
    WITH exploded AS (
        SELECT doc_id, text,
               unnest(range((length(text) - 1) // 150 + 1)) AS chunk_id
        FROM documents
    )
    SELECT doc_id,
           chunk_id,
           substr(text, 1 + chunk_id * 150, 200) AS chunk,
           length(substr(text, 1 + chunk_id * 150, 200)) AS chunk_len
    FROM exploded
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: fixed 200-char windows with 50-char overlap
    (stride 150) — the context-window preprocessing step of a training
    pipeline, as a pure explode of generated offsets (no Python).

    Scale: chunking is map-side only; output rows ≈ corpus_len/stride.
    Downstream embedding/tokenization operates per chunk.
    """
    # No spread here (unlike the other map-only rows): the chunk
    # explode is cheap enough per row that the repartition round-trip
    # costs more than the serial map saves (r14 interleaved A/B at
    # sf0.1: spread ON min 0.26 / med 0.33 s vs OFF min 0.21 / med
    # 0.23 s; the other spread rows measured neutral-or-better with
    # it). At corpus scale the scan plans many splits and chunking
    # parallelizes off the scan itself.
    docs = Catalog(spark, sf_dir).documents
    n_chunks = F.floor((F.length("text") - 1) / 150).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.substring(F.col("text"), i * 150 + 1, 200).alias("chunk"),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.chunk").alias("chunk"),
            F.length("c.chunk").alias("chunk_len"),
        )
    )


@query(
    "corpus_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)
                     IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d')
                THEN 'val'
                ELSE 'test'
           END AS split
    FROM documents
    """,
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (75/12.5/12.5 by
    the last md5 hex digit of the id) — reproducible across runs,
    engines and cluster sizes, unlike `df.sample` (partition-dependent).
    Map-only at any scale."""
    docs = Catalog(spark, sf_dir).documents
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1)
    return docs.select(
        "doc_id",
        F.when(digit.isin(*"0123456789ab"), "train")
        .when(digit.isin("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           'text/plain' AS mime,
           strlen(text) AS byte_len,
           substr(md5(text), 1, 8) AS sample_hash
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, SQL-checkable part: binary payload metadata
    (byte length, content hash sample, mime tag).

    The documents' text stands in for an opaque binary column; the
    Pandas-UDF decode/feature path (mapInPandas over binary + typed
    metadata, stubbed decode per the container's lib constraints) lives
    in jonesy_spark.multimodal and is exercised by tests — this query
    verifies the metadata projection the real pipeline would compute."""
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        F.lit("text/plain").alias("mime"),
        F.octet_length("text").cast("long").alias("byte_len"),
        F.substring(F.md5("text"), 1, 8).alias("sample_hash"),
    )


@query(
    "multimodal_real_codec",
    # Closed-form oracle of the WHOLE vendored decode chain: the PPM
    # fixture's pixels are an exact function of (doc_id, x, y), so the
    # oracle recomputes luma, the floor-rule thumbnails, the feature
    # micro-units and the 64-bit dHash in pure SQL — any byte-level
    # defect in the encoder, header parser, raster reader, luma
    # weights or resampler diverges the hash (VERDICT r6 #3: the codec
    # seam, exercised on real pixel bytes without PIL).
    oracle="""
    WITH g8 AS (
        SELECT d.doc_id, j.j, i.i,
               ((299 * ((13 * (2 * i.i) + d.doc_id) % 256)
                 + 587 * ((7 * (2 * j.j) + d.doc_id) % 256)
                 + 114 * ((2 * i.i + 2 * j.j) % 256)) // 1000) AS g
        FROM documents d, range(8) j(j), range(8) i(i)
    ),
    feat AS (
        SELECT doc_id, CAST(j * 8 + i AS BIGINT) AS j,
               CAST(round(g * 1000000.0 / 255) AS BIGINT) AS component_micro
        FROM g8
    ),
    g9 AS (
        SELECT d.doc_id, j.j, i.i,
               ((299 * ((13 * ((i.i * 16) // 9) + d.doc_id) % 256)
                 + 587 * ((7 * (2 * j.j) + d.doc_id) % 256)
                 + 114 * (((i.i * 16) // 9 + 2 * j.j) % 256)) // 1000) AS g
        FROM documents d, range(8) j(j), range(9) i(i)
    ),
    bits AS (
        SELECT a.doc_id,
               sum(CASE WHEN b.g > a.g
                        THEN CAST(1 AS HUGEINT) << (63 - (a.j * 8 + a.i))
                        ELSE CAST(0 AS HUGEINT) END) AS raw
        FROM g9 a JOIN g9 b ON b.doc_id = a.doc_id AND b.j = a.j
                          AND b.i = a.i + 1
        WHERE a.i < 8
        GROUP BY a.doc_id
    ),
    ph AS (
        SELECT doc_id,
               CAST(CASE WHEN raw >= CAST(1 AS HUGEINT) << 63
                         THEN raw - (CAST(1 AS HUGEINT) << 64)
                         ELSE raw END AS BIGINT) AS phash
        FROM bits
    )
    SELECT f.doc_id, 16 AS width, 16 AS height,
           f.j, f.component_micro, ph.phash, 'ppm' AS decoder
    FROM feat f JOIN ph USING (doc_id)
    """,
)
def multimodal_real_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-pixel media decode, end to end: serialize each doc_id's
    deterministic 16x16 fixture image as binary P6 PPM
    (multimodal.binary_ops.attach_ppm_payload), then parse the payload
    bytes back through the vendored pure-Python codec and emit the 8x8
    luma feature vector (integer micro-units) and the 9x8 perceptual
    dHash (multimodal.binary_ops.ppm_features). Two Arrow-batched
    Python hops (encode, decode) — the codec boundary shape of the
    module — with everything between them closed-form checkable.
    The driver row FLATTENS feature_micro to one scalar row per
    (doc_id, j) — the driver's pandas canonicalizer cannot sort
    list-valued cells (r07 ERR); ppm_features keeps the array API."""
    from ..multimodal import binary_ops as MM

    # spread: two Arrow-batched Python hops over a scan that plans 1
    # split on the fixture files (no-op at cluster scale)
    docs = spread(Catalog(spark, sf_dir).documents)
    out = MM.ppm_features(MM.attach_ppm_payload(docs))
    return out.select(
        "doc_id",
        "width",
        "height",
        F.posexplode("feature_micro").alias("j", "component_micro"),
        "phash",
        "decoder",
    ).select(
        "doc_id",
        "width",
        "height",
        F.col("j").cast("long").alias("j"),
        "component_micro",
        "phash",
        "decoder",
    )


@query(
    "multimodal_audio_codec",
    # Closed-form oracle of the vendored WAV decode chain — the audio
    # twin of multimodal_real_codec: the fixture clip's samples are an
    # exact function of (doc_id, i), so the oracle recomputes the
    # integer loudness envelope and the 65-point waveform dHash in
    # pure SQL; any defect in the RIFF writer, chunk walker, PCM
    # reader, framing or resampling diverges the hash.
    oracle="""
    WITH loud AS (
        SELECT d.doc_id, j.j,
               (sum(abs(((7 * i.i + d.doc_id) % 256) * 16 - 2048))
                // 32) AS la
        FROM documents d, range(8) j(j), range(32) f(f),
             LATERAL (SELECT j.j * 32 + f.f AS i) i
        GROUP BY d.doc_id, j.j
    ),
    feat AS (
        SELECT doc_id, CAST(j AS BIGINT) AS frame,
               CAST(la AS BIGINT) AS loudness
        FROM loud
    ),
    pts AS (
        SELECT d.doc_id, k.k,
               ((7 * ((k.k * 256) // 65) + d.doc_id) % 256) * 16 - 2048 AS v
        FROM documents d, range(65) k(k)
    ),
    bits AS (
        SELECT a.doc_id,
               sum(CASE WHEN b.v > a.v
                        THEN CAST(1 AS HUGEINT) << (63 - a.k)
                        ELSE CAST(0 AS HUGEINT) END) AS raw
        FROM pts a JOIN pts b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        WHERE a.k < 64
        GROUP BY a.doc_id
    ),
    wh AS (
        SELECT doc_id,
               CAST(CASE WHEN raw >= CAST(1 AS HUGEINT) << 63
                         THEN raw - (CAST(1 AS HUGEINT) << 64)
                         ELSE raw END AS BIGINT) AS whash
        FROM bits
    )
    SELECT f.doc_id, 8000 AS sample_rate, 256 AS n_samples,
           f.frame, f.loudness, wh.whash, 'wav' AS decoder
    FROM feat f JOIN wh USING (doc_id)
    """,
)
def multimodal_audio_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-sample audio decode, end to end: serialize each doc_id's
    deterministic 256-sample PCM clip as binary RIFF/WAVE
    (multimodal.binary_ops.attach_wav_payload), then parse the payload
    bytes back through the vendored chunk-walking codec and emit the
    integer per-frame loudness envelope plus the 65-point waveform
    dHash (multimodal.binary_ops.wav_features) — the audio modality's
    twin of multimodal_real_codec, same two-Arrow-hop shape, same
    closed-form checkability. The driver row FLATTENS the loudness
    envelope to one scalar row per (doc_id, frame) — roster
    projections are scalar-only (the driver's pandas canonicalizer
    cannot sort list cells); wav_features keeps the array API."""
    from ..multimodal import binary_ops as MM

    # spread: two Arrow-batched Python hops over a scan that plans 1
    # split on the fixture files (no-op at cluster scale)
    docs = spread(Catalog(spark, sf_dir).documents)
    out = MM.wav_features(MM.attach_wav_payload(docs))
    return out.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.posexplode("loudness").alias("frame", "loudness"),
        "whash",
        "decoder",
    ).select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.col("frame").cast("long").alias("frame"),
        "loudness",
        "whash",
        "decoder",
    )


@query(
    "multimodal_video_codec",
    # Closed-form oracle of the multi-frame decode chain — the video
    # member of the real-codec trio: per-frame 9x8 dHash sequence +
    # per-frame mean luma, recomputed in pure SQL from the fixture
    # clip's (doc_id, frame, x, y) closed form. Any defect in the
    # stream walker (frame boundaries!), per-frame parse, luma or
    # resampling diverges the hash.
    oracle="""
    WITH g AS (
        SELECT d.doc_id, f.f, y.y, x.x,
               ((299 * ((13 * x.x + 5 * f.f + d.doc_id) % 256)
                 + 587 * ((7 * y.y + 3 * f.f + d.doc_id) % 256)
                 + 114 * ((x.x + y.y + f.f) % 256)) // 1000) AS g
        FROM documents d, range(4) f(f), range(16) y(y), range(16) x(x)
    ),
    ml AS (
        SELECT doc_id, f, (sum(g) // 256) AS m
        FROM g GROUP BY doc_id, f
    ),
    g9 AS (
        SELECT d.doc_id, f.f, j.j, i.i,
               ((299 * ((13 * ((i.i * 16) // 9) + 5 * f.f + d.doc_id) % 256)
                 + 587 * ((7 * (2 * j.j) + 3 * f.f + d.doc_id) % 256)
                 + 114 * (((i.i * 16) // 9 + 2 * j.j + f.f) % 256)) // 1000)
                   AS g
        FROM documents d, range(4) f(f), range(8) j(j), range(9) i(i)
    ),
    bits AS (
        SELECT a.doc_id, a.f,
               sum(CASE WHEN b.g > a.g
                        THEN CAST(1 AS HUGEINT) << (63 - (a.j * 8 + a.i))
                        ELSE CAST(0 AS HUGEINT) END) AS raw
        FROM g9 a JOIN g9 b ON b.doc_id = a.doc_id AND b.f = a.f
                          AND b.j = a.j AND b.i = a.i + 1
        WHERE a.i < 8
        GROUP BY a.doc_id, a.f
    ),
    fh AS (
        SELECT doc_id, f,
               CAST(CASE WHEN raw >= CAST(1 AS HUGEINT) << 63
                         THEN raw - (CAST(1 AS HUGEINT) << 64)
                         ELSE raw END AS BIGINT) AS frame_hash
        FROM bits
    )
    SELECT m.doc_id, 4 AS n_frames, CAST(m.f AS BIGINT) AS f,
           fh.frame_hash, CAST(m.m AS BIGINT) AS mean_luma,
           'ppm-stream' AS decoder
    FROM ml m JOIN fh ON fh.doc_id = m.doc_id AND fh.f = m.f
    """,
)
def multimodal_video_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-frame video decode, end to end: serialize each
    doc_id's deterministic 4-frame clip as a concatenated-P6 stream
    (multimodal.binary_ops.attach_ppm_video_payload — the Netpbm
    animation convention), then walk the stream back through the
    vendored codec and emit the per-frame dHash sequence + mean-luma
    track (multimodal.binary_ops.video_features). Completes the
    image/audio/video real-codec trio, same two-Arrow-hop shape, same
    closed-form checkability. The driver row FLATTENS the two
    frame-indexed arrays to one scalar row per (doc_id, f) via
    arrays_zip + posexplode — roster projections are scalar-only;
    video_features keeps the array API."""
    from ..multimodal import binary_ops as MM

    # spread: two Arrow-batched Python hops over a scan that plans 1
    # split on the fixture files (no-op at cluster scale)
    docs = spread(Catalog(spark, sf_dir).documents)
    out = MM.video_features(MM.attach_ppm_video_payload(docs))
    return out.select(
        "doc_id",
        "n_frames",
        F.posexplode(F.arrays_zip("frame_hashes", "mean_luma")).alias(
            "f", "z"
        ),
        "decoder",
    ).select(
        "doc_id",
        "n_frames",
        F.col("f").cast("long").alias("f"),
        F.col("z.frame_hashes").alias("frame_hash"),
        F.col("z.mean_luma").alias("mean_luma"),
        "decoder",
    )


@query(
    "image_near_dup",
    # Brute-force oracle of the banded perceptual-hash near-dup over
    # REAL decoded pixels: per-doc 9x8 dHashes from the planted-pair
    # fixture's closed form, then ALL pairs verified exactly
    # (bit_count(xor) <= h) with no banding — media_near_dup's
    # pigeonhole recall (any two hashes within h < 8 bits share one
    # of 8 disjoint bands) is proven by the hash match. Ground truth:
    # (2k, 2k+1) differ by one corner-pixel perturbation -> at most
    # one dHash bit (attach_ppm_near_dup_payload).
    oracle="""
    WITH g9 AS (
        SELECT d.doc_id, j.j, i.i,
               ((299 * ((13 * ((i.i * 16) // 9)
                         + (d.doc_id - d.doc_id % 2)) % 256)
                 + 587 * ((7 * (2 * j.j)
                           + (d.doc_id - d.doc_id % 2)) % 256)
                 + 114 * ((((i.i * 16) // 9) * (2 * j.j)
                           + (d.doc_id - d.doc_id % 2) * ((i.i * 16) // 9)
                           + CASE WHEN i.i = 0 AND j.j = 0
                                  THEN 200 * (d.doc_id % 2) ELSE 0 END)
                          % 256)) // 1000) AS g
        FROM documents d, range(8) j(j), range(9) i(i)
    ),
    bits AS (
        SELECT a.doc_id,
               sum(CASE WHEN b.g > a.g
                        THEN CAST(1 AS HUGEINT) << (63 - (a.j * 8 + a.i))
                        ELSE CAST(0 AS HUGEINT) END) AS raw
        FROM g9 a JOIN g9 b ON b.doc_id = a.doc_id AND b.j = a.j
                          AND b.i = a.i + 1
        WHERE a.i < 8
        GROUP BY a.doc_id
    ),
    ph AS (
        SELECT doc_id,
               CAST(CASE WHEN raw >= CAST(1 AS HUGEINT) << 63
                         THEN raw - (CAST(1 AS HUGEINT) << 64)
                         ELSE raw END AS BIGINT) AS phash
        FROM bits
    )
    SELECT a.doc_id, b.doc_id AS dup_doc_id,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM ph a JOIN ph b ON b.doc_id > a.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """,
)
def image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup over REAL decoded pixels: the
    planted-pair fixture (odd doc = even doc with one corner-pixel
    perturbation) goes through the vendored PPM codec to 9x8 dHashes,
    8-band pigeonhole blocking proposes candidates, exact
    bit_count(xor) verifies (multimodal.binary_ops.media_near_dup).
    The oracle brute-forces every pair from the closed form with no
    banding — banded == exact is the row's claim, the image member of
    the media near-dup verification trio (video_near_dup is the
    temporal one). Runs with pair_density_limit=2B (the counted
    media bounded-tier contract, r14): the sf1 probe counted 412M
    band-bucket pairs enumerating in 9.4 s (verification rides the
    band join inline), so the image/audio budget sits one decade up
    — sf10's ~41B would refuse, naming the capped/incremental
    paths."""
    from ..multimodal import binary_ops as MM

    docs = Catalog(spark, sf_dir).documents
    pairs = MM.media_near_dup(
        MM.attach_ppm_near_dup_payload(docs),
        max_hamming=3,
        fake=False,
        pair_density_limit=2_000_000_000,
    )
    return pairs.select(
        "doc_id",
        "dup_doc_id",
        F.col("hamming").cast("long").alias("hamming"),
    )


@query(
    "audio_near_dup",
    # Brute-force oracle of the banded waveform near-dup over REAL
    # decoded samples — the audio member of the verification trio:
    # 65-point waveform dHashes from the planted-pair fixture's
    # closed form, ALL pairs verified exactly with no banding.
    # Ground truth: (2k, 2k+1) differ by one perturbed sample ->
    # at most one comparison bit (attach_wav_near_dup_payload).
    oracle="""
    WITH pts AS (
        SELECT d.doc_id, k.k,
               (((7 + (d.doc_id - d.doc_id % 2) % 5) * ((k.k * 256) // 65)
                 + (d.doc_id - d.doc_id % 2)) % 256) * 16 - 2048
               + CASE WHEN k.k = 0 THEN 173 * (d.doc_id % 2) ELSE 0 END
                   AS v
        FROM documents d, range(65) k(k)
    ),
    bits AS (
        SELECT a.doc_id,
               sum(CASE WHEN b.v > a.v
                        THEN CAST(1 AS HUGEINT) << (63 - a.k)
                        ELSE CAST(0 AS HUGEINT) END) AS raw
        FROM pts a JOIN pts b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        WHERE a.k < 64
        GROUP BY a.doc_id
    ),
    wh AS (
        SELECT doc_id,
               CAST(CASE WHEN raw >= CAST(1 AS HUGEINT) << 63
                         THEN raw - (CAST(1 AS HUGEINT) << 64)
                         ELSE raw END AS BIGINT) AS whash
        FROM bits
    )
    SELECT a.doc_id, b.doc_id AS dup_doc_id,
           CAST(bit_count(xor(a.whash, b.whash)) AS BIGINT) AS hamming
    FROM wh a JOIN wh b ON b.doc_id > a.doc_id
    WHERE bit_count(xor(a.whash, b.whash)) <= 3
    """,
)
def audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform near-dup over REAL decoded samples: the planted-pair
    clips (odd doc = even doc with one perturbed sample; base-keyed
    sawtooth slope decorrelates unrelated clips) go through the
    vendored RIFF/WAVE codec to 65-point waveform dHashes, 8-band
    pigeonhole blocking proposes candidates, exact bit_count(xor)
    verifies (multimodal.binary_ops.media_near_dup — the WAV mime
    dispatch). The oracle brute-forces every pair from the closed
    form with no banding — banded == exact, completing the
    image/audio/video verification trio. Runs with
    pair_density_limit=2B (see image_near_dup — the sf1 probe counted
    1.04B pairs enumerating in 12.7 s; sf10's ~104B refuses)."""
    from ..multimodal import binary_ops as MM

    docs = Catalog(spark, sf_dir).documents
    pairs = MM.media_near_dup(
        MM.attach_wav_near_dup_payload(docs),
        max_hamming=3,
        fake=False,
        pair_density_limit=2_000_000_000,
    )
    return pairs.select(
        "doc_id",
        "dup_doc_id",
        F.col("hamming").cast("long").alias("hamming"),
    )


@query(
    "video_near_dup",
    # Brute-force oracle of the banded temporal near-dup: per-frame
    # dHashes from the shifted fixture's closed form, then ALL pairs x
    # ALL alignments verified exactly (bit_count(xor)) — no banding.
    # The operator's pigeonhole recall claim (every all-pairs-within-h
    # alignment shares a band per overlapping frame) is therefore
    # PROVEN by the hash match, not asserted: banded Spark == exact
    # SQL. Planted ground truth: (2k, 2k+1) overlap 3 frames at
    # shift -1 with hamming 0 (attach_shifted_video_payload).
    oracle="""
    WITH g9 AS (
        SELECT d.doc_id, f.f, j.j, i.i,
               ((299 * ((13 * ((i.i * 16) // 9)
                         + 5 * (f.f + d.doc_id % 2)
                         + (d.doc_id - d.doc_id % 2)) % 256)
                 + 587 * ((7 * (2 * j.j) + 3 * (f.f + d.doc_id % 2)
                           + (d.doc_id - d.doc_id % 2)) % 256)
                 + 114 * ((((i.i * 16) // 9) * (2 * j.j)
                           + (d.doc_id - d.doc_id % 2) * ((i.i * 16) // 9)
                           + (f.f + d.doc_id % 2)) % 256)) // 1000)
                   AS g
        FROM documents d, range(4) f(f), range(8) j(j), range(9) i(i)
    ),
    bits AS (
        SELECT a.doc_id, a.f,
               sum(CASE WHEN b.g > a.g
                        THEN CAST(1 AS HUGEINT) << (63 - (a.j * 8 + a.i))
                        ELSE CAST(0 AS HUGEINT) END) AS raw
        FROM g9 a JOIN g9 b ON b.doc_id = a.doc_id AND b.f = a.f
                          AND b.j = a.j AND b.i = a.i + 1
        WHERE a.i < 8
        GROUP BY a.doc_id, a.f
    ),
    fh AS (
        SELECT doc_id, f,
               CAST(CASE WHEN raw >= CAST(1 AS HUGEINT) << 63
                         THEN raw - (CAST(1 AS HUGEINT) << 64)
                         ELSE raw END AS BIGINT) AS frame_hash
        FROM bits
    ),
    align AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, s.s AS shift,
               count(*) AS n_overlap,
               sum(bit_count(xor(a.frame_hash, b.frame_hash))) AS ht,
               max(bit_count(xor(a.frame_hash, b.frame_hash))) AS hmax
        FROM range(-3, 4) s(s)
        CROSS JOIN fh a
        JOIN fh b ON b.doc_id > a.doc_id AND b.f = a.f + s.s
        GROUP BY 1, 2, 3
    )
    SELECT doc_a, doc_b, CAST(shift AS BIGINT) AS shift,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           CAST(ht AS BIGINT) AS hamming_total
    FROM align WHERE hmax <= 3 AND n_overlap >= 2
    """,
)
def video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (shot-level) video near-dup over REAL decoded frames:
    the shifted fixture clips (odd doc = even doc's sequence advanced
    one frame) go through the vendored stream codec, per-frame 9x8
    dHashes band into 8 pigeonhole buckets, candidate (pair, shift)
    alignments come off the band equi-join, and exact
    bit_count(xor) verification enforces the all-overlapping-frames
    <= 3 bits contract (multimodal.binary_ops.video_near_dup has the
    recall theorem and scale notes). The oracle brute-forces every
    pair and alignment from the closed form — banded == exact is the
    row's claim. Runs with pair_density_limit=500M — the video member
    is the media family's quadratic hot spot (frames multiply bucket
    density, and each candidate pays a distinct + two frame re-joins):
    the r14 sf1 probe counted 6.25B candidate pairs at 10x data (100x
    sf0.1's 62.4M — in-bucket growth is quadratic in per-bucket clip
    count) and neither broadcast nor merge plans survive enumerating
    that, so past the budget the row REFUSES BY CONTRACT, naming the
    bucket_cap / incremental-phash-index scale paths (the r13 PPJoin
    precedent)."""
    from ..multimodal import binary_ops as MM

    docs = Catalog(spark, sf_dir).documents
    return MM.video_near_dup(
        MM.attach_shifted_video_payload(docs),
        max_hamming=3,
        min_overlap=2,
        pair_density_limit=500_000_000,
    )


@query(
    "warc_ingest_roundtrip",
    # Identity oracle: the WARC writer + parser must be inverses, so
    # parsing the archives built from `documents` must return exactly
    # the documents' own (doc_id, byte length, text) — any framing,
    # Content-Length, gzip-member or decode defect diverges the hash.
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           text
    FROM documents
    """,
)
def warc_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest round trip: pack the documents table into
    per-record-GZIPPED WARC archives (8 archives, one applyInPandas
    group each — the Common Crawl layout and the format's natural
    parallelism unit, since WARC is not splittable mid-file), then
    explode them back through the vendored record walker
    (pipeline.warc.warc_text_records) and recover every document's
    bytes exactly. Two Arrow hops (pack, walk) — the crawl-corpus
    front door's codec boundary, closed-form checkable as identity."""
    from collections.abc import Iterator

    import pandas as pd

    from ..pipeline import warc as W

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "text", (F.col("doc_id") % 8).alias("__archive")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        payload = W.encode_warc(
            [
                (f"https://corpus.example/{int(d)}", "2024-01-01T00:00:00Z",
                 t.encode("utf-8"))
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ],
            gzip_members=True,
        )
        return pd.DataFrame(
            {"archive_id": [f"arc-{int(pdf['__archive'].iloc[0])}"],
             "payload": [payload]}
        )

    archives = docs.groupBy("__archive").applyInPandas(
        pack, schema="archive_id string, payload binary"
    )
    recs = W.warc_text_records(archives)
    return recs.select(
        F.regexp_extract("record_url", r"/(\d+)$", 1).cast("long").alias(
            "doc_id"
        ),
        "n_bytes",
        "text",
    )


@query(
    "dsir_select",
    oracle="""
    WITH tok_r AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    tf_r AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 7))::BIGINT % 32768 AS bucket,
               count(*) AS tf
        FROM tok_r GROUP BY 1, 2
    ),
    tok_t AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents WHERE lang = 'en'
        ) WHERE t <> ''
    ),
    ct AS (
        SELECT ('0x' || substr(md5(t), 1, 7))::BIGINT % 32768 AS bucket,
               count(*) AS ct
        FROM tok_t GROUP BY 1
    ),
    cr AS (SELECT bucket, sum(tf) AS cr FROM tf_r GROUP BY 1),
    counts AS (
        SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
               coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
        FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket
    ),
    tot AS (SELECT sum(ct) AS tot_t, sum(cr) AS tot_r FROM counts),
    w AS (
        SELECT bucket,
               round(ln((ct + 1.0) / (tot_t + 32768.0))
                     - ln((cr + 1.0) / (tot_r + 32768.0)), 9) AS weight
        FROM counts CROSS JOIN tot
    ),
    scored AS (
        -- DECIMAL accumulation (see the classifier oracle)
        SELECT tf_r.doc_id, CAST(sum(tf) AS INT) AS n_tokens,
               CAST(round(sum(tf * CAST(w.weight AS DECIMAL(12,9))), 6)
                    * 1000000 AS BIGINT) AS log_weight_micro
        FROM tf_r JOIN w USING (bucket)
        GROUP BY tf_r.doc_id
    ),
    allr AS (
        SELECT d.doc_id,
               coalesce(s.n_tokens, 0) AS n_tokens,
               coalesce(s.log_weight_micro, 0) AS log_weight_micro
        FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    )
    SELECT doc_id, n_tokens, log_weight_micro,
           log_weight_micro
           - CAST(round(ln(-ln(greatest(
                 ('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                 / 268435456.0,
                 0.5 / 268435456.0))) * 1000000) AS BIGINT) AS sample_key_micro
    FROM allr
    ORDER BY sample_key_micro DESC, doc_id
    LIMIT 100
    """,
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (public method, Xie et al. 2023):
    select the 100 raw documents whose hashed bag-of-words importance
    ratio toward the English-subset "target distribution" wins the
    Gumbel-top-k draw — the data-selection step between quality
    gating and mixture sampling. The oracle reproduces the whole
    chain: both class-conditional bucket distributions, the smoothed
    log ratio, the per-doc weight, the md5 Gumbel key, and the
    deterministic top-k cut. operators.corpus.dsir_weights has the
    broadcast-weights scale notes."""
    from ..operators import corpus as C

    docs = Catalog(spark, sf_dir).documents
    return C.dsir_select(docs, docs.filter(F.col("lang") == "en"), k=100)


@query(
    "mixture_sample",
    oracle="""
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN (VALUES ('src0', 0.8), ('src1', 0.25), ('src2', 0.5)) r(source, rate)
      USING (source)
    WHERE ('0x' || substr(md5('mix-v1|' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
          / 268435456.0 < r.rate
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain mixture sampling (training-mix weights):
    broadcast rate table + md5-derived U[0,1) draw per doc — map-only,
    rerun-stable, resample-able by salt. operators.corpus.mixture_sample."""
    from ..operators import corpus as C

    return C.mixture_sample(
        Catalog(spark, sf_dir).documents,
        {"src0": 0.8, "src1": 0.25, "src2": 0.5},
        salt="mix-v1",
    )


@query(
    "mixture_upsample",
    oracle="""
    WITH rated AS (
        SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
               CAST(floor(r.rate) AS INT)
               + CASE WHEN ('0x' || substr(md5('up-v1|' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
                           / 268435456.0 < r.rate - floor(r.rate)
                 THEN 1 ELSE 0 END AS n_copies
        FROM documents d
        JOIN (VALUES ('src0', 2.3), ('src1', 0.5), ('src2', 1.0), ('src3', 3.7))
             r(source, rate) USING (source)
    )
    SELECT doc_id, text, lang, source, n_chars,
           CAST(unnest(generate_series(0, n_copies - 1)) AS INT) AS copy_nbr
    FROM rated
    WHERE n_copies > 0
    """,
)
def mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture with upsampling (rate > 1 emits whole copies plus an
    md5-deterministic fractional copy; rate <= 1 degenerates to
    mixture_sample): broadcast rate table, map-side sequence() explode,
    copy_nbr distinguishes the copies for downstream shuffling/packing.
    The row-multiplication (explode of a computed-length sequence)
    family's first driver witness. operators.corpus.mixture_upsample."""
    from ..operators import corpus as C

    return C.mixture_upsample(
        Catalog(spark, sf_dir).documents,
        {"src0": 2.3, "src1": 0.5, "src2": 1.0, "src3": 3.7},
        salt="up-v1",
    )


@query(
    "train_order",
    oracle="""
    SELECT doc_id,
           md5('shuffle-v1|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    """,
)
def train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: md5 sort key +
    repartitionByRange + sortWithinPartitions. The driver compare is
    order-insensitive, so this row witnesses the salt-keyed shuffle-key
    EXPRESSION (identical across engines, rerun-stable, re-salted per
    epoch); the range-partitioned file layout itself is pinned by
    tests/test_plans.py::test_train_order_range_partitions and the
    balance/determinism properties in tests/test_corpus.py.
    operators.corpus.train_order."""
    from ..operators import corpus as C

    return C.train_order(
        Catalog(spark, sf_dir).documents, salt="shuffle-v1", n_files=16
    ).select("doc_id", "shuffle_key")


@query(
    "pack_sequences",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               md5('pack-v1|' || CAST(doc_id AS VARCHAR)) AS pack_key,
               ('0x' || substr(md5(md5('pack-v1|' || CAST(doc_id AS VARCHAR))), 1, 7))::BIGINT
                   % 64 AS shard,
               greatest(len(string_split(trim(text), ' ')), 1) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               (sum(n_tokens) OVER (PARTITION BY shard ORDER BY pack_key))::BIGINT
                   - n_tokens AS start_offset
        FROM base
    )
    SELECT doc_id, shard, CAST(n_tokens AS INT) AS n_tokens, start_offset,
           floor(start_offset / 512)::BIGINT AS seq_nbr,
           CAST(shard AS VARCHAR) || '-' || CAST(floor(start_offset / 512)::BIGINT AS VARCHAR)
               AS seq_id
    FROM packed
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing into 512-token training
    sequences: hash-sharded (no global sort — the window partitions by
    shard), deterministic order within shards, overflow spills to the
    next sequence. operators.corpus.pack_sequences."""
    from ..operators import corpus as C

    return C.pack_sequences(Catalog(spark, sf_dir).documents, budget_tokens=512)


@query(
    "repetition_stats",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(trim(lower(text)), ' ') AS ts
        FROM documents
    ),
    base AS (
        SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
               CAST(round((len(ts) - len(list_distinct(ts)))
                          / greatest(len(ts), 1) * 1000000) AS BIGINT)
                   AS dup_token_frac_micro,
               CASE WHEN len(ts) >= 2 THEN list_transform(
                   range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
               ELSE [] END AS grams
        FROM toks
    ),
    per_gram AS (
        SELECT doc_id, u.g, count(*) AS c
        FROM base, unnest(grams) u(g)
        GROUP BY ALL
    )
    SELECT b.doc_id, b.n_tokens, b.dup_token_frac_micro,
           CAST(round(coalesce(m.mx, 0) / greatest(coalesce(m.tot, 0), 1)
                      * 1000000) AS BIGINT)
               AS top_ngram_frac_micro,
           coalesce(m.mx, 0)::BIGINT AS max_ngram_count
    FROM base b
    LEFT JOIN (
        SELECT doc_id, max(c) AS mx, sum(c) AS tot
        FROM per_gram GROUP BY doc_id
    ) m USING (doc_id)
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition diagnostics (dup-token fraction, most
    frequent 2-gram share): relational explode + keyed counts with
    map-side combine — see operators.corpus.repetition_stats for the
    scale shape (no higher-order accumulators, no per-doc Python)."""
    from ..operators import corpus as C

    return C.repetition_stats(Catalog(spark, sf_dir).documents)


@query(
    "contamination",
    oracle="""
    WITH dg AS (
        SELECT doc_id,
               ('0x' || substr(md5(u.g), 1, 7))::BIGINT AS h
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, length(text) - 11),
                       i -> substr(text, i, 13))) AS gs
            FROM documents WHERE length(text) >= 13
        ), unnest(gs) u(g)
    ),
    bg AS (
        SELECT DISTINCT ('0x' || substr(md5(u.g), 1, 7))::BIGINT AS h
        FROM (
            SELECT list_distinct(list_transform(
                       range(1, length(text) - 11),
                       i -> substr(text, i, 13))) AS gs
            FROM documents
            WHERE doc_id % 50 = 0 AND length(text) >= 13
        ), unnest(gs) u(g)
    )
    SELECT dg.doc_id,
           count(*) AS n_grams,
           sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_contaminated,
           CAST(round(sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END)
                      / count(*) * 1000000) AS BIGINT) AS contamination_frac_micro
    FROM dg LEFT JOIN bg ON dg.h = bg.h
    GROUP BY dg.doc_id
    """,
)
def contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-gram benchmark-decontamination report: every 50th document
    plays the benchmark (a stand-in eval suite); its distinct char
    13-gram hashes broadcast against the full corpus's exploded grams.
    operators.hygiene.contamination — benchmark members must read
    fully contaminated (frac 1.0), which the differential test pins."""
    from ..operators import hygiene as H

    docs = Catalog(spark, sf_dir).documents
    benchmark = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    return H.contamination(docs, benchmark, n=13)


@query(
    "url_dedup",
    oracle="""
    WITH u AS (
        SELECT doc_id, n_chars,
               CASE WHEN doc_id % 11 = 0
                    THEN 'not a url ' || CAST(doc_id AS VARCHAR)
                    ELSE 'https://' || source || '.example.com/docs/'
                         || CAST(doc_id % 37 AS VARCHAR)
                         || '?page=' || CAST(doc_id % 5 AS VARCHAR)
               END AS canonical_url
        FROM documents
    ),
    r AS (
        SELECT doc_id, canonical_url,
               row_number() OVER (PARTITION BY canonical_url
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM u
    )
    SELECT doc_id, canonical_url FROM r WHERE rn = 1
    """,
)
def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup on the canonical form (functions.url): the
    documents table has no URL column, so each doc gets a deterministic
    crawl-shaped URL (http + www + trailing slash + tracking param +
    page param — every normalization rule fires) colliding on
    (source, doc_id%37, doc_id%5); every 11th doc is malformed to
    exercise the raw-string fallback. The oracle constructs the
    expected canonical form directly — ground truth for the parser
    path, not a reimplementation of it — and picks the same
    longest-text-then-min-id survivor."""
    from ..functions import url as URL

    docs = Catalog(spark, sf_dir).documents
    url = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit("not a url "), F.col("doc_id").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("http://www."),
            F.col("source"),
            F.lit(".example.com/docs/"),
            (F.col("doc_id") % 37).cast("string"),
            F.lit("/?page="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&utm_campaign=track"),
        )
    )
    with_url = docs.select("doc_id", "n_chars", url.alias("url"))
    deduped = URL.url_dedup(with_url, prefer=F.col("n_chars").desc())
    return deduped.select("doc_id", "canonical_url")


@query(
    "quality_filter",
    oracle="""
    WITH m AS (
        SELECT doc_id, source,
               len(string_split(trim(text), ' ')) AS n_tokens,
               CAST((length(lower(text))
                     - length(replace(lower(text), 'the', ''))) / 3
                    AS INTEGER) AS c_stop
        FROM documents
    ),
    q AS (
        SELECT doc_id, source,
               CAST(round(least(1.0, n_tokens / 100.0)
                          * (1.0 - least(1.0, c_stop::DOUBLE / n_tokens))
                          * 1000000) AS BIGINT)
                   AS quality_micro
        FROM m
    ),
    r AS (
        SELECT doc_id, source, quality_micro,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY quality_micro DESC, doc_id) AS pr
        FROM q
    )
    SELECT doc_id, source, quality_micro FROM r WHERE pr <= 0.5
    """,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality-percentile gate (keep the best half of each
    source by the text_quality_score composite): quality is fixed-point
    micro-units (scalars.micro_units — scale first, round ONCE) BEFORE
    ranking on both engines, so rank order, the cut, AND the hashed
    value are integer-deterministic regardless of the harness's float
    normalization or DuckDB's round() implementation. percent_rank is
    (rank-1)/(n-1) on both sides: exact small-int division.
    operators.corpus.quality_percentile_filter has the scale notes."""
    from ..operators import corpus as C

    docs = Catalog(spark, sf_dir).documents
    n_tokens = TX.whitespace_token_count(F.col("text"))
    c_stop = TX.occurrences(F.lower(F.col("text")), "the")
    quality = SC.micro_units(
        F.least(F.lit(1.0), n_tokens / 100.0)
        * (1.0 - F.least(F.lit(1.0), c_stop / n_tokens))
    )
    scored = docs.select("doc_id", "source", quality.alias("quality_micro"))
    return C.quality_percentile_filter(
        scored, F.col("quality_micro"), keep_frac=0.5, by="source"
    )


@query(
    "corpus_card",
    # The per-source data card: every column recomputed directly in
    # SQL from the shared expression fragments (dedup_exact's
    # normalization, quality_filter's composite), so the one hash
    # match witnesses the whole panel.
    oracle="""
    WITH m AS (
        SELECT doc_id, source, lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               len(string_split(trim(text), ' ')) AS n_tokens,
               CAST((length(lower(text))
                     - length(replace(lower(text), 'the', ''))) / 3
                    AS INTEGER) AS c_stop,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                   AS content_hash
        FROM documents
    ),
    q AS (
        SELECT source, lang, n_chars, n_tokens, content_hash,
               CAST(round(least(1.0, n_tokens / 100.0)
                          * (1.0 - least(1.0, c_stop::DOUBLE / n_tokens))
                          * 1000000) AS BIGINT) AS quality_micro
        FROM m
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(n_tokens) AS BIGINT) AS n_ws_tokens,
           CAST(count(*) - count(DISTINCT content_hash) AS BIGINT)
               AS n_exact_dup_docs,
           CAST(sum(quality_micro) // count(*) AS BIGINT)
               AS mean_quality_micro,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en_docs
    FROM q GROUP BY 1
    """,
)
def corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATA CARD — the one-page artifact a training-data
    team publishes per corpus release: volume (docs, chars, whitespace
    tokens), exact-duplicate load (docs beyond their normalized-text
    representative, the dedup_exact normalization), mean quality in
    integer micro-units (the quality_filter composite; integer DIV so
    no float crosses the hash), and the reference-language share. One
    scan, one hash-aggregate keyed by source (the digest distinct rides
    the same aggregation); every column integer or string — the
    dashboard row a 100 TB corpus prints nightly next to the sketch
    ledgers' incremental answers. On the driver roster since r10
    (VERDICT r9 #1)."""
    from ..operators.hygiene import content_digest
    from ..operators.stats import doc_quality_micro

    docs = Catalog(spark, sf_dir).documents
    m = docs.select(
        "source",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        TX.whitespace_token_count(F.col("text")).alias("n_tokens"),
        # the SHARED composite (stats.doc_quality_micro) — the same
        # expression the incremental card folds, so the two cards
        # cannot drift
        doc_quality_micro(F.col("text")).alias("quality_micro"),
        content_digest(F.col("text")).alias("content_hash"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").cast("long").alias("n_ws_tokens"),
            (
                F.count(F.lit(1)) - F.countDistinct("content_hash")
            ).alias("n_exact_dup_docs"),
            F.sum("quality_micro").alias("__qsum"),
            F.sum(
                (F.col("lang") == "en").cast("long")
            ).alias("n_en_docs"),
        )
        .withColumn(
            "mean_quality_micro",
            F.expr("CAST(__qsum DIV n_docs AS BIGINT)"),
        )
        .select(
            "source",
            "n_docs",
            "n_chars",
            "n_ws_tokens",
            "n_exact_dup_docs",
            "mean_quality_micro",
            "n_en_docs",
        )
    )


@query(
    "token_budget_prune",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               greatest(len(string_split(trim(text), ' ')), 1) AS n_tokens,
               CAST((length(lower(text))
                     - length(replace(lower(text), 'the', ''))) / 3
                    AS INTEGER) AS c_stop
        FROM documents
    ),
    q AS (
        SELECT doc_id, n_tokens,
               CAST(round(least(1.0, n_tokens / 100.0)
                          * (1.0 - least(1.0, c_stop::DOUBLE / n_tokens))
                          * 1000000) AS BIGINT)
                   AS quality_micro
        FROM m
    ),
    t AS (
        SELECT doc_id, quality_micro, n_tokens,
               sum(n_tokens) OVER (ORDER BY quality_micro DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM q
    )
    SELECT doc_id, quality_micro, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM t WHERE cum_tokens <= 15000
    """,
)
def token_budget_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard corpus cut: the best documents (same quality composite as
    quality_filter, doc_id tiebreak) until a global 15k-token budget is
    exhausted. The ORACLE is the naive global cumulative window; the
    Spark side is the two-pass range-partition form (per-partition sums
    -> driver prefix offsets -> partition-local windows) — same exact
    rows, no global sort task (operators.corpus.token_budget_prune has
    the scale notes). The ranking key is integer micro-units
    (scalars.micro_units) so BOTH the sort order and the hashed value
    are engine- and harness-version-independent — r06's one red row was
    this query hashing a rounded double. The oracle's cum_tokens window
    sum is CAST to BIGINT because DuckDB's sum(BIGINT) returns HUGEINT,
    which the driver's pandas canonicalizer renders as float64 (99.0)
    while Spark renders int64 (99) — the r07 hash-red root cause."""
    from ..operators import corpus as C

    docs = Catalog(spark, sf_dir).documents
    n_tokens = TX.whitespace_token_count(F.col("text"))
    c_stop = TX.occurrences(F.lower(F.col("text")), "the")
    quality = SC.micro_units(
        F.least(F.lit(1.0), n_tokens / 100.0)
        * (1.0 - F.least(F.lit(1.0), c_stop / n_tokens))
    )
    out = C.token_budget_prune(docs, budget_tokens=15_000, quality=quality)
    return out.withColumnRenamed("quality", "quality_micro")


def _pii_oracle() -> str:
    """DuckDB oracle for pii_stats: the SAME rule patterns the operator
    applies (interpolated from hygiene.PII_RULES, so the two engines can
    never drift), over text with PII injected deterministically from
    doc_id — the fixture corpus itself contains none, and a driver row
    that counted only zeros would witness nothing. Patterns are
    RE2-safe by construction (hygiene.py: no lookarounds), so Java and
    RE2 agree on every match."""
    from ..operators import hygiene as H

    pats = {kind: pat for kind, pat, _ in H.PII_RULES}
    redacted = "txt"
    for kind, pat, repl in H.PII_RULES:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    counts = ",\n           ".join(
        f"len(regexp_extract_all(txt, '{pats[k]}')) AS n_{k}"
        for k in ("email", "ssn", "ipv4", "phone")
    )
    return f"""
    WITH t AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || doc_id || '@example.com now'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 3
                       THEN ' ssn 123-45-6789 leaked' ELSE '' END
               || CASE WHEN doc_id % 13 = 5
                       THEN ' host 10.0.' || (doc_id % 250) || '.1 up'
                       ELSE '' END
               || CASE WHEN doc_id % 17 = 2
                       THEN ' call 415-555-'
                            || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                            || ' now'
                       ELSE '' END AS txt
        FROM documents
    )
    SELECT doc_id,
           {counts},
           {redacted} AS redacted_text
    FROM t
    """


@query("pii_stats", oracle=_pii_oracle())
def pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII counts per rule + redacted text
    (operators.hygiene.pii_stats — chained codegen'd regexp, map-only,
    zero shuffle at any corpus size) over the fixture corpus with
    deterministic doc_id-keyed PII injections, mirrored exactly in the
    oracle. Exercises every rule class (email / SSN / IPv4 / phone) and
    the rule-order contract (SSN before phone)."""
    from ..operators import hygiene as H

    docs = Catalog(spark, sf_dir).documents
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 11 == 3, F.lit(" ssn 123-45-6789 leaked")).otherwise(
            F.lit("")
        ),
        F.when(
            did % 13 == 5,
            F.concat(
                F.lit(" host 10.0."),
                (did % 250).cast("string"),
                F.lit(".1 up"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 17 == 2,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        ).otherwise(F.lit("")),
    )
    return H.pii_stats(docs.select("doc_id", injected.alias("text")))


#: (applicationId, sf_dir) -> localCheckpoint-ed minhash pair graph.
#: One entry per fixture dir per session (pairs are narrow 3-column
#: rows, so the pinned blocks are KBs at driver scale); the checkpoint
#: survives spark.catalog.clearCache(), which is the point — consumers
#: of the GRAPH (dedup_clusters, corpus-style pipelines) must not pay
#: or re-time the LSH computation the dedup_minhash_lsh row already
#: witnesses. Deliberate cross-row state: the checkpoint is the
#: package's one raw ``localCheckpoint()``, owned by the session, not
#: by any cache scope (a row scope releasing it would break the next
#: consumer row with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
_PAIR_GRAPH_MEMO: dict[tuple[str, str], DataFrame] = {}


def _shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified minhash pair graph, computed once per (session,
    sf_dir) and localCheckpoint-ed. ``dedup_minhash_lsh`` itself always
    computes fresh — it is the timing and correctness witness for the
    pair computation; graph consumers reuse. The operator's internal
    sketch caches live in an inner scope that closes once the
    checkpoint holds the pairs."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PAIR_GRAPH_MEMO:
        with cache_scope():
            pairs = DD.minhash_lsh_pairs(
                Catalog(spark, sf_dir).documents,
                n_hashes=16, n_bands=2, threshold=0.8,
            )
            _PAIR_GRAPH_MEMO[key] = pairs.localCheckpoint()
    return _PAIR_GRAPH_MEMO[key]


@query(
    "dedup_clusters",
    # The same verified-pair CTEs as dedup_minhash_lsh, closed
    # transitively: the oracle computes reachability with a recursive
    # CTE (set-semantics UNION terminates on cycles) and labels every
    # node with its component minimum — exactly the operator's contract.
    oracle=f"""
    WITH RECURSIVE {_MINHASH_VERIFIED_PAIRS},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM vpairs
        UNION
        SELECT doc_b, doc_a FROM vpairs
    ),
    reach AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the minhash pair graph: A~B and B~C must
    collapse into one min-id-labeled component even when the LSH bands
    never emitted A~C. operators.graph.connected_components — alternating
    large-star/small-star rounds, O(log^2 n) convergence, edges are two
    longs end to end.

    The pair graph comes from :func:`_shared_minhash_pairs`: computed
    once per (session, sf_dir) and reused, exactly like the corpus
    pipeline feeds ONE pair computation to both its pair report and its
    cluster resolution — the clusters query prices connected components,
    not a second LSH run (r4 verdict #4)."""
    from pyspark.sql import Window

    from ..operators import graph as G

    comps = G.connected_components(_shared_minhash_pairs(spark, sf_dir))
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    ).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )


@query(
    "doc_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS t
        FROM documents
    ),
    tf AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    vocab AS (SELECT t, c FROM tf ORDER BY c DESC, t LIMIT 16),
    tot AS (SELECT (SELECT sum(c) FROM tf) AS n_total,
                   (SELECT count(*) FROM vocab) AS v_actual),
    scored AS (
        SELECT toks.doc_id,
               CASE WHEN v.c IS NULL THEN 1 ELSE 0 END AS is_oov,
               round(ln((coalesce(v.c, 0) + 0.5)
                        / (tot.n_total + 0.5 * (tot.v_actual + 1))), 9) AS lp
        FROM toks LEFT JOIN vocab v ON v.t = toks.t CROSS JOIN tot
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           CAST(round(sum(is_oov) / count(*) * 1000000) AS BIGINT)
               AS oov_frac_micro,
           CAST(round(sum(lp) / count(*) * 1000000) AS BIGINT)
               AS avg_logprob_micro
    FROM scored GROUP BY doc_id
    """,
)
def doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring (perplexity proxy): mean log-prob of
    each doc's tokens under the corpus's own add-0.5-smoothed top-16
    unigram distribution, plus the OOV fraction. The tiny vocab_size
    exercises the OOV floor on the fixture's 31-token vocabulary; a
    production run uses the 50k default. operators.corpus.unigram_logprob
    has the broadcast-vocabulary scale notes."""
    from ..operators import corpus as C

    return C.unigram_logprob(
        Catalog(spark, sf_dir).documents, vocab_size=16, alpha=0.5
    )


@query(
    "bigram_logprob",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
        FROM documents
    ),
    toks AS (
        SELECT doc_id, i AS pos, arr[i] AS raw
        FROM base, unnest(generate_series(1, len(arr))) AS s(i)
    ),
    tf AS (SELECT raw, count(*) AS c FROM toks GROUP BY raw),
    vocab AS (SELECT raw FROM tf ORDER BY c DESC, raw LIMIT 16),
    coll AS (
        SELECT toks.doc_id, toks.pos,
               CASE WHEN v.raw IS NULL THEN '<oov>' ELSE toks.raw END AS t
        FROM toks LEFT JOIN vocab v ON v.raw = toks.raw
    ),
    c1 AS (SELECT t, count(*) AS c1 FROM coll GROUP BY t),
    tot AS (SELECT (SELECT sum(c1) FROM c1) AS n_total,
                   (SELECT count(*) FROM c1) AS v1),
    paired AS (
        SELECT doc_id, pos, t,
               lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM coll
    ),
    c2 AS (
        SELECT prev, t, count(*) AS c2
        FROM paired WHERE prev IS NOT NULL GROUP BY prev, t
        ORDER BY c2 DESC, prev, t LIMIT 64
    ),
    scored AS (
        SELECT p.doc_id,
               CASE WHEN p.prev IS NOT NULL AND b.c2 IS NULL
                    THEN 1 ELSE 0 END AS unseen,
               round(CASE WHEN p.prev IS NULL
                     THEN ln((u.c1 + 0.5) / (tot.n_total + 0.5 * tot.v1))
                     ELSE ln((coalesce(b.c2, 0) + 0.5)
                             / (cp.c1 + 0.5 * tot.v1)) END, 9) AS lp
        FROM paired p
        LEFT JOIN c2 b ON b.prev = p.prev AND b.t = p.t
        LEFT JOIN c1 cp ON cp.t = p.prev
        LEFT JOIN c1 u ON u.t = p.t
        CROSS JOIN tot
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           CAST(round(sum(unseen) / count(*) * 1000000) AS BIGINT)
               AS unseen_bigram_frac_micro,
           CAST(round(sum(lp) / count(*) * 1000000) AS BIGINT)
               AS avg_logprob_micro
    FROM scored GROUP BY doc_id
    """,
)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring — the conditional upgrade of
    doc_logprob: mean log p(t|prev) under the corpus's own
    OOV-collapsed add-0.5 bigram model (top-16 vocab, top-64 bigram
    table — tiny caps to exercise both deterministic cuts on the
    fixture; production uses the 10k/100k defaults). Same 9-then-micro
    rounding discipline. operators.corpus.bigram_logprob has the
    broadcast-table scale notes."""
    from ..operators import corpus as C

    return C.bigram_logprob(
        Catalog(spark, sf_dir).documents,
        vocab_size=16,
        bigram_size=64,
        alpha=0.5,
    )


@query(
    "perplexity_buckets",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(lower(trim(text)), ' ')) AS t
        FROM documents
    ),
    tf AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    vocab AS (SELECT t, c FROM tf ORDER BY c DESC, t LIMIT 16),
    tot AS (SELECT (SELECT sum(c) FROM tf) AS n_total,
                   (SELECT count(*) FROM vocab) AS v_actual),
    lp AS (
        SELECT toks.doc_id, toks.lang,
               round(ln((coalesce(v.c, 0) + 0.5)
                        / (tot.n_total + 0.5 * (tot.v_actual + 1))), 9) AS lp
        FROM toks LEFT JOIN vocab v ON v.t = toks.t CROSS JOIN tot
    ),
    doc AS (
        SELECT doc_id, lang, count(*) AS n_tokens,
               CAST(round(sum(lp) / count(*) * 1000000) AS BIGINT) AS score
        FROM lp GROUP BY doc_id, lang
    ),
    hist AS (
        SELECT lang, score, count(*) AS nd, sum(n_tokens) AS tk
        FROM doc GROUP BY lang, score
    ),
    cum AS (
        SELECT lang, score, nd, tk,
               sum(nd) OVER (PARTITION BY lang ORDER BY score) AS cum,
               sum(nd) OVER (PARTITION BY lang) AS n
        FROM hist
    ),
    thr AS (
        SELECT lang,
               min(CASE WHEN cum >= (n + 2) // 3 THEN score END) AS t1,
               min(CASE WHEN cum >= (2 * n + 2) // 3 THEN score END) AS t2
        FROM cum GROUP BY lang
    ),
    b AS (
        SELECT c.lang,
               CASE WHEN c.score <= t.t1 THEN 'tail'
                    WHEN c.score <= t.t2 THEN 'middle'
                    ELSE 'head' END AS bucket,
               c.nd, c.tk, c.score
        FROM cum c JOIN thr t ON t.lang = c.lang
    )
    SELECT lang, bucket,
           CAST(sum(nd) AS INT) AS n_docs,
           CAST(sum(tk) AS BIGINT) AS total_tokens,
           CAST(sum(score * nd) AS BIGINT) AS sum_logprob_micro,
           min(score) AS min_score_micro,
           max(score) AS max_score_micro
    FROM b GROUP BY lang, bucket
    """,
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus partitioning (Wenzek et al. 2020):
    per-language score TERCILES of the doc_logprob perplexity proxy —
    the quality-partition step between extraction (html_extract,
    c4_line_filter) and selection (dsir_select, quality_filter) in a
    crawl pipeline. Same tiny vocab_size=16 model as doc_logprob so the
    oracle's scoring CTE is the audited one; thresholds are exact
    integer ranks over the micro-score histogram, ties share a bucket.
    operators.corpus.perplexity_buckets has the histogram-not-docs
    window note and the CCNet sampled-threshold scale path."""
    from ..operators import corpus as C

    return C.perplexity_buckets(
        Catalog(spark, sf_dir).documents, vocab_size=16, alpha=0.5
    )


@query(
    "quality_classifier",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    tf AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 7))::BIGINT % 32768 AS bucket,
               count(*) AS tf
        FROM tok GROUP BY 1, 2
    ),
    lab AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    pb AS (
        SELECT bucket,
               sum(tf * pos) AS pos_c,
               sum(tf * (1 - pos)) AS neg_c
        FROM tf JOIN lab USING (doc_id) GROUP BY bucket
    ),
    tot AS (SELECT sum(pos_c) AS pos_tot, sum(neg_c) AS neg_tot FROM pb),
    w AS (
        SELECT bucket,
               round(ln((pos_c + 1.0) / (pos_tot + 32768.0))
                     - ln((neg_c + 1.0) / (neg_tot + 32768.0)), 9) AS weight
        FROM pb CROSS JOIN tot
    ),
    meta AS (
        SELECT round(ln(CAST(sum(pos) AS DOUBLE) / sum(1 - pos)), 9) AS bias
        FROM lab
    ),
    scored AS (
        -- DECIMAL accumulation over the 1e-9-grid weights: exact,
        -- order-independent (mirrors classify.score_log_odds)
        SELECT tf.doc_id,
               CAST(sum(tf) AS INT) AS n_tokens,
               CAST(round(CAST(max(meta.bias) AS DECIMAL(12,9))
                          + sum(tf * CAST(w.weight AS DECIMAL(12,9))), 6)
                    * 1000000 AS BIGINT) AS score_micro
        FROM tf JOIN w USING (bucket) CROSS JOIN meta
        GROUP BY tf.doc_id
    ),
    bmicro AS (
        SELECT CAST(round(CAST(bias AS DECIMAL(12,9)), 6) * 1000000 AS BIGINT)
                   AS b FROM meta
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.score_micro, (SELECT b FROM bmicro)) AS score_micro,
           coalesce(s.score_micro, (SELECT b FROM bmicro)) > 0 AS pred
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier, trained and applied in
    one plan: multinomial-NB log-odds weights over md5-hashed token
    buckets (the fastText-shaped train+apply loop, fully relational),
    weak label ``lang = 'en'``. Every train-side quantity — bucket
    ids, smoothed log-likelihood ratios, the document-prior bias —
    is reproduced verbatim in the oracle, so the row witnesses the
    TRAINING math, not just the scoring join. On this corpus every
    scoring bucket is train-occupied, so the oracle inner-joins
    weights; the unseen-bucket fallback path keeps its pytest pin.
    operators.classify has the broadcast-model scale notes."""
    from ..operators import classify as CL

    docs = Catalog(spark, sf_dir).documents
    # Shared-token_buckets arm (r15, VERDICT r14 #7): train and score
    # each run their own corpus explode + tf aggregation over the SAME
    # documents, so one persisted frame passed to both looked like the
    # excess_loss_select shared-stream win. MEASURED AND REJECTED
    # cold-JVM (3 rotated rounds): unshared warm 3.56-3.72 s (tight),
    # shared 2.49-4.85 (wild, mean 3.90), shared+eager mean 4.15;
    # colds 15.9 / 16.1 / 16.9 — the persist of the (doc, bucket, tf)
    # frame costs more than the recompute at every measured point and
    # destabilizes the row, so train and score stay unshared; the
    # `tf=` parameter remains for pipelines that already hold a
    # prepared frame (OPTIMIZATION_r15.md has the table).
    model = CL.train_log_odds(docs, F.col("lang") == "en")
    return CL.score_log_odds(docs, model)


@query(
    "ngram_containment",
    # f-string solely to interpolate the shared df_cap constant.
    oracle=f"""
    WITH g0 AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, length(text) - 3),
                                            i -> substr(text, i, 5))) AS grams
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, ('0x' || substr(md5(u.gm), 1, 7))::BIGINT AS h
        FROM g0, unnest(g0.grams) u(gm)
    ),
    kept AS (SELECT h FROM g GROUP BY h HAVING count(*) <= {DD.BUCKET_CAP}),
    gk AS (SELECT doc_id, h FROM g JOIN kept USING (h)),
    sz AS (SELECT doc_id, count(*) AS n_grams FROM gk GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM gk a JOIN gk b USING (h)
        WHERE a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(round(i.n_shared / s.n_grams * 1000000) AS BIGINT)
               AS containment_micro
    FROM inter i JOIN sz s ON s.doc_id = i.doc_a
    WHERE CAST(round(i.n_shared / s.n_grams * 1000000) AS BIGINT) >= 800000
    """,
)
def ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional 5-gram containment pairs (doc_a near-contained in
    doc_b): the asymmetric-overlap detector for partial inclusion —
    boilerplate wrappers, quoted articles — that symmetric-Jaccard LSH
    structurally misses. operators.dedup.ngram_containment has the
    posting-list / df-cap scale notes."""
    return DD.ngram_containment(
        Catalog(spark, sf_dir).documents, n=5, threshold=0.8
    )


@query(
    "dedup_survivors_quality",
    # The shared verified-pair + reachability CTEs (exactly
    # dedup_clusters's component construction) + quality_filter's
    # composite, closed by a first_value window — survivor = best
    # quality, min id on ties, singletons survive themselves.
    oracle=f"""
    WITH RECURSIVE {_MINHASH_VERIFIED_PAIRS},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM vpairs
        UNION
        SELECT doc_b, doc_a FROM vpairs
    ),
    reach AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u
    ),
    q AS (
        SELECT doc_id,
               CAST(round(least(1.0, n_tokens / 100.0)
                          * (1.0 - least(1.0, c_stop::DOUBLE / n_tokens))
                          * 1000000) AS BIGINT)
                   AS quality_micro
        FROM (
            SELECT doc_id,
                   len(string_split(trim(text), ' ')) AS n_tokens,
                   CAST((length(lower(text))
                         - length(replace(lower(text), 'the', ''))) / 3
                        AS INTEGER) AS c_stop
            FROM documents
        )
    ),
    lab AS (
        SELECT q.doc_id, coalesce(c.cluster_id, q.doc_id) AS cluster_id,
               q.quality_micro
        FROM q LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           first_value(doc_id) OVER (PARTITION BY cluster_id
                                     ORDER BY quality_micro DESC, doc_id)
               AS survivor_id,
           quality_micro
    FROM lab
    """,
)
def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over the minhash near-dup
    clusters: every document labeled with its cluster and the cluster's
    best-quality member (min id on ties) — keep the best COPY, not the
    first one. Reuses the session's checkpointed pair graph
    (:func:`_shared_minhash_pairs`), so this prices component closure +
    one window, not a second LSH run. operators.graph.survivor_assignments."""
    from ..operators import graph as G

    docs = Catalog(spark, sf_dir).documents
    n_tokens = TX.whitespace_token_count(F.col("text"))
    c_stop = TX.occurrences(F.lower(F.col("text")), "the")
    quality = SC.micro_units(
        F.least(F.lit(1.0), n_tokens / 100.0)
        * (1.0 - F.least(F.lit(1.0), c_stop / n_tokens))
    )
    scored = docs.select("doc_id", quality.alias("quality_micro"))
    return G.survivor_assignments(
        scored, _shared_minhash_pairs(spark, sf_dir), "quality_micro"
    )


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_VERIFIED_PAIRS},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM vpairs
        UNION
        SELECT doc_b, doc_a FROM vpairs
    ),
    reach AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u
    ),
    lab AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CASE WHEN ('0x' || substr(md5('split-v1|'
                                         || CAST(cluster_id AS VARCHAR)),
                      1, 7))::BIGINT / 268435456.0 < 0.75 THEN 'train'
                WHEN ('0x' || substr(md5('split-v1|'
                                         || CAST(cluster_id AS VARCHAR)),
                      1, 7))::BIGINT / 268435456.0 < 0.875 THEN 'val'
                ELSE 'test' END AS split
    FROM lab
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split keyed on the near-dup CLUSTER id instead of
    the document id: transitively-linked near-copies can never straddle
    a split boundary, closing the eval-leak a doc-keyed split silently
    allows. Same 75/12.5/12.5 md5 draw as corpus_split; clusters come
    from the session's shared pair graph.
    operators.corpus.cluster_keyed_split."""
    from ..operators import corpus as C
    from ..operators import graph as G

    docs = Catalog(spark, sf_dir).documents
    clusters = G.connected_components(
        _shared_minhash_pairs(spark, sf_dir)
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
    return C.cluster_keyed_split(docs, clusters, salt="split-v1")


@query(
    "line_dedup",
    # The fixture corpus is single-line, so boilerplate lines are
    # INJECTED deterministically from doc_id on both engines (the
    # pii_stats precedent): two high-df banners (removed at df_cap=32)
    # and a unique per-doc footer (kept).
    oracle="""
    WITH t AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 2 = 0
                       THEN chr(10) || 'Copyright 2024 Example Corp'
                       ELSE '' END
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || 'Subscribe to our newsletter'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 1
                       THEN chr(10) || 'footer id ' || doc_id
                       ELSE '' END AS txt
        FROM documents
    ),
    sp AS (SELECT doc_id, string_split(txt, chr(10)) AS ls FROM t),
    lines AS (
        SELECT doc_id, u.i AS pos, sp.ls[u.i] AS line
        FROM sp, unnest(range(1, len(sp.ls) + 1)) u(i)
    ),
    ldf AS (
        SELECT md5(lower(trim(line))) AS k,
               count(DISTINCT doc_id) AS line_df
        FROM lines GROUP BY 1
    ),
    kept AS (
        SELECT l.doc_id, l.pos, l.line
        FROM lines l JOIN ldf ON ldf.k = md5(lower(trim(l.line)))
        WHERE ldf.line_df <= 32
    ),
    totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id),
    rebuilt AS (
        SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(tt.n_lines AS INT) AS n_lines,
           CAST(tt.n_lines - coalesce(r.n_kept, 0) AS INT) AS n_removed
    FROM totals tt
    JOIN t ON t.doc_id = tt.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = tt.doc_id
    """,
)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal: lines shared by more
    than 32 distinct documents (injected banners here; nav/footer chrome
    in a real crawl) are dropped and the survivors reassembled in
    order. operators.hygiene.line_dedup has the digest-shuffle /
    broadcast-hot-set scale notes."""
    from ..operators import hygiene as H

    docs = Catalog(spark, sf_dir).documents
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("\nCopyright 2024 Example Corp")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("\nSubscribe to our newsletter")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 1,
                F.concat(F.lit("\nfooter id "), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return H.line_dedup(injected, df_cap=32)


@query(
    "near_dup_contamination",
    # The shared md5-deterministic sketch CTEs (same tokens/permutations
    # as _MINHASH_VERIFIED_PAIRS), with the benchmark side drawn as the
    # doc_id % 50 subset — mirrors the exact-overlap contamination
    # query's benchmark construction. est_jaccard_micro = fraction of
    # agreeing signature components in fixed-point micro-units.
    oracle=f"""
    WITH {_TOK},
    toki AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   toks, t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)) AS toks
        FROM tok
    ),
    mh AS (
        SELECT doc_id, r.i,
               min((((2654435761 * (r.i+1)) % 2147483647) * u.h
                    + ((97531 * (r.i+1)) % 2147483647))
                   % 2147483647) AS h
        FROM toki, range(16) r(i), unnest(toki.toks) u(h)
        GROUP BY doc_id, r.i
    ),
    band AS (
        SELECT doc_id, i // 8 AS band_id,
               md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)) AS band_key
        FROM mh GROUP BY doc_id, i // 8
    ),
    bsz AS (SELECT doc_id, len(toks) AS sz FROM toki),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id
        FROM band a
        JOIN band b ON a.band_id = b.band_id AND a.band_key = b.band_key
        JOIN bsz sa ON sa.doc_id = a.doc_id
        JOIN bsz sb ON sb.doc_id = b.doc_id
        WHERE b.doc_id % 50 = 0
          AND sa.sz >= 0.8 * sb.sz AND sb.sz >= 0.8 * sa.sz
    )
    SELECT c.doc_id, c.bench_id,
           CAST(round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END)
                      / 16.0 * 1000000) AS BIGINT)
               AS est_jaccard_micro
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.doc_id
    JOIN mh mb ON mb.doc_id = c.bench_id AND mb.i = ma.i
    GROUP BY c.doc_id, c.bench_id
    HAVING CAST(round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END)
                      / 16.0 * 1000000) AS BIGINT) >= 800000
    """,
)
def near_dup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-level eval decontamination: corpus docs whose MinHash
    signature agrees with a benchmark doc's (doc_id % 50 subset, as in
    the exact-overlap contamination row) at estimated Jaccard >= 0.8 —
    catches near-copies whose contiguous 13-grams all changed.
    operators.hygiene.near_dup_contamination broadcasts the benchmark
    sketches; the corpus side reuses the index's signature pipeline."""
    from ..operators import hygiene as H

    docs = Catalog(spark, sf_dir).documents
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    return H.near_dup_contamination(docs, bench, threshold=0.8)


@query(
    "quota_sample",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substr(md5('quota-v1|'
                                 || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
                            doc_id) AS rk
        FROM documents
    )
    SELECT r.doc_id, r.source
    FROM r JOIN (VALUES ('src0', 10), ('src1', 5)) q(source, n)
      USING (source)
    WHERE r.rk <= q.n
    UNION ALL
    SELECT doc_id, source FROM r WHERE source NOT IN ('src0', 'src1')
    """,
)
def quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum quotas (deterministic reservoir): exactly 10
    src0 + 5 src1 docs by smallest md5 draw; other sources kept whole.
    Eval-set construction wants exact counts where training mixes want
    rates — and a later larger quota is a strict superset (the draws
    don't move). operators.corpus.quota_sample. Driver-excluded
    (pytest-oracle only): the md5-draw + rank-window families are both
    already driver-checked; the capability is the exact-count contract."""
    from ..operators import corpus as C

    return C.quota_sample(
        Catalog(spark, sf_dir).documents, {"src0": 10, "src1": 5}
    ).select("doc_id", "source")


#: (applicationId, sf_dir) -> minhash index dir seeded with the even
#: half of ``documents``. One seed write per fixture per session; the
#: write is overwrite-idempotent under the fixed run_id, so a re-seed
#: after a crashed session replaces, never duplicates, the subtree.
_MH_INDEX_MEMO: dict[tuple[str, str], str] = {}


@query(
    "incremental_near_dup",
    # The index round-trip collapses to pure relational algebra: the
    # probe of the odd half against an index holding the even half's
    # banded signatures is a band-key equi-join with the probe-side
    # bucket cap (min-doc_id rank window over the index side), the
    # threshold-implied size-ratio prune, and the MinHash
    # component-agreement estimate — all md5-deterministic, so DuckDB
    # reproduces the persisted-index semantics without any files.
    oracle=f"""
    WITH {_TOK},
    toki AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   toks, t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)) AS toks
        FROM tok
    ),
    mh AS (
        SELECT doc_id, r.i,
               min((((2654435761 * (r.i+1)) % 2147483647) * u.h
                    + ((97531 * (r.i+1)) % 2147483647))
                   % 2147483647) AS h
        FROM toki, range(16) r(i), unnest(toki.toks) u(h)
        GROUP BY doc_id, r.i
    ),
    band AS (
        SELECT doc_id, i // 8 AS band_id,
               md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)) AS band_key
        FROM mh GROUP BY doc_id, i // 8
    ),
    sz AS (SELECT doc_id, len(toks) AS sz FROM toki),
    icap AS (
        SELECT doc_id, band_id, band_key FROM (
            SELECT doc_id, band_id, band_key,
                   row_number() OVER (
                       PARTITION BY band_id, band_key ORDER BY doc_id) AS rn
            FROM band WHERE doc_id % 2 = 0
        ) WHERE rn <= {DD.BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT p.doc_id AS doc_id, i.doc_id AS index_doc_id
        FROM band p
        JOIN icap i ON p.band_id = i.band_id AND p.band_key = i.band_key
        JOIN sz sp ON sp.doc_id = p.doc_id
        JOIN sz si ON si.doc_id = i.doc_id
        WHERE p.doc_id % 2 = 1
          AND sp.sz >= 0.8 * si.sz AND si.sz >= 0.8 * sp.sz
    )
    SELECT c.doc_id, c.index_doc_id,
           CAST(round(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END)
                      / 16.0 * 1000000) AS BIGINT)
               AS est_jaccard_micro
    FROM cand c
    JOIN mh a ON a.doc_id = c.doc_id
    JOIN mh b ON b.doc_id = c.index_doc_id AND b.i = a.i
    GROUP BY 1, 2
    HAVING CAST(round(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END)
                      / 16.0 * 1000000) AS BIGINT) >= 800000
    """,
)
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index near-dup round trip (the r5 flagship family's
    first driver witness): the EVEN half of ``documents`` seeds an
    on-disk banded-MinHash signature index
    (``hygiene.write_minhash_index``), then the ODD half probes it
    (``hygiene.probe_minhash_index``) — partition-pruned to touched
    buckets, capped at the shared BUCKET_CAP, verified by the
    component-agreement Jaccard estimate. Incremental contract: the
    probe never reads historical TEXT (the index stores ~19 longs per
    doc) and its cost is O(batch + touched index rows), never
    O(index) — the nightly-ingest shape of jonesy's watermark
    incrementals (jonesy/jobs.py:19,40) lifted to sketch space."""
    from ..operators import hygiene as H

    docs = Catalog(spark, sf_dir).documents
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MH_INDEX_MEMO:
        import tempfile

        d = tempfile.mkdtemp(prefix="jonesy_mh_index_")
        H.write_minhash_index(
            DD.minhash_banded_sigs(docs.filter(F.col("doc_id") % 2 == 0)),
            d,
            mode="overwrite",
            run_id="seed",
        )
        _MH_INDEX_MEMO[key] = d
    probe_sigs = DD.minhash_banded_sigs(docs.filter(F.col("doc_id") % 2 == 1))
    return H.probe_minhash_index(
        probe_sigs,
        spark,
        _MH_INDEX_MEMO[key],
        threshold=0.8,
        n_hashes=16,
        bucket_cap=DD.BUCKET_CAP,
    )


@query(
    "assemble_sequences",
    # pack_sequences' shard/offset CTEs (the already-witnessed row)
    # closed by the ordered-aggregation assembly: texts concatenate in
    # start_offset order within each (shard, seq) group. sum(INTEGER)
    # widens to HUGEINT in DuckDB -> cast back to BIGINT to match
    # Spark's long.
    oracle="""
    WITH base AS (
        SELECT doc_id,
               md5('pack-v1|' || CAST(doc_id AS VARCHAR)) AS pack_key,
               ('0x' || substr(md5(md5('pack-v1|' || CAST(doc_id AS VARCHAR))), 1, 7))::BIGINT
                   % 64 AS shard,
               greatest(len(string_split(trim(text), ' ')), 1) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               (sum(n_tokens) OVER (PARTITION BY shard ORDER BY pack_key))::BIGINT
                   - n_tokens AS start_offset
        FROM base
    )
    SELECT CAST(p.shard AS VARCHAR) || '-'
               || CAST(floor(p.start_offset / 512)::BIGINT AS VARCHAR) AS seq_id,
           count(*) AS n_docs,
           sum(p.n_tokens)::BIGINT AS seq_tokens,
           string_agg(d.text, '<|doc|>' ORDER BY p.start_offset, d.text) AS seq_text
    FROM packed p JOIN documents d USING (doc_id)
    GROUP BY p.shard, floor(p.start_offset / 512)
    """,
)
def assemble_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training sequences: pack_sequences output
    joined back onto document text and concatenated in offset order
    with a separator — one keyed join + one aggregation under the
    packer's own sharding, deterministic via sort_array (no window).
    operators.corpus.assemble_sequences; first driver witness of the
    ordered-aggregation assembly family (VERDICT r5 #8)."""
    from ..operators import corpus as C

    docs = Catalog(spark, sf_dir).documents
    packed = C.pack_sequences(docs, budget_tokens=512)
    return C.assemble_sequences(docs, packed)


@query(
    "bm25_search",
    oracle="""
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
    corpus AS (SELECT count(*) AS n_docs, avg(len) AS avg_len FROM lens),
    hits AS (
        SELECT doc_id, t FROM toks WHERE t IN ('join', 'spark', 'window')
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM hits GROUP BY 1, 2),
    dfx AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
    idf AS (
        SELECT t, round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 9) AS idf
        FROM dfx CROSS JOIN corpus
    ),
    contrib AS (
        SELECT tf.doc_id,
               round(idf.idf * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1.0 - 0.75
                                       + 0.75 * lens.len / corpus.avg_len)),
                     9) AS c
        FROM tf
        JOIN lens USING (doc_id)
        JOIN idf USING (t)
        CROSS JOIN corpus
    )
    SELECT doc_id,
           CAST(round(sum(CAST(c AS DECIMAL(12,9))), 6) * 1000000 AS BIGINT)
               AS score_micro,
           CAST(count(*) AS INT) AS n_hits
    FROM contrib GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT 20
    """,
)
def bm25_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 corpus retrieval (Okapi ranking, public method): top-20
    documents for the query bag {join, spark, window}. The oracle
    reproduces idf smoothing, tf saturation, length normalization,
    the 9-digit per-term contributions, the decimal-exact sum, and
    the deterministic cut. operators.search has the query-sized
    aggregation scale notes."""
    from ..operators.search import bm25_search

    return bm25_search(
        Catalog(spark, sf_dir).documents, ["join", "spark", "window"], top_k=20
    )


@query(
    "hash_embeddings",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
    comp AS (
        SELECT doc_id, s.j,
               sum(tf * (CASE WHEN ('0x' || substr(md5(t || '|'
                                    || CAST(s.j AS VARCHAR)), 1, 7))::BIGINT
                              % 2 = 1
                         THEN 1 ELSE -1 END)) AS c
        FROM tf CROSS JOIN generate_series(0, 15) s(j)
        GROUP BY 1, 2
    ),
    nrm AS (SELECT doc_id, sqrt(sum(c * c)) AS norm FROM comp GROUP BY 1)
    SELECT comp.doc_id,
           CAST(comp.j AS BIGINT) AS j,
           CASE WHEN nrm.norm > 0
                THEN CAST(round(comp.c / nrm.norm * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS component_micro
    FROM comp JOIN nrm USING (doc_id)
    """,
)
def hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document embeddings via signed feature hashing
    (public method, Weinberger et al. 2009): 16-dim L2-normalized
    hashed bag-of-words projections — the deterministic stand-in for
    a neural embedder that completes the documents -> vectors ->
    semantic-dedup chain. Pre-normalization components are integer
    sums (exact at any partition order); the oracle reproduces signs,
    sums, norms, and rounding. The driver-hashed row renders the
    components in fixed-point micro-units computed from the RAW
    integer sums (one multiply + one round per component — never a
    re-rounding of the library's 6-digit doubles), while hash_embed's
    own array<double> API shape is unchanged for downstream ANN
    consumers. The driver row is FLATTENED to one scalar row per
    (doc_id, j) — the driver's pandas canonicalizer cannot sort
    list-valued cells (r07 ERR: unhashable type 'list'); arrays stay
    internal, roster projections are scalar-only.
    operators.similarity.hash_embed has the scale notes."""
    from ..operators.similarity import hash_embed

    emb = hash_embed(
        Catalog(spark, sf_dir).documents, dim=16, keep_raw=True
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("raw_components"),
            F.lit(0.0),
            lambda acc, x: acc + (x * x).cast("double"),
        )
    )
    arr = F.when(
        norm > 0,
        F.transform(
            F.col("raw_components"),
            lambda x: F.round(x / norm * 1_000_000).cast("long"),
        ),
    ).otherwise(
        F.transform(F.col("raw_components"), lambda x: F.lit(0).cast("long"))
    )
    return emb.select(
        "doc_id", F.posexplode(arr).alias("j", "component_micro")
    ).select(
        "doc_id", F.col("j").cast("long").alias("j"), "component_micro"
    )


#: (applicationId, sf_dir) -> positional-index tmp dir for the
#: phrase_search row (one seed per session, the _MH_INDEX_MEMO rule).
_PHRASE_INDEX_MEMO: dict[tuple[str, str], str] = {}


@query(
    "phrase_search",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS arr
        FROM documents
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_occurrences
    FROM base, unnest(generate_series(1, len(arr) - 1)) s(i)
    WHERE arr[i] = 'batch' AND arr[i + 1] = 'batch'
    GROUP BY doc_id
    """,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching through the POSITIONAL search index
    (index round trip, the incremental_near_dup witness pattern): the
    corpus seeds an on-disk positional-postings index once per
    session, then the probe counts consecutive-position occurrences
    of the phrase "batch batch" — overlapping repeats counted the
    sliding-window way, adjacency chained as (doc_id, position)
    joins over bucket-pruned occurrence streams. The oracle
    reproduces the count directly from token positions.
    operators.search.phrase_probe."""
    from ..operators import search as SE

    docs = Catalog(spark, sf_dir).documents
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PHRASE_INDEX_MEMO:
        import tempfile

        d = tempfile.mkdtemp(prefix="jonesy_phrase_index_")
        SE.write_positional_index(docs, d, mode="overwrite", run_id="seed")
        _PHRASE_INDEX_MEMO[key] = d
    return SE.phrase_probe(spark, _PHRASE_INDEX_MEMO[key], ["batch", "batch"])


@query(
    "hybrid_search",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    lens AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
    corpus AS (SELECT count(*) AS n_docs, avg(len) AS avg_len FROM lens),
    hits AS (
        SELECT doc_id, t FROM tok WHERE t IN ('join', 'spark', 'window')
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM hits GROUP BY 1, 2),
    dfx AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
    idf AS (
        SELECT t, round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 9) AS idf
        FROM dfx CROSS JOIN corpus
    ),
    contrib AS (
        SELECT tf.doc_id,
               round(idf.idf * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1.0 - 0.75
                                       + 0.75 * lens.len / corpus.avg_len)),
                     9) AS c
        FROM tf JOIN lens USING (doc_id) JOIN idf USING (t) CROSS JOIN corpus
    ),
    bm_top AS (
        SELECT doc_id,
               CAST(round(sum(CAST(c AS DECIMAL(12,9))), 6) AS DOUBLE) AS bm_score
        FROM contrib GROUP BY doc_id
        ORDER BY bm_score DESC, doc_id LIMIT 100
    ),
    bm_ranked AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm_score DESC, doc_id) AS INT)
                   AS bm25_rank
        FROM bm_top
    ),
    dtf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
    comp AS (
        SELECT doc_id, s.j,
               sum(tf * (CASE WHEN ('0x' || substr(md5(t || '|'
                                    || CAST(s.j AS VARCHAR)), 1, 7))::BIGINT
                              % 2 = 1
                         THEN 1 ELSE -1 END)) AS c
        FROM dtf CROSS JOIN generate_series(0, 15) s(j)
        GROUP BY 1, 2
    ),
    nrm AS (SELECT doc_id, sqrt(sum(c * c)) AS norm FROM comp GROUP BY 1),
    demb AS (
        SELECT comp.doc_id, comp.j,
               CASE WHEN nrm.norm > 0 THEN round(comp.c / nrm.norm, 6)
                    ELSE 0.0 END AS e
        FROM comp JOIN nrm USING (doc_id)
    ),
    qcomp AS (
        SELECT s.j,
               sum(CASE WHEN ('0x' || substr(md5(q.t || '|'
                              || CAST(s.j AS VARCHAR)), 1, 7))::BIGINT % 2 = 1
                        THEN 1 ELSE -1 END) AS c
        FROM (VALUES ('join'), ('spark'), ('window')) q(t)
        CROSS JOIN generate_series(0, 15) s(j)
        GROUP BY 1
    ),
    qnrm AS (SELECT sqrt(sum(c * c)) AS norm FROM qcomp),
    qemb AS (
        SELECT j, round(c / norm, 6) AS e FROM qcomp CROSS JOIN qnrm
    ),
    dense_top AS (
        SELECT demb.doc_id,
               CAST(round(sum(demb.e * qemb.e) * 1000000) AS BIGINT)
                   AS cosine_micro
        FROM demb JOIN qemb USING (j)
        GROUP BY demb.doc_id
        ORDER BY cosine_micro DESC, doc_id LIMIT 100
    ),
    dense_ranked AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine_micro DESC, doc_id)
                    AS INT) AS dense_rank
        FROM dense_top
    )
    SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
           CAST(round((coalesce(1.0 / (60 + b.bm25_rank), 0.0)
                       + coalesce(1.0 / (60 + d.dense_rank), 0.0))
                      * 1000000000) AS BIGINT) AS rrf_score_nano,
           b.bm25_rank, d.dense_rank
    FROM bm_ranked b FULL OUTER JOIN dense_ranked d ON b.doc_id = d.doc_id
    ORDER BY rrf_score_nano DESC, doc_id
    LIMIT 20
    """,
)
def hybrid_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 and dense (signed-feature-hashing
    cosine) channels fused by reciprocal rank fusion (public method,
    Cormack et al. 2009) — each channel's top-100 via partial top-k,
    ranks assigned within the bounded candidate sets, fused score
    1/(60+rank) summed over present channels. The oracle reproduces
    both channels end to end plus the fusion arithmetic.
    operators.search.hybrid_search."""
    from ..operators.search import hybrid_search

    return hybrid_search(
        Catalog(spark, sf_dir).documents,
        ["join", "spark", "window"],
        top_k=20,
        dim=16,
    )


@query(
    "diversity_sample",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
    comp AS (
        SELECT doc_id, s.j,
               sum(tf * (CASE WHEN ('0x' || substr(md5(t || '|'
                                    || CAST(s.j AS VARCHAR)), 1, 7))::BIGINT
                              % 2 = 1
                         THEN 1 ELSE -1 END)) AS c
        FROM tf CROSS JOIN generate_series(0, 5) s(j)
        GROUP BY 1, 2
    ),
    keyed AS (
        SELECT doc_id,
               string_agg(CASE WHEN c >= 0 THEN '1' ELSE '0' END, ''
                          ORDER BY j) AS div_bucket,
               CAST(round(('0x' || substr(md5('div-v1|' || CAST(doc_id AS VARCHAR)),
                                          1, 7))::BIGINT / 268435456.0
                          * 1000000) AS BIGINT) AS draw_micro
        FROM comp GROUP BY doc_id
    ),
    ranked AS (
        SELECT doc_id, div_bucket, draw_micro,
               row_number() OVER (PARTITION BY div_bucket
                                  ORDER BY draw_micro, doc_id) AS rn
        FROM keyed
    )
    SELECT doc_id, div_bucket, draw_micro FROM ranked WHERE rn <= 8
    """,
)
def diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced sampling: up to 8 docs per deterministic
    sign-LSH cell over the hashed embeddings — the cluster-balanced
    selection that keeps rare content families represented. Both
    engines bucket on the INTEGER pre-normalization sums (ADVICE r6:
    the normalized component can round to -0.0 and lie about its
    sign), so the cell key, the md5 draw and the per-cell rank cut
    are exact on both sides.
    operators.corpus.diversity_sample."""
    from ..operators import corpus as C

    return C.diversity_sample(
        Catalog(spark, sf_dir).documents, per_bucket_n=8, dim=16, bucket_dims=6
    )


#: (applicationId, sf_dir) -> classifier count-ledger tmp dir for the
#: incremental_classifier row (one seed per session).
_CLF_LEDGER_MEMO: dict[tuple[str, str], str] = {}


@query(
    "incremental_classifier",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    tf AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 7))::BIGINT % 32768 AS bucket,
               count(*) AS tf
        FROM tok GROUP BY 1, 2
    ),
    lab AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents WHERE doc_id % 2 = 0
    ),
    pb AS (
        SELECT bucket,
               sum(tf * pos) AS pos_c,
               sum(tf * (1 - pos)) AS neg_c
        FROM tf JOIN lab USING (doc_id) GROUP BY bucket
    ),
    tot AS (SELECT sum(pos_c) AS pos_tot, sum(neg_c) AS neg_tot FROM pb),
    w AS (
        SELECT bucket,
               round(ln((pos_c + 1.0) / (pos_tot + 32768.0))
                     - ln((neg_c + 1.0) / (neg_tot + 32768.0)), 9) AS weight
        FROM pb CROSS JOIN tot
    ),
    meta AS (
        SELECT round(ln(CAST(sum(pos) AS DOUBLE) / sum(1 - pos)), 9) AS bias,
               (SELECT round(ln(1.0 / (pos_tot + 32768.0))
                             - ln(1.0 / (neg_tot + 32768.0)), 9)
                FROM tot) AS unseen
        FROM lab
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(sum(tf) AS INT) AS n_tokens,
               CAST(round(CAST(max(meta.bias) AS DECIMAL(12,9))
                          + sum(tf * CAST(coalesce(w.weight, meta.unseen)
                                          AS DECIMAL(12,9))), 6)
                    * 1000000 AS BIGINT) AS score_micro
        FROM tf LEFT JOIN w USING (bucket) CROSS JOIN meta
        WHERE tf.doc_id % 2 = 1
        GROUP BY tf.doc_id
    ),
    bmicro AS (
        SELECT CAST(round(CAST(bias AS DECIMAL(12,9)), 6) * 1000000 AS BIGINT)
                   AS b FROM meta
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.score_micro, (SELECT b FROM bmicro)) AS score_micro,
           coalesce(s.score_micro, (SELECT b FROM bmicro)) > 0 AS pred
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def incremental_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-training round trip (the count-ledger family's
    driver witness, the incremental_near_dup pattern): the EVEN half
    of documents lands as TWO count-ledger batches (doc_id % 4 == 0
    and % 4 == 2 — the fold must merge real multi-batch partials),
    ``train_from_counts`` folds them into the model, and the ODD half
    scores under it — exercising the unseen-bucket fallback whenever
    an odd doc carries features the even half never saw. The oracle
    reproduces the whole chain monolithically, which is the ledger's
    core theorem: integer sufficient statistics fold losslessly.
    operators.classify.write_classifier_counts / train_from_counts."""
    from ..operators import classify as CL

    docs = Catalog(spark, sf_dir).documents
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CLF_LEDGER_MEMO:
        import tempfile

        d = tempfile.mkdtemp(prefix="jonesy_clf_ledger_")
        label = F.col("lang") == "en"
        CL.write_classifier_counts(
            docs.filter(F.col("doc_id") % 4 == 0), label, d,
            mode="overwrite", run_id="seed-a",
        )
        CL.write_classifier_counts(
            docs.filter(F.col("doc_id") % 4 == 2), label, d,
            mode="overwrite", run_id="seed-b",
        )
        _CLF_LEDGER_MEMO[key] = d
    model, n_buckets, ngrams = CL.train_from_counts(spark, _CLF_LEDGER_MEMO[key])
    return CL.score_log_odds(
        docs.filter(F.col("doc_id") % 2 == 1), model,
        n_buckets=n_buckets, ngrams=ngrams,
    )


#: (applicationId, sf_dir) -> search-index tmp dir for the
#: bm25_index_probe row (one seed per session).
_SEARCH_INDEX_MEMO: dict[tuple[str, str], str] = {}


@query(
    "bm25_index_probe",
    # The probe == batch theorem as a driver row: the oracle is the
    # SAME monolithic BM25 computation as the bm25_search row — the
    # persisted index must be invisible in the results.
    oracle="""
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
    corpus AS (SELECT count(*) AS n_docs, avg(len) AS avg_len FROM lens),
    hits AS (
        SELECT doc_id, t FROM toks WHERE t IN ('join', 'spark', 'window')
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM hits GROUP BY 1, 2),
    dfx AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
    idf AS (
        SELECT t, round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 9) AS idf
        FROM dfx CROSS JOIN corpus
    ),
    contrib AS (
        SELECT tf.doc_id,
               round(idf.idf * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1.0 - 0.75
                                       + 0.75 * lens.len / corpus.avg_len)),
                     9) AS c
        FROM tf
        JOIN lens USING (doc_id)
        JOIN idf USING (t)
        CROSS JOIN corpus
    )
    SELECT doc_id,
           CAST(round(sum(CAST(c AS DECIMAL(12,9))), 6) * 1000000 AS BIGINT)
               AS score_micro,
           CAST(count(*) AS INT) AS n_hits
    FROM contrib GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT 20
    """,
)
def bm25_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against the PERSISTED inverted index (round-trip witness):
    the corpus lands as TWO postings/docmeta batches, then the probe
    reads only the query terms' bucket directories and folds the
    per-batch corpus statistics — and must return exactly what the
    monolithic ranker computes (the probe == batch theorem the oracle
    enforces by computing the batch side).
    operators.search.write_search_index / bm25_probe."""
    from ..operators import search as SE

    docs = Catalog(spark, sf_dir).documents
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SEARCH_INDEX_MEMO:
        import tempfile

        d = tempfile.mkdtemp(prefix="jonesy_search_index_")
        SE.write_search_index(
            docs.filter(F.col("doc_id") % 2 == 0), d,
            mode="overwrite", run_id="seed-a",
        )
        SE.write_search_index(
            docs.filter(F.col("doc_id") % 2 == 1), d,
            mode="overwrite", run_id="seed-b",
        )
        _SEARCH_INDEX_MEMO[key] = d
    return SE.bm25_probe(
        spark, _SEARCH_INDEX_MEMO[key], ["join", "spark", "window"], top_k=20
    )


@query(
    "classifier_eval",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    tf AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 7))::BIGINT % 32768 AS bucket,
               count(*) AS tf
        FROM tok GROUP BY 1, 2
    ),
    lab AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents WHERE doc_id % 2 = 0
    ),
    pb AS (
        SELECT bucket,
               sum(tf * pos) AS pos_c,
               sum(tf * (1 - pos)) AS neg_c
        FROM tf JOIN lab USING (doc_id) GROUP BY bucket
    ),
    tot AS (SELECT sum(pos_c) AS pos_tot, sum(neg_c) AS neg_tot FROM pb),
    w AS (
        SELECT bucket,
               round(ln((pos_c + 1.0) / (pos_tot + 32768.0))
                     - ln((neg_c + 1.0) / (neg_tot + 32768.0)), 9) AS weight
        FROM pb CROSS JOIN tot
    ),
    meta AS (
        SELECT round(ln(CAST(sum(pos) AS DOUBLE) / sum(1 - pos)), 9) AS bias,
               (SELECT round(ln(1.0 / (pos_tot + 32768.0))
                             - ln(1.0 / (neg_tot + 32768.0)), 9)
                FROM tot) AS unseen
        FROM lab
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(round(CAST(max(meta.bias) AS DECIMAL(12,9))
                          + sum(tf * CAST(coalesce(w.weight, meta.unseen)
                                          AS DECIMAL(12,9))), 6)
                    AS DOUBLE) AS score
        FROM tf LEFT JOIN w USING (bucket) CROSS JOIN meta
        WHERE tf.doc_id % 2 = 1
        GROUP BY tf.doc_id
    ),
    preds AS (
        SELECT d.doc_id,
               CASE WHEN coalesce(s.score, (SELECT round(bias, 6) FROM meta))
                         > 0 THEN 1 ELSE 0 END AS p,
               CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        WHERE d.doc_id % 2 = 1
    ),
    agg AS (
        SELECT CAST(sum(p * y) AS BIGINT) AS tp,
               CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
               CAST(sum((1 - p) * y) AS BIGINT) AS fn,
               CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn
        FROM preds
    )
    SELECT tp, fp, fn, tn,
           CAST(round(CASE WHEN tp + fp > 0
                      THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END
                      * 1000000) AS BIGINT)
               AS precision_micro,
           CAST(round(CASE WHEN tp + fn > 0
                      THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END
                      * 1000000) AS BIGINT)
               AS recall_micro,
           CAST(round(CASE WHEN (CASE WHEN tp + fp > 0
                                 THEN CAST(tp AS DOUBLE) / (tp + fp)
                                 ELSE 0.0 END
                            + CASE WHEN tp + fn > 0
                                   THEN CAST(tp AS DOUBLE) / (tp + fn)
                                   ELSE 0.0 END) > 0
                      THEN 2 * (CASE WHEN tp + fp > 0
                                     THEN CAST(tp AS DOUBLE) / (tp + fp)
                                     ELSE 0.0 END)
                             * (CASE WHEN tp + fn > 0
                                     THEN CAST(tp AS DOUBLE) / (tp + fn)
                                     ELSE 0.0 END)
                           / ((CASE WHEN tp + fp > 0
                                    THEN CAST(tp AS DOUBLE) / (tp + fp)
                                    ELSE 0.0 END)
                              + (CASE WHEN tp + fn > 0
                                      THEN CAST(tp AS DOUBLE) / (tp + fn)
                                      ELSE 0.0 END))
                      ELSE 0.0 END * 1000000) AS BIGINT) AS f1_micro,
           CAST(round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
                      * 1000000) AS BIGINT) AS accuracy_micro
    FROM agg
    """,
)
def classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the incrementally-trained classifier:
    score the ODD half under the even-half count-ledger model (the
    incremental_classifier chain) and condense against the true weak
    labels into one confusion/precision/recall/F1 row — the retrain
    job's pre-publish gate as an oracle-checked query.
    operators.classify.eval_report."""
    from ..operators import classify as CL

    docs = Catalog(spark, sf_dir).documents
    scored = QUERIES["incremental_classifier"](spark, sf_dir)
    labels = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", (F.col("lang") == "en").alias("label")
    )
    return CL.eval_report(scored, labels)


#: (applicationId, sf_dir) -> tmp phash-index dir seeded with the EVEN
#: docs' real-codec perceptual hashes (one seed per session — the
#: _MH_INDEX_MEMO rule).
_PHASH_INDEX_MEMO: dict[tuple[str, str], str] = {}


@query(
    "media_index_probe",
    # The persisted-probe semantics collapse to relational algebra:
    # probing the odd docs against an index of the even docs' hashes
    # is, for max_hamming < 8 and an uncapped bucket, EXACTLY the
    # odd x even brute-force pairs within h bits (the pigeonhole
    # theorem, as for the near-dup rows) — so the oracle recomputes
    # both sides' dHashes from the planted-pair closed form and
    # filters pairs directly, no files needed.
    oracle="""
    WITH g9 AS (
        SELECT d.doc_id, j.j, i.i,
               ((299 * ((13 * ((i.i * 16) // 9)
                         + (d.doc_id - d.doc_id % 2)) % 256)
                 + 587 * ((7 * (2 * j.j)
                           + (d.doc_id - d.doc_id % 2)) % 256)
                 + 114 * ((((i.i * 16) // 9) * (2 * j.j)
                           + (d.doc_id - d.doc_id % 2) * ((i.i * 16) // 9)
                           + CASE WHEN i.i = 0 AND j.j = 0
                                  THEN 200 * (d.doc_id % 2) ELSE 0 END)
                          % 256)) // 1000) AS g
        FROM documents d, range(8) j(j), range(9) i(i)
    ),
    bits AS (
        SELECT a.doc_id,
               sum(CASE WHEN b.g > a.g
                        THEN CAST(1 AS HUGEINT) << (63 - (a.j * 8 + a.i))
                        ELSE CAST(0 AS HUGEINT) END) AS raw
        FROM g9 a JOIN g9 b ON b.doc_id = a.doc_id AND b.j = a.j
                          AND b.i = a.i + 1
        WHERE a.i < 8
        GROUP BY a.doc_id
    ),
    ph AS (
        SELECT doc_id,
               CAST(CASE WHEN raw >= CAST(1 AS HUGEINT) << 63
                         THEN raw - (CAST(1 AS HUGEINT) << 64)
                         ELSE raw END AS BIGINT) AS phash
        FROM bits
    )
    SELECT o.doc_id, e.doc_id AS index_doc_id,
           CAST(bit_count(xor(o.phash, e.phash)) AS BIGINT) AS hamming
    FROM ph o JOIN ph e
      ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
    WHERE bit_count(xor(o.phash, e.phash)) <= 3
    """,
)
def media_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted MEDIA index's probe, driver-witnessed (the
    incremental_near_dup index-round-trip pattern): the even docs'
    real-codec perceptual hashes seed an on-disk phash index once per
    session (multimodal.binary_ops.write_phash_index — band-bucket
    partitions), the odd docs probe it
    (probe_phash_index, uncapped so the pigeonhole theorem gives
    recall 1.0), and the oracle reproduces the probe as the odd x
    even brute-force pairs from the planted-pair closed form — the
    band-pruned, partition-pruned probe machinery verified against
    banding-free SQL."""
    from ..multimodal import binary_ops as MM

    docs = Catalog(spark, sf_dir).documents
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PHASH_INDEX_MEMO:
        import tempfile

        d = tempfile.mkdtemp(prefix="jonesy_phash_index_")
        even = MM.perceptual_hashes(
            MM.attach_ppm_near_dup_payload(
                docs.filter(F.col("doc_id") % 2 == 0)
            ),
            fake=False,
        )
        MM.write_phash_index(even, d, mode="overwrite", run_id="seed")
        _PHASH_INDEX_MEMO[key] = d
    odd = MM.perceptual_hashes(
        MM.attach_ppm_near_dup_payload(docs.filter(F.col("doc_id") % 2 == 1)),
        fake=False,
    )
    out = MM.probe_phash_index(
        odd, spark, _PHASH_INDEX_MEMO[key], max_hamming=3, bucket_cap=None
    )
    return out.select(
        "doc_id",
        "index_doc_id",
        F.col("hamming").cast("long").alias("hamming"),
    )


def _link_authority_oracle(iters: int = 6) -> str:
    """K-unrolled PageRank in ANSI SQL (DuckDB): one (dangling-mass,
    inflow, rank) CTE triple per power iteration, generated by this
    loop so the oracle and the Spark operator can never disagree on
    the iteration count. All arithmetic is double-precision on both
    engines and the output is rounded to nano-units, so the ~1e-16
    relative drift from engine-specific summation order sits six
    orders of magnitude below the rounding boundary."""
    parts = [
        """
    edges AS (
        SELECT DISTINCT user_id % 499 AS src,
               ((event_id * 2654435761) % 2147483647) % 499 AS dst
        FROM events
    ),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    d{i} AS (
        SELECT coalesce(sum(r.rank), 0.0) AS dm
        FROM r{i - 1} r ANTI JOIN deg g ON r.node = g.src
    ),
    c{i} AS (
        SELECT e.dst AS node, sum(r.rank / g.deg) AS inflow
        FROM edges e JOIN deg g ON g.src = e.src
        JOIN r{i - 1} r ON r.node = e.src
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT n.node,
               (1 - 0.85) / (SELECT n FROM nn)
               + 0.85 * (coalesce(c.inflow, 0.0)
                         + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
        FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT r.node,
           CAST(coalesce(g.deg, 0) AS BIGINT) AS out_degree,
           CAST(round(r.rank * 1000000000) AS BIGINT) AS rank_nano
    FROM r{iters} r LEFT JOIN deg g ON g.src = r.node"""
    )
    return "WITH" + "".join(parts)


@query("link_authority", oracle=_link_authority_oracle())
def link_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph authority prior (PageRank, Page et al. 1999) over a
    deterministic 499-node interaction graph derived from the events
    stream — the crawl-scale quality prior a corpus pipeline attaches
    per host (curated hosts are linked-to; spam farms are not), here
    driver-witnessing operators.graph.pagerank, which was previously
    pytest-pinned only (vs a dense numpy power iteration).

    Fixed-iteration mode (tol=0.0, 6 iterations) so the run is exactly
    SQL-unrollable: the oracle generates one CTE triple per iteration
    from the same loop bound. Per iteration the plan is two keyed
    shuffles over (long, double) rows plus a provably-1-row broadcast
    cross join for the dangling mass — at 100 TB the edge list is the
    host graph (millions of rows, not the corpus), so the whole loop
    is metadata-sized next to the document scan that produced it."""
    from ..operators import graph as G

    ev = Catalog(spark, sf_dir).events
    # ONE distinct pass over the source, checkpointed: both the
    # iteration loop (assume_distinct) and the out-degree column read
    # the materialized edge list instead of re-scanning events twice
    # (r11 review finding)
    edges = checkpoint(
        ev.select(
            (F.col("user_id") % 499).alias("src"),
            (
                ((F.col("event_id") * F.lit(2654435761)) % 2147483647) % 499
            ).alias("dst"),
        ).distinct()
    )
    ranks = G.pagerank(
        edges, damping=0.85, max_iter=6, tol=0.0, assume_distinct=True
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return ranks.join(deg, "node", "left").select(
        "node",
        F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("out_degree"),
        F.round(F.col("rank") * 1e9).cast("long").alias("rank_nano"),
    )


#: The deterministic crawl-page synthesis shared by html_extract's
#: Spark builder and its oracle: a realistic page skeleton (title,
#: style, a script whose BODY contains angle brackets, nav links, a
#: comment, entities, a lang-dependent extra link, a footer) wrapped
#: around each document's text. Both engines build the SAME string, so
#: the extraction chain — not the fixture — is what the hash checks.
_HTML_PREFIX = (
    '<html><head><title>page</title><style>p {margin:0}</style>'
    '<script type="text/javascript">var t = "x < y && z > 0";</script>'
    '</head><body><nav><a href="/home">home</a> <a href="/about">about'
    '</a></nav><!-- rendered --><p>Q&amp;A &nbsp;'
)
_HTML_SUFFIX = (
    '</p><div class="footer"><a href="/tos">terms</a></div></body></html>'
)
_HTML_EN_LINK = '<a href="/en">english</a>'


@query(
    "html_extract",
    oracle=f"""
    WITH synth AS (
        SELECT doc_id,
               '{_HTML_PREFIX.replace("'", "''")}' || text ||
               CASE WHEN lang = 'en'
                    THEN '{_HTML_EN_LINK.replace("'", "''")}' ELSE '' END ||
               '{_HTML_SUFFIX.replace("'", "''")}' AS html
        FROM documents
    ),
    stripped AS (
        SELECT doc_id, html,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(html,
                       '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean_text,
               CAST((length(html)
                     - length(replace(html, '<a href', ''))) / 7
                    AS BIGINT) AS n_links
        FROM synth
    )
    SELECT doc_id, clean_text, n_links,
           CAST(length(html) AS BIGINT) AS html_chars,
           CAST(length(clean_text) AS BIGINT) AS clean_chars,
           (length(html) - length(clean_text)) * 1000000 // length(html)
               AS markup_ratio_micro
    FROM stripped
    """,
)
def html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-tier HTML -> text extraction (the WARC-to-documents front
    door the public pipelines run before every other operator —
    RefinedWeb/FineWeb's extraction stage): synthesize a deterministic
    page around each document's text, then strip script/style bodies,
    comments and tags, decode entities, collapse whitespace
    (functions.text.strip_html — a pure JVM regexp chain, no UDF) and
    report per-page link count and markup ratio (integer DIV
    micro-units, the corpus_card rule). The link-density/markup-ratio
    columns are the boilerplate signals a quality gate consumes."""
    # spread: regex-chain map over a 1-split fixture scan (no-op at scale)
    docs = spread(Catalog(spark, sf_dir).documents)
    html = F.concat(
        F.lit(_HTML_PREFIX),
        F.col("text"),
        F.when(F.col("lang") == "en", F.lit(_HTML_EN_LINK)).otherwise(
            F.lit("")
        ),
        F.lit(_HTML_SUFFIX),
    )
    synth = docs.select("doc_id", html.alias("html"))
    stripped = synth.select(
        "doc_id",
        "html",
        TX.strip_html(F.col("html")).alias("clean_text"),
        TX.occurrences(F.col("html"), "<a href").cast("long").alias("n_links"),
    )
    return stripped.select(
        "doc_id",
        "clean_text",
        "n_links",
        F.length("html").cast("long").alias("html_chars"),
        F.length("clean_text").cast("long").alias("clean_chars"),
        F.expr(
            "(length(html) - length(clean_text)) * 1000000L"
            " div length(html)"
        ).alias("markup_ratio_micro"),
    )


@query(
    "c4_line_filter",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(trim(text), ' ') AS words
        FROM documents
    ),
    linearr AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN ['please enable javascript in your browser']
                    ELSE [] END
               || CASE WHEN doc_id % 11 = 0
                    THEN ['this site uses cookie tracking, accept to continue.']
                    ELSE [] END
               || list_transform(range(0, (len(words) + 5) // 6),
                    i -> array_to_string(words[i*6+1 : i*6+6], ' ')
                         || CASE (doc_id + i) % 4
                              WHEN 0 THEN '.' WHEN 1 THEN '!'
                              WHEN 2 THEN '?' ELSE '' END
                         || CASE WHEN (doc_id + i) % 9 = 4
                                 THEN '"' ELSE '' END)
               || CASE WHEN doc_id % 7 = 0
                    THEN ['lorem ipsum dolor sit amet consectetur.']
                    ELSE [] END AS lines
        FROM base
    ),
    lined AS (
        SELECT doc_id, s.i AS idx, lines[s.i] AS line
        FROM linearr, unnest(generate_series(1, len(lines))) AS s(i)
    ),
    judged AS (
        SELECT doc_id, idx, line,
               CASE
                 WHEN contains(line, 'javascript')
                      OR contains(line, 'lorem ipsum')
                      OR contains(line, 'cookie') THEN 'banner'
                 WHEN len(string_split(line, ' ')) < 5 THEN 'short'
                 WHEN right(line, 1) NOT IN ('.', '!', '?', '"')
                      THEN 'punct'
                 ELSE 'kept'
               END AS verdict
        FROM lined
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (verdict = 'kept') AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (verdict = 'banner') AS BIGINT) AS n_banner,
           CAST(count(*) FILTER (verdict = 'short') AS BIGINT) AS n_short,
           CAST(count(*) FILTER (verdict = 'punct') AS BIGINT) AS n_punct,
           coalesce(string_agg(CASE WHEN verdict = 'kept' THEN line END,
                               chr(10) ORDER BY idx), '') AS kept_text,
           count(*) FILTER (verdict = 'kept') >= 3 AS doc_kept
    FROM judged
    GROUP BY doc_id
    """,
)
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's line-level heuristic gate (Raffel et al. 2020, the public
    pipeline behind the C4 corpus): keep lines that end in terminal
    punctuation AND have >= 5 words AND carry no javascript/cookie/
    lorem-ipsum boilerplate; keep documents with >= 3 surviving lines.
    The fixture's documents are single-line word streams, so the row
    synthesizes deterministic lines first (6-word chunks, punctuation
    on a (doc_id+idx)%4 schedule, banner lines injected for doc_id%5
    and %7 — both engines build the same lines, so the hash checks the
    RULES). Pure explode + CASE + grouped aggregate: map-side explode,
    one keyed shuffle, kept_text reassembled order-deterministically —
    at 100 TB this is a single pass over the corpus."""
    # spread: line-synth array lambdas over a 1-split fixture scan
    # (no-op at scale)
    docs = spread(Catalog(spark, sf_dir).documents)
    words = F.split(F.trim(F.col("text")), " ")
    n_chunks = F.floor((F.size(words) + F.lit(5)) / F.lit(6)).cast("int")
    content = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * 6 + 1, 6), " "),
            F.when((F.col("doc_id") + i) % 4 == 0, F.lit("."))
            .when((F.col("doc_id") + i) % 4 == 1, F.lit("!"))
            .when((F.col("doc_id") + i) % 4 == 2, F.lit("?"))
            .otherwise(F.lit("")),
            F.when((F.col("doc_id") + i) % 9 == 4, F.lit('"')).otherwise(
                F.lit("")
            ),
        ),
    )
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.array(F.lit("please enable javascript in your browser")),
        ).otherwise(empty),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.array(
                F.lit(
                    "this site uses cookie tracking, accept to continue."
                )
            ),
        ).otherwise(empty),
        content,
        F.when(
            F.col("doc_id") % 7 == 0,
            F.array(F.lit("lorem ipsum dolor sit amet consectetur.")),
        ).otherwise(empty),
    )
    lined = docs.select(
        "doc_id", F.posexplode(lines).alias("idx", "line")
    )
    verdict = (
        F.when(
            F.contains(F.col("line"), F.lit("javascript"))
            | F.contains(F.col("line"), F.lit("lorem ipsum"))
            | F.contains(F.col("line"), F.lit("cookie")),
            F.lit("banner"),
        )
        .when(F.size(F.split(F.col("line"), " ")) < 5, F.lit("short"))
        .when(
            ~F.substring(F.col("line"), -1, 1).isin(".", "!", "?", '"'),
            F.lit("punct"),
        )
        .otherwise(F.lit("kept"))
    )
    judged = lined.select("doc_id", "idx", "line", verdict.alias("verdict"))
    kept_in_order = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("verdict") == "kept",
                        F.struct(F.col("idx"), F.col("line")),
                    )
                )
            ),
            lambda s: s["line"],
        ),
        "\n",
    )
    return judged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count(F.when(F.col("verdict") == "kept", 1)).cast("long").alias("n_kept"),
        F.count(F.when(F.col("verdict") == "banner", 1)).cast("long").alias("n_banner"),
        F.count(F.when(F.col("verdict") == "short", 1)).cast("long").alias("n_short"),
        F.count(F.when(F.col("verdict") == "punct", 1)).cast("long").alias("n_punct"),
        kept_in_order.alias("kept_text"),
        (F.count(F.when(F.col("verdict") == "kept", 1)) >= 3).alias("doc_kept"),
    )


@query(
    "gopher_quality_gate",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w0 FROM documents
    ),
    a1 AS (
        SELECT doc_id, list_transform(range(0, len(w0)), i ->
            CASE WHEN (doc_id + i) % 15 = 8
                 THEN (['the','be','to','of','and','that','have','with'])
                      [(doc_id + i) % 8 + 1]
                 ELSE w0[i + 1] END) AS w1
        FROM base
    ),
    a2 AS (
        SELECT doc_id, list_transform(range(0, len(w1)), i ->
            CASE WHEN (doc_id % 31 = 3 AND (doc_id + i) % 3 = 1)
                   OR (doc_id % 31 <> 3 AND (doc_id + i) % 41 = 9)
                 THEN '12345' ELSE w1[i + 1] END) AS w2
        FROM a1
    ),
    a3 AS (
        SELECT doc_id, list_transform(range(0, len(w2)), i ->
            CASE WHEN (doc_id % 13 = 4 AND (doc_id + i) % 3 = 0)
                   OR (doc_id % 13 <> 4 AND (doc_id + i) % 29 = 0)
                 THEN '#' || w2[i + 1]
                 WHEN doc_id % 37 = 5 AND (doc_id + i) % 5 = 2
                 THEN w2[i + 1] || '...'
                 ELSE w2[i + 1] END) AS w3
        FROM a2
    ),
    a4 AS (
        SELECT doc_id, list_transform(range(0, len(w3)), i ->
            CASE WHEN doc_id % 23 = 7 THEN w3[i + 1] || 'xxxxxxxxxx'
                 WHEN doc_id % 23 = 15 THEN substr(w3[i + 1], 1, 1)
                 ELSE w3[i + 1] END) AS w4
        FROM a3
    ),
    synth AS (
        SELECT doc_id, array_to_string(
            list_transform(range(0, (len(w4) + 7) // 8), j ->
                CASE WHEN doc_id % 9 = 2
                       OR (doc_id % 9 <> 2 AND (doc_id + j) % 31 = 7)
                     THEN '- ' ELSE '' END
                || array_to_string(w4[j*8+1 : j*8+8], ' ')
                || CASE WHEN (doc_id % 19 = 6 AND (doc_id + j) % 2 = 0)
                          OR (doc_id % 19 <> 6 AND (doc_id + j) % 23 = 3)
                        THEN '...' ELSE '' END),
            chr(10)) AS text
        FROM a4
    ),
    parsed AS (
        SELECT doc_id,
               list_filter(string_split(replace(text, chr(10), ' '), ' '),
                           w -> w <> '') AS w,
               string_split(text, chr(10)) AS l
        FROM synth
    ),
    counted AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(len(l) AS BIGINT) AS n_lines,
               CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
                    AS BIGINT) AS total_word_chars,
               CAST(coalesce(list_sum(list_transform(w, x ->
                        length(x) - length(replace(x, '#', '')))), 0)
                    AS BIGINT) AS n_hash_symbols,
               CAST(coalesce(list_sum(list_transform(w, x ->
                        (length(x) - length(replace(x, '...', ''))) // 3)),
                        0)
                    AS BIGINT) AS n_ellipsis_symbols,
               CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
                    AS BIGINT) AS n_alpha_words,
               CAST(len(list_filter(
                        ['the','be','to','of','and','that','have','with'],
                        s -> list_contains(
                            list_transform(w, x ->
                                regexp_replace(lower(x),
                                               '[.,!?;:''"]+$', '')),
                            s)))
                    AS BIGINT) AS n_stop_kinds,
               CAST(len(list_filter(l, x -> substr(x, 1, 2) = '- '))
                    AS BIGINT) AS n_bullet_lines,
               CAST(len(list_filter(l, x -> right(x, 3) = '...'))
                    AS BIGINT) AS n_ellipsis_lines
        FROM parsed
    ),
    ruled AS (
        SELECT *,
               n_words BETWEEN 50 AND 100000 AS r_word_count,
               total_word_chars >= 3 * n_words
                   AND total_word_chars <= 10 * n_words AS r_mean_word_len,
               n_hash_symbols * 10 <= n_words
                   AND n_ellipsis_symbols * 10 <= n_words AS r_symbol_ratio,
               n_alpha_words * 5 >= n_words * 4 AS r_alpha_ratio,
               n_stop_kinds >= 2 AS r_stop_words,
               n_bullet_lines * 10 <= n_lines * 9 AS r_bullet_lines,
               n_ellipsis_lines * 10 <= n_lines * 3 AS r_ellipsis_lines
        FROM counted
    )
    SELECT *,
           r_word_count AND r_mean_word_len AND r_symbol_ratio
               AND r_alpha_ratio AND r_stop_words AND r_bullet_lines
               AND r_ellipsis_lines AS keep
    FROM ruled
    """,
)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's document-level quality rules (Rae et al. 2021, Appendix
    A1.1) — the most re-implemented filter set in the training-data
    literature (Dolma, RedPajama-v2, FineWeb). The fixture's documents
    are single-line word streams in which no rule's reject branch would
    ever fire, so the row first synthesizes a deterministic multi-line
    document per doc (both engines build the SAME text, so the hash
    checks the RULES, not the fixture): scheduled stop-word /
    non-alpha / '#'-symbol word substitutions plus per-rule STRESS
    COHORTS (doc_id%23 stretches or truncates every word past the mean-
    length band, %31/%13/%37 densify non-alpha words, '#' and '...'
    occurrences past their ratio caps, %9 bullets EVERY line — the
    paper's 90% bar needs a near-pure list to reject — and %19 puts
    '...' on half the lines, past the 30% bar), then 8-word lines with
    scheduled '- ' bullets and '...' endings. The
    gate itself is operators.hygiene.gopher_quality_gate — exact
    integer threshold comparisons, MAP-ONLY (zero exchanges, the plan
    is split/transform/filter/aggregate array expressions inside
    whole-stage codegen)."""
    from ..operators import hygiene as HG

    # spread: the synth staging + gate are heavy array lambdas over a
    # scan that plans 1 split on the fixture files — serial without the
    # adaptive parallelism floor (no-op at cluster scale)
    docs = spread(Catalog(spark, sf_dir).documents)
    doc = F.col("doc_id")
    stop_arr = F.array(
        *[F.lit(s) for s in HG.GOPHER_STOP_WORDS]
    )

    def over(prev, fn):
        return F.transform(
            F.sequence(F.lit(0), F.size(prev) - 1),
            lambda i: fn(F.element_at(prev, (i + 1).cast("int")), i),
        )

    w0 = F.split(F.trim(F.col("text")), " ")
    staged = docs.select("doc_id", w0.alias("w0"))
    staged = staged.select(
        "doc_id",
        over(
            F.col("w0"),
            lambda w, i: F.when(
                (doc + i) % 15 == 8,
                F.element_at(stop_arr, ((doc + i) % 8 + 1).cast("int")),
            ).otherwise(w),
        ).alias("w1"),
    )
    staged = staged.select(
        "doc_id",
        over(
            F.col("w1"),
            lambda w, i: F.when(
                ((doc % 31 == 3) & ((doc + i) % 3 == 1))
                | ((doc % 31 != 3) & ((doc + i) % 41 == 9)),
                F.lit("12345"),
            ).otherwise(w),
        ).alias("w2"),
    )
    staged = staged.select(
        "doc_id",
        over(
            F.col("w2"),
            lambda w, i: F.when(
                ((doc % 13 == 4) & ((doc + i) % 3 == 0))
                | ((doc % 13 != 4) & ((doc + i) % 29 == 0)),
                F.concat(F.lit("#"), w),
            )
            .when(
                (doc % 37 == 5) & ((doc + i) % 5 == 2),
                F.concat(w, F.lit("...")),
            )
            .otherwise(w),
        ).alias("w3"),
    )
    staged = staged.select(
        "doc_id",
        over(
            F.col("w3"),
            lambda w, i: F.when(
                doc % 23 == 7, F.concat(w, F.lit("xxxxxxxxxx"))
            )
            .when(doc % 23 == 15, F.substring(w, 1, 1))
            .otherwise(w),
        ).alias("w4"),
    )
    n_chunks = F.floor((F.size(F.col("w4")) + F.lit(7)) / F.lit(8)).cast(
        "int"
    )
    synth = staged.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda j: F.concat(
                    F.when(
                        (doc % 9 == 2)
                        | ((doc % 9 != 2) & ((doc + j) % 31 == 7)),
                        F.lit("- "),
                    ).otherwise(F.lit("")),
                    F.array_join(
                        F.slice(F.col("w4"), j * 8 + 1, 8), " "
                    ),
                    F.when(
                        ((doc % 19 == 6) & ((doc + j) % 2 == 0))
                        | ((doc % 19 != 6) & ((doc + j) % 23 == 3)),
                        F.lit("..."),
                    ).otherwise(F.lit("")),
                ),
            ),
            "\n",
        ).alias("text"),
    )
    return HG.gopher_quality_gate(synth)


def _link_converged_oracle() -> str:
    """Closed-form stationary PageRank for the hub-funnel graph the
    convergence row builds (VERDICT r11 #5): every node ``i%3 != 0``
    (derived from events) links to ALL of hubs {1..7}, so every linker
    has the identical out-neighborhood and the only in-graph dangling
    nodes are the hubs that are themselves ``%3 == 0`` non-linkers.
    With d = |dangling|, D = d*r_hub, the fixed point solves exactly:

        r_hub * (1 + d*b/7 - d*b/n) = (1-b)/n + b/7
        r_non = (1-b)/n + d*b*r_hub/n

    so the oracle checks the CONVERGED ranks (the delta-stop branch's
    limit), not an unrolled iteration count — d and n are computed
    from the data, never assumed."""
    return """
    WITH linkers AS (
        SELECT DISTINCT user_id % 499 AS src FROM events
        WHERE (user_id % 499) % 3 <> 0
    ),
    edges AS (
        SELECT l.src AS src, h.dst AS dst
        FROM linkers l CROSS JOIN
             (SELECT unnest(range(1, 8)) AS dst) h
    ),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    dang AS (
        SELECT CAST(count(*) AS DOUBLE) AS d FROM nodes
        WHERE node NOT IN (SELECT src FROM linkers)
    ),
    hubrank AS (
        SELECT ((1 - 0.85) / (SELECT n FROM nn) + 0.85 / 7.0)
               / (1 + (SELECT d FROM dang) * 0.85 / 7.0
                    - (SELECT d FROM dang) * 0.85 / (SELECT n FROM nn))
               AS r_hub
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
    SELECT n.node,
           CAST(coalesce(g.deg, 0) AS BIGINT) AS out_degree,
           CAST(round(
             CASE WHEN n.node BETWEEN 1 AND 7
                  THEN (SELECT r_hub FROM hubrank)
                  ELSE (1 - 0.85) / (SELECT n FROM nn)
                       + (SELECT d FROM dang) * 0.85
                         * (SELECT r_hub FROM hubrank)
                         / (SELECT n FROM nn)
             END * 1000000000) AS BIGINT) AS rank_nano
    FROM nodes n LEFT JOIN deg g ON g.src = n.node
    """


@query("link_authority_converged", oracle=_link_converged_oracle())
def link_authority_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank in CONVERGENCE mode (VERDICT r11 #5) — the tol>0
    early-stop branch a real crawl prior runs, driver-witnessed
    against the closed-form stationary solution instead of an
    unrolled iteration count. The graph is a deterministic hub
    funnel derived from events: every node ``i%3 != 0`` links to all
    of hubs {1..7} (identical out-neighborhoods), the ``%3 == 0``
    hubs are the only in-graph dangling nodes, so the dangling-mass
    recursion contracts. The tol is DERIVED from the nano-unit
    rounding bound, not maximal (VERDICT r12 #4), and the derivation
    covers EVERY scale a differential runs at (ADVICE r13) — the
    driver's sf0.01 and the pytest DuckDB differential's sf0.001.
    Successive iterates live in the symmetric subspace (all 7 hubs
    share one value, all non-hubs the other) with zero-mass
    differences, where the difference map is scalar multiplication by
    lambda2 = d*(5/7 + k_d/n) - d (k_d=2 dangling hubs at both
    scales): an L1 stop at tol=1e-9 leaves the iterate within
    tol*|lambda2|/(1-|lambda2|) of the fixed point, conservatively
    split per node as total/7 (hub) and total/n_nonhub (non-hub).
    At sf0.01 (n=102, |lambda2|=0.226, total<=2.93e-10): hub error
    <=4.2e-11 vs 3.9e-10 to the nearest round(x*1e9) half-unit
    boundary (9x margin), non-hub <=3.1e-12 vs 2.5e-10 (81x).
    At sf0.001 (n=12, |lambda2|=0.101, total<=1.13e-10): hub error
    <=1.7e-11 vs 1.2e-10 boundary distance (7.6x margin), non-hub
    <=2.3e-11 vs 2.3e-10 (10x). Both scales' rounded hashes cannot
    flip. 1e-12 over-converged by ~5 further iterations for the
    identical hash (r12 measured ~19 iterations; 1e-9 lands in ~14,
    cutting the heaviest bench row accordingly).

    Scale shape: identical to link_authority — per iteration two
    keyed shuffles over (long, double) rows plus a provably-1-row
    broadcast for the dangling mass; the early stop SAVES iterations
    at 100 TB whenever the host graph mixes faster than the pinned
    bound."""
    from ..operators import graph as G

    ev = Catalog(spark, sf_dir).events
    linkers = (
        ev.select((F.col("user_id") % 499).alias("src"))
        .filter(F.col("src") % 3 != 0)
        .distinct()
    )
    # linkers x {1..7}: distinct by construction, checkpointed so the
    # iteration loop and the out-degree column read one materialized
    # edge list (the link_authority rule)
    edges = checkpoint(
        linkers.select(
            "src",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.lit(7).cast("long"))
            ).alias("dst"),
        )
    )
    ranks = G.pagerank(
        edges, damping=0.85, max_iter=60, tol=1e-9, assume_distinct=True
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return ranks.join(deg, "node", "left").select(
        "node",
        F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("out_degree"),
        F.round(F.col("rank") * 1e9).cast("long").alias("rank_nano"),
    )


#: DuckDB twin of the composed crawl gate below, one CTE chain:
#: synthesize the html_extract page skeleton, strip it, synthesize C4
#: lines from the EXTRACTED words, apply the C4 line gate as list
#: filters, then run the Gopher document rules over the surviving
#: text — the same end-to-end path pipeline/intake.py runs, oracle-
#: checked as ONE flow (VERDICT r11 #6).
_CRAWL_GATE_ORACLE = f"""
    WITH synth AS (
        SELECT doc_id,
               '{_HTML_PREFIX.replace("'", "''")}' || text ||
               CASE WHEN lang = 'en'
                    THEN '{_HTML_EN_LINK.replace("'", "''")}' ELSE '' END ||
               '{_HTML_SUFFIX.replace("'", "''")}' AS html
        FROM documents
    ),
    stripped AS (
        SELECT doc_id,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(html,
                       '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean
        FROM synth
    ),
    based AS (
        SELECT doc_id, string_split(clean, ' ') AS words FROM stripped
    ),
    linearr AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN ['please enable javascript in your browser']
                    ELSE [] END
               || CASE WHEN doc_id % 11 = 0
                    THEN ['this site uses cookie tracking, accept to continue.']
                    ELSE [] END
               || list_transform(range(0, (len(words) + 5) // 6),
                    i -> array_to_string(words[i*6+1 : i*6+6], ' ')
                         || CASE (doc_id + i) % 4
                              WHEN 0 THEN '.' WHEN 1 THEN '!'
                              WHEN 2 THEN '?' ELSE '' END
                         || CASE WHEN (doc_id + i) % 9 = 4
                                 THEN '"' ELSE '' END)
               || CASE WHEN doc_id % 7 = 0
                    THEN ['lorem ipsum dolor sit amet consectetur.']
                    ELSE [] END AS lines
        FROM based
    ),
    c4 AS (
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS c4_n_lines,
               CAST(len(list_filter(lines, l ->
                        contains(l, 'javascript') OR contains(l, 'lorem ipsum')
                        OR contains(l, 'cookie'))) AS BIGINT) AS c4_n_banner,
               CAST(len(list_filter(lines, l ->
                        NOT (contains(l, 'javascript') OR contains(l, 'lorem ipsum')
                             OR contains(l, 'cookie'))
                        AND len(string_split(l, ' ')) < 5))
                    AS BIGINT) AS c4_n_short,
               CAST(len(list_filter(lines, l ->
                        NOT (contains(l, 'javascript') OR contains(l, 'lorem ipsum')
                             OR contains(l, 'cookie'))
                        AND len(string_split(l, ' ')) >= 5
                        AND right(l, 1) NOT IN ('.', '!', '?', '"')))
                    AS BIGINT) AS c4_n_punct,
               list_filter(lines, l ->
                        NOT (contains(l, 'javascript') OR contains(l, 'lorem ipsum')
                             OR contains(l, 'cookie'))
                        AND len(string_split(l, ' ')) >= 5
                        AND right(l, 1) IN ('.', '!', '?', '"')) AS kept
        FROM linearr
    ),
    ktext AS (
        SELECT doc_id, c4_n_lines, c4_n_banner, c4_n_short, c4_n_punct,
               CAST(len(kept) AS BIGINT) AS c4_n_kept,
               len(kept) >= 3 AS c4_doc_kept,
               array_to_string(kept, chr(10)) AS text
        FROM c4
    ),
    parsed AS (
        SELECT doc_id, c4_n_lines, c4_n_kept, c4_n_banner, c4_n_short,
               c4_n_punct, c4_doc_kept,
               list_filter(string_split(replace(text, chr(10), ' '), ' '),
                           w -> w <> '') AS w,
               string_split(text, chr(10)) AS l
        FROM ktext
    ),
    counted AS (
        SELECT doc_id, c4_n_lines, c4_n_kept, c4_n_banner, c4_n_short,
               c4_n_punct, c4_doc_kept,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(len(l) AS BIGINT) AS n_lines,
               CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
                    AS BIGINT) AS total_word_chars,
               CAST(coalesce(list_sum(list_transform(w, x ->
                        length(x) - length(replace(x, '#', '')))), 0)
                    AS BIGINT) AS n_hash_symbols,
               CAST(coalesce(list_sum(list_transform(w, x ->
                        (length(x) - length(replace(x, '...', ''))) // 3)),
                        0)
                    AS BIGINT) AS n_ellipsis_symbols,
               CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
                    AS BIGINT) AS n_alpha_words,
               CAST(len(list_filter(
                        ['the','be','to','of','and','that','have','with'],
                        s -> list_contains(
                            list_transform(w, x ->
                                regexp_replace(lower(x),
                                               '[.,!?;:''"]+$', '')),
                            s)))
                    AS BIGINT) AS n_stop_kinds,
               CAST(len(list_filter(l, x -> substr(x, 1, 2) = '- '))
                    AS BIGINT) AS n_bullet_lines,
               CAST(len(list_filter(l, x -> right(x, 3) = '...'))
                    AS BIGINT) AS n_ellipsis_lines
        FROM parsed
    ),
    ruled AS (
        SELECT *,
               n_words BETWEEN 50 AND 100000 AS r_word_count,
               total_word_chars >= 3 * n_words
                   AND total_word_chars <= 10 * n_words AS r_mean_word_len,
               n_hash_symbols * 10 <= n_words
                   AND n_ellipsis_symbols * 10 <= n_words AS r_symbol_ratio,
               n_alpha_words * 5 >= n_words * 4 AS r_alpha_ratio,
               n_stop_kinds >= 2 AS r_stop_words,
               n_bullet_lines * 10 <= n_lines * 9 AS r_bullet_lines,
               n_ellipsis_lines * 10 <= n_lines * 3 AS r_ellipsis_lines
        FROM counted
    )
    SELECT *,
           r_word_count AND r_mean_word_len AND r_symbol_ratio
               AND r_alpha_ratio AND r_stop_words AND r_bullet_lines
               AND r_ellipsis_lines AS keep,
           c4_doc_kept AND r_word_count AND r_mean_word_len
               AND r_symbol_ratio AND r_alpha_ratio AND r_stop_words
               AND r_bullet_lines AND r_ellipsis_lines AS keep_composed
    FROM ruled
"""


@query("crawl_gate_composed", oracle=_CRAWL_GATE_ORACLE)
def crawl_gate_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl front door COMPOSED end to end and oracle-checked as
    one flow (VERDICT r11 #6): documents -> the html_extract page
    skeleton -> functions.text.strip_html -> C4 line gate (Raffel et
    al. 2020) -> Gopher document gate (Rae et al. 2021) — the same
    extraction+gate path ``pipeline/intake.py`` runs on WARC input,
    previously covered only by pytest parity on the composition.

    The C4 gate here is the MAP-ONLY twin of the c4_line_filter row:
    instead of posexplode + groupBy, the verdicts are array
    ``filter`` predicates over the synthesized line array (banner >
    short > punct precedence preserved as predicate conjunctions), so
    the composed plan stays ZERO-exchange — scan, array expressions,
    Gopher's array expressions, project — one codegen'd pass over the
    corpus at any scale. Lines are synthesized from the EXTRACTED
    words (6-word chunks, the c4_line_filter punctuation/banner
    schedules), so both engines build the same intermediate text and
    the hash checks the composed RULES."""
    from ..operators import hygiene as HG

    # spread: strip_html's regex chain + the C4/Gopher array lambdas
    # are the most expression-heavy map in the registry, over a scan
    # that plans 1 split on the fixture files (no-op at cluster scale)
    docs = spread(Catalog(spark, sf_dir).documents)
    html = F.concat(
        F.lit(_HTML_PREFIX),
        F.col("text"),
        F.when(F.col("lang") == "en", F.lit(_HTML_EN_LINK)).otherwise(
            F.lit("")
        ),
        F.lit(_HTML_SUFFIX),
    )
    words = F.split(TX.strip_html(html), " ")
    n_chunks = F.floor((F.size(words) + F.lit(5)) / F.lit(6)).cast("int")
    content = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * 6 + 1, 6), " "),
            F.when((F.col("doc_id") + i) % 4 == 0, F.lit("."))
            .when((F.col("doc_id") + i) % 4 == 1, F.lit("!"))
            .when((F.col("doc_id") + i) % 4 == 2, F.lit("?"))
            .otherwise(F.lit("")),
            F.when((F.col("doc_id") + i) % 9 == 4, F.lit('"')).otherwise(
                F.lit("")
            ),
        ),
    )
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.array(F.lit("please enable javascript in your browser")),
        ).otherwise(empty),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.array(
                F.lit(
                    "this site uses cookie tracking, accept to continue."
                )
            ),
        ).otherwise(empty),
        content,
        F.when(
            F.col("doc_id") % 7 == 0,
            F.array(F.lit("lorem ipsum dolor sit amet consectetur.")),
        ).otherwise(empty),
    )

    def _banner(l):
        return (
            F.contains(l, F.lit("javascript"))
            | F.contains(l, F.lit("lorem ipsum"))
            | F.contains(l, F.lit("cookie"))
        )

    def _short(l):
        return F.size(F.split(l, " ")) < 5

    def _endpunct(l):
        return F.substring(l, -1, 1).isin(".", "!", "?", '"')

    staged = docs.select("doc_id", lines.alias("__lines"))
    kept = F.filter(
        F.col("__lines"),
        lambda l: ~_banner(l) & ~_short(l) & _endpunct(l),
    )
    c4 = staged.select(
        "doc_id",
        F.size(F.col("__lines")).cast("long").alias("c4_n_lines"),
        F.size(kept).cast("long").alias("c4_n_kept"),
        F.size(F.filter(F.col("__lines"), _banner))
        .cast("long")
        .alias("c4_n_banner"),
        F.size(
            F.filter(F.col("__lines"), lambda l: ~_banner(l) & _short(l))
        )
        .cast("long")
        .alias("c4_n_short"),
        F.size(
            F.filter(
                F.col("__lines"),
                lambda l: ~_banner(l) & ~_short(l) & ~_endpunct(l),
            )
        )
        .cast("long")
        .alias("c4_n_punct"),
        (F.size(kept) >= 3).alias("c4_doc_kept"),
        F.array_join(kept, "\n").alias("text"),
    )
    gated = HG.gopher_quality_gate(
        c4,
        passthrough=(
            "c4_n_lines",
            "c4_n_kept",
            "c4_n_banner",
            "c4_n_short",
            "c4_n_punct",
            "c4_doc_kept",
        ),
    )
    return gated.select(
        "*", (F.col("c4_doc_kept") & F.col("keep")).alias("keep_composed")
    )


@query(
    "ngram_novelty",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws,
               ('0x' || substr(md5('nov-v1|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                   / 268435456.0 < 0.8 AS is_train
        FROM documents
    ),
    g AS (
        SELECT doc_id, is_train,
               list_distinct(list_transform(range(1, len(ws) - 3),
                                            i -> array_to_string(ws[i:i+4], ' '))) AS gs
        FROM w WHERE len(ws) >= 5
    ),
    eg AS (
        SELECT doc_id, ('0x' || substr(md5(u.g), 1, 7))::BIGINT AS h
        FROM g, unnest(gs) u(g) WHERE NOT is_train
    ),
    tg AS (
        SELECT DISTINCT ('0x' || substr(md5(u.g), 1, 7))::BIGINT AS h
        FROM g, unnest(gs) u(g) WHERE is_train
    )
    SELECT eg.doc_id,
           count(*) AS n_grams,
           sum(CASE WHEN tg.h IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel,
           CAST(round(sum(CASE WHEN tg.h IS NULL THEN 1 ELSE 0 END)
                      / count(*) * 1000000) AS BIGINT) AS novelty_micro
    FROM eg LEFT JOIN tg ON eg.h = tg.h
    GROUP BY eg.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-5-gram novelty report (RAVEN-style, McCoy et al. 2023):
    an md5-deterministic 80/20 train/eval split of the documents table,
    then for each EVAL doc the fraction of its distinct word 5-grams
    unseen anywhere in the TRAIN split — the memorization/novelty
    metric a generation-eval pipeline computes next to contamination's
    overlap gate. Unlike contamination (broadcast benchmark), the
    train gram set is corpus-scale: shuffled equi-join on the 28-bit
    gram hash, both sides map-side-deduped. operators.hygiene.
    ngram_novelty has the 100 TB plan notes."""
    from ..operators import hygiene as H

    docs = Catalog(spark, sf_dir).documents
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("nov-v1|"), F.col("doc_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        / 268435456.0
    )
    docs = docs.withColumn("__is_train", u < 0.8)
    return H.ngram_novelty(
        docs.filter(~F.col("__is_train")).select("doc_id", "text"),
        docs.filter(F.col("__is_train")).select("doc_id", "text"),
        n=5,
    )


@query(
    "temperature_mixture",
    oracle="""
    WITH tot AS (
        SELECT source,
               CAST(sum(len(string_split(trim(text), ' '))) AS DOUBLE) AS tok
        FROM documents WHERE source IS NOT NULL
        GROUP BY source HAVING sum(len(string_split(trim(text), ' '))) > 0
    ),
    sh AS (
        SELECT source, tok,
               pow(tok / sum(tok) OVER (), 0.7) AS share,
               sum(tok) OVER () AS grand
        FROM tot
    ),
    r AS (
        SELECT source,
               round(share / sum(share) OVER () * grand / tok, 9) AS rate
        FROM sh
    ),
    c AS (
        SELECT d.doc_id, d.lang, d.source, d.n_chars,
               CAST(floor(r.rate) AS INT)
               + CASE WHEN ('0x' || substr(md5('temp-v1|' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
                           / 268435456.0 < r.rate - floor(r.rate)
                 THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN r USING (source)
    )
    SELECT doc_id, lang, source, n_chars,
           CAST(unnest(generate_series(0, n_copies - 1)) AS INT) AS copy_nbr
    FROM c WHERE n_copies > 0
    """,
)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced training mix (tau=0.7, the classic
    multilingual-pretraining setting): per-source token totals -> the
    p_g ~ f_g^tau share rule -> per-source epoch rates -> the
    mixture_upsample md5 draw, end to end. First driver witness for
    operators.corpus.temperature_rates / temperature_mix (the rates
    were pytest-only until r13). Rates are rounded to 9 decimals on
    BOTH engines before the draw so libm pow() last-ulp variation
    cannot flip a fractional-copy comparison (the u values are spaced
    2^-28 apart, ~7 orders above the post-rounding disagreement band).
    Driver-side math is a handful of floats (domains are list-shaped);
    the corpus-scale work is one keyed aggregation + the map-side
    broadcast-join explode."""
    from ..operators import corpus as C

    docs = Catalog(spark, sf_dir).documents
    rates = C.temperature_rates(C.domain_token_totals(docs), tau=0.7)
    rates = {g: round(v, 9) for g, v in rates.items()}
    return C.mixture_upsample(
        docs.select("doc_id", "lang", "source", "n_chars"),
        rates,
        salt="temp-v1",
    )


@query(
    "bitext_mining_margin",
    oracle=f"""
    WITH {_EMB},
    be AS (
        SELECT vec_id, label, v, nrm,
               array_to_string(list_transform(range(1, 7),
                   i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
        FROM nemb
    ),
    x AS (SELECT vec_id AS src_id, v AS xv, nrm AS xn, bucket
          FROM be WHERE label % 2 = 0),
    y AS (SELECT vec_id AS tgt_id, v AS yv, nrm AS yn, bucket
          FROM be WHERE label % 2 = 1),
    scored AS (
        SELECT src_id, tgt_id,
               CAST(round(list_sum(list_transform(range(1, len(xv)+1),
                                                  i -> xv[i]*yv[i]))
                          / (xn * yn) * 1000000) AS BIGINT) AS cosine_micro
        FROM x JOIN y USING (bucket)
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY src_id
                                  ORDER BY cosine_micro DESC, tgt_id) AS rx,
               row_number() OVER (PARTITION BY tgt_id
                                  ORDER BY cosine_micro DESC, src_id) AS ry
        FROM scored
    ),
    sx AS (SELECT src_id, sum(cosine_micro) AS ksum_x FROM ranked
           WHERE rx <= 4 GROUP BY src_id),
    sy AS (SELECT tgt_id, sum(cosine_micro) AS ksum_y FROM ranked
           WHERE ry <= 4 GROUP BY tgt_id),
    m AS (
        SELECT r.src_id, r.tgt_id, r.cosine_micro,
               CAST(round(r.cosine_micro * 8000000.0
                          / (sx.ksum_x + sy.ksum_y)) AS BIGINT) AS margin_micro
        FROM ranked r JOIN sx USING (src_id) JOIN sy USING (tgt_id)
    ),
    best AS (
        SELECT *,
               row_number() OVER (PARTITION BY src_id
                                  ORDER BY margin_micro DESC, tgt_id) AS fb,
               row_number() OVER (PARTITION BY tgt_id
                                  ORDER BY margin_micro DESC, src_id) AS bb
        FROM m
    )
    SELECT src_id, tgt_id, cosine_micro, margin_micro
    FROM best WHERE fb = 1 AND bb = 1 AND margin_micro >= 1000000
    """,
)
def bitext_mining_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019's
    ratio margin — the method behind the public large-scale bitext
    corpora): label-parity sides of the embeddings table stand in for
    the two languages; candidates come from the 64-cell sign-bucket
    equi-join (the production shape — mining runs over ANN
    neighborhoods, never the n x m cross product); pairs are emitted
    iff mutual-best-by-margin with margin > 1.0 (above the k=4
    neighborhood average — the hubness suppressor). All ranking on
    micro-unit BIGINTs with vec_id tiebreaks, so the mutual-argmax
    set is identical across engines.
    operators.similarity.margin_bitext_pairs has the bucketed-vs-
    exact candidate-tier notes."""
    from ..operators import similarity as S

    return S.margin_bitext_pairs(
        Catalog(spark, sf_dir).embeddings, k_neighborhood=4, n_bucket_dims=6
    )


@query(
    "excess_loss_select",
    # Composes the doc_logprob and bigram_logprob oracle chains
    # verbatim (same tiny 16/64 caps) and subtracts the two micro-unit
    # means — integer arithmetic on already-hash-stable columns.
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS t
        FROM documents
    ),
    tf AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    vocab AS (SELECT t, c FROM tf ORDER BY c DESC, t LIMIT 16),
    tot AS (SELECT (SELECT sum(c) FROM tf) AS n_total,
                   (SELECT count(*) FROM vocab) AS v_actual),
    uscored AS (
        SELECT toks.doc_id,
               round(ln((coalesce(v.c, 0) + 0.5)
                        / (tot.n_total + 0.5 * (tot.v_actual + 1))), 9) AS lp
        FROM toks LEFT JOIN vocab v ON v.t = toks.t CROSS JOIN tot
    ),
    uni AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
               CAST(round(sum(lp) / count(*) * 1000000) AS BIGINT)
                   AS unigram_lp_micro
        FROM uscored GROUP BY doc_id
    ),
    base AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
        FROM documents
    ),
    btoks AS (
        SELECT doc_id, i AS pos, arr[i] AS raw
        FROM base, unnest(generate_series(1, len(arr))) AS s(i)
    ),
    btf AS (SELECT raw, count(*) AS c FROM btoks GROUP BY raw),
    bvocab AS (SELECT raw FROM btf ORDER BY c DESC, raw LIMIT 16),
    coll AS (
        SELECT btoks.doc_id, btoks.pos,
               CASE WHEN v.raw IS NULL THEN '<oov>' ELSE btoks.raw END AS t
        FROM btoks LEFT JOIN bvocab v ON v.raw = btoks.raw
    ),
    c1 AS (SELECT t, count(*) AS c1 FROM coll GROUP BY t),
    btot AS (SELECT (SELECT sum(c1) FROM c1) AS n_total,
                    (SELECT count(*) FROM c1) AS v1),
    paired AS (
        SELECT doc_id, pos, t,
               lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM coll
    ),
    c2 AS (
        SELECT prev, t, count(*) AS c2
        FROM paired WHERE prev IS NOT NULL GROUP BY prev, t
        ORDER BY c2 DESC, prev, t LIMIT 64
    ),
    bscored AS (
        SELECT p.doc_id,
               round(CASE WHEN p.prev IS NULL
                     THEN ln((u.c1 + 0.5) / (btot.n_total + 0.5 * btot.v1))
                     ELSE ln((coalesce(b.c2, 0) + 0.5)
                             / (cp.c1 + 0.5 * btot.v1)) END, 9) AS lp
        FROM paired p
        LEFT JOIN c2 b ON b.prev = p.prev AND b.t = p.t
        LEFT JOIN c1 cp ON cp.t = p.prev
        LEFT JOIN c1 u ON u.t = p.t
        CROSS JOIN btot
    ),
    bi AS (
        SELECT doc_id,
               CAST(round(sum(lp) / count(*) * 1000000) AS BIGINT)
                   AS bigram_lp_micro
        FROM bscored GROUP BY doc_id
    )
    SELECT uni.doc_id, uni.n_tokens, uni.unigram_lp_micro,
           bi.bigram_lp_micro,
           bi.bigram_lp_micro - uni.unigram_lp_micro AS excess_micro
    FROM uni JOIN bi ON uni.doc_id = bi.doc_id
    ORDER BY excess_micro DESC, uni.doc_id
    LIMIT 200
    """,
)
def excess_loss_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learnability-ordered data selection (RHO-loss proxy, Mindermann
    et al. 2022): rank documents by the EXCESS of their bigram-LM mean
    log-likelihood over the unigram baseline — predictable-only-with-
    context prose ranks high, boilerplate the unigram already explains
    and garbage neither explains rank low — and keep the top 200. An
    integer difference of two already-hash-stable micro-unit scorers,
    with the same tiny 16/64 table caps as the constituent rows.
    operators.corpus.excess_loss_select has the broadcast-table and
    partial-top-k scale notes."""
    from ..operators import corpus as C

    return C.excess_loss_select(
        Catalog(spark, sf_dir).documents,
        k=200,
        vocab_size=16,
        bigram_size=64,
        alpha=0.5,
    )


@query(
    "ann_int8_rerank",
    oracle=f"""
    WITH store AS (
        SELECT vec_id,
               embedding::DOUBLE[] AS fv,
               list_transform(q, x -> CAST(x AS DOUBLE)
                                      * CAST(scale AS DOUBLE)) AS v
        FROM read_parquet('{ANN_STORE_FIXTURE}')
    ),
    de AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(range(1, len(v)+1),
                                            i -> v[i]*v[i]))) AS nrm
        FROM store
    ),
    dq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
           FROM de WHERE vec_id >= 0 AND vec_id < 10),
    scored AS (
        SELECT dq.query_id, e.vec_id,
               CAST(round(list_sum(list_transform(range(1, len(e.v)+1),
                                                  i -> dq.qv[i] * e.v[i]))
                          / (dq.qn * e.nrm) * 1000000) AS BIGINT) AS cm
        FROM de e JOIN dq ON e.vec_id <> dq.query_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY cm DESC, vec_id) <= 30
    ),
    fl AS (
        SELECT vec_id, fv,
               sqrt(list_sum(list_transform(range(1, len(fv)+1),
                                            i -> fv[i]*fv[i]))) AS fn
        FROM store
    ),
    qf AS (SELECT vec_id AS query_id, fv AS qfv, fn AS qfn
           FROM fl WHERE vec_id < 10),
    exact AS (
        SELECT c.query_id, c.vec_id,
               CAST(round(list_sum(list_transform(range(1, len(f.fv)+1),
                                                  i -> q.qfv[i] * f.fv[i]))
                          / (q.qfn * f.fn) * 1000000) AS BIGINT)
                   AS cosine_micro
        FROM cand c
        JOIN fl f ON f.vec_id = c.vec_id
        JOIN qf q ON q.query_id = c.query_id
    )
    SELECT query_id, vec_id, cosine_micro,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_micro DESC, vec_id) AS rank
    FROM exact
    QUALIFY rank <= 10
    """,
)
def ann_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checked half of the int8 quantized-ANN tier (VERDICT
    r13 #6, the tokenizer_family_fold split): ann_quantized_topk =
    live quantization (whose round(x/scale) half-integer boundary is
    the one cross-engine ulp hazard — pytest-pinned) composed with
    THIS deterministic scan + exact re-rank. The int8 store is frozen
    in the committed ANN fixture, so both engines dequantize identical
    tinyints, rank candidates by the micro-rounded dequantized cosine
    (overfetch 3x10 per query), and exactly re-rank the survivors on
    the frozen float originals — the same cross-engine-proven float
    fold as ann_cosine_topk.

    ``sf_dir`` is deliberately unused: the row's input contract is the
    pinned store, not a per-SF table — both engines read the SAME
    committed parquet, so this checks the scan + re-rank, not the
    corpus. The LIVE corpus-scale twin (quantize at read, same scan)
    stays benched as ann_quantized_topk."""
    store = spark.read.parquet(ANN_STORE_FIXTURE)
    return SIM.quantized_topk(
        store.select("vec_id", "embedding", "label"),
        k=10,
        store=store.select(
            "vec_id", F.struct(F.col("q"), F.col("scale")).alias("qv")
        ),
    )


@query(
    "ann_pq_rerank",
    oracle=f"""
    WITH store AS (
        SELECT vec_id, embedding::DOUBLE[] AS fv, codes
        FROM read_parquet('{ANN_STORE_FIXTURE}')
    ),
    fl AS (
        SELECT vec_id, fv,
               sqrt(list_sum(list_transform(range(1, len(fv)+1),
                                            i -> fv[i]*fv[i]))) AS fn
        FROM store
    ),
    unit AS (
        SELECT vec_id,
               list_transform(range(1, len(fv)+1), i -> fv[i] / fn) AS u
        FROM fl
    ),
    qsub AS (
        SELECT vec_id AS query_id, CAST(j AS INTEGER) AS sub,
               u[j*8 + 1 : j*8 + 8] AS qx
        FROM unit, unnest(range(0, 8)) AS t(j)
        WHERE vec_id < 10
    ),
    lut AS (
        SELECT q.query_id, q.sub, cb.code,
               list_sum(list_transform(range(1, 9),
                   i -> (q.qx[i] - cb.sv[i]) * (q.qx[i] - cb.sv[i]))) AS d2
        FROM qsub q JOIN read_parquet('{ANN_CODEBOOKS_FIXTURE}') cb
          ON cb.sub = q.sub
    ),
    cx AS (
        SELECT vec_id, CAST(j - 1 AS INTEGER) AS sub, codes[j] AS code
        FROM store, unnest(range(1, len(codes)+1)) AS t(j)
    ),
    adc AS (
        SELECT l.query_id, c.vec_id,
               CAST(round(sum(l.d2) * 1000000) AS BIGINT) AS adc_micro
        FROM cx c JOIN lut l ON l.sub = c.sub AND l.code = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM adc
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_micro ASC, vec_id) <= 40
    ),
    qf AS (SELECT vec_id AS query_id, fv AS qfv, fn AS qfn
           FROM fl WHERE vec_id < 10),
    exact AS (
        SELECT c.query_id, c.vec_id,
               CAST(round(list_sum(list_transform(range(1, len(f.fv)+1),
                                                  i -> q.qfv[i] * f.fv[i]))
                          / (q.qfn * f.fn) * 1000000) AS BIGINT)
                   AS cosine_micro
        FROM cand c
        JOIN fl f ON f.vec_id = c.vec_id
        JOIN qf q ON q.query_id = c.query_id
    )
    SELECT query_id, vec_id, cosine_micro,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_micro DESC, vec_id) AS rank
    FROM exact
    QUALIFY rank <= 10
    """,
)
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checked half of the IVF-PQ ANN tier (VERDICT r13 #6):
    ann_pq_topk = iterative codebook training (numpy Lloyd k-means —
    pytest-pinned, not SQL-expressible) composed with THIS
    deterministic encode-frozen ADC scan + exact re-rank. Codebooks
    AND codes are frozen in the committed ANN fixture (the production
    shape: train once, encode everything), each query's m x k lookup
    table rebuilds from the frozen codebook in both engines, ADC ranks
    by the MICRO-ROUNDED distance sum (adc_micro_rank=True — the sum
    of m lookup doubles folds in nondeterministic order, so the raw
    double is not a cross-engine ordering key; the micro-boundary
    margin is pytest-asserted on the frozen data), and the exact float
    re-rank of the 4x10 overfetch makes every reported score exact.

    ``sf_dir`` is deliberately unused (same contract as
    tokenizer_family_fold / ann_int8_rerank): both engines read the
    SAME committed parquet. The LIVE corpus-scale twin (train + encode
    at read) stays benched as ann_pq_topk."""
    store = spark.read.parquet(ANN_STORE_FIXTURE)
    return SIM.pq_topk(
        store.select("vec_id", "embedding", "label"),
        k=10,
        overfetch=4,
        codebooks=spark.read.parquet(ANN_CODEBOOKS_FIXTURE),
        codes=store.select("vec_id", "codes"),
        adc_micro_rank=True,
    )
