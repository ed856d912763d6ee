"""Near-dup / similarity-search / IR-weighting queries (training-data
pipeline extension — first-class per the build brief).

The MinHash/SimHash oracle SQL is GENERATED from the same constants the
Spark operators use (operators/neardup.py), so the two can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import bm25, term_frequencies, tf_idf
from ..operators.ann import cosine_topk_bruteforce, lsh_bucket_signatures
from ..operators.ann import N_PLANES, PLANE_A, PLANE_B, PLANE_P
from ..operators.neardup import (
    DEFAULT_ROWS_PER_BAND,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    SIMHASH_A,
    SIMHASH_B,
    SIMHASH_BITS,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_ids_portable,
    shingles,
    simhash_fingerprints,
)
from ..sources.tables import load_table
from . import shared
from .registry import QuerySpec, register

#: oracle CTEs: tokens and distinct 3-gram shingles per doc (1-based list
#: indexing matches Spark's element_at)
_SHINGLE_CTE = """
    toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tokens
        FROM documents
    ),
    shing AS (
        SELECT DISTINCT doc_id,
               tokens[i.i] || ' ' || tokens[i.i + 1] || ' ' || tokens[i.i + 2] AS shingle
        FROM toks, range(1, 10001) i(i)
        WHERE i.i <= len(tokens) - 2
    )
"""

_SID_CTE = """
    sids AS (
        SELECT s.doc_id, d.sid
        FROM shing s JOIN (
            SELECT shingle, DENSE_RANK() OVER (ORDER BY shingle) AS sid
            FROM (SELECT DISTINCT shingle FROM shing)
        ) d USING (shingle)
    )
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _shingles3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingles, materialized once per session (plans/shared.py) —
    the window + dedup shuffle feeds jaccard, minhash x2, and simhash."""
    return shared.materialized(
        spark, sf_dir, "shingles3", lambda: shingles(_docs(spark, sf_dir), n=3)
    )


def _sids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sid) portable shingle ids, materialized — the two-phase
    ordered-id ranking plus its join run once per session."""
    return shared.materialized(
        spark, sf_dir, "doc_sids",
        lambda: shingle_ids_portable(_shingles3(spark, sf_dir)),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup
# ---------------------------------------------------------------------------
def q_ngram_jaccard_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50 most-similar doc pairs by 3-gram Jaccard.

    Stop-shingle cap df ≤ 100: shingles in >100 docs are boilerplate, and
    each contributes df² rows to the pair join while carrying no signal —
    the cap is what keeps Σ deg² bounded at corpus scale (the declared
    scale path beyond that is minhash_lsh_candidates)."""
    return (
        _jacc_pairs100(spark, sf_dir)
        .orderBy(
            F.col("jaccard").desc(), F.col("doc_i").asc(), F.col("doc_j").asc()
        )
        .limit(50)
    )


def _jacc_pairs100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pair table (stop-shingle cap df ≤ 100),
    materialized once per session — the top-N query and the LSH-recall
    instrument both consume the same capped pair join.  Tradeoff: a
    session running ONLY the top-N query stores the full pair table where
    a bare TakeOrderedAndProject would stream it; in the driver/bench
    shape (whole suite, one session) the shared build always pays."""
    return shared.materialized(
        spark,
        sf_dir,
        "jacc_pairs100",
        lambda: ngram_jaccard_pairs(
            _shingles3(spark, sf_dir), top_n=None, max_shingle_df=100
        ),
    )


register(
    QuerySpec(
        "ngram_jaccard_topn",
        q_ngram_jaccard_topn,
        f"""
        WITH {_SHINGLE_CTE},
        shing_f AS (
            SELECT s.* FROM shing s JOIN (
                SELECT shingle FROM shing GROUP BY 1 HAVING COUNT(*) <= 100
            ) k USING (shingle)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing_f GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS inter
            FROM shing_f a JOIN shing_f b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_i, doc_j,
               CAST(inter AS BIGINT) AS inter,
               CAST(ni.n AS BIGINT) AS n_i,
               CAST(nj.n AS BIGINT) AS n_j,
               inter * 1.0 / (ni.n + nj.n - inter) AS jaccard
        FROM inter
        JOIN sizes ni ON inter.doc_i = ni.doc_id
        JOIN sizes nj ON inter.doc_j = nj.doc_id
        ORDER BY jaccard DESC, doc_i ASC, doc_j ASC
        LIMIT 50
        """,
        doc="n-gram Jaccard near-dup (pipeline extension; stop-shingle "
        "cap df<=100 bounds the hot-key pair blowup)",
    )
)


# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidates
# ---------------------------------------------------------------------------
def _sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-component MinHash signatures, materialized once per session —
    six dedup-family queries (signatures, candidates, clusters,
    incremental index, recall + estimate instruments) consume the same
    64-min aggregation; one persisted copy replaces six re-aggregations."""
    return shared.materialized(
        spark,
        sf_dir,
        "minhash_sigs",
        lambda: minhash_signatures(_sids(spark, sf_dir)),
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sigs(spark, sf_dir)


def _warmup_lsh(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the text-dedup shared payloads (3-gram shingles,
    portable shingle ids, MinHash signatures, banded candidate pairs,
    8-gram shingles).

    r16: the builds after the shared ``shingles3`` root form THREE
    independent chains (sids→sigs→cands, the df-capped Jaccard pairs,
    and the 8-gram shingles, which need only the doc table) — submitted
    as concurrent jobs so the family line pays max(chain), not
    sum(chain) (guide §2.6; these are few-task stages that leave most
    cores idle serially).  The root is materialized first so exactly one
    thread builds each ``materialized`` key; payload contents are
    unchanged."""
    from ..operators.neardup import shingles

    _shingles3(spark, sf_dir).count()

    def chain_minhash() -> None:
        _sids(spark, sf_dir).count()
        _sigs(spark, sf_dir).count()
        _cands(spark, sf_dir).count()

    shared.overlap_jobs(
        chain_minhash,
        lambda: _jacc_pairs100(spark, sf_dir).count(),
        lambda: shared.materialized(
            spark, sf_dir, "shingles8",
            lambda: shingles(_docs(spark, sf_dir), n=8),
        ).count(),
    )


def _warmup_ann_index(spark: SparkSession, sf_dir: str) -> None:
    """Offline index builds the ANN serving queries share (a deployment
    trains these once): IVF quantizer distances, PQ codebooks, and the
    residual-PQ artifacts (coarse-centroid grid, residual codebook and
    codes).

    r16: two independent training chains — (IVF quantizer → residual-PQ
    artifacts, which assign against it) and (the plain PQ codebook) —
    run as concurrent jobs (guide §2.6).  Artifact contents are
    unchanged; each ``materialized`` key is built by exactly one
    thread."""

    def chain_ivf_residual() -> None:
        _ivf_distances(spark, sf_dir).count()
        _res_cent(spark, sf_dir).count()
        _res_codes(spark, sf_dir).count()

    shared.overlap_jobs(
        chain_ivf_residual,
        lambda: _pq_codebooks_df(spark, sf_dir).count(),
    )


#: two separately-timed family build lines (round-9 verdict: the merged
#: 13.6 s warmup line was the largest single block of bench time and hid
#: whether a regression came from the LSH pair materialization or the
#: ANN/PQ codebook training)
BENCH_WARMUPS = {
    "lsh": _warmup_lsh,
    "ann_index": _warmup_ann_index,
}

#: bench sub-family assignment (consumed by registry.bench_query_families).
#: This module holds THREE disjoint payload groups — the text-dedup
#: payloads (shingles/signatures/candidate pairs, built by _warmup_lsh),
#: the ANN index artifacts (IVF quantizer distances, PQ codebooks, the
#: residual-PQ centroid/codebook/code tables, built by _warmup_ann_index),
#: and the per-query blocked-GEMM corpus payloads (operators.blocked_topk
#: cache, built on first touch).  Running all 39 queries as ONE bench
#: family kept every group resident simultaneously: the round-13 verdict
#: measured the session-cached residual-PQ artifacts inflating five LSH
#: queries 2-4x in-suite while their warm best-of-3 sat at round-12 levels
#: (incremental_dedup_flags 1.15->4.58 s, hard_negative_pairs 1.33->3.26,
#: minhash_dedup_clusters 1.37->3.11, lsh_recall_stats 0.56->2.38,
#: eval_contamination 0.79->2.05).  Three sub-families make bench.py
#: release each group's payloads before the next group runs; each
#: sub-family matches exactly its own BENCH_WARMUPS line.
BENCH_QUERY_FAMILIES = {
    # ANN index serving (IVF / PQ / residual-PQ artifacts)
    "ann_ivf_assignments": "dedupops/ann_index",
    "ann_ivf_topk": "dedupops/ann_index",
    "ann_ivf_topk_nprobe2": "dedupops/ann_index",
    "ann_ivf_sampled_topk": "dedupops/ann_index",
    "cluster_prototype_sample": "dedupops/ann_index",
    "ann_pq_codes": "dedupops/ann_index",
    "ann_pq_adc_topk": "dedupops/ann_index",
    "ann_ivfpq_topk": "dedupops/ann_index",
    "ann_ivfpq_multiprobe_topk": "dedupops/ann_index",
    "ann_refined_topk": "dedupops/ann_index",
    "ann_ivfpq_residual_topk": "dedupops/ann_index",
    "ann_ivf_sq8_topk": "dedupops/ann_index",
    "ann_ivf_sq8_residual_topk": "dedupops/ann_index",
    "ann_ivf_sq8_multiprobe_topk": "dedupops/ann_index",
    "semantic_dedup_flags": "dedupops/ann_index",
    # blocked-GEMM embedding kernels (per-query corpus payloads, no index)
    "ann_cosine_topk": "dedupops/embed",
    "ann_lsh_buckets": "dedupops/embed",
    "ann_retrieval_topk": "dedupops/embed",
    "ann_sq8_topk": "dedupops/embed",
    "embedding_neardup_pairs": "dedupops/embed",
    "embedding_outlier_flags": "dedupops/embed",
    "hard_negative_pairs": "dedupops/embed",
    "mmr_diversified_topk": "dedupops/embed",
    # text-dedup / lexical-retrieval (shingle & signature payloads)
    "ngram_jaccard_topn": "dedupops/lsh",
    "minhash_signatures": "dedupops/lsh",
    "minhash_lsh_candidates": "dedupops/lsh",
    "simhash_fingerprints": "dedupops/lsh",
    "simhash_neardup_pairs": "dedupops/lsh",
    "tfidf_weights": "dedupops/lsh",
    "bm25_weights": "dedupops/lsh",
    "minhash_dedup_clusters": "dedupops/lsh",
    "dedup_survivors": "dedupops/lsh",
    "eval_contamination": "dedupops/lsh",
    "duplicated_span_stats": "dedupops/lsh",
    "span_scrubbed_docs": "dedupops/lsh",
    "incremental_dedup_flags": "dedupops/lsh",
    "bm25_search_topk": "dedupops/lsh",
    "doc_novelty_stats": "dedupops/lsh",
    "lsh_recall_stats": "dedupops/lsh",
    "minhash_jaccard_estimates": "dedupops/lsh",
    "doc_top_terms": "dedupops/lsh",
    "token_top_docs": "dedupops/lsh",
}


def bench_warmup(spark: SparkSession, sf_dir: str) -> None:
    """Single-call convenience twin of ``BENCH_WARMUPS`` (tests)."""
    _warmup_lsh(spark, sf_dir)
    _warmup_ann_index(spark, sf_dir)


def _minhash_sql_cols() -> str:
    return ",\n               ".join(
        f"MIN((sid * {a} + {b}) % {MINHASH_P}) AS mh{k}"
        for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )


register(
    QuerySpec(
        "minhash_signatures",
        q_minhash_signatures,
        f"""
        WITH {_SHINGLE_CTE},
        {_SID_CTE}
        SELECT doc_id,
               {_minhash_sql_cols()}
        FROM sids GROUP BY doc_id
        """,
        doc="MinHash signatures (Broder-style affine family)",
    )
)


def _cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH candidate pairs, materialized once per session — four
    family queries (candidates, clusters, recall + estimate instruments)
    run the same band self-join; the pair list is tiny relative to the
    corpus (LSH has already filtered), so one persisted copy replaces
    four band-join shuffles."""
    return shared.materialized(
        spark,
        sf_dir,
        "minhash_cands",
        lambda: minhash_lsh_candidates(_sigs(spark, sf_dir)),
    )


def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cands(spark, sf_dir)


def _lsh_band_sql(rows_per_band: int = DEFAULT_ROWS_PER_BAND) -> str:
    bands = []
    for bidx in range(len(MINHASH_A) // rows_per_band):
        cols = [f"mh{rows_per_band * bidx + r}" for r in range(rows_per_band)]
        bucket = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        bands.append(f"SELECT doc_id, {bidx} AS band, {bucket} AS bucket FROM sig")
    return " UNION ALL ".join(bands)


register(
    QuerySpec(
        "minhash_lsh_candidates",
        q_minhash_lsh_candidates,
        f"""
        WITH {_SHINGLE_CTE},
        {_SID_CTE},
        sig AS (
            SELECT doc_id,
                   {_minhash_sql_cols()}
            FROM sids GROUP BY doc_id
        ),
        bands AS ({_lsh_band_sql()})
        SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
               CAST(COUNT(*) AS BIGINT) AS n_shared_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        """,
        doc="MinHash-LSH banding candidates",
    )
)


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    sids = _sids(spark, sf_dir)
    return simhash_fingerprints(sids)


def _simhash_fp_cte() -> str:
    """CTEs `sums`, `fp(doc_id, simhash)` — shared by the fingerprint and
    near-dup-pair oracles."""
    half = MINHASH_P // 2
    sums = ",\n                   ".join(
        f"SUM(CASE WHEN (sid * {a} + {b}) % {MINHASH_P} > {half} "
        f"THEN 1 ELSE -1 END) AS s{j}"
        for j, (a, b) in enumerate(zip(SIMHASH_A, SIMHASH_B))
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
        sums AS (
            SELECT doc_id,
                   {sums}
            FROM sids GROUP BY doc_id
        ),
        fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums)
    """


def _simhash_sql() -> str:
    return f"{_simhash_fp_cte()} SELECT doc_id, simhash FROM fp"


register(
    QuerySpec(
        "simhash_fingerprints",
        q_simhash_fingerprints,
        f"""
        WITH {_SHINGLE_CTE},
        {_SID_CTE},
        {_simhash_sql()}
        """,
        doc="SimHash 16-bit fingerprints",
    )
)


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs via bit-block banding (Manku et
    al. WWW'07): 16 bits → 4 blocks; pigeonhole guarantees every pair
    within hamming 3 shares a block, so the equi-join on (block, value)
    has exact recall at the threshold and only same-bucket docs meet."""
    from ..operators.neardup import simhash_neardup_pairs

    fp = simhash_fingerprints(_sids(spark, sf_dir))
    return simhash_neardup_pairs(fp, max_hamming=3)


register(
    QuerySpec(
        "simhash_neardup_pairs",
        q_simhash_neardup_pairs,
        f"""
        WITH {_SHINGLE_CTE},
        {_SID_CTE},
        {_simhash_fp_cte()},
        blk AS (
            SELECT doc_id, simhash, b.b AS blk,
                   (simhash >> (b.b * 4)) & 15 AS val
            FROM fp, range(0, 4) b(b)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j,
                   a.simhash AS h_i, b.simhash AS h_j
            FROM blk a JOIN blk b
              ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT doc_i, doc_j,
               CAST(bit_count(CAST(xor(h_i, h_j) AS BIGINT)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(CAST(xor(h_i, h_j) AS BIGINT)) <= 3
        """,
        doc="SimHash near-dup pairs: bit-block banding candidates + exact "
        "hamming verify (Manku WWW'07; completes the SimHash modality)",
    )
)


# ---------------------------------------------------------------------------
# embedding similarity search
# ---------------------------------------------------------------------------
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb, k=5, cache_key=f"{sf_dir}:embeddings")


register(
    QuerySpec(
        "ann_cosine_topk",
        q_ann_cosine_topk,
        """
        WITH e AS (
            SELECT vec_id, i.i AS pos,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5) AS BIGINT) AS xq
            FROM embeddings, range(1, 1025) i(i)
            WHERE i.i <= len(embedding)
        ),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        dots AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot
            FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id <> b.vec_id
            GROUP BY 1, 2
        )
        SELECT d.vec_id, d.neighbor_id,
               d.dot / (na.nrm * nb.nrm) AS cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.vec_id
                    ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                             d.neighbor_id ASC) AS INT) AS rank
        FROM dots d
        JOIN norms na ON d.vec_id = na.vec_id
        JOIN norms nb ON d.neighbor_id = nb.vec_id
        QUALIFY rank <= 5
        """,
        doc="brute-force cosine top-k over embeddings (pipeline extension; "
        "2^22 fixed-point entries → bit-reproducible ranking, see "
        "operators/ann.QUANT)",
    )
)


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_signatures(emb)


def _lsh_plane_sql() -> str:
    # integer projection: Σ x·(k/P − ½) > 0 ⟺ Σ xq·(2k − P) > 0 — exact,
    # order-independent in any engine (see operators/ann.QUANT)
    bits = []
    for j in range(N_PLANES):
        bits.append(
            f"(CASE WHEN SUM(xq * (2 * ((pos * {PLANE_A} + {j * PLANE_B})"
            f" % {PLANE_P}) - {PLANE_P})) > 0 THEN {2**j} ELSE 0 END)"
        )
    return " + ".join(bits)


register(
    QuerySpec(
        "ann_lsh_buckets",
        q_ann_lsh_buckets,
        f"""
        WITH e AS (
            SELECT vec_id, i.i AS pos,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5) AS BIGINT) AS xq
            FROM embeddings, range(1, 1025) i(i)
            WHERE i.i <= len(embedding)
        )
        SELECT vec_id, CAST({_lsh_plane_sql()} AS BIGINT) AS bucket
        FROM e GROUP BY vec_id
        """,
        doc="random-hyperplane LSH bucket signatures (scale path for ANN; "
        "integer sign test, see operators/ann.QUANT)",
    )
)


# ---------------------------------------------------------------------------
# TF-IDF / BM25 feature weighting (IR_feature_weighting.py)
# ---------------------------------------------------------------------------
_TF_CTE = """
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> ''
        GROUP BY 1, 2
    )
"""


def q_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tf_idf(term_frequencies(_docs(spark, sf_dir)))


register(
    QuerySpec(
        "tfidf_weights",
        q_tfidf_weights,
        f"""
        WITH {_TF_CTE},
        df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf)
        SELECT doc_id, token,
               sqrt(tf) * ln(n_docs / (1.0 + df.df)) AS weight
        FROM tf JOIN df USING (token) CROSS JOIN n
        """,
        doc="TF-IDF weighting (IR_feature_weighting.py:55-78)",
    )
)


def q_bm25_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25(term_frequencies(_docs(spark, sf_dir)), k1=1.2, b=0.75)


register(
    QuerySpec(
        "bm25_weights",
        q_bm25_weights,
        f"""
        WITH {_TF_CTE},
        df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        dl AS (SELECT doc_id, SUM(tf) AS row_sum FROM tf GROUP BY 1),
        al AS (SELECT AVG(row_sum) AS avg_len FROM dl),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf)
        SELECT tf.doc_id, tf.token,
               tf.tf * (1.2 + 1.0)
                 / (1.2 * ((1.0 - 0.75) + 0.75 * dl.row_sum / al.avg_len) + tf.tf)
                 * ln(n.n_docs / (1.0 + df.df)) AS weight
        FROM tf
        JOIN df USING (token)
        JOIN dl USING (doc_id)
        CROSS JOIN al CROSS JOIN n
        """,
        doc="okapi BM25 weighting (IR_feature_weighting.py:13-50)",
    )
)


# ---------------------------------------------------------------------------
# IVF: coarse-quantized ANN (the scale path the brief names alongside LSH)
# ---------------------------------------------------------------------------
def _ivf_sql_ctes(n_list: int = 8, n_iters: int = 2) -> str:
    """DuckDB twin of operators/ann.ivf_assignments — same seeds, same
    argmin/tiebreak, same AVG update, generated from the same constants."""
    from ..functions.hashing import P1

    ctes = [
        """e AS (
            SELECT vec_id, i.i AS pos, CAST(embedding[i.i] AS DOUBLE) AS x,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5) AS BIGINT) AS xq
            FROM embeddings, range(1, 65) i(i)
            WHERE i.i <= len(embedding)
        )""",
        f"""seeds AS (
            SELECT vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY (CAST(vec_id AS BIGINT) * {P1}) % 997, vec_id
                   ) - 1 AS c
            FROM embeddings
            QUALIFY c < {n_list}
        )""",
        "cent0 AS (SELECT s.c, e.pos, e.x AS y FROM seeds s JOIN e USING (vec_id))",
    ]
    prev = "cent0"
    for it in range(n_iters):
        ctes.append(
            f"""d{it} AS (
                SELECT e.vec_id, c.c, SUM((e.x - c.y) * (e.x - c.y)) AS d2
                FROM e JOIN {prev} c ON e.pos = c.pos
                GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""a{it} AS (
                SELECT vec_id, c AS list_id FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY vec_id ORDER BY round(d2, 9), c) AS rn
                    FROM d{it}
                ) WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""cent{it + 1} AS (
                SELECT a.list_id AS c, e.pos, AVG(e.x) AS y
                FROM a{it} a JOIN e USING (vec_id)
                GROUP BY 1, 2
            )"""
        )
        prev = f"cent{it + 1}"
    return ",\n        ".join(ctes)


def _ivf_sampled_sql_ctes(
    n_list: int = 8, n_iters: int = 2, keep: int = 200, mod: int = 997
) -> str:
    """DuckDB twin of operators/ann.ivf_sampled_distances: the Lloyd loop
    runs only on the deterministic hash-sample (et); the final distance
    pass covers the full corpus.  Same seeds, argmin/tiebreak and AVG
    update as ``_ivf_sql_ctes``."""
    from ..functions.hashing import P1

    ctes = [
        """e AS (
            SELECT vec_id, i.i AS pos, CAST(embedding[i.i] AS DOUBLE) AS x,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5) AS BIGINT) AS xq
            FROM embeddings, range(1, 65) i(i)
            WHERE i.i <= len(embedding)
        )""",
        f"""et AS (
            SELECT * FROM e
            WHERE (CAST(vec_id AS BIGINT) * {P1}) % {mod} < {keep}
        )""",
        f"""seeds AS (
            SELECT vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY (CAST(vec_id AS BIGINT) * {P1}) % {mod}, vec_id
                   ) - 1 AS c
            FROM embeddings
            QUALIFY c < {n_list}
        )""",
        "cent0 AS (SELECT s.c, t.pos, t.x AS y FROM seeds s JOIN et t USING (vec_id))",
    ]
    prev = "cent0"
    for it in range(n_iters - 1):
        ctes.append(
            f"""d{it} AS (
                SELECT t.vec_id, c.c, SUM((t.x - c.y) * (t.x - c.y)) AS d2
                FROM et t JOIN {prev} c ON t.pos = c.pos
                GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""a{it} AS (
                SELECT vec_id, c AS list_id FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY vec_id ORDER BY round(d2, 9), c) AS rn
                    FROM d{it}
                ) WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""cent{it + 1} AS (
                SELECT a.list_id AS c, t.pos, AVG(t.x) AS y
                FROM a{it} a JOIN et t USING (vec_id)
                GROUP BY 1, 2
            )"""
        )
        prev = f"cent{it + 1}"
    ctes.append(
        f"""dF AS (
            SELECT e.vec_id, c.c, SUM((e.x - c.y) * (e.x - c.y)) AS d2
            FROM e JOIN {prev} c ON e.pos = c.pos
            GROUP BY 1, 2
        )"""
    )
    ctes.append(
        """aF AS (
            SELECT vec_id, c AS list_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY round(d2, 9), c) AS rn
                FROM dF
            ) WHERE rn = 1
        )"""
    )
    return ",\n        ".join(ctes)


def _ivf_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final-iteration k-means distances (the IVF 'index'), materialized
    once per session: a real deployment builds the coarse quantizer
    offline and every search query reuses it, so the three IVF queries
    here share one Lloyd run instead of re-clustering per query."""
    from ..operators.ann import _ivf_final_distances

    return shared.materialized(
        spark,
        sf_dir,
        "ivf_d_8_2",
        lambda: _ivf_final_distances(
            load_table(spark, sf_dir, "embeddings"), n_list=8, n_iters=2
        ),
    )


def q_ann_ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import ivf_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_assignments(
        emb, n_list=8, n_iters=2, distances=_ivf_distances(spark, sf_dir)
    ).select("vec_id", F.col("list_id").cast("bigint").alias("list_id"))


register(
    QuerySpec(
        "ann_ivf_assignments",
        q_ann_ivf_assignments,
        f"""
        WITH {_ivf_sql_ctes(8, 2)}
        SELECT vec_id, CAST(list_id AS BIGINT) AS list_id FROM a1
        """,
        doc="IVF coarse quantizer: deterministic seeded k-means, 2 Lloyd "
        "iterations (ANN scale path per the build brief)",
        bench=False,  # sub-plan of ann_ivf_topk; benching both double-counts
    )
)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, k=3, n_list=8, n_iters=2, distances=_ivf_distances(spark, sf_dir)
    )


register(
    QuerySpec(
        "ann_ivf_topk",
        q_ann_ivf_topk,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        ea AS (SELECT e.*, a.list_id FROM e JOIN a1 a USING (vec_id)),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        dots AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot
            FROM ea a JOIN ea b
              ON a.pos = b.pos AND a.list_id = b.list_id
             AND a.vec_id <> b.vec_id
            GROUP BY 1, 2
        )
        SELECT d.vec_id, d.neighbor_id,
               d.dot / (na.nrm * nb.nrm) AS cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.vec_id
                    ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                             d.neighbor_id ASC) AS INT) AS rank
        FROM dots d
        JOIN norms na ON d.vec_id = na.vec_id
        JOIN norms nb ON d.neighbor_id = nb.vec_id
        QUALIFY rank <= 3
        """,
        doc="IVF-restricted cosine top-k: same-list candidates re-scored "
        "exactly (n_probe=1; quantized entries, see operators/ann.QUANT)",
    )
)


def q_ann_ivf_topk_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with the recall knob open: candidates from the probe's
    TWO nearest inverted lists (n_probe=2) instead of the home list only —
    monotonically larger candidate set, exact re-score, same ranking
    rules."""
    from ..operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        k=3,
        n_list=8,
        n_iters=2,
        n_probe=2,
        distances=_ivf_distances(spark, sf_dir),
    )


register(
    QuerySpec(
        "ann_ivf_topk_nprobe2",
        q_ann_ivf_topk_nprobe2,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        probes AS (
            SELECT vec_id, c AS list_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY round(d2, 9), c) AS rn
                FROM d1
            ) WHERE rn <= 2
        ),
        ea AS (SELECT e.*, a.list_id FROM e JOIN a1 a USING (vec_id)),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        dots AS (
            SELECT p.vec_id, b.vec_id AS neighbor_id,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot
            FROM probes p
            JOIN ea b ON b.list_id = p.list_id AND b.vec_id <> p.vec_id
            JOIN e a ON a.vec_id = p.vec_id AND a.pos = b.pos
            GROUP BY 1, 2
        )
        SELECT d.vec_id, d.neighbor_id,
               d.dot / (na.nrm * nb.nrm) AS cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.vec_id
                    ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                             d.neighbor_id ASC) AS INT) AS rank
        FROM dots d
        JOIN norms na ON d.vec_id = na.vec_id
        JOIN norms nb ON d.neighbor_id = nb.vec_id
        QUALIFY rank <= 3
        """,
        doc="IVF cosine top-k with n_probe=2: candidate union of the two "
        "nearest inverted lists, exact re-score (quantized entries, see "
        "operators/ann.QUANT)",
    )
)


def q_ann_ivf_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k whose coarse quantizer is trained on a ~20% hash-sample —
    the production training shape the round-11 10x scale measurement
    motivated (BENCH_sf1.json: full-corpus Lloyd iterations dominate IVF
    cost at scale; FAISS trains its quantizer on a bounded sample).  The
    Lloyd loop touches only the sample; the assignment pass (and the
    search) covers every vector.  Same search kernel, ranking rules and
    quantization contract as ``ann_ivf_topk`` — only the training-set
    definition differs, and it is a deterministic hash filter, so the
    DuckDB twin replays centroids exactly."""
    from ..operators.ann import ivf_sampled_distances, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        k=3,
        n_list=8,
        n_iters=2,
        distances=ivf_sampled_distances(
            emb, n_list=8, n_iters=2, sample_keep=200
        ),
    )


register(
    QuerySpec(
        "ann_ivf_sampled_topk",
        q_ann_ivf_sampled_topk,
        f"""
        WITH {_ivf_sampled_sql_ctes(8, 2, 200)},
        ea AS (SELECT e.*, a.list_id FROM e JOIN aF a USING (vec_id)),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        dots AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot
            FROM ea a JOIN ea b
              ON a.pos = b.pos AND a.list_id = b.list_id
             AND a.vec_id <> b.vec_id
            GROUP BY 1, 2
        )
        SELECT d.vec_id, d.neighbor_id,
               d.dot / (na.nrm * nb.nrm) AS cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.vec_id
                    ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                             d.neighbor_id ASC) AS INT) AS rank
        FROM dots d
        JOIN norms na ON d.vec_id = na.vec_id
        JOIN norms nb ON d.neighbor_id = nb.vec_id
        QUALIFY rank <= 3
        """,
        doc="IVF top-k with sample-trained coarse quantizer (~20% hash "
        "sample trains Lloyd; assignment and search cover the corpus) — "
        "the bounded-training-cost ANN shape for corpus growth",
    )
)


# ---------------------------------------------------------------------------
# cluster-balanced prototype sampling (diversity-aware curation)
# ---------------------------------------------------------------------------
_PROTO_M = 4


def q_cluster_prototype_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster prototype sample: each k-means cluster's ``_PROTO_M``
    members closest to its centroid — the cluster-balanced selection
    pass of diversity-aware curation (sample every region of embedding
    space instead of head-heavy uniform sampling; the dual of
    SemDeDup's farthest-kept rule, which PRUNES within clusters).

    Reuses the session's shared IVF quantizer (one Lloyd run serves
    assignment, search, SemDeDup and this query), so the plan adds one
    per-vec argmin window + one per-cluster top-m window over the
    already-materialized distance table.  Scale shape: both windows
    partition on bounded keys (vec_id fans out n_list rows; cluster
    populations are data-sized but the window only carries 24-byte rows
    and k-means keeps clusters near-balanced — a skewed megacluster is
    the quantizer's defect to fix, not this plan's).
    """
    d = _ivf_distances(spark, sf_dir)
    w_home = Window.partitionBy("vec_id").orderBy(
        F.round("d2", 9), F.col("c")
    )
    home = (
        d.withColumn("_rn", F.row_number().over(w_home))
        .filter(F.col("_rn") == 1)
        .select("vec_id", F.col("c").alias("list_id"), "d2")
    )
    w_proto = Window.partitionBy("list_id").orderBy(
        F.round("d2", 9), F.col("vec_id")
    )
    return (
        home.withColumn("proto_rank", F.row_number().over(w_proto))
        .filter(F.col("proto_rank") <= _PROTO_M)
        .select(
            "vec_id",
            F.col("list_id").cast("bigint").alias("list_id"),
            F.col("proto_rank").cast("int").alias("proto_rank"),
        )
    )


register(
    QuerySpec(
        "cluster_prototype_sample",
        q_cluster_prototype_sample,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        home AS (
            SELECT vec_id, c AS list_id, d2 FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY round(d2, 9), c) AS rn
                FROM d1
            ) WHERE rn = 1
        )
        SELECT vec_id, CAST(list_id AS BIGINT) AS list_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY list_id
                   ORDER BY round(d2, 9), vec_id) AS INT) AS proto_rank
        FROM home
        QUALIFY proto_rank <= {_PROTO_M}
        """,
        doc="cluster-balanced prototype sampling: top-m closest-to-"
        "centroid members per k-means cluster (diversity-aware "
        "curation; shares the session IVF quantizer)",
    )
)


# ---------------------------------------------------------------------------
# product quantization: compressed-index ANN (Jégou et al., TPAMI 2011)
# ---------------------------------------------------------------------------
_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DSUB = 8, 32, 2, 8
# codebooks train on a ~20% deterministic hash-sample (FAISS-style bounded
# training; round-12 extension of the round-11 sampled-IVF fix — BENCH_sf1
# measured full-corpus Lloyd dominating IVF-PQ cost, 7.3-9.4x at 10x data);
# encoding and serving always cover the full corpus
_PQ_KEEP, _PQ_MOD = 200, 997


def _pq_sql_ctes(
    m: int,
    k: int,
    n_iters: int,
    dsub: int,
    keep: int | None = None,
    mod: int = 997,
) -> str:
    """DuckDB twin of operators/pq.pq_codebooks + pq_codes — same seeds,
    same integer-grid centroid rounding (FLOOR(SUM/COUNT + 0.5)), same
    (d2 asc, c asc) integer argmin; generated from the same constants.
    ``keep``/``mod`` mirror pq_codebooks' sample-trained mode: the Lloyd
    CTEs read the hash-sampled `pet`, the final encoding pass (pdF /
    pcodes) always covers the full `pe`."""
    from ..functions.hashing import P1

    ctes = [
        f"""pe AS (
            SELECT vec_id, i.i - 1 AS pos,
                   CAST((i.i - 1) // {dsub} AS INT) AS sub,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5) AS BIGINT) AS xq
            FROM embeddings, range(1, 65) i(i)
            WHERE i.i <= len(embedding)
        )""",
        f"""pseeds AS (
            SELECT vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY (CAST(vec_id AS BIGINT) * {P1}) % 997, vec_id
                   ) - 1 AS c
            FROM embeddings
            QUALIFY c < {k}
        )""",
    ]
    if keep is not None and keep < mod:
        ctes.append(
            f"""pet AS (
                SELECT * FROM pe
                WHERE (CAST(vec_id AS BIGINT) * {P1}) % {mod} < {keep}
            )"""
        )
        train = "pet"
    else:
        train = "pe"
    ctes.append(
        f"pcent0 AS (SELECT s.c, e.sub, e.pos, e.xq AS y "
        f"FROM pseeds s JOIN {train} e USING (vec_id))"
    )
    prev = "pcent0"
    for it in range(n_iters - 1):
        ctes.append(
            f"""pd{it} AS (
                SELECT e.vec_id, e.sub, c.c,
                       SUM((e.xq - c.y) * (e.xq - c.y)) AS d2
                FROM {train} e JOIN {prev} c ON e.pos = c.pos
                GROUP BY 1, 2, 3
            )"""
        )
        ctes.append(
            f"""pa{it} AS (
                SELECT vec_id, sub, c AS code FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
                    FROM pd{it}
                ) WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""pcent{it + 1} AS (
                SELECT a.code AS c, e.sub, e.pos,
                       CAST(FLOOR(SUM(e.xq) / COUNT(*) + 0.5) AS BIGINT) AS y
                FROM pa{it} a JOIN {train} e
                  ON a.vec_id = e.vec_id AND a.sub = e.sub
                GROUP BY 1, 2, 3
            )"""
        )
        prev = f"pcent{it + 1}"
    ctes.append(
        f"""pdF AS (
            SELECT e.vec_id, e.sub, c.c,
                   SUM((e.xq - c.y) * (e.xq - c.y)) AS d2
            FROM pe e JOIN {prev} c ON e.pos = c.pos
            GROUP BY 1, 2, 3
        )"""
    )
    ctes.append(
        """pcodes AS (
            SELECT vec_id, sub, c AS code FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
                FROM pdF
            ) WHERE rn = 1
        )"""
    )
    return ",\n        ".join(ctes), prev


def _pq_codebooks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized PQ codebook (a deployment trains it offline;
    both PQ queries share one Lloyd run — same pattern as the shared IVF
    quantizer `_ivf_distances`).  Sample-trained (see _PQ_KEEP note):
    the Lloyd loop reads ~20% of the corpus, encoding/serving read it
    all — the scale shape that keeps training cost flat as the corpus
    grows."""
    from ..operators.pq import pq_codebooks

    return shared.materialized(
        spark,
        sf_dir,
        f"pq_cb_{_PQ_M}_{_PQ_K}_{_PQ_ITERS}_s{_PQ_KEEP}",
        lambda: pq_codebooks(
            load_table(spark, sf_dir, "embeddings"),
            m=_PQ_M,
            k=_PQ_K,
            n_iters=_PQ_ITERS,
            dsub=_PQ_DSUB,
            sample_keep=_PQ_KEEP,
            sample_mod=_PQ_MOD,
        ),
    )


def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_codes

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codes(
        emb,
        codebooks=_pq_codebooks_df(spark, sf_dir),
        m=_PQ_M,
        k=_PQ_K,
        n_iters=_PQ_ITERS,
        dsub=_PQ_DSUB,
    ).select("vec_id", F.col("sub").cast("int").alias("sub"), "code")


_PQ_CTES, _PQ_CENT_F = _pq_sql_ctes(
    _PQ_M, _PQ_K, _PQ_ITERS, _PQ_DSUB, keep=_PQ_KEEP, mod=_PQ_MOD
)

register(
    QuerySpec(
        "ann_pq_codes",
        q_ann_pq_codes,
        f"""
        WITH {_PQ_CTES}
        SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
        FROM pcodes
        """,
        doc="product-quantization encoder: per-subspace integer-grid "
        "k-means codes (Jégou et al. TPAMI 2011; M=8 × K=32 over 64 dims "
        "— the 50-100× index compression that makes a 10⁹-vector ANN "
        "index executor-resident); codebooks sample-trained on a ~20% "
        "hash-sample (FAISS-style bounded training cost), encoding "
        "covers the full corpus",
        bench=False,  # sub-plan of ann_pq_adc_topk; benching both double-counts
    )
)


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb,
        k=3,
        m=_PQ_M,
        kcent=_PQ_K,
        n_iters=_PQ_ITERS,
        dsub=_PQ_DSUB,
        codebooks=_pq_codebooks_df(spark, sf_dir),
    )


register(
    QuerySpec(
        "ann_pq_adc_topk",
        q_ann_pq_adc_topk,
        f"""
        WITH {_PQ_CTES},
        plut AS (
            SELECT p.vec_id, c.sub, c.c, SUM(p.xq * c.y) AS ip
            FROM pe p JOIN {_PQ_CENT_F} c ON p.pos = c.pos
            GROUP BY 1, 2, 3
        ),
        pcbn AS (SELECT sub, c, SUM(y * y) AS n2 FROM {_PQ_CENT_F} GROUP BY 1, 2),
        precon AS (
            SELECT s.vec_id, SUM(n.n2) AS r2
            FROM pcodes s JOIN pcbn n ON s.sub = n.sub AND s.code = n.c
            GROUP BY 1
        ),
        ppn AS (SELECT vec_id, SUM(xq * xq) AS p2 FROM pe GROUP BY 1),
        pscore AS (
            SELECT l.vec_id, s.vec_id AS neighbor_id, SUM(l.ip) AS dot
            FROM pcodes s JOIN plut l ON l.sub = s.sub AND l.c = s.code
            WHERE l.vec_id <> s.vec_id
            GROUP BY 1, 2
        )
        SELECT sc.vec_id, sc.neighbor_id,
               CAST(sc.dot AS DOUBLE)
                   / (sqrt(CAST(p.p2 AS DOUBLE)) * sqrt(CAST(r.r2 AS DOUBLE)))
                   AS adc_cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY sc.vec_id
                    ORDER BY CAST(sc.dot AS DOUBLE)
                        / (sqrt(CAST(p.p2 AS DOUBLE)) * sqrt(CAST(r.r2 AS DOUBLE))) DESC,
                             sc.neighbor_id ASC) AS INT) AS rank
        FROM pscore sc
        JOIN ppn p ON sc.vec_id = p.vec_id
        JOIN precon r ON sc.neighbor_id = r.vec_id
        QUALIFY rank <= 3
        """,
        doc="asymmetric-distance (ADC) top-k over PQ codes: probes build "
        "M×K lookup tables against the broadcast codebook, the index side "
        "ships only 8 codes per vector; every LUT entry / norm / dot is "
        "an exact integer sum (engine-portable ranking, operators/pq.py); "
        "codebooks sample-trained (~20% hash-sample) so training cost "
        "stays flat in corpus growth",
    )
)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ serving: the coarse quantizer prunes candidates to
    the home list, PQ compresses the index rows to 8 codes — candidate
    count AND bytes-per-candidate both drop by orders of magnitude, the
    genuine 10⁹-vector serving shape (FAISS IVFPQ; Jégou et al. 2011)."""
    from ..operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        k=3,
        n_list=8,
        ivf_iters=2,
        m=_PQ_M,
        kcent=_PQ_K,
        pq_iters=_PQ_ITERS,
        dsub=_PQ_DSUB,
        codebooks=_pq_codebooks_df(spark, sf_dir),
        ivf_distances=_ivf_distances(spark, sf_dir),
    )


register(
    QuerySpec(
        "ann_ivfpq_topk",
        q_ann_ivfpq_topk,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        {_PQ_CTES},
        plut AS (
            SELECT p.vec_id, c.sub, c.c, SUM(p.xq * c.y) AS ip
            FROM pe p JOIN {_PQ_CENT_F} c ON p.pos = c.pos
            GROUP BY 1, 2, 3
        ),
        pcbn AS (SELECT sub, c, SUM(y * y) AS n2 FROM {_PQ_CENT_F} GROUP BY 1, 2),
        precon AS (
            SELECT s.vec_id, SUM(n.n2) AS r2
            FROM pcodes s JOIN pcbn n ON s.sub = n.sub AND s.code = n.c
            GROUP BY 1
        ),
        ppn AS (SELECT vec_id, SUM(xq * xq) AS p2 FROM pe GROUP BY 1),
        pscore AS (
            SELECT ap.vec_id, s.vec_id AS neighbor_id, SUM(l.ip) AS dot
            FROM pcodes s
            JOIN a1 ai ON ai.vec_id = s.vec_id
            JOIN a1 ap ON ap.vec_id <> s.vec_id AND ap.list_id = ai.list_id
            JOIN plut l ON l.vec_id = ap.vec_id AND l.sub = s.sub
                       AND l.c = s.code
            GROUP BY 1, 2
        )
        SELECT sc.vec_id, sc.neighbor_id,
               CAST(sc.dot AS DOUBLE)
                   / (sqrt(CAST(p.p2 AS DOUBLE)) * sqrt(CAST(r.r2 AS DOUBLE)))
                   AS adc_cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY sc.vec_id
                    ORDER BY CAST(sc.dot AS DOUBLE)
                        / (sqrt(CAST(p.p2 AS DOUBLE)) * sqrt(CAST(r.r2 AS DOUBLE))) DESC,
                             sc.neighbor_id ASC) AS INT) AS rank
        FROM pscore sc
        JOIN ppn p ON sc.vec_id = p.vec_id
        JOIN precon r ON sc.neighbor_id = r.vec_id
        QUALIFY rank <= 3
        """,
        doc="composed IVF-PQ top-k: coarse quantizer prunes to the home "
        "list, ADC scores PQ codes — candidate count AND bytes/candidate "
        "both collapse; the FAISS-style 10⁹-vector serving shape "
        "(operators/pq.ivfpq_topk; shares the session IVF quantizer and "
        "PQ codebook)",
    )
)


def q_ann_ivfpq_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the RECALL KNOB open: ``n_probe=2`` — each probe
    searches its two nearest inverted lists instead of the home list
    only (the standard IVF recall/latency dial; candidates grow
    monotonically, ~2× here).  Merge exactness holds because a
    candidate's home list is unique and a probe's probe lists are
    distinct, so each (probe, candidate) pair scores in exactly one
    list-task.  Shares every session payload with ``ann_ivfpq_topk`` —
    the only difference IS the knob."""
    from ..operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        k=3,
        n_list=8,
        ivf_iters=2,
        m=_PQ_M,
        kcent=_PQ_K,
        pq_iters=_PQ_ITERS,
        dsub=_PQ_DSUB,
        codebooks=_pq_codebooks_df(spark, sf_dir),
        ivf_distances=_ivf_distances(spark, sf_dir),
        n_probe=2,
    )


register(
    QuerySpec(
        "ann_ivfpq_multiprobe_topk",
        q_ann_ivfpq_multiprobe_topk,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        {_PQ_CTES},
        pl AS (
            SELECT vec_id, c AS list_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY round(d2, 9), c) AS rn
                FROM d1
            ) WHERE rn <= 2
        ),
        plut AS (
            SELECT p.vec_id, c.sub, c.c, SUM(p.xq * c.y) AS ip
            FROM pe p JOIN {_PQ_CENT_F} c ON p.pos = c.pos
            GROUP BY 1, 2, 3
        ),
        pcbn AS (SELECT sub, c, SUM(y * y) AS n2 FROM {_PQ_CENT_F} GROUP BY 1, 2),
        precon AS (
            SELECT s.vec_id, SUM(n.n2) AS r2
            FROM pcodes s JOIN pcbn n ON s.sub = n.sub AND s.code = n.c
            GROUP BY 1
        ),
        ppn AS (SELECT vec_id, SUM(xq * xq) AS p2 FROM pe GROUP BY 1),
        pscore AS (
            SELECT pb.vec_id, s.vec_id AS neighbor_id, SUM(l.ip) AS dot
            FROM pcodes s
            JOIN a1 ai ON ai.vec_id = s.vec_id
            JOIN pl pb ON pb.vec_id <> s.vec_id AND pb.list_id = ai.list_id
            JOIN plut l ON l.vec_id = pb.vec_id AND l.sub = s.sub
                       AND l.c = s.code
            GROUP BY 1, 2
        )
        SELECT sc.vec_id, sc.neighbor_id,
               CAST(sc.dot AS DOUBLE)
                   / (sqrt(CAST(p.p2 AS DOUBLE)) * sqrt(CAST(r.r2 AS DOUBLE)))
                   AS adc_cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY sc.vec_id
                    ORDER BY CAST(sc.dot AS DOUBLE)
                        / (sqrt(CAST(p.p2 AS DOUBLE)) * sqrt(CAST(r.r2 AS DOUBLE))) DESC,
                             sc.neighbor_id ASC) AS INT) AS rank
        FROM pscore sc
        JOIN ppn p ON sc.vec_id = p.vec_id
        JOIN precon r ON sc.neighbor_id = r.vec_id
        QUALIFY rank <= 3
        """,
        doc="IVF-PQ with n_probe=2 (the standard recall/latency knob): "
        "each probe searches its two nearest lists; per-pair scoring "
        "stays exactly-once by home-list uniqueness",
    )
)


_REFINE_SHORT, _REFINE_K = 10, 3


def q_ann_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ shortlist → EXACT re-rank (FAISS IndexRefine): ADC ranks by
    reconstructed candidates, so compression error can swap near-ties;
    rescoring only the C=10 shortlisted pairs per probe against
    full-precision vectors buys the recall back for C·d work instead of
    a flat scan's N·d — the third stage of the production serving
    pipeline (coarse-prune → compressed-score → exact-refine)."""
    from ..operators.pq import ivfpq_topk, refine_exact_topk

    emb = load_table(spark, sf_dir, "embeddings")
    short = ivfpq_topk(
        emb,
        k=_REFINE_SHORT,
        n_list=8,
        ivf_iters=2,
        m=_PQ_M,
        kcent=_PQ_K,
        pq_iters=_PQ_ITERS,
        dsub=_PQ_DSUB,
        codebooks=_pq_codebooks_df(spark, sf_dir),
        ivf_distances=_ivf_distances(spark, sf_dir),
    )
    return refine_exact_topk(emb, short, k=_REFINE_K)


register(
    QuerySpec(
        "ann_refined_topk",
        q_ann_refined_topk,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        {_PQ_CTES},
        plut AS (
            SELECT p.vec_id, c.sub, c.c, SUM(p.xq * c.y) AS ip
            FROM pe p JOIN {_PQ_CENT_F} c ON p.pos = c.pos
            GROUP BY 1, 2, 3
        ),
        pcbn AS (SELECT sub, c, SUM(y * y) AS n2 FROM {_PQ_CENT_F} GROUP BY 1, 2),
        precon AS (
            SELECT s.vec_id, SUM(n.n2) AS r2
            FROM pcodes s JOIN pcbn n ON s.sub = n.sub AND s.code = n.c
            GROUP BY 1
        ),
        ppn AS (SELECT vec_id, SUM(xq * xq) AS p2 FROM pe GROUP BY 1),
        pscore AS (
            SELECT ap.vec_id, s.vec_id AS neighbor_id, SUM(l.ip) AS dot
            FROM pcodes s
            JOIN a1 ai ON ai.vec_id = s.vec_id
            JOIN a1 ap ON ap.vec_id <> s.vec_id AND ap.list_id = ai.list_id
            JOIN plut l ON l.vec_id = ap.vec_id AND l.sub = s.sub
                       AND l.c = s.code
            GROUP BY 1, 2
        ),
        short AS (
            SELECT sc.vec_id, sc.neighbor_id
            FROM pscore sc
            JOIN ppn p ON sc.vec_id = p.vec_id
            JOIN precon r ON sc.neighbor_id = r.vec_id
            QUALIFY ROW_NUMBER() OVER (PARTITION BY sc.vec_id
                    ORDER BY CAST(sc.dot AS DOUBLE)
                        / (sqrt(CAST(p.p2 AS DOUBLE))
                           * sqrt(CAST(r.r2 AS DOUBLE))) DESC,
                             sc.neighbor_id ASC) <= {_REFINE_SHORT}
        ),
        xn AS (SELECT vec_id, SUM(xq * xq) AS n2 FROM e GROUP BY 1),
        xd AS (
            SELECT s.vec_id, s.neighbor_id, SUM(p.xq * c.xq) AS dot
            FROM short s
            JOIN e p ON p.vec_id = s.vec_id
            JOIN e c ON c.vec_id = s.neighbor_id AND c.pos = p.pos
            GROUP BY 1, 2
        )
        SELECT d.vec_id, d.neighbor_id,
               CAST(d.dot AS DOUBLE)
                   / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
                   AS cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.vec_id
                    ORDER BY CAST(d.dot AS DOUBLE)
                        / (sqrt(CAST(a.n2 AS DOUBLE))
                           * sqrt(CAST(b.n2 AS DOUBLE))) DESC,
                             d.neighbor_id ASC) AS INT) AS rank
        FROM xd d
        JOIN xn a ON d.vec_id = a.vec_id
        JOIN xn b ON d.neighbor_id = b.vec_id
        QUALIFY rank <= {_REFINE_K}
        """,
        doc="exact re-rank of the IVF-PQ shortlist (FAISS IndexRefine, "
        "Jégou et al. 2011 §V.C): C=10 ADC candidates per probe rescored "
        "against full-precision vectors via codegen zip_with/aggregate "
        "(operators/pq.refine_exact_topk; shares the session IVF "
        "quantizer and PQ codebook)",
    )
)


def q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization ANN (operators/sq.py — the FAISS
    ScalarQuantizer QT_8bit analog): top-3 by asymmetric cosine between
    full-precision probes and 8-bit-compressed index vectors.  Encode +
    decode are pure codegen column expressions (no UDF; the "model" is a
    d-row bounds aggregate shipped as literals), the search is the
    blocked all-pairs GEMM, and every emitted cosine is exact integer
    arithmetic on the fixed grids — the twin reproduces it bit-for-bit.
    Completes the quantization family: PQ (codebooks) / IVF-PQ (routed)
    / refine (exact rescore) / SQ8 (per-dim affine, training-free)."""
    from ..operators.sq import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_topk(emb, k=3, cache_key=f"{sf_dir}:sq8")


register(
    QuerySpec(
        "ann_sq8_topk",
        q_ann_sq8_topk,
        """
        WITH xq AS (
            SELECT vec_id, i.i - 1 AS pos,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304
                              + 0.5) AS BIGINT) AS pq,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1024
                              + 0.5) AS BIGINT) AS xg
            FROM embeddings, range(1, 65) i(i)
            WHERE i.i <= len(embedding)
        ),
        bounds AS (
            SELECT pos, MIN(xg) AS imn, MAX(xg) AS imx FROM xq GROUP BY 1
        ),
        codes AS (
            SELECT q.vec_id, q.pos, b.imn, b.imx,
                   LEAST(GREATEST(CAST(FLOOR(
                       CAST((q.xg - b.imn) * 255 AS DOUBLE)
                       / GREATEST(b.imx - b.imn, 1) + 0.5
                   ) AS BIGINT), 0), 255) AS code
            FROM xq q JOIN bounds b USING (pos)
        ),
        xdec AS (
            SELECT vec_id, pos,
                   255 * imn + code * (imx - imn) AS xv
            FROM codes
        ),
        pnorm AS (
            SELECT vec_id, SQRT(CAST(SUM(pq * pq) AS DOUBLE)) AS pn
            FROM xq GROUP BY 1
        ),
        xnorm AS (
            SELECT vec_id, SQRT(CAST(SUM(xv * xv) AS DOUBLE)) AS xn
            FROM xdec GROUP BY 1
        ),
        dots AS (
            SELECT p.vec_id AS vec_id, x.vec_id AS neighbor_id,
                   CAST(SUM(p.pq * x.xv) AS DOUBLE) AS dot
            FROM xq p JOIN xdec x USING (pos)
            WHERE p.vec_id <> x.vec_id
            GROUP BY 1, 2
        )
        SELECT vec_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
        FROM (
            SELECT d.vec_id, d.neighbor_id,
                   d.dot / (pn.pn * xn.xn) AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY d.dot / (pn.pn * xn.xn) DESC,
                                d.neighbor_id ASC
                   ) AS rn
            FROM dots d
            JOIN pnorm pn ON pn.vec_id = d.vec_id
            JOIN xnorm xn ON xn.vec_id = d.neighbor_id
        )
        WHERE rn <= 3
        ORDER BY vec_id, rank
        """,
        doc="SQ8 scalar-quantization ANN (FAISS QT_8bit analog): 8-bit "
        "per-dim affine codec in pure codegen, blocked ADC GEMM, "
        "bit-exact cross-engine by integer-grid design",
    )
)


def q_ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed SQ8 ANN (operators/sq.sq8_ivf_topk — the FAISS
    IndexIVFScalarQuantizer analog): each probe scores only its IVF home
    list's vectors by SQ8 ADC cosine.  The scale path for the flat
    ``ann_sq8_topk`` baseline, exactly the composition step PQ took to
    IVF-PQ: the flat path is the documented n² exact baseline
    (operators/sq.py header), this one drops support to Σ_l n_l² with the
    same codec, same global per-dimension bounds, and the session-shared
    coarse quantizer (`_ivf_distances`).  Every stage is integer-grid
    exact, so the DuckDB twin replays route + encode + score
    bit-for-bit."""
    from ..operators.ann import ivf_assignments
    from ..operators.sq import sq8_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    home = ivf_assignments(
        emb, n_list=8, n_iters=2, distances=_ivf_distances(spark, sf_dir)
    )
    return sq8_ivf_topk(emb, home, k=3, cache_key=f"{sf_dir}:ivf_sq8:8:2")


register(
    QuerySpec(
        "ann_ivf_sq8_topk",
        q_ann_ivf_sq8_topk,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        g AS (
            SELECT vec_id, pos, xq AS pq,
                   CAST(FLOOR(x * 1024 + 0.5) AS BIGINT) AS xg
            FROM e
        ),
        bounds AS (
            SELECT pos, MIN(xg) AS imn, MAX(xg) AS imx FROM g GROUP BY 1
        ),
        xdec AS (
            SELECT q.vec_id, q.pos,
                   255 * b.imn
                   + LEAST(GREATEST(CAST(FLOOR(
                         CAST((q.xg - b.imn) * 255 AS DOUBLE)
                         / GREATEST(b.imx - b.imn, 1) + 0.5
                     ) AS BIGINT), 0), 255) * (b.imx - b.imn) AS xv
            FROM g q JOIN bounds b USING (pos)
        ),
        pnorm AS (
            SELECT vec_id, SQRT(CAST(SUM(pq * pq) AS DOUBLE)) AS pn
            FROM g GROUP BY 1
        ),
        xnorm AS (
            SELECT vec_id, SQRT(CAST(SUM(xv * xv) AS DOUBLE)) AS xn
            FROM xdec GROUP BY 1
        ),
        dots AS (
            SELECT p.vec_id AS vec_id, c.vec_id AS neighbor_id,
                   CAST(SUM(p.pq * c.xv) AS DOUBLE) AS dot
            FROM (SELECT g.*, a.list_id FROM g JOIN a1 a USING (vec_id)) p
            JOIN (SELECT x.*, a.list_id
                  FROM xdec x JOIN a1 a USING (vec_id)) c
              ON p.pos = c.pos AND p.list_id = c.list_id
             AND p.vec_id <> c.vec_id
            GROUP BY 1, 2
        )
        SELECT vec_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
        FROM (
            SELECT d.vec_id, d.neighbor_id,
                   d.dot / (pn.pn * xn.xn) AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY d.dot / (pn.pn * xn.xn) DESC,
                                d.neighbor_id ASC
                   ) AS rn
            FROM dots d
            JOIN pnorm pn ON pn.vec_id = d.vec_id
            JOIN xnorm xn ON xn.vec_id = d.neighbor_id
        )
        WHERE rn <= 3
        ORDER BY vec_id, rank
        """,
        doc="IVF-routed SQ8 ANN (FAISS IndexIVFScalarQuantizer analog): "
        "home-list candidates scored by the 8-bit ADC cosine — the scale "
        "path for the flat ann_sq8_topk n-squared baseline",
    )
)


def q_ann_ivf_sq8_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESIDUAL-encoded IVF-SQ8 (operators/sq.sq8_ivf_residual_topk —
    FAISS IndexIVFScalarQuantizer with by_residual=True): encode
    r = x − c_home on the bounds grid, score probes against the
    reconstruction x̂ = c_home + dec(r).  Completes the quantization
    matrix next to ann_ivfpq_residual_topk: {flat, IVF, IVF-residual} ×
    {SQ8, PQ} all oracled.  The coarse centroid is re-rounded to the
    bounds grid from exact integer sums, so the DuckDB twin replays
    route + centroid + encode + reconstruct + score bit-for-bit."""
    from ..operators.ann import ivf_assignments
    from ..operators.sq import sq8_ivf_residual_topk

    emb = load_table(spark, sf_dir, "embeddings")
    home = ivf_assignments(
        emb, n_list=8, n_iters=2, distances=_ivf_distances(spark, sf_dir)
    )
    return sq8_ivf_residual_topk(
        emb, home, k=3, cache_key=f"{sf_dir}:ivf_sq8_residual:8:2"
    )


register(
    QuerySpec(
        "ann_ivf_sq8_residual_topk",
        q_ann_ivf_sq8_residual_topk,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        g AS (
            SELECT vec_id, pos, xq AS pq,
                   CAST(FLOOR(x * 1024 + 0.5) AS BIGINT) AS xg
            FROM e
        ),
        ga AS (SELECT g.*, a.list_id FROM g JOIN a1 a USING (vec_id)),
        cgrid AS (
            SELECT list_id, pos,
                   CAST(FLOOR(SUM(xg) / COUNT(*) + 0.5) AS BIGINT) AS cg
            FROM ga GROUP BY 1, 2
        ),
        res AS (
            SELECT ga.vec_id, ga.list_id, ga.pos, ga.xg - c.cg AS rg, c.cg
            FROM ga JOIN cgrid c
              ON ga.list_id = c.list_id AND ga.pos = c.pos
        ),
        bounds AS (
            SELECT pos, MIN(rg) AS imn, MAX(rg) AS imx FROM res GROUP BY 1
        ),
        xdec AS (
            SELECT r.vec_id, r.list_id, r.pos,
                   255 * r.cg + 255 * b.imn
                   + LEAST(GREATEST(CAST(FLOOR(
                         CAST((r.rg - b.imn) * 255 AS DOUBLE)
                         / GREATEST(b.imx - b.imn, 1) + 0.5
                     ) AS BIGINT), 0), 255) * (b.imx - b.imn) AS xv
            FROM res r JOIN bounds b USING (pos)
        ),
        pnorm AS (
            SELECT vec_id, SQRT(CAST(SUM(pq * pq) AS DOUBLE)) AS pn
            FROM g GROUP BY 1
        ),
        xnorm AS (
            SELECT vec_id, SQRT(CAST(SUM(xv * xv) AS DOUBLE)) AS xn
            FROM xdec GROUP BY 1
        ),
        dots AS (
            SELECT p.vec_id AS vec_id, c.vec_id AS neighbor_id,
                   CAST(SUM(p.pq * c.xv) AS DOUBLE) AS dot
            FROM ga p
            JOIN xdec c
              ON p.pos = c.pos AND p.list_id = c.list_id
             AND p.vec_id <> c.vec_id
            GROUP BY 1, 2
        )
        SELECT vec_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
        FROM (
            SELECT d.vec_id, d.neighbor_id,
                   d.dot / (pn.pn * xn.xn) AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY d.dot / (pn.pn * xn.xn) DESC,
                                d.neighbor_id ASC
                   ) AS rn
            FROM dots d
            JOIN pnorm pn ON pn.vec_id = d.vec_id
            JOIN xnorm xn ON xn.vec_id = d.neighbor_id
        )
        WHERE rn <= 3
        ORDER BY vec_id, rank
        """,
        doc="residual-encoded IVF-SQ8 (FAISS IndexIVFScalarQuantizer "
        "by_residual=True analog): grid-rounded coarse centroids, 8-bit "
        "residual codec, home-list ADC — bit-exact full-pipeline replay",
    )
)


def q_ann_ivf_sq8_multiprobe_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-SQ8 with the RECALL KNOB open (n_probe=2): each probe scores
    its TWO nearest inverted lists' SQ8-compressed vectors — the same
    knob ann_ivf_topk_nprobe2 and ann_ivfpq_multiprobe_topk open for
    their codecs, so every routed index in the quantization family now
    exposes it.  Exactly-once scoring holds (index side stays home-list
    unique, a probe's two lists are distinct); shares the session coarse
    quantizer and differs from ann_ivf_sq8_topk only by the knob."""
    from ..operators.ann import ivf_assignments, ivf_probe_lists
    from ..operators.sq import sq8_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    d = _ivf_distances(spark, sf_dir)
    home = ivf_assignments(emb, n_list=8, n_iters=2, distances=d)
    probes = ivf_probe_lists(
        emb, n_list=8, n_iters=2, n_probe=2, distances=d
    ).select("vec_id", "list_id")
    return sq8_ivf_topk(
        emb, home, k=3, probes=probes, cache_key=f"{sf_dir}:ivf_sq8:8:2:probe2"
    )


register(
    QuerySpec(
        "ann_ivf_sq8_multiprobe_topk",
        q_ann_ivf_sq8_multiprobe_topk,
        f"""
        WITH {_ivf_sql_ctes(8, 2)},
        pl AS (
            SELECT vec_id, c AS list_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY round(d2, 9), c) AS rn
                FROM d1
            ) WHERE rn <= 2
        ),
        g AS (
            SELECT vec_id, pos, xq AS pq,
                   CAST(FLOOR(x * 1024 + 0.5) AS BIGINT) AS xg
            FROM e
        ),
        bounds AS (
            SELECT pos, MIN(xg) AS imn, MAX(xg) AS imx FROM g GROUP BY 1
        ),
        xdec AS (
            SELECT q.vec_id, q.pos,
                   255 * b.imn
                   + LEAST(GREATEST(CAST(FLOOR(
                         CAST((q.xg - b.imn) * 255 AS DOUBLE)
                         / GREATEST(b.imx - b.imn, 1) + 0.5
                     ) AS BIGINT), 0), 255) * (b.imx - b.imn) AS xv
            FROM g q JOIN bounds b USING (pos)
        ),
        pnorm AS (
            SELECT vec_id, SQRT(CAST(SUM(pq * pq) AS DOUBLE)) AS pn
            FROM g GROUP BY 1
        ),
        xnorm AS (
            SELECT vec_id, SQRT(CAST(SUM(xv * xv) AS DOUBLE)) AS xn
            FROM xdec GROUP BY 1
        ),
        dots AS (
            SELECT p.vec_id AS vec_id, c.vec_id AS neighbor_id,
                   CAST(SUM(q.pq * c.xv) AS DOUBLE) AS dot
            FROM pl p
            JOIN (SELECT x.*, a.list_id
                  FROM xdec x JOIN a1 a USING (vec_id)) c
              ON c.list_id = p.list_id AND c.vec_id <> p.vec_id
            JOIN g q ON q.vec_id = p.vec_id AND q.pos = c.pos
            GROUP BY 1, 2
        )
        SELECT vec_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
        FROM (
            SELECT d.vec_id, d.neighbor_id,
                   d.dot / (pn.pn * xn.xn) AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY d.dot / (pn.pn * xn.xn) DESC,
                                d.neighbor_id ASC
                   ) AS rn
            FROM dots d
            JOIN pnorm pn ON pn.vec_id = d.vec_id
            JOIN xnorm xn ON xn.vec_id = d.neighbor_id
        )
        WHERE rn <= 3
        ORDER BY vec_id, rank
        """,
        doc="IVF-SQ8 with n_probe=2: candidate union of the two nearest "
        "inverted lists scored by the 8-bit ADC cosine — the recall knob "
        "opened for the SQ8 codec",
    )
)


def _res_home(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import ivf_assignments

    return ivf_assignments(
        load_table(spark, sf_dir, "embeddings"),
        n_list=8,
        n_iters=2,
        distances=_ivf_distances(spark, sf_dir),
    )


def _res_cent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized integer-grid coarse centroids (n_list × d
    rows) for the residual-PQ family."""
    from ..operators.pq import residual_centroids

    return shared.materialized(
        spark,
        sf_dir,
        "res_cent_8_2",
        lambda: residual_centroids(
            load_table(spark, sf_dir, "embeddings"),
            _res_home(spark, sf_dir),
            dsub=_PQ_DSUB,
        ),
    )


def _res_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized residual PQ codebook (m·kcent·dsub rows —
    the offline-trained artifact of a deployment)."""
    from ..operators.pq import pq_codebooks

    return shared.materialized(
        spark,
        sf_dir,
        f"res_cb_{_PQ_M}_{_PQ_K}_{_PQ_ITERS}",
        lambda: pq_codebooks(
            load_table(spark, sf_dir, "embeddings"),
            m=_PQ_M,
            k=_PQ_K,
            n_iters=_PQ_ITERS,
            dsub=_PQ_DSUB,
            # r16: residual training on the Arrow path (home + anchors
            # instead of the materialized long frame) — bit-identical
            # centroids, no N·K-row shuffles (operators/pq.pq_codebooks)
            home=_res_home(spark, sf_dir),
            anchors=_res_cent(spark, sf_dir),
        ),
    )


def _res_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized residual PQ codes (n × m rows)."""
    from ..operators.pq import pq_codes

    return shared.materialized(
        spark,
        sf_dir,
        f"res_codes_{_PQ_M}_{_PQ_K}_{_PQ_ITERS}",
        lambda: pq_codes(
            load_table(spark, sf_dir, "embeddings"),
            _res_codebooks(spark, sf_dir),
            m=_PQ_M,
            k=_PQ_K,
            n_iters=_PQ_ITERS,
            dsub=_PQ_DSUB,
            # r16: residual encode on the Arrow path (see _res_codebooks)
            home=_res_home(spark, sf_dir),
            anchors=_res_cent(spark, sf_dir),
        ),
    )


def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoded IVF-PQ (operators/pq.ivfpq_residual_topk) — the
    FAISS-faithful IVFADC composition (Jégou et al. 2011 §III): PQ
    codebooks train on x − q_coarse(x) so their resolution covers the
    within-list structure, and serving scores the reconstruction
    x̂ = c_list + decode(codes) against full-precision probes.  The
    coarse centroid is re-rounded to the integer grid from exact sums,
    so the whole pipeline — residuals, Lloyd, codes, reconstruction,
    cosine — replays bit-for-bit in the oracle.  Shares the session IVF
    quantizer payload with the other IVF queries."""
    from ..operators.pq import ivfpq_residual_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_residual_topk(
        emb,
        k=3,
        n_list=8,
        ivf_iters=2,
        m=_PQ_M,
        kcent=_PQ_K,
        pq_iters=_PQ_ITERS,
        dsub=_PQ_DSUB,
        ivf_distances=_ivf_distances(spark, sf_dir),
        centroids=_res_cent(spark, sf_dir),
        codebooks=_res_codebooks(spark, sf_dir),
        codes=_res_codes(spark, sf_dir),
    )


def _residual_pq_sql() -> str:
    """DuckDB twin of the residual IVF-PQ pipeline — generated from the
    same constants as the Spark operator (n_list=8, ivf_iters=2, m=8,
    kcent=8, pq_iters=2, dsub=8, full-corpus training)."""
    from ..functions.hashing import P1

    return f"""
        WITH {_ivf_sql_ctes(8, 2)},
        rsub AS (
            SELECT e.vec_id, CAST((e.pos - 1) // {_PQ_DSUB} AS INT) AS sub,
                   e.pos - 1 AS pos, e.xq, a.list_id
            FROM e JOIN a1 a USING (vec_id)
        ),
        rcent AS (
            SELECT list_id, sub, pos,
                   CAST(FLOOR(SUM(xq) / COUNT(*) + 0.5) AS BIGINT) AS cq
            FROM rsub GROUP BY 1, 2, 3
        ),
        rq AS (
            SELECT r.vec_id, r.sub, r.pos, r.xq - c.cq AS xq
            FROM rsub r
            JOIN rcent c ON r.list_id = c.list_id AND r.pos = c.pos
        ),
        rseeds AS (
            SELECT vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY (CAST(vec_id AS BIGINT) * {P1}) % 997, vec_id
                   ) - 1 AS c
            FROM embeddings
            QUALIFY c < {_PQ_K}
        ),
        rcent0 AS (
            SELECT s.c, q.sub, q.pos, q.xq AS y
            FROM rseeds s JOIN rq q USING (vec_id)
        ),
        rd0 AS (
            SELECT q.vec_id, q.sub, c.c,
                   SUM((q.xq - c.y) * (q.xq - c.y)) AS d2
            FROM rq q JOIN rcent0 c ON q.pos = c.pos
            GROUP BY 1, 2, 3
        ),
        ra0 AS (
            SELECT vec_id, sub, c AS code FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
                FROM rd0
            ) WHERE rn = 1
        ),
        rcent1 AS (
            SELECT a.code AS c, q.sub, q.pos,
                   CAST(FLOOR(SUM(q.xq) / COUNT(*) + 0.5) AS BIGINT) AS y
            FROM ra0 a JOIN rq q
              ON a.vec_id = q.vec_id AND a.sub = q.sub
            GROUP BY 1, 2, 3
        ),
        rdF AS (
            SELECT q.vec_id, q.sub, c.c,
                   SUM((q.xq - c.y) * (q.xq - c.y)) AS d2
            FROM rq q JOIN rcent1 c ON q.pos = c.pos
            GROUP BY 1, 2, 3
        ),
        rcodes AS (
            SELECT vec_id, sub, c AS code FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
                FROM rdF
            ) WHERE rn = 1
        ),
        xdec AS (
            SELECT co.vec_id, a.list_id, cb.pos, cc.cq + cb.y AS xv
            FROM rcodes co
            JOIN a1 a ON a.vec_id = co.vec_id
            JOIN rcent1 cb ON cb.sub = co.sub AND cb.c = co.code
            JOIN rcent cc ON cc.list_id = a.list_id AND cc.pos = cb.pos
        ),
        xn AS (
            SELECT vec_id, SQRT(CAST(SUM(xv * xv) AS DOUBLE)) AS xn
            FROM xdec GROUP BY 1
        ),
        pq2 AS (SELECT vec_id, pos - 1 AS pos, xq FROM e),
        pn AS (
            SELECT vec_id, SQRT(CAST(SUM(xq * xq) AS DOUBLE)) AS pn
            FROM pq2 GROUP BY 1
        ),
        dots AS (
            SELECT p.vec_id AS vec_id, x.vec_id AS neighbor_id,
                   CAST(SUM(p.xq * x.xv) AS DOUBLE) AS dot
            FROM pq2 p
            JOIN a1 pa ON pa.vec_id = p.vec_id
            JOIN xdec x ON x.pos = p.pos AND x.list_id = pa.list_id
                       AND x.vec_id <> p.vec_id
            GROUP BY 1, 2
        )
        SELECT vec_id, neighbor_id, adc_cosine, CAST(rn AS INT) AS rank
        FROM (
            SELECT d.vec_id, d.neighbor_id,
                   d.dot / (pn.pn * xn.xn) AS adc_cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY d.dot / (pn.pn * xn.xn) DESC,
                                d.neighbor_id ASC
                   ) AS rn
            FROM dots d
            JOIN pn ON pn.vec_id = d.vec_id
            JOIN xn ON xn.vec_id = d.neighbor_id
        )
        WHERE rn <= 3
        ORDER BY vec_id, rank
        """


register(
    QuerySpec(
        "ann_ivfpq_residual_topk",
        q_ann_ivfpq_residual_topk,
        _residual_pq_sql(),
        doc="residual-encoded IVF-PQ (FAISS IVFADC, Jégou et al. 2011 "
        "§III): codebooks train on coarse-centroid residuals, serving "
        "scores x̂ = c_list + decode(codes); integer-grid centroids keep "
        "the whole pipeline bit-exact cross-engine",
    )
)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (the brief's fifth dedup modality)
# ---------------------------------------------------------------------------
def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import cosine_pairs_above

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_above(
        emb, threshold=0.4, cache_key=f"{sf_dir}:embeddings"
    )


register(
    QuerySpec(
        "embedding_neardup_pairs",
        q_embedding_neardup_pairs,
        """
        WITH e AS (
            SELECT vec_id, i.i AS pos,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5) AS BIGINT) AS xq
            FROM embeddings, range(1, 65) i(i)
            WHERE i.i <= len(embedding)
        ),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        dots AS (
            SELECT a.vec_id AS doc_i, b.vec_id AS doc_j,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot
            FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        )
        SELECT d.doc_i, d.doc_j, d.dot / (na.nrm * nb.nrm) AS cosine
        FROM dots d
        JOIN norms na ON d.doc_i = na.vec_id
        JOIN norms nb ON d.doc_j = nb.vec_id
        WHERE d.dot / (na.nrm * nb.nrm) >= 0.4
        """,
        doc="embedding-cosine near-dup pairs (pipeline extension; "
        "quantized entries → bit-reproducible threshold, see "
        "operators/ann.QUANT)",
    )
)


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: LSH candidate pairs → transitive groups
# ---------------------------------------------------------------------------
def q_minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document labeled with its near-dup cluster (connected
    components over the MinHash-LSH candidate graph; cluster id = min
    doc_id in the component, singletons map to themselves).  This is the
    step that turns candidate PAIRS into a keep-one-representative dedup
    decision at corpus scale."""
    from ..operators.dedup import connected_components

    cand = _cands(spark, sf_dir)
    cc = connected_components(cand, src="doc_i", dst="doc_j")
    docs = _docs(spark, sf_dir).select("doc_id")
    return docs.join(cc, docs.doc_id == cc.node, "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id").cast("long")).alias("cluster_id"),
    )


register(
    QuerySpec(
        "minhash_dedup_clusters",
        q_minhash_dedup_clusters,
        f"""
        WITH RECURSIVE {_SHINGLE_CTE},
        {_SID_CTE},
        sig AS (
            SELECT doc_id,
                   {_minhash_sql_cols()}
            FROM sids GROUP BY doc_id
        ),
        bands AS ({_lsh_band_sql()}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_i AS s, doc_j AS d FROM cand
            UNION ALL
            SELECT doc_j, doc_i FROM cand
        ),
        reach(s, d) AS (
            SELECT DISTINCT s, s FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ),
        comp AS (SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s)
        SELECT d.doc_id,
               CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
        FROM documents d LEFT JOIN comp c USING (doc_id)
        """,
        doc="near-dup cluster assignment: connected components "
        "(large-star/small-star) over MinHash-LSH candidate pairs",
    )
)


# ---------------------------------------------------------------------------
# survivor selection: clusters → the deduplicated corpus
# ---------------------------------------------------------------------------
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision step a dedup pipeline actually ships: ONE survivor
    per near-dup cluster (keep the longest document, min doc_id on
    ties — the deterministic keep-best policy), every other member
    flagged dropped.

    Composes the cluster labeling (connected components over the
    materialized LSH candidate pairs) with a per-cluster argmax window.
    Scale shape: the window partitions on cluster_id — cluster sizes are
    LSH-bounded (no giant key), and the shuffle carries (doc_id,
    n_chars, cluster_id) rows only, never text.  The kept-flag output is
    exactly the semi-join mask that filters the corpus for training.
    """
    from ..operators.dedup import connected_components

    cand = _cands(spark, sf_dir)
    cc = connected_components(cand, src="doc_i", dst="doc_j")
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    lab = docs.join(cc, docs.doc_id == cc.node, "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("component", F.col("doc_id").cast("long")).alias(
            "cluster_id"
        ),
    )
    # r17 (§2.2): both windows share one cluster_id exchange — pin its
    # width from the corpus size (parquet footer, ~32k rows/task) rather
    # than the session shuffle default; this row scaled at 0.59 (8 cores
    # beating 32) in the r16 driver block — scheduling overhead, not work
    from ..sizing import width_for_rows
    from ..sources.tables import table_rows

    width = width_for_rows(table_rows(sf_dir, "documents"))
    if width is not None:
        lab = lab.repartition(width, "cluster_id")
    w = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return lab.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
        F.when(F.row_number().over(wr) == 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("kept"),
    )


register(
    QuerySpec(
        "dedup_survivors",
        q_dedup_survivors,
        f"""
        WITH RECURSIVE {_SHINGLE_CTE},
        {_SID_CTE},
        sig AS (
            SELECT doc_id,
                   {_minhash_sql_cols()}
            FROM sids GROUP BY doc_id
        ),
        bands AS ({_lsh_band_sql()}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_i AS s, doc_j AS d FROM cand
            UNION ALL
            SELECT doc_j, doc_i FROM cand
        ),
        reach(s, d) AS (
            SELECT DISTINCT s, s FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ),
        comp AS (SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s),
        lab AS (
            SELECT d.doc_id, d.n_chars,
                   CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id)
        )
        SELECT doc_id, cluster_id,
               CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS cluster_size,
               CAST(CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY cluster_id
                        ORDER BY n_chars DESC, doc_id) = 1
                    THEN 1 ELSE 0 END AS INT) AS kept
        FROM lab
        """,
        doc="near-dup survivor selection: one kept representative per "
        "cluster (longest doc, min-id tiebreak) — the dedup decision "
        "that filters the training corpus",
    )
)


# ---------------------------------------------------------------------------
# eval-set decontamination (training-data-pipeline extension)
# ---------------------------------------------------------------------------
def q_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every held-out eval document
    (doc_id % 50 == 0, a 2% split), how many TRAINING documents share at
    least one 8-gram with it, and the largest per-doc overlap.

    The GPT-3-style contamination check (long-n-gram membership) as an
    asymmetric join: 8-grams are rare by construction, so the equi-join on
    the shingle value is skew-safe without any df cap (unlike 3-gram
    Jaccard), and only eval×train docs sharing an 8-gram ever meet.  Eval
    docs with zero contamination are kept via the left join (the output a
    decontamination pipeline acts on is exactly this table).
    """
    from ..operators.neardup import shingles

    sh8 = shared.materialized(
        spark,
        sf_dir,
        "shingles8",
        lambda: shingles(_docs(spark, sf_dir), n=8),
    )
    ev = sh8.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "shingle"
    )
    tr = sh8.filter(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "shingle"
    )
    overlaps = (
        ev.join(tr, "shingle")
        .groupBy("eval_doc_id", "train_doc_id")
        .agg(F.count("*").alias("shared"))
        .groupBy("eval_doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_contaminating_docs"),
            F.max("shared").cast("bigint").alias("max_shared_ngrams"),
        )
    )
    eval_docs = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("eval_doc_id"))
    )
    return eval_docs.join(overlaps, "eval_doc_id", "left").select(
        "eval_doc_id",
        F.coalesce("n_contaminating_docs", F.lit(0)).alias("n_contaminating_docs"),
        F.coalesce("max_shared_ngrams", F.lit(0)).alias("max_shared_ngrams"),
    )


register(
    QuerySpec(
        "eval_contamination",
        q_eval_contamination,
        """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tokens
            FROM documents
        ),
        sh8 AS (
            SELECT DISTINCT doc_id,
                   tokens[i.i] || ' ' || tokens[i.i+1] || ' ' || tokens[i.i+2] || ' ' ||
                   tokens[i.i+3] || ' ' || tokens[i.i+4] || ' ' || tokens[i.i+5] || ' ' ||
                   tokens[i.i+6] || ' ' || tokens[i.i+7] AS shingle
            FROM toks, range(1, 10001) i(i)
            WHERE i.i <= len(tokens) - 7
        ),
        ov AS (
            SELECT e.doc_id AS eval_doc_id, t.doc_id AS train_doc_id,
                   COUNT(*) AS shared
            FROM sh8 e JOIN sh8 t ON e.shingle = t.shingle
            WHERE e.doc_id % 50 = 0 AND t.doc_id % 50 <> 0
            GROUP BY 1, 2
        ),
        per_eval AS (
            SELECT eval_doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_contaminating_docs,
                   CAST(MAX(shared) AS BIGINT) AS max_shared_ngrams
            FROM ov GROUP BY 1
        )
        SELECT d.doc_id AS eval_doc_id,
               COALESCE(p.n_contaminating_docs, 0) AS n_contaminating_docs,
               COALESCE(p.max_shared_ngrams, 0) AS max_shared_ngrams
        FROM documents d LEFT JOIN per_eval p ON d.doc_id = p.eval_doc_id
        WHERE d.doc_id % 50 = 0
        """,
        doc="benchmark decontamination: 8-gram overlap of eval split vs "
        "training docs (pipeline extension)",
    )
)


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic dedup (Abbas et al. 2023)
# ---------------------------------------------------------------------------
# shared by the query fn and its SQL twin: the oracle's final-assignment
# CTE name is a{n_iters-1}, so the two constants must move together
_SEMDEDUP_N_ITERS = 2


def q_semantic_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector keep/prune decision of SemDeDup-style semantic dedup.

    Reuses the session-materialized IVF coarse quantizer (same Lloyd run
    as the ann_ivf_* queries — a real pipeline clusters once and shares
    the index), then prunes within-cluster near-duplicates at quantized
    cosine ≥ 0.4 with the deterministic min-id representative rule
    (operators/ann.semantic_dedup).  Scale: the within-cluster pairwise
    stage is sub-blocked (n_sub × n_sub cogrouped tasks per hot cluster,
    OR-merged partial flags), so task memory is capped by block_rows even
    under a skewed k-means; n_list stays the coarse knob.
    """
    from ..operators.ann import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, threshold=0.4, n_list=8, n_iters=_SEMDEDUP_N_ITERS,
        distances=_ivf_distances(spark, sf_dir),
        cache_key=f"{sf_dir}:semdedup",
    )


register(
    QuerySpec(
        "semantic_dedup_flags",
        q_semantic_dedup_flags,
        f"""
        WITH {_ivf_sql_ctes(8, _SEMDEDUP_N_ITERS)},
        ea AS (SELECT e.*, a.list_id
               FROM e JOIN a{_SEMDEDUP_N_ITERS - 1} a USING (vec_id)),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        dots AS (
            SELECT a.vec_id AS doc_i, b.vec_id AS doc_j,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot
            FROM ea a JOIN ea b
              ON a.pos = b.pos AND a.list_id = b.list_id
             AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        ),
        pruned AS (
            SELECT DISTINCT d.doc_j AS vec_id
            FROM dots d
            JOIN norms na ON d.doc_i = na.vec_id
            JOIN norms nb ON d.doc_j = nb.vec_id
            -- nrm > 0 guards: a zero vector's cosine is undefined, so it
            -- neither prunes nor is pruned (matches the kernel's validity
            -- mask; without the guard DuckDB's NaN-sorts-high semantics
            -- would flag it pruned while numpy's NaN >= thr is False)
            WHERE na.nrm > 0 AND nb.nrm > 0
              AND d.dot / (na.nrm * nb.nrm) >= 0.4
        )
        SELECT a.vec_id,
               CAST(a.list_id AS BIGINT) AS list_id,
               (p.vec_id IS NOT NULL) AS pruned
        FROM a{_SEMDEDUP_N_ITERS - 1} a LEFT JOIN pruned p USING (vec_id)
        """,
        doc="SemDeDup cluster-then-prune semantic dedup (arXiv:2303.09540;"
        " min-id representative, quantized-cosine threshold)",
    )
)


# ---------------------------------------------------------------------------
# duplicated-span stats + scrub: substring-level exact dedup (Lee et al. 2021)
# ---------------------------------------------------------------------------
def _span_coverage(
    spark: SparkSession, sf_dir: str, n: int = 8
) -> tuple[DataFrame, DataFrame]:
    """(toks, covered): positional whitespace tokens (doc_id, pos, tok) and
    the distinct token positions (doc_id, p) covered by any corpus-
    duplicated n-gram (an n-gram occurring at >= 2 (doc, pos) occurrences
    corpus-wide, cross-doc or within-doc).  Shared by the stats and scrub
    queries; materialized per session so the gram groupBy runs once."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("pos", "tok"),
    )

    def build_cov() -> DataFrame:
        w = Window.partitionBy("doc_id").orderBy("pos")
        parts = [F.col("tok")] + [
            F.lead("tok", k).over(w) for k in range(1, n)
        ]
        grams = (
            toks.select(
                "doc_id",
                "pos",
                F.concat_ws(" ", *parts).alias("gram"),
                F.lead("tok", n - 1).over(w).alias("_last"),
            )
            .filter(F.col("_last").isNotNull())
            .drop("_last")
        )
        dup = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("occ"))
            .filter(F.col("occ") >= 2)
            .select("gram")
        )
        return (
            grams.join(dup, "gram")
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("pos"), F.col("pos") + (n - 1))
                ).alias("p"),
            )
            .distinct()
        )

    cov = shared.materialized(spark, sf_dir, f"span_cov{n}", build_cov)
    return toks, cov


def q_duplicated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of tokens inside corpus-duplicated spans.

    The span-level exact-dedup signal of Lee et al. 2021
    (arXiv:2107.06499, "Deduplicating Training Data Makes Language Models
    Better"), n-gram-windowed: an 8-gram occurring at >= 2 (doc, pos)
    occurrences corpus-wide (cross-doc or within-doc) is duplicated, and
    every token position covered by a duplicated 8-gram window counts as
    duplicated text.  Output (doc_id, n_tokens, n_dup_tokens,
    dup_fraction) — the table a span-removal pass acts on.

    Scale shape: positional 8-grams assemble in codegen'd lead() windows
    keyed on doc_id; the duplicate test is one groupBy on the gram value
    with map-side combine (long n-grams are rare by construction, so the
    group and the join back are skew-safe without a df cap — same
    argument as `eval_contamination`); covered positions dedup with a
    bounded 8x fan-out.  No driver materialization anywhere.
    """
    docs = _docs(spark, sf_dir)
    toks, cov = _span_coverage(spark, sf_dir)
    covered = cov.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup_tokens")
    )
    n_toks = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    all_docs = docs.select("doc_id").join(n_toks, "doc_id", "left")
    nt = F.coalesce("n_tokens", F.lit(0))
    nd = F.coalesce("n_dup_tokens", F.lit(0))
    return (
        all_docs.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            nt.alias("n_tokens"),
            nd.alias("n_dup_tokens"),
            F.when(nt == 0, F.lit(0.0))
            .otherwise(nd.cast("double") / nt.cast("double"))
            .alias("dup_fraction"),
        )
    )


register(
    QuerySpec(
        "duplicated_span_stats",
        q_duplicated_span_stats,
        """
        WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tokens
            FROM documents
        ),
        grams AS (
            SELECT doc_id, i.i - 1 AS pos,
                   tokens[i.i] || ' ' || tokens[i.i+1] || ' ' ||
                   tokens[i.i+2] || ' ' || tokens[i.i+3] || ' ' ||
                   tokens[i.i+4] || ' ' || tokens[i.i+5] || ' ' ||
                   tokens[i.i+6] || ' ' || tokens[i.i+7] AS gram
            FROM tk, range(1, 100001) i(i)
            WHERE i.i <= len(tokens) - 7
        ),
        dup AS (SELECT gram FROM grams GROUP BY 1 HAVING COUNT(*) >= 2),
        cov AS (
            SELECT DISTINCT g.doc_id, g.pos + o.o AS p
            FROM grams g JOIN dup USING (gram), range(0, 8) o(o)
        ),
        nt AS (
            SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens FROM tk
        ),
        nd AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_tokens
            FROM cov GROUP BY 1
        )
        SELECT nt.doc_id,
               nt.n_tokens,
               COALESCE(nd.n_dup_tokens, 0) AS n_dup_tokens,
               CASE WHEN nt.n_tokens = 0 THEN 0.0
                    ELSE CAST(COALESCE(nd.n_dup_tokens, 0) AS DOUBLE)
                         / nt.n_tokens END AS dup_fraction
        FROM nt LEFT JOIN nd ON nt.doc_id = nd.doc_id
        """,
        doc="substring-level exact-dedup span stats (Lee et al. 2021, "
        "arXiv:2107.06499 — duplicated-8-gram coverage per document)",
    )
)


def q_span_scrubbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with every corpus-duplicated 8-gram span REMOVED — the
    actionable output of span-level dedup (the cleaning pass Lee et al.
    2021 runs before tokenization, here with the conservative
    remove-all-occurrences policy so the decision is a pure function of
    the corpus).  Output (doc_id, scrubbed_text, n_kept_tokens);
    reconstruction is an anti-join of token positions against the shared
    span coverage (`_span_coverage`, one gram groupBy per session) and a
    per-doc ordered re-concat — one doc_id shuffle, no driver text."""
    docs = _docs(spark, sf_dir)
    toks, cov = _span_coverage(spark, sf_dir)
    kept = toks.join(
        cov,
        (toks["doc_id"] == cov["doc_id"]) & (toks["pos"] == cov["p"]),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("scrubbed_text"),
        F.count("*").cast("bigint").alias("n_kept_tokens"),
    )
    return docs.select("doc_id").join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("scrubbed_text", F.lit("")).alias("scrubbed_text"),
        F.coalesce("n_kept_tokens", F.lit(0)).alias("n_kept_tokens"),
    )


register(
    QuerySpec(
        "span_scrubbed_docs",
        q_span_scrubbed_docs,
        """
        WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tokens
            FROM documents
        ),
        toks AS (
            SELECT doc_id, i.i - 1 AS pos, tokens[i.i] AS tok
            FROM tk, range(1, 100001) i(i)
            WHERE i.i <= len(tokens)
        ),
        grams AS (
            SELECT doc_id, i.i - 1 AS pos,
                   tokens[i.i] || ' ' || tokens[i.i+1] || ' ' ||
                   tokens[i.i+2] || ' ' || tokens[i.i+3] || ' ' ||
                   tokens[i.i+4] || ' ' || tokens[i.i+5] || ' ' ||
                   tokens[i.i+6] || ' ' || tokens[i.i+7] AS gram
            FROM tk, range(1, 100001) i(i)
            WHERE i.i <= len(tokens) - 7
        ),
        dup AS (SELECT gram FROM grams GROUP BY 1 HAVING COUNT(*) >= 2),
        cov AS (
            SELECT DISTINCT g.doc_id, g.pos + o.o AS p
            FROM grams g JOIN dup USING (gram), range(0, 8) o(o)
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM toks t LEFT JOIN cov c
              ON t.doc_id = c.doc_id AND t.pos = c.p
            WHERE c.p IS NULL
        ),
        agg AS (
            SELECT doc_id,
                   STRING_AGG(tok, ' ' ORDER BY pos) AS scrubbed_text,
                   CAST(COUNT(*) AS BIGINT) AS n_kept_tokens
            FROM kept GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(a.scrubbed_text, '') AS scrubbed_text,
               COALESCE(a.n_kept_tokens, 0) AS n_kept_tokens
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        """,
        doc="span-level dedup scrub: duplicated-8-gram spans removed, "
        "per-doc text rebuilt (Lee et al. 2021 cleaning pass)",
    )
)


# ---------------------------------------------------------------------------
# cross-table retrieval: top-k corpus neighbors per query vector
# ---------------------------------------------------------------------------
def q_ann_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style retrieval: for every held-out query vector (vec_id % 50
    == 0, the same 2% split eval_contamination uses), the top-5 most
    cosine-similar TRAINING vectors.  Cross-table variant of the blocked
    GEMM kernel (operators/ann.cosine_topk_cross): corpus hashes into
    index blocks, queries replicate across them — |Q|·|C| support, id
    spaces disjoint by the split.  Quantized entries keep the ranking
    bit-identical across engines (operators/ann.QUANT)."""
    from ..operators.ann import cosine_topk_cross

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return cosine_topk_cross(
        queries, corpus, k=5, corpus_key=f"{sf_dir}:retrieval_corpus"
    )


register(
    QuerySpec(
        "ann_retrieval_topk",
        q_ann_retrieval_topk,
        """
        WITH e AS (
            SELECT vec_id, i.i AS pos,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5) AS BIGINT) AS xq
            FROM embeddings, range(1, 1025) i(i)
            WHERE i.i <= len(embedding)
        ),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        dots AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot
            FROM e a JOIN e b ON a.pos = b.pos
            WHERE a.vec_id % 50 = 0 AND b.vec_id % 50 <> 0
            GROUP BY 1, 2
        )
        SELECT d.vec_id, d.neighbor_id,
               d.dot / (na.nrm * nb.nrm) AS cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.vec_id
                    ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                             d.neighbor_id ASC) AS INT) AS rank
        FROM dots d
        JOIN norms na ON d.vec_id = na.vec_id
        JOIN norms nb ON d.neighbor_id = nb.vec_id
        QUALIFY rank <= 5
        """,
        doc="cross-table retrieval top-k (RAG / nearest-training-doc "
        "shape; operators/ann.cosine_topk_cross blocked GEMM)",
    )
)


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing MinHash index
# ---------------------------------------------------------------------------
def q_incremental_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup pass: flag INCOMING docs whose MinHash bands
    collide with the EXISTING index — the steady-state shape of a 100 TB
    dedup service, where each ingest batch is checked against the corpus
    WITHOUT re-pairing the corpus with itself (no index×index or
    incoming×incoming pairs ever form).

    The index/incoming split reuses the deterministic hash-bucket
    convention of ``hash_split_sizes`` (~70% existing index, ~30%
    incoming batch).  One row per incoming doc: distinct index docs
    sharing ≥1 LSH band, the smallest matching index doc (the canonical
    representative to dedup against), and the keep/drop flag.

    Scale shape: signatures are one hash agg over the shared shingle-id
    stream; the band join is an equi-join on (band, bucket) with the
    index side REUSABLE across batches (a real deployment persists the
    index bands as a bucketed table and each ingest batch joins against
    it); final rollup is one groupBy on the incoming doc id.
    """
    from ..operators.neardup import band_buckets
    from .pipelineops import _HASH_A, _HASH_MOD, _TRAIN_LT

    bands = band_buckets(_sigs(spark, sf_dir))
    in_index = (F.col("doc_id") * _HASH_A) % _HASH_MOD < _TRAIN_LT
    idx = bands.filter(in_index).select(
        F.col("doc_id").alias("match_id"), "band", "bucket"
    )
    inc = bands.filter(~in_index)
    hits = (
        inc.join(idx, ["band", "bucket"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("match_id").cast("bigint").alias("n_candidates"),
            F.min("match_id").alias("min_match_id"),
        )
    )
    incoming_docs = (
        _docs(spark, sf_dir).filter(~in_index).select("doc_id")
    )
    return incoming_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        "min_match_id",
        F.coalesce(F.col("n_candidates") > 0, F.lit(False)).alias("is_dup"),
    )


def _incremental_oracle() -> str:
    from .pipelineops import _HASH_A, _HASH_MOD, _TRAIN_LT

    pred = f"(doc_id * {_HASH_A}) % {_HASH_MOD} < {_TRAIN_LT}"
    return f"""
        WITH {_SHINGLE_CTE},
        {_SID_CTE},
        sig AS (
            SELECT doc_id,
                   {_minhash_sql_cols()}
            FROM sids GROUP BY doc_id
        ),
        bands AS ({_lsh_band_sql()}),
        hits AS (
            SELECT i.doc_id,
                   CAST(COUNT(DISTINCT x.doc_id) AS BIGINT) AS n_candidates,
                   MIN(x.doc_id) AS min_match_id
            FROM bands i JOIN bands x
              ON i.band = x.band AND i.bucket = x.bucket
            WHERE NOT ({pred.replace('doc_id', 'i.doc_id')})
              AND ({pred.replace('doc_id', 'x.doc_id')})
            GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(h.n_candidates, 0) AS n_candidates,
               h.min_match_id,
               COALESCE(h.n_candidates > 0, FALSE) AS is_dup
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE NOT ({pred.replace('doc_id', 'd.doc_id')})
        """


register(
    QuerySpec(
        "incremental_dedup_flags",
        q_incremental_dedup_flags,
        _incremental_oracle(),
        doc="incremental MinHash-LSH dedup of an ingest batch against the "
        "existing corpus index (no corpus self-pairing; hash-bucket "
        "batch split)",
    )
)


# ---------------------------------------------------------------------------
# BM25 keyword search: the IR serving query over the weighted index
# ---------------------------------------------------------------------------
_SEARCH_TERMS = ("window", "join", "hash")
_SEARCH_K = 10


def q_bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a keyword query under okapi BM25 — the
    serving-side counterpart of ``bm25_weights`` (build the weighted
    index once, answer queries with a term-filtered scan).

    score(q, d) = Σ_{t ∈ q} bm25_weight(d, t); ties broken by doc_id.
    Scale shape: the term filter hits the weight build's token key FIRST
    (predicate pushdown through the joins — only postings for the query
    terms flow), then one per-doc partial agg and a TakeOrderedAndProject
    global top-K (no global sort, no single-partition window).
    """
    w = bm25(term_frequencies(_docs(spark, sf_dir)), k1=1.2, b=0.75)
    scored = (
        w.filter(F.col("token").isin(*_SEARCH_TERMS))
        .groupBy("doc_id")
        .agg(
            F.sum("weight").alias("score"),
            F.count("*").cast("bigint").alias("n_terms_matched"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        _SEARCH_K
    )


register(
    QuerySpec(
        "bm25_search_topk",
        q_bm25_search_topk,
        f"""
        WITH {_TF_CTE},
        df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        dl AS (SELECT doc_id, SUM(tf) AS row_sum FROM tf GROUP BY 1),
        al AS (SELECT AVG(row_sum) AS avg_len FROM dl),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
        w AS (
            SELECT tf.doc_id, tf.token,
                   tf.tf * (1.2 + 1.0)
                     / (1.2 * ((1.0 - 0.75) + 0.75 * dl.row_sum / al.avg_len)
                        + tf.tf)
                     * ln(n.n_docs / (1.0 + df.df)) AS weight
            FROM tf
            JOIN df USING (token)
            JOIN dl USING (doc_id)
            CROSS JOIN al CROSS JOIN n
            WHERE tf.token IN {_SEARCH_TERMS!r}
        )
        SELECT doc_id, SUM(weight) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched
        FROM w GROUP BY 1
        ORDER BY score DESC, doc_id ASC
        LIMIT {_SEARCH_K}
        """,
        doc="BM25 keyword-search serving: term-filtered postings, per-doc "
        "agg, TakeOrderedAndProject top-10",
    )
)


# ---------------------------------------------------------------------------
# embedding outlier pruning (centroid-distance z-score)
# ---------------------------------------------------------------------------
def q_embedding_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dist, z, is_outlier): distance to the corpus centroid,
    z-scored over the corpus — the curation pass that prunes off-manifold
    junk embeddings (encoder failures, empty inputs) before they reach
    dedup/retrieval indexes.  is_outlier ⟺ |z| > 2.

    Scale shape: ONE explode of the vector column feeds a d-row per-dim
    mean (map-side combine), broadcast back onto the exploded stream for
    a per-vec distance aggregation; the corpus mean/std of distances is
    a second broadcast scalar.  No shuffle ever carries more than the
    exploded stream, and model state is d + 2 numbers.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("pos", "xf"),
    ).select("vec_id", "pos", F.col("xf").cast("double").alias("x"))
    cent = e.groupBy("pos").agg(F.avg("x").alias("mu"))
    dist = (
        e.join(F.broadcast(cent), "pos")
        .groupBy("vec_id")
        .agg(
            F.sqrt(F.sum((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))))
            .alias("dist")
        )
    )
    stats = dist.agg(
        F.avg("dist").alias("md"), F.stddev_pop("dist").alias("sd")
    )
    # the BOOLEAN decision must be taken on the ROUNDED z (repo rule:
    # float sums are order-dependent in the last ulp across engines, and
    # booleans get no tolerance in the driver's hash gate)
    z9 = F.round((F.col("dist") - F.col("md")) / F.col("sd"), 9)
    return dist.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "dist",
        ((F.col("dist") - F.col("md")) / F.col("sd")).alias("z"),
        (F.abs(z9) > 2.0).alias("is_outlier"),
    )


register(
    QuerySpec(
        "embedding_outlier_flags",
        q_embedding_outlier_flags,
        """
        WITH e AS (
            SELECT vec_id, i.i AS pos, CAST(embedding[i.i] AS DOUBLE) AS x
            FROM embeddings, range(1, 65) i(i)
            WHERE i.i <= len(embedding)
        ),
        cent AS (SELECT pos, AVG(x) AS mu FROM e GROUP BY 1),
        dist AS (
            SELECT e.vec_id, sqrt(SUM((e.x - c.mu) * (e.x - c.mu))) AS dist
            FROM e JOIN cent c USING (pos)
            GROUP BY 1
        ),
        stats AS (SELECT AVG(dist) AS md, stddev_pop(dist) AS sd FROM dist)
        SELECT vec_id, dist,
               (dist - md) / sd AS z,
               abs(round((dist - md) / sd, 9)) > 2.0 AS is_outlier
        FROM dist CROSS JOIN stats
        """,
        doc="embedding curation: centroid-distance z-score outlier flags "
        "(d-row centroid broadcast, per-vec agg, scalar stats)",
    )
)


# ---------------------------------------------------------------------------
# contrastive hard-pair mining over the labeled embedding corpus
# ---------------------------------------------------------------------------
def q_hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query vector (the vec_id % 50 == 0 split): the most-similar
    SAME-label corpus vector (positive) and DIFFERENT-label corpus
    vector (hard negative) — batch mining of contrastive/triplet
    training pairs (operators/ann.hard_pairs_cross blocked GEMM;
    quantized cosines keep the argmax bit-identical across engines)."""
    from ..operators.ann import hard_pairs_cross

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return hard_pairs_cross(
        queries, corpus, corpus_key=f"{sf_dir}:hardpair_corpus"
    )


register(
    QuerySpec(
        "hard_negative_pairs",
        q_hard_negative_pairs,
        """
        WITH e AS (
            SELECT vec_id, i.i AS pos,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5)
                        AS BIGINT) AS xq
            FROM embeddings, range(1, 65) i(i)
            WHERE i.i <= len(embedding)
        ),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                FROM embeddings),
        dots AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot
            FROM e a JOIN e b ON a.pos = b.pos
            WHERE a.vec_id % 50 = 0 AND b.vec_id % 50 <> 0
            GROUP BY 1, 2
        ),
        coss AS (
            -- nrm > 0 guards: a zero-norm vector has no direction, so it
            -- is neither mined nor a neighbor (the Spark kernel masks
            -- validity the same way; NaN ordering would diverge)
            SELECT d.vec_id, d.neighbor_id,
                   la.label AS qlab, lb.label AS nlab,
                   d.dot / (na.nrm * nb.nrm) AS cosine
            FROM dots d
            JOIN norms na ON d.vec_id = na.vec_id AND na.nrm > 0
            JOIN norms nb ON d.neighbor_id = nb.vec_id AND nb.nrm > 0
            JOIN lab la ON d.vec_id = la.vec_id
            JOIN lab lb ON d.neighbor_id = lb.vec_id
        ),
        best AS (
            SELECT vec_id, qlab, neighbor_id, cosine,
                   CASE WHEN qlab = nlab THEN 'pos' ELSE 'neg' END AS cat,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id,
                                    CASE WHEN qlab = nlab THEN 'pos'
                                         ELSE 'neg' END
                       ORDER BY cosine DESC, neighbor_id ASC) AS rn
            FROM coss
        )
        SELECT vec_id, qlab AS label,
               MAX(CASE WHEN cat = 'pos' THEN neighbor_id END) AS pos_id,
               MAX(CASE WHEN cat = 'pos' THEN cosine END) AS pos_cosine,
               MAX(CASE WHEN cat = 'neg' THEN neighbor_id END) AS neg_id,
               MAX(CASE WHEN cat = 'neg' THEN cosine END) AS neg_cosine
        FROM best WHERE rn = 1
        GROUP BY 1, 2
        """,
        doc="contrastive hard-pair mining: per-query best same-label and "
        "different-label corpus neighbors (blocked GEMM, quantized-exact "
        "argmax)",
    )
)


# ---------------------------------------------------------------------------
# n-gram novelty scoring (curation originality signal)
# ---------------------------------------------------------------------------
def q_doc_novelty_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, n_unique, novelty_frac): fraction of a doc's
    3-gram shingles that occur NOWHERE else in the corpus — the
    originality signal curation pipelines use to up-weight novel content
    and down-weight recombined boilerplate.

    One df groupBy over the shared shingle stream (map-side combine),
    joined back on the shingle key, one per-doc rollup.  Docs with fewer
    than 3 tokens have no shingles and no row (both engines agree).
    """
    sh = _shingles3(spark, sf_dir)
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            (F.col("n_unique") / F.col("n_shingles")).alias("novelty_frac"),
        )
    )


register(
    QuerySpec(
        "doc_novelty_stats",
        q_doc_novelty_stats,
        f"""
        WITH {_SHINGLE_CTE},
        df AS (SELECT shingle, COUNT(*) AS df FROM shing GROUP BY 1)
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                   AS novelty_frac
        FROM shing s JOIN df USING (shingle)
        GROUP BY 1
        """,
        doc="3-gram novelty scoring: fraction of corpus-unique shingles "
        "per doc (curation originality signal)",
    )
)


# ---------------------------------------------------------------------------
# LSH banding quality: recall of the candidate set vs exact Jaccard pairs
# ---------------------------------------------------------------------------
_RECALL_TAU = 0.35


def q_lsh_recall_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row evaluation of the MinHash banding config: how many of the
    EXACT Jaccard ≥ 0.35 pairs does the LSH candidate set recover, and
    how much does it over-generate — the measurement loop for tuning
    bands/rows_per_band (recall up, candidate volume down).

    Exact side: the capped shingle pair join (df ≤ 100, the same scale
    guard `ngram_jaccard_topn` documents); candidate side: the banded
    signature join.  Both reuse the session-shared shingle/sid streams;
    the compare is one full-outer join on the pair key rolled into four
    counters.
    """
    exact = (
        _jacc_pairs100(spark, sf_dir)
        .filter(F.col("jaccard") >= _RECALL_TAU)
        .select("doc_i", "doc_j")
    )
    cand = _cands(spark, sf_dir).select("doc_i", "doc_j")
    both = exact.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)), ["doc_i", "doc_j"], "full_outer"
    )
    return both.agg(
        F.sum(F.when(F.col("t").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_pairs"),
        F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_candidates"),
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_recovered"),
        (
            F.sum(
                F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)
                .otherwise(0)
            )
            / F.greatest(
                F.sum(F.when(F.col("t").isNotNull(), 1).otherwise(0)),
                F.lit(1),
            )
        ).alias("recall"),
    )


register(
    QuerySpec(
        "lsh_recall_stats",
        q_lsh_recall_stats,
        f"""
        WITH {_SHINGLE_CTE},
        {_SID_CTE},
        shing_f AS (
            SELECT s.* FROM shing s JOIN (
                SELECT shingle FROM shing GROUP BY 1 HAVING COUNT(*) <= 100
            ) k USING (shingle)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing_f GROUP BY 1),
        exact AS (
            SELECT doc_i, doc_j FROM (
                SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
                       COUNT(*) AS inter
                FROM shing_f a JOIN shing_f b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ) i
            JOIN sizes ni ON i.doc_i = ni.doc_id
            JOIN sizes nj ON i.doc_j = nj.doc_id
            WHERE i.inter * 1.0 / (ni.n + nj.n - i.inter) >= {_RECALL_TAU}
        ),
        sig AS (
            SELECT doc_id,
                   {_minhash_sql_cols()}
            FROM sids GROUP BY doc_id
        ),
        bands AS ({_lsh_band_sql()}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
        ),
        cmp AS (
            SELECT COALESCE(e.doc_i, c.doc_i) AS doc_i,
                   COALESCE(e.doc_j, c.doc_j) AS doc_j,
                   e.doc_i IS NOT NULL AS t,
                   c.doc_i IS NOT NULL AS c
            FROM exact e FULL OUTER JOIN cand c
              ON e.doc_i = c.doc_i AND e.doc_j = c.doc_j
        )
        SELECT CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true_pairs,
               CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_candidates,
               CAST(SUM(CASE WHEN t AND c THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_recovered,
               SUM(CASE WHEN t AND c THEN 1 ELSE 0 END) * 1.0
                   / greatest(SUM(CASE WHEN t THEN 1 ELSE 0 END), 1)
                   AS recall
        FROM cmp
        """,
        doc="MinHash banding evaluation: recall of LSH candidates vs "
        "exact Jaccard >= 0.35 pairs + candidate volume (the tuning "
        "loop for bands/rows_per_band)",
    )
)


# ---------------------------------------------------------------------------
# MinHash sketch accuracy: estimated vs exact Jaccard on candidate pairs
# ---------------------------------------------------------------------------
def q_minhash_jaccard_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per candidate pair: the MinHash-estimated Jaccard (fraction of the
    64 signature components that agree) against the exact shingle-set
    Jaccard, plus the absolute error — the sketch-accuracy check that
    justifies replacing the exact O(Σdf²) pair join with signatures at
    scale.

    Candidates come from the banded join (never all-pairs); the exact
    side joins the per-doc shingle sets only for those pairs.
    """
    sids = _sids(spark, sf_dir)
    sigs = _sigs(spark, sf_dir)
    cand = _cands(spark, sf_dir).select("doc_i", "doc_j")
    a = sigs.select(
        F.col("doc_id").alias("doc_i"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(len(MINHASH_A))],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_j"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(len(MINHASH_A))],
    )
    agree = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(len(MINHASH_A))
    )
    est = cand.join(a, "doc_i").join(b, "doc_j").select(
        "doc_i",
        "doc_j",
        (agree / float(len(MINHASH_A))).alias("est_jaccard"),
    )
    sz = sids.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(
            sids.select(F.col("doc_id").alias("doc_i"), "sid"), "doc_i"
        )
        .join(
            sids.select(F.col("doc_id").alias("doc_j"), "sid"),
            ["doc_j", "sid"],
        )
        .groupBy("doc_i", "doc_j")
        .agg(F.count("*").alias("inter"))
    )
    exact = (
        cand.join(inter, ["doc_i", "doc_j"], "left")
        .join(sz.select(F.col("doc_id").alias("doc_i"), F.col("n").alias("ni")), "doc_i")
        .join(sz.select(F.col("doc_id").alias("doc_j"), F.col("n").alias("nj")), "doc_j")
        .select(
            "doc_i",
            "doc_j",
            (
                F.coalesce("inter", F.lit(0))
                / (F.col("ni") + F.col("nj") - F.coalesce("inter", F.lit(0)))
            ).alias("exact_jaccard"),
        )
    )
    return est.join(exact, ["doc_i", "doc_j"]).select(
        "doc_i",
        "doc_j",
        "est_jaccard",
        "exact_jaccard",
        F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).alias("abs_err"),
    )


register(
    QuerySpec(
        "minhash_jaccard_estimates",
        q_minhash_jaccard_estimates,
        f"""
        WITH {_SHINGLE_CTE},
        {_SID_CTE},
        sig AS (
            SELECT doc_id,
                   {_minhash_sql_cols()}
            FROM sids GROUP BY doc_id
        ),
        bands AS ({_lsh_band_sql()}),
        cand AS (
            SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        est AS (
            SELECT c.doc_i, c.doc_j,
                   ({" + ".join(f"CASE WHEN sa.mh{k} = sb.mh{k} THEN 1 ELSE 0 END" for k in range(len(MINHASH_A)))})
                       * 1.0 / {len(MINHASH_A)} AS est_jaccard
            FROM cand c
            JOIN sig sa ON c.doc_i = sa.doc_id
            JOIN sig sb ON c.doc_j = sb.doc_id
        ),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sids GROUP BY 1),
        inter AS (
            SELECT c.doc_i, c.doc_j, COUNT(*) AS inter
            FROM cand c
            JOIN sids a ON c.doc_i = a.doc_id
            JOIN sids b ON c.doc_j = b.doc_id AND a.sid = b.sid
            GROUP BY 1, 2
        )
        SELECT c.doc_i, c.doc_j, e.est_jaccard,
               COALESCE(i.inter, 0) * 1.0
                   / (ni.n + nj.n - COALESCE(i.inter, 0)) AS exact_jaccard,
               abs(e.est_jaccard
                   - COALESCE(i.inter, 0) * 1.0
                     / (ni.n + nj.n - COALESCE(i.inter, 0))) AS abs_err
        FROM cand c
        JOIN est e ON c.doc_i = e.doc_i AND c.doc_j = e.doc_j
        LEFT JOIN inter i ON c.doc_i = i.doc_i AND c.doc_j = i.doc_j
        JOIN sz ni ON c.doc_i = ni.doc_id
        JOIN sz nj ON c.doc_j = nj.doc_id
        """,
        doc="MinHash sketch accuracy: per-candidate estimated (signature "
        "agreement / 8) vs exact shingle Jaccard + abs error",
    )
)


# ---------------------------------------------------------------------------
# MMR diversified re-ranking over retrieval candidates
# ---------------------------------------------------------------------------
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998)
    of the retrieval candidates: for every held-out query vector the
    top-8 cosine candidates are greedily re-ranked into 3 selections by
    mmr(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ = 0.7 — the
    standard serving-side diversity pass after ANN retrieval.

    Scale shape: relevance comes from the blocked cross-table GEMM
    kernel (operators/ann.cosine_topk_cross — |Q|·|C| support, bounded
    tasks); after that NOTHING data-scale remains — candidate-candidate
    sims are an equi-join keyed on query_id (≤C² rows per query) with
    the dot product evaluated JVM-side via zip_with/aggregate over the
    fixed-point arrays, and each greedy step is one window argmax +
    anti-join over ≤C rows per query.  The greedy loop is UNROLLED
    (3 fixed steps), which is what makes it oracle-checkable: every
    relevance/sim is an exact integer-dot ratio (operators/ann.QUANT)
    and λ-arithmetic on exact doubles is engine-identical, so the DuckDB
    twin reproduces the selections bit-for-bit; ties break on id.
    """
    from ..operators.ann import QUANT, cosine_topk_cross

    lam = 0.7
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    cands = shared.materialized(
        spark,
        sf_dir,
        "mmr_cands",
        lambda: cosine_topk_cross(
            queries, corpus, k=8, corpus_key=f"{sf_dir}:retrieval_corpus"
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("neighbor_id").alias("cid"),
            F.col("cosine").alias("rel"),
        ),
    )
    qe = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(QUANT) + F.lit(0.5)),
        ).alias("xq"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.zip_with("xq", "xq", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )
    a = cands.select("query_id", F.col("cid").alias("cid_a"))
    b = cands.select("query_id", F.col("cid").alias("cid_b"))
    pairs = a.join(b, "query_id").filter(F.col("cid_a") != F.col("cid_b"))
    ea = qe.select(
        F.col("vec_id").alias("cid_a"),
        F.col("xq").alias("xa"),
        F.col("nrm").alias("na"),
    )
    eb = qe.select(
        F.col("vec_id").alias("cid_b"),
        F.col("xq").alias("xb"),
        F.col("nrm").alias("nb"),
    )
    csims = shared.materialized(
        spark,
        sf_dir,
        "mmr_csims",
        lambda: pairs.join(ea, "cid_a")
        .join(eb, "cid_b")
        .select(
            "query_id",
            "cid_a",
            "cid_b",
            (
                F.aggregate(
                    F.zip_with("xa", "xb", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / (F.col("na") * F.col("nb"))
            ).alias("sim"),
        ),
    )
    sim_by_sel = csims.select(
        "query_id",
        F.col("cid_a").alias("cid"),
        F.col("cid_b").alias("sel"),
        "sim",
    )

    def pick(df: DataFrame, score: str) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col(score).desc(), F.col("cid").asc()
        )
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )

    s1 = pick(cands, "rel")
    rest1 = cands.join(
        s1.select("query_id", "cid"), ["query_id", "cid"], "left_anti"
    )
    m2 = (
        rest1.join(sim_by_sel, ["query_id", "cid"])
        .join(
            s1.select("query_id", F.col("cid").alias("sel")),
            ["query_id", "sel"],
        )
        .withColumn("mmr", lam * F.col("rel") - (1 - lam) * F.col("sim"))
    )
    s2 = pick(m2, "mmr")
    rest2 = rest1.join(
        s2.select("query_id", "cid"), ["query_id", "cid"], "left_anti"
    )
    sel12 = s1.select("query_id", F.col("cid").alias("sel")).unionAll(
        s2.select("query_id", F.col("cid").alias("sel"))
    )
    m3 = (
        rest2.join(sim_by_sel, ["query_id", "cid"])
        .join(sel12, ["query_id", "sel"])
        .groupBy("query_id", "cid", "rel")
        .agg(F.max("sim").alias("pen"))
        .withColumn("mmr", lam * F.col("rel") - (1 - lam) * F.col("pen"))
    )
    s3 = pick(m3, "mmr")
    out = (
        s1.select(
            "query_id",
            F.lit(1).alias("selection_rank"),
            F.col("cid").alias("vec_id"),
            F.col("rel").alias("relevance"),
            F.col("rel").alias("mmr_score"),
        )
        .unionAll(
            s2.select(
                "query_id",
                F.lit(2).alias("selection_rank"),
                F.col("cid").alias("vec_id"),
                F.col("rel").alias("relevance"),
                F.col("mmr").alias("mmr_score"),
            )
        )
        .unionAll(
            s3.select(
                "query_id",
                F.lit(3).alias("selection_rank"),
                F.col("cid").alias("vec_id"),
                F.col("rel").alias("relevance"),
                F.col("mmr").alias("mmr_score"),
            )
        )
    )
    return out.orderBy("query_id", "selection_rank")


register(
    QuerySpec(
        "mmr_diversified_topk",
        q_mmr_diversified_topk,
        """
        WITH e AS (
            SELECT vec_id, i.i AS pos,
                   CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 4194304 + 0.5)
                        AS BIGINT) AS xq
            FROM embeddings, range(1, 1025) i(i)
            WHERE i.i <= len(embedding)
        ),
        norms AS (
            SELECT vec_id, sqrt(CAST(SUM(xq * xq) AS DOUBLE)) AS nrm
            FROM e GROUP BY 1
        ),
        rel AS (
            SELECT a.vec_id AS query_id, b.vec_id AS cid,
                   CAST(SUM(a.xq * b.xq) AS DOUBLE) / (na.nrm * nb.nrm)
                       AS rel
            FROM e a JOIN e b ON a.pos = b.pos
            JOIN norms na ON na.vec_id = a.vec_id
            JOIN norms nb ON nb.vec_id = b.vec_id
            WHERE a.vec_id % 50 = 0 AND b.vec_id % 50 <> 0
            GROUP BY 1, 2, na.nrm, nb.nrm
        ),
        cand AS (
            SELECT query_id, cid, rel FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY rel DESC, cid ASC) AS rk
                FROM rel
            ) WHERE rk <= 8
        ),
        cpair AS (
            SELECT c1.query_id, c1.cid AS cid_a, c2.cid AS cid_b
            FROM cand c1 JOIN cand c2
              ON c1.query_id = c2.query_id AND c1.cid <> c2.cid
        ),
        csim AS (
            SELECT p.query_id, p.cid_a, p.cid_b,
                   CAST(SUM(ea.xq * eb.xq) AS DOUBLE) / (na.nrm * nb.nrm)
                       AS sim
            FROM cpair p
            JOIN e ea ON ea.vec_id = p.cid_a
            JOIN e eb ON eb.vec_id = p.cid_b AND eb.pos = ea.pos
            JOIN norms na ON na.vec_id = p.cid_a
            JOIN norms nb ON nb.vec_id = p.cid_b
            GROUP BY p.query_id, p.cid_a, p.cid_b, na.nrm, nb.nrm
        ),
        s1 AS (
            SELECT query_id, cid, rel FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY rel DESC, cid ASC) AS rk
                FROM cand
            ) WHERE rk = 1
        ),
        m2 AS (
            SELECT r.query_id, r.cid, r.rel,
                   0.7 * r.rel - 0.3 * cs.sim AS mmr
            FROM cand r
            JOIN s1 ON s1.query_id = r.query_id AND r.cid <> s1.cid
            JOIN csim cs ON cs.query_id = r.query_id
                        AND cs.cid_a = r.cid AND cs.cid_b = s1.cid
        ),
        s2 AS (
            SELECT query_id, cid, rel, mmr FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY mmr DESC, cid ASC) AS rk
                FROM m2
            ) WHERE rk = 1
        ),
        m3 AS (
            SELECT r.query_id, r.cid, r.rel,
                   0.7 * r.rel - 0.3 * MAX(cs.sim) AS mmr
            FROM cand r
            JOIN s1 ON s1.query_id = r.query_id AND r.cid <> s1.cid
            JOIN s2 ON s2.query_id = r.query_id AND r.cid <> s2.cid
            JOIN csim cs ON cs.query_id = r.query_id AND cs.cid_a = r.cid
                        AND cs.cid_b IN (s1.cid, s2.cid)
            GROUP BY r.query_id, r.cid, r.rel
        ),
        s3 AS (
            SELECT query_id, cid, rel, mmr FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY mmr DESC, cid ASC) AS rk
                FROM m3
            ) WHERE rk = 1
        )
        SELECT query_id, 1 AS selection_rank, cid AS vec_id,
               rel AS relevance, rel AS mmr_score FROM s1
        UNION ALL
        SELECT query_id, 2, cid, rel, mmr FROM s2
        UNION ALL
        SELECT query_id, 3, cid, rel, mmr FROM s3
        ORDER BY query_id, selection_rank
        """,
        doc="MMR diversified re-ranking (Carbonell & Goldstein 1998) of "
        "retrieval candidates: 3 unrolled greedy steps, λ=0.7; exact "
        "fixed-point sims so the twin matches bit-for-bit",
    )
)


# ---------------------------------------------------------------------------
# per-document keyword extraction (top TF-IDF terms)
# ---------------------------------------------------------------------------
def q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword-extraction pass a
    training-data pipeline runs for topic tagging / indexing metadata.

    Scale shape: re-ranks the already-computed TF-IDF weight table (one
    token shuffle, shared with `tfidf_weights`) with a per-doc window —
    partial WindowGroupLimit trims to k map-side before the doc-keyed
    exchange.  Weights are single-op floats (sqrt·ln, engine-identical),
    rounded to 9 for an engine-stable rank cut; ties break on token.
    """
    from pyspark.sql import Window

    from ..functions.text import term_frequencies, tf_idf

    w = tf_idf(term_frequencies(_docs(spark, sf_dir))).withColumn(
        "weight", F.round("weight", 9)
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("token").asc()
    )
    return (
        w.withColumn("rank", F.row_number().over(rk).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "token", "weight")
        .orderBy("doc_id", "rank")
    )


register(
    QuerySpec(
        "doc_top_terms",
        q_doc_top_terms,
        f"""
        WITH {_TF_CTE},
        df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
        w AS (
            SELECT doc_id, token,
                   ROUND(sqrt(tf) * ln(n_docs / (1.0 + df.df)), 9) AS weight
            FROM tf JOIN df USING (token) CROSS JOIN n
        )
        SELECT doc_id, rank, token, weight FROM (
            SELECT doc_id, token, weight,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY weight DESC, token ASC) AS INT) AS rank
            FROM w
        ) WHERE rank <= 3
        ORDER BY doc_id, rank
        """,
        doc="per-doc keyword extraction: top-3 TF-IDF terms via per-doc "
        "window over the shared weight table",
    )
)


# ---------------------------------------------------------------------------
# impact-ordered inverted-index truncation (top docs per token)
# ---------------------------------------------------------------------------
def q_token_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact-ordered posting lists, truncated: the top-5 documents per
    token by BM25 weight — the index-side counterpart of
    `bm25_search_topk` (static index pruning / impact ordering: serving
    reads only the head of each posting list, the standard IR move that
    bounds per-term work at any corpus size).

    Scale shape: re-ranks the shared BM25 weight table with a per-token
    window (partial WindowGroupLimit trims to k map-side before the
    token-keyed exchange); weights round to 9 for an engine-stable cut,
    ties break on doc_id.
    """
    from pyspark.sql import Window

    from ..functions.text import bm25, term_frequencies

    w = bm25(
        term_frequencies(_docs(spark, sf_dir)), k1=1.2, b=0.75
    ).withColumn("weight", F.round("weight", 9))
    rk = Window.partitionBy("token").orderBy(
        F.col("weight").desc(), F.col("doc_id").asc()
    )
    return (
        w.withColumn("rank", F.row_number().over(rk).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("token", "rank", "doc_id", "weight")
        .orderBy("token", "rank")
    )


register(
    QuerySpec(
        "token_top_docs",
        q_token_top_docs,
        f"""
        WITH {_TF_CTE},
        df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        dl AS (SELECT doc_id, SUM(tf) AS row_sum FROM tf GROUP BY 1),
        al AS (SELECT AVG(row_sum) AS avg_len FROM dl),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
        w AS (
            SELECT tf.doc_id, tf.token,
                   ROUND(tf.tf * (1.2 + 1.0)
                     / (1.2 * ((1.0 - 0.75) + 0.75 * dl.row_sum / al.avg_len)
                        + tf.tf)
                     * ln(n.n_docs / (1.0 + df.df)), 9) AS weight
            FROM tf
            JOIN df USING (token)
            JOIN dl USING (doc_id)
            CROSS JOIN al CROSS JOIN n
        )
        SELECT token, rank, doc_id, weight FROM (
            SELECT token, doc_id, weight,
                   CAST(ROW_NUMBER() OVER (PARTITION BY token
                        ORDER BY weight DESC, doc_id ASC) AS INT) AS rank
            FROM w
        ) WHERE rank <= 5
        ORDER BY token, rank
        """,
        doc="impact-ordered inverted-index truncation: top-5 docs per "
        "token by BM25 weight (static index pruning)",
    )
)
