"""Near-duplicate detection: shingling, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline extension (BASELINE.json north star) — the reference
has no text dedup; these follow the standard constructions (Broder '97
MinHash, Charikar '02 SimHash) expressed as DataFrame programs.

Portability design: MinHash/SimHash need integer token ids and a hash
family.  For oracle-checkable determinism we use
  - token/shingle ids from a dense_rank over the sorted distinct corpus
    (identical in any engine), and
  - the affine family h_k(x) = (a_k·x + b_k) mod P, P = 2^31−1,
with constants small enough that products stay < 2^63 (no overflow, no
engine-specific wraparound).  At 100 TB the dense_rank global sort is the
bottleneck — swap `shingle_ids_portable` for `shingle_ids_hashed`
(xxhash64, shuffle-free, same downstream algebra) when cross-engine
replayability isn't required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import sizing

#: modulus and affine constants for the MinHash family (shared with the
#: oracle-SQL generators in plans/dedupops.py)
MINHASH_P = 2_147_483_647

#: production signature width.  8 components give 1/8 Jaccard resolution —
#: the round-5 `minhash_jaccard_estimates` instrument quantified estimate
#: errors up to ~0.3 at that width; 64 components bring the expected
#: abs-error under 1/√64 ≈ 0.06 (instrument-pinned ≤ 0.1 in pytest) and
#: support the production banding below.
MINHASH_COMPONENTS = 64

#: banding default: 16 bands × 4 rows — threshold (1/16)^(1/4) ≈ 0.5, the
#: standard near-dup operating point; 4-component buckets make candidate
#: volume far more precise than the former 2-component buckets while the
#: 16 bands keep recall at j ≥ 0.7 above 0.98 (1 − (1 − j⁴)¹⁶).
DEFAULT_ROWS_PER_BAND = 4


def _extend_constants(base: tuple, mult: int, inc: int) -> tuple:
    """Deterministically extend the historical 8 literals to
    MINHASH_COMPONENTS with a Lehmer-style recurrence.  Values stay in
    [1, P−1], so sid·a < 2^62 — no int64 overflow in any engine; the
    generated values are embedded as LITERALS into the oracle SQL, so
    both engines evaluate the identical family."""
    out = list(base)
    while len(out) < MINHASH_COMPONENTS:
        out.append((out[-1] * mult + inc) % (MINHASH_P - 1) + 1)
    return tuple(out)


MINHASH_A = _extend_constants(
    (1000003, 1000033, 1000037, 1000039, 1000081, 1000099, 1000117, 1000121),
    48271,
    0,
)
MINHASH_B = _extend_constants(
    (12345, 23456, 34567, 45678, 56789, 67890, 78901, 89012), 16807, 12345
)

#: SimHash bit-hash constants: bit_j(x) = [((x·SA_j + SB_j) mod P) > P/2]
SIMHASH_BITS = 16
SIMHASH_A = tuple(15485863 + 2038074743 * j % 1000000007 for j in range(SIMHASH_BITS))
SIMHASH_B = tuple(97 + 1009 * j for j in range(SIMHASH_BITS))


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, tokens array) — whitespace split, empties dropped."""
    return docs.select(
        "doc_id",
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "").alias("tokens"),
    )


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    posexplode + lead() window: n-gram assembly happens in codegen'd
    concat/lead expressions.  The alternative (transform over
    sequence(1, len−n+1) with element_at) is shuffle-free but measured
    ~4-5× slower — Catalyst evaluates higher-order lambdas interpreted,
    outside whole-stage codegen.  The window shuffle keys on doc_id, which
    the dedup needs anyway, so the exchange is shared.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", k).over(w) for k in range(1, n)]
    return (
        toks.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("shingle"),
            F.lead("tok", n - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
        .dropDuplicates(["doc_id", "shingle"])
    )


def ngram_jaccard_pairs(
    doc_shingles: DataFrame,
    top_n: int | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Pairwise Jaccard over shingle sets: (doc_i, doc_j, inter, n_i, n_j,
    jaccard), doc_i < doc_j.

    The candidate join is on the shingle value — only docs SHARING a
    shingle ever meet, so the cost is Σ_shingle deg², not |docs|².  That
    sum is quadratic in per-shingle document frequency, so hot shingles
    (boilerplate runs) dominate it; `max_shingle_df` removes shingles with
    df above the cap from the shingle SETS (both intersection and sizes —
    jaccard stays a true Jaccard over the filtered sets, the stop-word
    convention of near-dup mining).  A df-capped shingle carries almost no
    similarity signal (it co-occurs everywhere) while contributing df²
    join rows — the cap bounds the hottest key at df², making the pair
    join skew-safe at any corpus size.
    """
    if max_shingle_df is not None:
        keep = (
            doc_shingles.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        # same key as the pair join below — the shuffle partitioning is
        # produced once and reused by AQE
        doc_shingles = doc_shingles.join(keep, "shingle")
    sizes = doc_shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = doc_shingles.select(F.col("doc_id").alias("doc_i"), "shingle")
    b = doc_shingles.select(F.col("doc_id").alias("doc_j"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_i") < F.col("doc_j"))
        .groupBy("doc_i", "doc_j")
        .agg(F.count("*").alias("inter"))
    )
    ni = sizes.select(F.col("doc_id").alias("doc_i"), F.col("n").alias("n_i"))
    nj = sizes.select(F.col("doc_id").alias("doc_j"), F.col("n").alias("n_j"))
    out = (
        inter.join(F.broadcast(ni), "doc_i")
        .join(F.broadcast(nj), "doc_j")
        .select(
            "doc_i",
            "doc_j",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("n_i").cast("bigint").alias("n_i"),
            F.col("n_j").cast("bigint").alias("n_j"),
            (
                F.col("inter")
                / (F.col("n_i") + F.col("n_j") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    if top_n is not None:
        out = out.orderBy(
            F.col("jaccard").desc(), F.col("doc_i").asc(), F.col("doc_j").asc()
        ).limit(top_n)
    return out


def distributed_ordered_ids(
    values: DataFrame,
    col: str,
    out_col: str = "sid",
    small_threshold: int = 2_000_000,
) -> DataFrame:
    """Contiguous 1-based ids in sorted order of `col` — a distributed
    replacement for `dense_rank() OVER (ORDER BY col)` on DISTINCT values.

    The empty-frame global window funnels every row through ONE task; this
    is the classic two-phase ranking instead: range-partition on the key,
    rank within each partition (parallel windows), then add per-partition
    offsets (a tiny count-per-partition job broadcast back).  Output is
    byte-identical to the global dense_rank (tested), so oracle parity is
    preserved while the sort scales with the cluster.
    """
    spark = values.sparkSession
    # one range partition per task slot, floor 2 (a sort, not a kernel
    # grid: its width stays core-bound)
    n_part = max(2, sizing.cores(spark))
    values = values.persist()  # scanned by 3-4 jobs below; tiny (distinct keys)
    n_values = values.count()
    if n_values <= small_threshold:
        # below the threshold a single-task sort is cheaper than the extra
        # boundary/offset jobs; output is identical either way
        out = values.withColumn(
            out_col,
            F.row_number().over(Window.orderBy(col)).cast("bigint"),
        ).localCheckpoint()  # eager: snapshot the RANK, then free the input
        values.unpersist()
        return out
    # deterministic range boundaries: a hash-sampled sketch of the key
    # space, quantiled on the driver.  (repartitionByRange would resample
    # boundaries on EVERY execution of the plan, so the offsets collected
    # below could disagree with the final job — bucket assignment must be
    # a pure expression over the row.)
    mod = max(1, n_values // (n_part * 100))
    sample = sorted(
        r[0]
        for r in values.filter(
            F.pmod(F.xxhash64(F.col(col)), F.lit(mod)) == 0
        ).collect()
    )
    bounds = []
    for i in range(1, n_part):
        b = sample[i * len(sample) // n_part] if sample else None
        if b is not None and (not bounds or b > bounds[-1]):
            bounds.append(b)
    if bounds:
        pid = F.size(
            F.filter(
                F.array(*[F.lit(b) for b in bounds]), lambda b: F.col(col) > b
            )
        )
    else:
        pid = F.lit(0)
    tagged = values.withColumn("_pid", pid)
    w = Window.partitionBy("_pid").orderBy(col)
    local = tagged.withColumn("_rn", F.row_number().over(w))
    # partition counts are ≤ n_part rows — driver-side cumulative offsets
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in tagged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for p, cnt in counts:
        offsets.append((p, acc))
        acc += cnt
    off_df = spark.createDataFrame(offsets, "_pid int, _off bigint")
    # eagerly snapshot the ranked output and release the input persist:
    # callers would otherwise stack one never-unpersisted vocabulary copy
    # per invocation (per-epoch samplers call this in a loop), and every
    # downstream action would re-run the rank windows
    out = (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_rn") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_rn", "_off")
        .localCheckpoint()
    )
    values.unpersist()
    return out


def shingle_ids_portable(doc_shingles: DataFrame) -> DataFrame:
    """(doc_id, sid): shingle ids in sorted-corpus order — identical to
    `dense_rank() OVER (ORDER BY shingle)` (the oracle formulation) but
    computed with the distributed two-phase rank above, so no single-task
    global sort at scale.
    """
    distinct = doc_shingles.select("shingle").distinct()
    ids = distributed_ordered_ids(distinct, "shingle")
    return doc_shingles.join(ids, "shingle").select("doc_id", "sid")


def shingle_ids_hashed(doc_shingles: DataFrame) -> DataFrame:
    """(doc_id, sid) via xxhash64 — shuffle-free, the 100 TB path."""
    return doc_shingles.select(
        "doc_id", F.pmod(F.xxhash64("shingle"), F.lit(MINHASH_P)).alias("sid")
    )


def minhash_signatures(doc_sids: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{N-1}): MINHASH_COMPONENTS affine min-hashes per
    doc — ONE hash agg regardless of width (64 conditional mins stay in
    whole-stage codegen; signature width costs no extra shuffle)."""
    aggs = [
        F.min((F.col("sid") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{k}")
        for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return doc_sids.groupBy("doc_id").agg(*aggs)


def band_buckets(
    signatures: DataFrame,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, bucket): THE LSH band wire format — band index plus the
    '_'-joined stringified signature components of that band.

    Single definition shared by the batch candidate join, the incremental
    batch-vs-index dedup, and the streaming row-wise path: cross-path
    (band, bucket) equi-joins only ever match when every producer uses
    this one constructor (and the same signature-id convention — see
    streaming/ingest.rowwise_minhash_bands).  One array+explode pass, no
    per-band union."""
    n_bands = len(MINHASH_A) // rows_per_band
    arr = F.array(
        *[
            F.struct(
                F.lit(bidx).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{bidx * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for bidx in range(n_bands)
        ]
    )
    return signatures.select(id_col, F.explode(arr).alias("_b")).select(
        id_col,
        F.col("_b.band").alias("band"),
        F.col("_b.bucket").alias("bucket"),
    )


def minhash_lsh_candidates(
    signatures: DataFrame, rows_per_band: int = DEFAULT_ROWS_PER_BAND
) -> DataFrame:
    """Candidate pairs sharing >= 1 LSH band: (doc_i, doc_j, n_shared_bands).

    Bands of `rows_per_band` consecutive signature components; docs agreeing
    on ALL components of a band land in the same bucket.  The join is on the
    (band, component values) key — never all-pairs.
    """
    bands = band_buckets(signatures, rows_per_band)
    a = bands.select(F.col("doc_id").alias("doc_i"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_j"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_i") < F.col("doc_j"))
        .groupBy("doc_i", "doc_j")
        .agg(F.count("*").cast("bigint").alias("n_shared_bands"))
    )


def simhash_fingerprints(doc_sids: DataFrame) -> DataFrame:
    """(doc_id, simhash): 16-bit SimHash from token/shingle ids.

    bit_j = sign of Σ_tokens (±1), +1 when the affine hash of the id sets
    bit j.  One hash agg with 16 conditional sums — stays in codegen.
    """
    half = MINHASH_P // 2
    bit_sums = [
        F.sum(
            F.when(
                (F.col("sid") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P) > half,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"s{j}")
        for j, (a, b) in enumerate(zip(SIMHASH_A, SIMHASH_B))
    ]
    sums = doc_sids.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select("doc_id", fp.cast("bigint").alias("simhash"))


def simhash_neardup_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    n_blocks: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(doc_i, doc_j, hamming): pairs of documents whose SimHash
    fingerprints differ in ≤ `max_hamming` bits — the standard bit-block
    candidate generation (Manku et al., WWW'07 "Detecting near-duplicates
    for web crawling" §3).

    Fingerprints split into `n_blocks` equal bit blocks; by pigeonhole any
    pair within hamming d < n_blocks shares at least one identical block,
    so an equi-join on (block_index, block_value) finds EVERY qualifying
    pair (exact recall for max_hamming ≤ n_blocks − 1) while only
    same-block docs ever meet — Σ_bucket deg² work, never all-pairs.
    The verify step is one codegen expression (bit_count of xor).
    """
    assert max_hamming <= n_blocks - 1, "banding guarantee requires d < blocks"
    width = bits // n_blocks
    mask = (1 << width) - 1
    blk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("blk"),
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(n_blocks)
            ]
        )
    ).alias("bk")
    blocks = fingerprints.select("doc_id", "simhash", blk).select(
        "doc_id", "simhash", F.col("bk.blk").alias("blk"), F.col("bk.val").alias("val")
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_i"), F.col("simhash").alias("h_i"), "blk", "val"
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_j"), F.col("simhash").alias("h_j"), "blk", "val"
    )
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col("doc_i") < F.col("doc_j"))
        .select("doc_i", "doc_j", "h_i", "h_j")
        .distinct()
        .select(
            "doc_i",
            "doc_j",
            F.bit_count(F.col("h_i").bitwiseXOR(F.col("h_j")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
