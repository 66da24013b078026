"""Deduplication operators (exact, MinHash+LSH, SimHash, n-gram
Jaccard) — generic over any DataFrame with an id column and a text (or
arbitrary content) column; the registered queries instantiate them on
the ``documents`` table with DuckDB oracle mirrors.

LLM-training-data dedup at 100 TB is the design point (BASELINE.json
north star). Shuffle discipline per family:

* **exact** — md5 group-by; one shuffle of 32-char digests, never of
  the full text.
* **MinHash + LSH near-dup** — word-shingle → k-way minhash (single
  aggregate pass) → b bands × r rows → candidates via equi-join on
  (band, signature) → exact Jaccard re-rank of candidates only.  The
  candidate join is the only pairwise step and touches candidate pairs,
  not n² pairs.  Every hash is md5-based (functions/texthash.py) so the
  DuckDB oracle reproduces values bit-for-bit.
* **SimHash** — 64-bit fingerprint via per-token hex-digit bit votes.
* **n-gram Jaccard** — inverted-index self-join on shared shingles
  (exact, for when candidate recall must be 100%).

The reference has only implicit exact-dedup surface (distinct,
smote_sampling.py:9); everything else is north-star extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.functions import texthash as th
from data_warehouse_data_mining_spark.operators.graph import _directed, min_labels
from data_warehouse_data_mining_spark.registry import register

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = 4
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.35

# ---------------------------------------------------------------------------
# Generic API (any DataFrame, any columns)
# ---------------------------------------------------------------------------


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """(id, shingle): distinct word-n-gram shingles per document.

    If the input arrives in fewer partitions than the session's
    parallelism (small corpora, few unsplittable files), it is
    repartitioned so the CPU-heavy shingling+hashing map stage uses
    every core. When the input is already wide — the 100 TB case, where
    a parquet corpus scans as thousands of splits — no reshuffle
    happens: repartitioning the full text there would be a pure extra
    shuffle of the largest column in the pipeline.

    Per-document dedup happens MAP-SIDE via array_distinct before the
    explode — a global .distinct() here would add a full shuffle of the
    exploded shingle table for a set that is already unique per (id,
    shingle) after the array-level dedup.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    ws = th.words(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(th.word_shingles(ws, n))).alias("shingle"),
    )


def exact_duplicates(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Canonical representative (min id) per content hash — the 100 TB
    shape: shuffle digests, not documents."""
    return df.groupBy(F.md5(content_col).alias("content_hash")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def minhash_signatures_table(
    shingles: DataFrame, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """(id, h0..h{k-1}, ns): the full signature AND the shingle-set size
    in ONE aggregate pass. One md5 per shingle seeds the whole affine
    hash family (texthash.md5_word) — the b1/b2 projection guarantees a
    single hash evaluation regardless of k."""
    base = shingles.select(
        "id",
        th.md5_word(F.col("shingle"), 1).alias("b1"),
        th.md5_word(F.col("shingle"), 9).alias("b2"),
    )
    return base.groupBy("id").agg(
        *th.affine_minhash_aggs(num_hashes), F.count(F.lit(1)).alias("ns")
    )


def lsh_band_table(
    signatures: DataFrame, bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """(id, band_id, sig): band signatures via one projection + explode
    (no multi-branch union re-reading the signature table)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                th.band_signature(b, rows_per_band).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select("id", F.explode(band_structs).alias("bs")).select(
        "id", F.col("bs.band_id").alias("band_id"), F.col("bs.sig").alias("sig")
    )


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """(id_a, id_b): distinct pairs sharing any (band, signature) — the
    only pairwise step, and it is an equi-join, never a cross join."""
    a = bands.select(
        F.col("id").alias("id_a"),
        F.col("band_id").alias("band_a"),
        F.col("sig").alias("sig_a"),
    )
    b = bands.select(
        F.col("id").alias("id_b"),
        F.col("band_id").alias("band_b"),
        F.col("sig").alias("sig_b"),
    )
    return (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("sig_a") == F.col("sig_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def _jaccard_rerank(
    pairs: DataFrame, shingles: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard for the given candidate pairs."""
    sa = shingles.select(F.col("id").alias("id_a"), F.col("shingle").alias("sh_a"))
    sb = shingles.select(F.col("id").alias("id_b2"), F.col("shingle").alias("sh_b"))
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("id_b2")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col("id").alias("id_a"), F.col("ns").alias("ns_a"))
    zb = sizes.select(F.col("id").alias("id_b"), F.col("ns").alias("ns_b"))
    jac = F.col("n_inter") / (F.col("ns_a") + F.col("ns_b") - F.col("n_inter"))
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def shingle_array_table(
    df: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """(id, shingles): the distinct word-n-gram shingle SET per document
    as one array row — the un-exploded twin of ``shingle_table``. Docs
    with fewer than ``n`` words (empty shingle set) are dropped, exactly
    as they vanish from the exploded table. No explode fan-out; the only
    possible shuffle is the same small-corpus parallelism guard as
    ``shingle_table`` (an unsplittable single-file input would otherwise
    run the CPU-heavy md5 stage on one core; an already-wide 100 TB scan
    is left untouched)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    ws = th.words(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(th.word_shingles(ws, n)).alias("shingles"),
    ).filter(F.size("shingles") > 0)


def near_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard re-rank —
    (id_a, id_b, jaccard).

    Shuffle shape: signatures come from the exploded shingle table's
    single hash-aggregate (whole-stage-codegen'd — the per-row
    array_min/zip_with alternative falls back to interpreted
    HigherOrderFunction eval and measures ~2× slower end-to-end); the
    candidate (band, signature) equi-join is the only pairwise step; the
    exact re-rank joins the SMALL candidate set back to the un-exploded
    shingle-array table and scores size(array_intersect) per pair — AQE
    broadcasts the candidate side, so the corpus is never re-shuffled
    for the re-rank (the former inverted-index re-rank shuffled the
    exploded table twice). The compact array table is the one persisted
    artifact: the raw text is scanned/shingled ONCE, both consumers read
    the cache, and the cached rows are shingle arrays, not the larger
    exploded table the previous version cached. On a cluster-scale
    corpus stage it to a parquet temp instead."""
    sharr = shingle_array_table(df, id_col, text_col, shingle_n).persist()
    sh = sharr.select("id", F.explode("shingles").alias("shingle"))
    sig = minhash_signatures_table(sh, num_hashes)
    candidates = lsh_candidate_pairs(lsh_band_table(sig, bands, rows_per_band))
    a = sharr.select(
        F.col("id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.size("shingles").alias("ns_a"),
    )
    b = sharr.select(
        F.col("id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.size("shingles").alias("ns_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.col("ns_a") + F.col("ns_b") - inter)
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def jaccard_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = SHINGLE_N,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard via inverted index: pairs form ONLY by
    joining on shared shingles (no crossJoin). Rare-shingle corpora keep
    this near-linear; degenerate hot shingles are AQE-skew-join
    territory."""
    sh = shingle_table(df, id_col, text_col, shingle_n).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("ns"))
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingle").alias("sh_b"))
    inter = (
        sa.join(sb, (F.col("sh_a") == F.col("sh_b")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col("id").alias("id_a"), F.col("ns").alias("ns_a"))
    zb = sizes.select(F.col("id").alias("id_b"), F.col("ns").alias("ns_b"))
    jac = F.col("n_inter") / (F.col("ns_a") + F.col("ns_b") - F.col("n_inter"))
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def _simhash_votes(
    df: DataFrame, id_col: str, text_col: str, n_hex_digits: int
) -> DataFrame:
    """(id, v0..v{4·n_hex_digits-1}): the shared SimHash bit-vote
    pipeline as ONE wide aggregate — per (doc, token) row the md5 hex
    digit values are projected once (n_hex_digits probes, not one per
    bit), then a single groupBy(id) computes a conditional ±cnt sum per
    fingerprint bit. No bit explode, no (id, bit_idx) shuffle: the
    shuffle carries one 4·n_hex_digits-long partial buffer per id per
    partition instead of up to 4·n_hex_digits rows (the r6 64× probe
    measured the exploded form's linear vote stage as the entire
    residual cost of simhash128 — this is the shave). Bit rule is
    unchanged — bit (p-1)*4+b is hex-digit p's bit (3-b), so the low 64
    bits of the 128-bit fingerprint still EQUAL the 64-bit fingerprint
    (test-pinned), and every oracle hash is bit-identical."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(th.words(F.col(text_col))).alias("w")
    )
    wc = tok.groupBy("id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    wc = wc.withColumn("h4", F.md5("w"))
    digits = wc.select(
        "id",
        "cnt",
        *[
            th.hex_digit_val(F.col("h4"), p).alias(f"d{p}")
            for p in range(1, n_hex_digits + 1)
        ],
    )
    # ONE parsed SQL string per vote aggregate (r14; the r13 texthash
    # F.expr precedent): the operator-by-operator Column composition
    # cost ~25k py4j round-trips (~4 s of driver time per build for the
    # 128 sums). Semantically identical: shiftright/& /CASE/sum parse
    # to the same expressions the Column API built.
    vote_sums = []
    for i in range(4 * n_hex_digits):
        p, b = i // 4 + 1, i % 4
        vote_sums.append(
            F.expr(
                f"sum(CASE WHEN (shiftright(d{p}, {3 - b}) & 1) = 1 "
                "THEN cnt ELSE -cnt END)"
            ).alias(f"v{i}")
        )
    return digits.groupBy("id").agg(*vote_sums)


def _votes_to_long(lo_bit: int) -> Column:
    """Signed-BIGINT fingerprint word from 64 wide vote columns
    v{lo_bit}..v{lo_bit+63}: OR together shiftleft(1, j) for every bit
    whose vote is positive (disjoint bits, so OR == the old SUM and bit
    63 lands as the sign bit without overflow checks)."""
    # one parsed OR-chain (r14, same py4j-cost rationale as
    # _simhash_votes); disjoint bits, so the chain equals the old
    # incremental fold bit for bit
    return F.expr(
        " | ".join(
            f"(CASE WHEN v{lo_bit + j} > 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), {j}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for j in range(64)
        )
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): 64-bit SimHash — per-token md5 hex digits vote on
    each fingerprint bit, weighted by token count. Entirely map+agg —
    two shuffles total, independent of corpus size per-row.

    64 bits (all 16 md5 hex digits), not fewer: the downstream banded
    candidate join splits the fingerprint into 4 disjoint 16-bit bands,
    so the bucket space is 4 × 65,536 — wide enough that bucket
    occupancy (and hence candidate-pair count) stays near-linear in
    corpus size. A 16-bit fingerprint with 4-bit bands has only 64
    buckets TOTAL, which degenerates to all-pairs-with-a-constant once
    the corpus dwarfs the bucket count. Bit 63 makes the signed BIGINT
    negative; that is fine — band extraction masks with & 65535, which
    is sign-agnostic, and Hamming uses bit_count(xor)."""
    votes = _simhash_votes(df, id_col, text_col, n_hex_digits=16)
    return votes.select("id", _votes_to_long(0).alias("simhash"))


def simhash128_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh_hi, sh_lo): 128-bit SimHash as two BIGINT halves — all 32
    md5 hex digits vote (the 64-bit table uses only the first 16). Same
    two-shuffle map+agg shape as simhash_table.

    Why 128 bits exist at all: banding's exact-recall pigeonhole needs
    more bands than differing bits, so a 64-bit fingerprint at
    max_hamming=3 can never band wider than 16 bits — 4 × 65,536
    buckets, whose per-bucket occupancy (and occupancy-squared
    candidate count) starts super-linear growth near 10⁶ docs (the r5
    64× probe measured it). 128 bits allow 4 × 2³² buckets at the same
    max_hamming=3, keeping occupancy ≪ 1 past 10¹⁰ docs — the decade
    headroom a 100 TB corpus needs."""
    votes = _simhash_votes(df, id_col, text_col, n_hex_digits=32)
    return votes.select(
        "id",
        _votes_to_long(64).alias("sh_hi"),
        _votes_to_long(0).alias("sh_lo"),
    )


# Auto-banding target: keep expected per-band bucket occupancy at or
# below ~4 docs, the regime where candidate pairs stay near-linear
# (pairs/bucket grows with occupancy², SCALING.md r5 probe). 16-bit
# bands hold occupancy ≤ 4 up to 2^18 docs; past that, 32-bit bands
# hold occupancy ≪ 1 to ~10^10 docs.
SIMHASH128_OCC_KNEE = (1 << 16) * 4


def simhash128_band_bits(n_docs: int, max_hamming: int = 3) -> int:
    """The SCALING.md sizing rule, band_bits ≳ log₂(n_docs/occupancy):
    prefer the occupancy-driven width (32 above the knee, 16 below),
    then clamp DOWN through every valid width (64-divisors, so bands
    tile both 64-bit halves) to the widest one whose band count still
    exceeds max_hamming — the pigeonhole exact-recall requirement."""
    preferred = 32 if n_docs > SIMHASH128_OCC_KNEE else 16
    for w in (32, 16, 8, 4, 2, 1):
        if w <= preferred and 128 // w > max_hamming:
            return w
    raise ValueError(
        f"max_hamming={max_hamming} needs more than 128 bands; a 128-bit "
        "fingerprint cannot guarantee exact recall at that radius"
    )


def simhash128_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    band_bits: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by 128-bit SimHash banding with
    AUTO-SIZED band width (band_bits=None, the default): the band width
    follows the corpus count via simhash128_band_bits, so the operator
    is scale-safe by default instead of by caller knowledge. The final
    (id_a, id_b, hamming ≤ max_hamming) result is IDENTICAL for every
    valid band width — banding is pure candidate generation and the
    pigeonhole guarantee (bands > max_hamming ⇒ every qualifying pair
    shares a band) makes recall exact — so auto-sizing changes cost,
    never answers."""
    if band_bits is None:
        if n_docs is None:
            n_docs = df.count()
        band_bits = simhash128_band_bits(n_docs, max_hamming)
    elif band_bits not in (1, 2, 4, 8, 16, 32):
        # 64-divisors only: bands must tile the two signed-BIGINT halves
        # exactly — a non-divisor width would sign-extend the top band
        # past bit 63 (and band_bits=0 would divide by zero below)
        raise ValueError(
            f"band_bits={band_bits} invalid; must be one of 1,2,4,8,16,32 "
            "so bands tile both 64-bit fingerprint halves"
        )
    n_bands = 128 // band_bits
    if n_bands <= max_hamming:
        raise ValueError(
            f"band_bits={band_bits} gives {n_bands} bands; exact recall "
            f"at max_hamming={max_hamming} needs bands > max_hamming"
        )
    mask = (1 << band_bits) - 1
    per_half = 64 // band_bits
    sh = simhash128_table(df, id_col, text_col)

    def band_val(b: int):
        if b < per_half:
            src, off = "sh_lo", band_bits * b
        else:
            src, off = "sh_hi", band_bits * (b - per_half)
        return (
            F.shiftright(src, off).bitwiseAND(F.lit(mask)).cast("long")
        )

    bands = sh.select(
        "id",
        "sh_hi",
        "sh_lo",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    band_val(b).alias("band_val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bd"),
    ).select("id", "sh_hi", "sh_lo", "bd.band_idx", "bd.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    ham128 = F.expr(
        "bit_count(a.sh_hi ^ b.sh_hi) + bit_count(a.sh_lo ^ b.sh_lo)"
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id"))
            # hamming verify fused INTO the join (r13, see the 64-bit
            # twin): pair-level check, so the distinct() shuffle is
            # pair-bounded instead of band-collision-bounded
            & (ham128 <= max_hamming),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham128.cast("int").alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Registered queries (documents-table instantiations with oracle mirrors)
# ---------------------------------------------------------------------------

_ORACLE_SHINGLES = f"""
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    shingles AS (
      SELECT DISTINCT doc_id,
             ws[pos] || ' ' || ws[pos + 1] || ' ' || ws[pos + 2] AS shingle
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {SHINGLE_N - 2})) AS pos
            FROM words WHERE len(ws) >= {SHINGLE_N})
    )
"""

def _oracle_hexword(lo: int) -> str:
    """Base-16 fold of md5 hex digits [lo, lo+8) — DuckDB twin of
    texthash.md5_word."""
    return (
        f"list_reduce(list_transform(range({lo}, {lo + 8}), "
        "i -> CAST(strpos('0123456789abcdef', substr(m, CAST(i AS INT), 1)) - 1"
        " AS BIGINT)), (a, b) -> a * 16 + b)"
    )


_ORACLE_MINHASH = (
    "mhbase AS (SELECT doc_id, "
    + _oracle_hexword(1)
    + " AS b1, "
    + _oracle_hexword(9)
    + " AS b2 FROM (SELECT doc_id, md5(shingle) AS m FROM shingles)), "
    "minhash AS (SELECT doc_id, "
    + ", ".join(
        f"min((b1 + {j} * b2) % {th.MINHASH_PRIME}) AS h{j}"
        for j in range(NUM_HASHES)
    )
    + " FROM mhbase GROUP BY doc_id)"
)


def _oracle_bands() -> str:
    branches = []
    for b in range(BANDS):
        cols = " || '|' || ".join(
            f"h{j}" for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        )
        branches.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS sig FROM minhash"
        )
    return "bands AS (" + " UNION ALL ".join(branches) + ")"


_ORACLE_CANDIDATES = """
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
"""


def _as_doc_pairs(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents (generic: exact_duplicates)."""
    d = load(spark, sf_dir).documents
    return exact_duplicates(d, "doc_id", "text").select(
        F.col("content_hash").alias("text_hash"),
        F.col("keep_id").alias("keep_doc_id"),
        "n_copies",
    )


@register(
    "minhash_signatures",
    oracle="WITH "
    + _ORACLE_SHINGLES
    + ", "
    + _ORACLE_MINHASH
    + " SELECT doc_id, h0, h7, h15 FROM minhash",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature computation (spot-checking 3 of the 16 hashes):
    one explode + one aggregate pass, no per-hash jobs."""
    sh = shingle_table(load(spark, sf_dir).documents, "doc_id", "text")
    return minhash_signatures_table(sh).select(
        F.col("id").alias("doc_id"), "h0", "h7", "h15"
    )


@register(
    "dedup_minhash_lsh",
    headline=True,
    oracle="WITH "
    + _ORACLE_SHINGLES
    + ", "
    + _ORACLE_MINHASH
    + ", "
    + _oracle_bands()
    + ", "
    + _ORACLE_CANDIDATES
    + f""",
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM candidates c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs on documents (generic: near_duplicate_pairs).
    See the generic function for the shuffle-shape analysis."""
    return _as_doc_pairs(
        near_duplicate_pairs(load(spark, sf_dir).documents, "doc_id", "text")
    )


@register("simhash_fingerprints", oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    wc AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
    bits AS (
      SELECT doc_id, cnt,
             (p - 1) * 4 + b AS bit_idx,
             CAST(floor((strpos('0123456789abcdef', substr(md5(w), p, 1)) - 1)
                        / CASE b WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)
                  AS INT) % 2 AS bit_val
      FROM wc,
           (SELECT unnest(range(1, 17)) AS p),
           (SELECT unnest(range(0, 4)) AS b)
    ),
    votes AS (
      SELECT doc_id, bit_idx,
             sum(CASE WHEN bit_val = 1 THEN cnt ELSE -cnt END) AS vote
      FROM bits GROUP BY doc_id, bit_idx
    ),
    -- bit 63 overflows a signed-BIGINT shift, so assemble unsigned in
    -- HUGEINT then two's-complement-convert to the signed 64-bit value
    -- Spark produces (shiftleft on a JVM long wraps to the sign bit).
    raw AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << bit_idx
                      ELSE CAST(0 AS HUGEINT) END) AS u
      FROM votes GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
                     ELSE u END AS BIGINT) AS simhash
    FROM raw
    """)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints on documents (generic: simhash_table)."""
    return simhash_table(load(spark, sf_dir).documents, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "simhash"
    )


@register(
    "ngram_jaccard_pairs",
    oracle="WITH "
    + _ORACLE_SHINGLES
    + """,
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles sa JOIN shingles sb
        ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter) >= 0.2
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs on documents (generic:
    jaccard_pairs_exact)."""
    return _as_doc_pairs(
        jaccard_pairs_exact(load(spark, sf_dir).documents, "doc_id", "text")
    )


# ---------------------------------------------------------------------------
# Near-duplicate clustering (connected components over the pair graph)
# ---------------------------------------------------------------------------


CC_MAX_ITERS = 20  # dedup pair graphs are shallow; bounds adversarial chains


# Shared recursive-CTE chain: LSH candidates → verified pairs →
# undirected edges → min-label reachability fixpoint. Terminal SELECTs
# differ per query (cluster table vs canonical-survivor selection).
_ORACLE_CLUSTERS_PREFIX = (
    "WITH RECURSIVE "
    + _ORACLE_SHINGLES
    + ", "
    + _ORACLE_MINHASH
    + ", "
    + _oracle_bands()
    + ", "
    + _ORACLE_CANDIDATES
    + f""",
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM candidates c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    )
    """
)


@register(
    "neardup_clusters",
    oracle=_ORACLE_CLUSTERS_PREFIX
    + """
    SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph (generic: graph.min_labels run to its fixpoint). The
    oracle mirrors the iterative Spark loop with a recursive CTE — same
    fixpoint, so the results hash-match. Output: (doc_id, cluster_id)
    for every doc in a near-dup cluster of size ≥ 2."""
    pairs = near_duplicate_pairs(load(spark, sf_dir).documents, "doc_id", "text")
    # every superstep joins the edge list, which would otherwise
    # recompute the whole LSH candidate pipeline each time
    edges = _directed(
        pairs.select(F.col("id_a").alias("lo"), F.col("id_b").alias("hi"))
    ).localCheckpoint(eager=True)
    return min_labels(edges, CC_MAX_ITERS, to_fixpoint=True).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@register(
    "dedup_keep_canonical",
    oracle=_ORACLE_CLUSTERS_PREFIX
    + """,
    clusters AS (
      SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id,
             row_number() OVER (
               PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id
             ) AS rn
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT cluster_id, doc_id,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_kept
    FROM ranked
    ORDER BY cluster_id, doc_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the step that turns near-dup clusters into
    a dedup DECISION: per cluster keep the longest document (ties →
    lowest doc_id), mark the rest dropped. This is the keep/drop
    manifest a corpus-cleaning pipeline joins back onto the corpus;
    composing it from neardup_clusters keeps the expensive LSH work
    shared.

    Scale shape: the cluster table is tiny next to the corpus (only
    docs in ≥2-doc clusters appear), the doc-length join is one
    broadcast-ready equi-join, and the canonical rank is a window over
    per-cluster groups — no global sort."""
    d = load(spark, sf_dir).documents
    clusters = neardup_clusters(spark, sf_dir)
    ranked = clusters.join(d.select("doc_id", "n_chars"), "doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
        ),
    )
    return ranked.select(
        "cluster_id",
        "doc_id",
        (F.col("rn") == 1).cast("int").alias("is_kept"),
    ).orderBy("cluster_id", "doc_id")


@register(
    "dedup_incremental_batch",
    oracle="WITH "
    + _ORACLE_SHINGLES
    + ", "
    + _ORACLE_MINHASH
    + ", "
    + _oracle_bands()
    + f""",
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig
       AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    ),
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a AS batch_doc_id, i.doc_b AS corpus_doc_id,
           round(i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: match a NEW batch of documents
    (doc_id % 5 = 0 stands in for today's arrivals) against the
    EXISTING corpus (the rest) — the daily-ingestion shape where a
    self-join over the whole corpus would be wrong AND wasteful. The
    candidate step is an asymmetric LSH band join (batch side ⋈ corpus
    side), so each new batch touches only its own signatures plus the
    corpus band index.

    At 100 TB the corpus band/signature table is PRECOMPUTED and
    stored (band_table is a plain DataFrame — write it partitioned by
    band hash); a day's ingest computes signatures for the batch only
    and equi-joins the stored index — per-batch cost scales with the
    batch, not the corpus. Here both sides derive from one table so
    the DuckDB oracle can state the same semantics."""
    d = load(spark, sf_dir).documents
    sh = shingle_table(d, "doc_id", "text").persist()
    sig = minhash_signatures_table(sh, NUM_HASHES)
    bands = lsh_band_table(sig, BANDS, ROWS_PER_BAND)
    is_batch = F.col("id") % 5 == 0
    a = bands.filter(is_batch).select(
        F.col("id").alias("id_a"), F.col("band_id").alias("band_a"),
        F.col("sig").alias("sig_a"),
    )
    b = bands.filter(~is_batch).select(
        F.col("id").alias("id_b"), F.col("band_id").alias("band_b"),
        F.col("sig").alias("sig_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("sig_a") == F.col("sig_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    matches = _jaccard_rerank(
        cand, sh, sig.select("id", "ns"), JACCARD_THRESHOLD
    )
    return matches.select(
        F.col("id_a").alias("batch_doc_id"),
        F.col("id_b").alias("corpus_doc_id"),
        "jaccard",
    )


_BP_N = 5          # n-gram width for boilerplate detection
_BP_DENOM = 20     # boilerplate = n-gram present in >= 1/20 (5%) of docs


@register(
    "boilerplate_ngram_prune",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             ws[pos] || ' ' || ws[pos + 1] || ' ' || ws[pos + 2] || ' ' ||
             ws[pos + 3] || ' ' || ws[pos + 4] AS gram
      FROM (SELECT doc_id, source, ws,
                   unnest(range(1, len(ws) - {_BP_N - 2})) AS pos
            FROM words WHERE len(ws) >= {_BP_N})
    ),
    d AS (SELECT CAST(count(*) AS BIGINT) AS n_total_docs
          FROM words WHERE len(ws) >= {_BP_N}),
    bp AS (
      SELECT gram FROM grams CROSS JOIN d
      GROUP BY gram, n_total_docs
      HAVING count(DISTINCT doc_id) * {_BP_DENOM} >= n_total_docs
    )
    SELECT g.source,
           CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS total_grams,
           CAST(sum(CASE WHEN bp.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS boilerplate_grams,
           round(sum(CASE WHEN bp.gram IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS boilerplate_pct
    FROM grams g LEFT JOIN bp ON bp.gram = g.gram
    GROUP BY g.source
    ORDER BY g.source
    """,
)
def boilerplate_ngram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: 5-grams that appear in ≥5%
    of all documents (headers, footers, license blurbs, nav text) are
    flagged, and each source reports what fraction of its token 5-grams
    is boilerplate — the pre-training corpus cleaning step between
    exact dedup and MinHash near-dedup (CCNet/RefinedWeb keep exactly
    this statistic per dump).

    Scale shape: the fact-sized gram stream is reduced IMMEDIATELY by
    one (source, gram) hash aggregation — occurrence counts plus
    per-pair distinct docs — and every later step works on that
    vocabulary-scale table (each doc has exactly one source, so
    per-gram distinct-doc totals are the SUM of the per-(source,gram)
    distinct counts: no second pass over occurrences). The n-gram
    codegen (split + slice + array_join) therefore runs once; the
    reduced table is materialized and re-read by the boilerplate filter
    and the tally. The 5% threshold is relative, so the query is
    scale-invariant across SFs."""
    docs = load(spark, sf_dir).documents
    words = docs.select(
        "doc_id", "source", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= _BP_N)
    grams = words.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), F.size("ws") - (_BP_N - 1))).alias("pos"),
        "ws",
    ).select(
        "doc_id",
        "source",
        F.array_join(F.expr(f"slice(ws, pos, {_BP_N})"), " ").alias("gram"),
    )
    gs = (
        grams.groupBy("source", "gram")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.count_distinct("doc_id").alias("nd"),
        )
        # vocabulary-sized; the bp-set derivation and the per-source
        # tally both consume it — one gram pass total (plan audit)
        .localCheckpoint(eager=True)
    )
    d = words.agg(F.count(F.lit(1)).alias("n_total_docs"))
    bp = (
        gs.crossJoin(F.broadcast(d))
        .groupBy("gram", "n_total_docs")
        .agg(F.sum("nd").alias("nd_total"))
        .filter(F.col("nd_total") * _BP_DENOM >= F.col("n_total_docs"))
        .select("gram", F.lit(1).alias("is_bp"))
    )
    n_docs = words.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")  # doc_id unique per row
    )
    tagged = gs.join(bp, "gram", "left")
    return (
        tagged.groupBy("source")
        .agg(
            F.sum("occ").cast("long").alias("total_grams"),
            F.sum(
                F.when(F.col("is_bp") == 1, F.col("occ")).otherwise(0)
            )
            .cast("long")
            .alias("boilerplate_grams"),
        )
        .join(n_docs, "source")
        .select(
            "source",
            "n_docs",
            "total_grams",
            "boilerplate_grams",
            F.round(F.col("boilerplate_grams") / F.col("total_grams"), 6).alias(
                "boilerplate_pct"
            ),
        )
        .orderBy("source")
    )


@register(
    "cross_source_duplication_matrix",
    oracle="""
    WITH d AS (
      SELECT DISTINCT source,
             md5(array_to_string(list_sort(list_distinct(
                 string_split(text, ' '))), ' ')) AS h
      FROM documents
    ),
    n AS (SELECT source, CAST(count(*) AS BIGINT) AS nd FROM d GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.n_shared,
           na.nd AS n_a, nb.nd AS n_b,
           round(p.n_shared * 1.0 / (na.nd + nb.nd - p.n_shared), 6)
             AS content_jaccard
    FROM pairs p
    JOIN n na ON na.source = p.source_a
    JOIN n nb ON nb.source = p.source_b
    ORDER BY source_a, source_b
    """,
)
def cross_source_duplication_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance overlap matrix: for every pair of sources, how many
    content fingerprints they share and the Jaccard of their
    fingerprint sets — the dump-vs-dump contamination audit run before
    choosing which crawls/snapshots to keep (a high-overlap pair means
    one source largely re-crawls the other). The fingerprint is the
    md5 of the sorted distinct token set (order/multiplicity-
    insensitive — the same canonicalization family as
    text_fingerprint), which catches shuffled re-crawls that exact
    text hashing misses.

    Never joins documents to documents: content collapses to DISTINCT
    (source, fingerprint) first, the pair join is an equi-join ON THE
    HASH (fanout = #sources sharing a fingerprint, bounded by the
    source count), and per-source totals broadcast back onto the
    ≤ sources² result."""
    docs = load(spark, sf_dir).documents
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
    )
    d = (
        docs.select("source", fp.alias("h"))
        .distinct()
        # (source, hash)-sized; pair join + per-source totals share it
        .localCheckpoint(eager=True)
    )
    n = d.groupBy("source").agg(F.count(F.lit(1)).alias("nd"))
    a = d.alias("a")
    b = d.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = n.select(F.col("source").alias("source_a"), F.col("nd").alias("n_a"))
    nb = n.select(F.col("source").alias("source_b"), F.col("nd").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("content_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "containment_pairs",
    oracle="WITH "
    + _ORACLE_SHINGLES
    + """,
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles sa JOIN shingles sb
        ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    ),
    sized AS (
      SELECT i.doc_a, i.doc_b, i.n_inter, za.ns AS ns_a, zb.ns AS ns_b
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
    )
    SELECT doc_a AS doc_contained, doc_b AS doc_container,
           round(n_inter * 1.0 / ns_a, 6) AS containment,
           round(n_inter * 1.0 / (ns_a + ns_b - n_inter), 6) AS jaccard
    FROM sized WHERE n_inter * 2 >= ns_a
    UNION ALL
    SELECT doc_b, doc_a,
           round(n_inter * 1.0 / ns_b, 6),
           round(n_inter * 1.0 / (ns_a + ns_b - n_inter), 6)
    FROM sized WHERE n_inter * 2 >= ns_b
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs: C(A→B) = |A∩B| / |A| ≥ ½ —
    the quote/subset detector. A short document pasted inside a long one
    keeps Jaccard LOW (the union is dominated by the container) but
    containment HIGH, so near-dup pipelines that only threshold Jaccard
    (ngram_jaccard_pairs) systematically miss small-into-big
    duplication; this is the Broder containment complement.

    Same inverted-index shape as jaccard_pairs_exact — pairs form only
    by joining on shared shingles, intersections are computed ONCE per
    unordered pair and exploded into the two directed readings in a
    SINGLE pass (no dual consumption of the pair table, so nothing
    needs pinning). The ½ threshold is the exact integer test
    2·|A∩B| ≥ |A| — no float boundary.

    Scale note (r6 64× probe): this operator previously
    localCheckpoint-ed both the shingle stream and the pair table;
    at 64× sf0.1 (320k docs) the pinned deserialized blocks ate the
    heap and the pair-join OOMed. Data-proportional streams are now
    recomputed (shingling is linear map work — at 100 TB you cannot
    pin the token stream anywhere), and only bounded tables may be
    checkpointed. See SCALING.md."""
    d = load(spark, sf_dir).documents
    sh = shingle_table(d, "doc_id", "text")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("ns"))
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingle").alias("sh_b"))
    inter = (
        sa.join(
            sb, (F.col("sh_a") == F.col("sh_b")) & (F.col("id_a") < F.col("id_b"))
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sized = inter.join(
        sizes.select(F.col("id").alias("id_a"), F.col("ns").alias("ns_a")), "id_a"
    ).join(sizes.select(F.col("id").alias("id_b"), F.col("ns").alias("ns_b")), "id_b")
    jac = F.round(
        F.col("n_inter") / (F.col("ns_a") + F.col("ns_b") - F.col("n_inter")), 6
    )
    # one row per unordered pair -> explode to the two directed
    # readings, then threshold: a single pass over `sized`, so the
    # expensive pair join has exactly one consumer and needs no pin
    directed = sized.select(
        F.col("n_inter"),
        jac.alias("jaccard"),
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("doc_contained"),
                    F.col("id_b").alias("doc_container"),
                    F.col("ns_a").alias("ns_contained"),
                ),
                F.struct(
                    F.col("id_b").alias("doc_contained"),
                    F.col("id_a").alias("doc_container"),
                    F.col("ns_b").alias("ns_contained"),
                ),
            )
        ).alias("dr"),
    )
    return directed.filter(
        F.col("n_inter") * 2 >= F.col("dr.ns_contained")
    ).select(
        F.col("dr.doc_contained").alias("doc_contained"),
        F.col("dr.doc_container").alias("doc_container"),
        F.round(F.col("n_inter") / F.col("dr.ns_contained"), 6).alias("containment"),
        "jaccard",
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup candidate pairs by SimHash banding: the 64-bit simhash
    splits into 4 disjoint 16-bit bands; any two fingerprints within
    Hamming distance 3 differ in ≤ 3 bits, which can touch at most 3
    bands — so they MUST collide on at least one band. The band
    equi-join therefore has EXACT recall for hamming ≤ 3 while only
    comparing fingerprints inside the same (band_idx, band_val) bucket —
    the pigeonhole banding trick that replaces the all-pairs O(n²)
    Hamming scan with a shuffle join, same idea as MinHash-LSH but for
    bit-fingerprint distance. 16-bit bands give 4 × 65,536 buckets, so
    bucket occupancy — and the candidate-pair count, which grows with
    the square of per-bucket occupancy — stays near-linear far past the
    regime where the earlier 4-bit banding (64 buckets total) went
    quadratic. The mask makes band extraction sign-agnostic (bit 63
    makes the BIGINT negative; arithmetic vs logical shift only differ
    above the masked bits). Returns (id_a, id_b, hamming).

    ``band_bits`` is the occupancy dial the r5 64× probe measured
    (SCALING.md): candidate pairs grow with per-bucket occupancy
    squared (5k docs → 191k pairs, 320k docs → 26.1M at 16-bit bands),
    so pick band_bits ≳ log₂(n_docs / target_occupancy). The
    pigeonhole exact-recall guarantee needs more bands than differing
    bits — 64 // band_bits bands must exceed max_hamming — so e.g. a
    100 TB corpus runs band_bits=21 with max_hamming ≤ 2, or keeps
    max_hamming=3 at 16-bit bands and splits hot buckets by a second
    fingerprint prefix."""
    n_bands = 64 // band_bits
    if n_bands <= max_hamming:
        raise ValueError(
            f"band_bits={band_bits} gives {n_bands} bands; exact recall "
            f"at max_hamming={max_hamming} needs bands > max_hamming"
        )
    mask = (1 << band_bits) - 1
    sh = simhash_table(df, id_col, text_col)
    bands = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    (
                        F.shiftright("simhash", band_bits * b)
                        .bitwiseAND(F.lit(mask))
                        .cast("long")
                    ).alias("band_val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bd"),
    ).select("id", "simhash", "bd.band_idx", "bd.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id"))
            # hamming verify fused INTO the join (r13): at the 64x
            # probe the band join emitted 26.1M collision rows whose
            # distinct() shuffle dominated; the check is pair-level (a
            # pair's collision rows all pass or all fail), so fusing it
            # keeps the distinct pair-bounded instead of
            # collision-bounded, with identical output
            & (F.expr("bit_count(a.simhash ^ b.simhash)") <= max_hamming),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)")
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )


@register(
    "simhash_hamming_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    wc AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
    bits AS (
      SELECT doc_id, cnt,
             (p - 1) * 4 + b AS bit_idx,
             CAST(floor((strpos('0123456789abcdef', substr(md5(w), p, 1)) - 1)
                        / CASE b WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)
                  AS INT) % 2 AS bit_val
      FROM wc,
           (SELECT unnest(range(1, 17)) AS p),
           (SELECT unnest(range(0, 4)) AS b)
    ),
    votes AS (
      SELECT doc_id, bit_idx,
             sum(CASE WHEN bit_val = 1 THEN cnt ELSE -cnt END) AS vote
      FROM bits GROUP BY doc_id, bit_idx
    ),
    raw AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << bit_idx
                      ELSE CAST(0 AS HUGEINT) END) AS u
      FROM votes GROUP BY doc_id
    ),
    sh AS (
      SELECT doc_id,
             CAST(CASE WHEN u >= 9223372036854775808
                       THEN u - 18446744073709551616
                       ELSE u END AS BIGINT) AS simhash
      FROM raw
    ),
    bands AS (
      SELECT doc_id, simhash, b AS band_idx,
             (simhash >> (16 * b)) & 65535 AS band_val
      FROM sh, (SELECT unnest(range(0, 4)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
             a.simhash AS sa, b.simhash AS sb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT CAST(bit_count(xor(sa, sb)) AS INT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(da) AS BIGINT) AS min_doc_a,
           CAST(max(db) AS BIGINT) AS max_doc_b
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    GROUP BY 1 ORDER BY 1
    """,
)
def simhash_hamming_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair census by SimHash Hamming distance (0-3) over the
    banded candidate join (generic: simhash_hamming_pairs — see its
    docstring for the exact-recall pigeonhole argument). The registered
    query aggregates to per-distance pair counts because the raw pair
    set grows quadratically inside hot fingerprint buckets; pipelines
    that need the pairs call the generic function.

    Scale note (the r5 64x probe's knee): 16-bit bands are already the
    WIDEST banding a 64-bit fingerprint admits at max_hamming=3 (the
    pigeonhole needs > 3 bands), so this operator has no wider dial to
    turn — past ~2^18 docs its 4 x 65,536 bucket space saturates and
    per-bucket occupancy-squared candidate growth sets in. The
    scale-safe escalation is simhash128_hamming_stats, whose 128-bit
    fingerprint admits 32-bit bands (4 x 2^32 buckets, auto-sized from
    the corpus count) with identical semantics."""
    d = load(spark, sf_dir).documents
    pairs = simhash_hamming_pairs(d, "doc_id", "text")
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("id_a").cast("long").alias("min_doc_a"),
            F.max("id_b").cast("long").alias("max_doc_b"),
        )
        .orderBy("hamming")
    )


@register(
    "simhash128_hamming_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    wc AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
    bits AS (
      SELECT doc_id, cnt,
             (p - 1) * 4 + b AS bit_idx,
             CAST(floor((strpos('0123456789abcdef', substr(md5(w), p, 1)) - 1)
                        / CASE b WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)
                  AS INT) % 2 AS bit_val
      FROM wc,
           (SELECT unnest(range(1, 33)) AS p),
           (SELECT unnest(range(0, 4)) AS b)
    ),
    votes AS (
      SELECT doc_id, bit_idx,
             sum(CASE WHEN bit_val = 1 THEN cnt ELSE -cnt END) AS vote
      FROM bits GROUP BY doc_id, bit_idx
    ),
    raw AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 AND bit_idx < 64
                      THEN CAST(1 AS HUGEINT) << bit_idx
                      ELSE CAST(0 AS HUGEINT) END) AS u_lo,
             sum(CASE WHEN vote > 0 AND bit_idx >= 64
                      THEN CAST(1 AS HUGEINT) << (bit_idx - 64)
                      ELSE CAST(0 AS HUGEINT) END) AS u_hi
      FROM votes GROUP BY doc_id
    ),
    sh AS (
      SELECT doc_id,
             CAST(CASE WHEN u_lo >= 9223372036854775808
                       THEN u_lo - 18446744073709551616
                       ELSE u_lo END AS BIGINT) AS lo,
             CAST(CASE WHEN u_hi >= 9223372036854775808
                       THEN u_hi - 18446744073709551616
                       ELSE u_hi END AS BIGINT) AS hi
      FROM raw
    ),
    bands AS (
      SELECT doc_id, lo, hi, b AS band_idx,
             CASE WHEN b < 4 THEN (lo >> (16 * b)) & 65535
                  ELSE (hi >> (16 * (b - 4))) & 65535 END AS band_val
      FROM sh, (SELECT unnest(range(0, 8)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
             a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS INT)
             AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(da) AS BIGINT) AS min_doc_a,
           CAST(max(db) AS BIGINT) AS max_doc_b
    FROM cand
    WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3
    GROUP BY 1 ORDER BY 1
    """,
)
def simhash128_hamming_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair census by 128-bit SimHash Hamming distance (0-3)
    with AUTO-SIZED banding — the scale-safe-by-default sibling of
    simhash_hamming_stats. The band width follows the corpus count
    (simhash128_band_bits: 16-bit bands below the 2¹⁸-doc occupancy
    knee, 32-bit bands above — 4 × 2³² buckets, occupancy ≪ 1 past
    10¹⁰ docs), and because banding is pure candidate generation under
    the exact-recall pigeonhole, the answer is band-width-invariant:
    the oracle mirrors the fingerprint, not the banding. The oracle's
    fixed 16-bit banding and Spark's auto-sized banding must therefore
    hash-identically — which is itself the invariance check. The corpus
    count for auto-sizing comes from parquet footer metadata
    (catalog.table_rows), not an eager df.count() scan."""
    from data_warehouse_data_mining_spark.catalog import table_rows

    d = load(spark, sf_dir).documents
    pairs = simhash128_hamming_pairs(
        d, "doc_id", "text", n_docs=table_rows(spark, sf_dir, "documents")
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("id_a").cast("long").alias("min_doc_a"),
            F.max("id_b").cast("long").alias("max_doc_b"),
        )
        .orderBy("hamming")
    )


@register(
    "dedup_eval_precision_recall",
    oracle="WITH "
    + _ORACLE_SHINGLES
    + ", "
    + _ORACLE_MINHASH
    + ", "
    + _oracle_bands()
    + ", "
    + _ORACLE_CANDIDATES
    + f""",
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter_all AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles sa JOIN shingles sb
        ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter_all i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter)
            >= {JACCARD_THRESHOLD}
    ),
    tp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tp
      FROM candidates c
      JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM candidates) AS n_candidates,
           n_tp,
           round(n_tp * 1.0
                 / (SELECT count(*) FROM candidates), 6) AS precision,
           round(n_tp * 1.0 / (SELECT count(*) FROM truth), 6) AS recall
    FROM tp
    """,
)
def dedup_eval_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation: precision/recall of the MinHash-LSH
    candidate stage against exact n-gram-Jaccard ground truth at the
    same 0.35 threshold — the banding-quality readout (16 hashes, 4×4
    bands ⇒ S-curve P(collide) = 1-(1-j⁴)⁴) that tells a pipeline
    owner whether to re-tune bands before trusting LSH at corpus scale.

    Both sides are deterministic, so the whole evaluation is
    exact-oracle-checkable: truth comes from the inverted-index
    all-pairs Jaccard (viable at audit scale; the POINT of LSH is to
    avoid it in production), candidates from the banded signature join,
    and the intersection is one more equi-join. The shingle stream is
    token-proportional so it is recomputed per consumer rather than
    pinned (unevictable lineage-truncated blocks OOMed the 64× probe
    on containment_pairs — same shape); the pair tables below are
    thresholded/audit-bounded and stay pinned. All ratios are single
    divisions of exact counts."""
    d = load(spark, sf_dir).documents
    sh = shingle_table(d, "doc_id", "text")
    sig = minhash_signatures_table(sh)
    cand = lsh_candidate_pairs(lsh_band_table(sig)).localCheckpoint(
        eager=True
    )
    sizes = sig.select("id", "ns")
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingle").alias("sh_b"))
    inter = (
        sa.join(
            sb, (F.col("sh_a") == F.col("sh_b")) & (F.col("id_a") < F.col("id_b"))
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("ns_a") + F.col("ns_b") - F.col("n_inter"))
    truth = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("ns").alias("ns_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("ns").alias("ns_b")), "id_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    tp = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    return (
        tp.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_cand))
        .select(
            "n_truth",
            "n_candidates",
            "n_tp",
            F.round(F.col("n_tp") / F.col("n_candidates"), 6).alias(
                "precision"
            ),
            F.round(F.col("n_tp") / F.col("n_truth"), 6).alias("recall"),
        )
    )


@register(
    "lsh_banding_recall_curve",
    oracle="WITH "
    + _ORACLE_SHINGLES
    + ", "
    + _ORACLE_MINHASH
    + ", "
    + _oracle_bands()
    + ", "
    + _ORACLE_CANDIDATES
    + """,
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter_all AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles sa JOIN shingles sb
        ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.doc_a, i.doc_b,
             i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter) AS jac
      FROM inter_all i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter) >= 0.05
    ),
    scored AS (
      SELECT CAST(floor(t.jac * 10) AS BIGINT) AS bucket,
             CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
      FROM truth t
      LEFT JOIN candidates c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(caught) AS BIGINT) AS n_caught,
           round(sum(caught) * 1.0 / count(*), 6) AS recall,
           round(1 - (1 - (bucket/10.0 + 0.05) * (bucket/10.0 + 0.05)
                          * (bucket/10.0 + 0.05) * (bucket/10.0 + 0.05))
                   * (1 - (bucket/10.0 + 0.05) * (bucket/10.0 + 0.05)
                          * (bucket/10.0 + 0.05) * (bucket/10.0 + 0.05))
                   * (1 - (bucket/10.0 + 0.05) * (bucket/10.0 + 0.05)
                          * (bucket/10.0 + 0.05) * (bucket/10.0 + 0.05))
                   * (1 - (bucket/10.0 + 0.05) * (bucket/10.0 + 0.05)
                          * (bucket/10.0 + 0.05) * (bucket/10.0 + 0.05)),
                 6) AS expected_collide_prob
    FROM scored GROUP BY bucket
    """,
)
def lsh_banding_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical recall of the banded MinHash candidate stage per
    exact-Jaccard decile, down into the low-similarity regime (truth
    floor 0.05) where the 16-hash 4×4 banding S-curve
    P(collide) = 1-(1-j⁴)⁴ is far below 1 and banding genuinely MISSES
    pairs — the audit ``dedup_eval_precision_recall`` (which evaluates
    only at the 0.35 operating threshold) cannot see. Each decile row
    carries the measured recall next to the theoretical collision
    probability at the decile midpoint, so a pipeline owner can check
    the implementation tracks the S-curve before retuning bands at
    corpus scale. The midpoint term is expanded with plain * and -
    (no pow()) so both engines compute bit-identical doubles.

    Scale: identical join shape to dedup_eval_precision_recall — the
    exact all-pairs truth is the audit-scale component; the candidate
    side stays the production banded join. The shingle stream itself
    is recomputed per consumer, not pinned (token-proportional —
    see containment_pairs scale note)."""
    d = load(spark, sf_dir).documents
    sh = shingle_table(d, "doc_id", "text")
    sig = minhash_signatures_table(sh)
    cand = (
        lsh_candidate_pairs(lsh_band_table(sig))
        .withColumn("caught_flag", F.lit(1))
        .localCheckpoint(eager=True)
    )
    sizes = sig.select("id", "ns")
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingle").alias("sh_b"))
    inter = (
        sa.join(
            sb, (F.col("sh_a") == F.col("sh_b")) & (F.col("id_a") < F.col("id_b"))
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("ns_a") + F.col("ns_b") - F.col("n_inter"))
    truth = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("ns").alias("ns_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("ns").alias("ns_b")),
            "id_b",
        )
        .filter(jac >= 0.05)
        .select("id_a", "id_b", jac.alias("jac"))
    )
    mid = F.col("bucket") / 10.0 + 0.05
    j4 = mid * mid * mid * mid
    expected = 1 - (1 - j4) * (1 - j4) * (1 - j4) * (1 - j4)
    return (
        truth.join(cand, ["id_a", "id_b"], "left")
        .select(
            F.floor(F.col("jac") * 10).cast("long").alias("bucket"),
            F.coalesce("caught_flag", F.lit(0)).alias("caught"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum("caught").alias("n_caught"),
            F.round(F.sum("caught") / F.count(F.lit(1)), 6).alias("recall"),
        )
        .withColumn("expected_collide_prob", F.round(expected, 6))
    )


@register(
    "split_leakage_audit",
    oracle="WITH "
    + _ORACLE_SHINGLES
    + ", "
    + _ORACLE_MINHASH
    + ", "
    + _oracle_bands()
    + ", "
    + _ORACLE_CANDIDATES
    + f""",
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    near AS (
      SELECT c.doc_a, c.doc_b
      FROM candidates c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
      GROUP BY c.doc_a, c.doc_b, za.ns, zb.ns
      HAVING count(*) * 1.0 / (za.ns + zb.ns - count(*))
             >= {JACCARD_THRESHOLD}
    ),
    split AS (
      SELECT doc_id, text,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                  THEN 'train' ELSE 'val' END AS part
      FROM documents
    ),
    exact_cross AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM split a JOIN split b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
       AND a.part <> b.part
    ),
    near_cross AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM near n
      JOIN split a ON a.doc_id = n.doc_a
      JOIN split b ON b.doc_id = n.doc_b
      WHERE a.part <> b.part
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM split
            WHERE part = 'train') AS n_train,
           (SELECT CAST(count(*) AS BIGINT) FROM split
            WHERE part = 'val') AS n_val,
           (SELECT n FROM exact_cross) AS n_exact_cross,
           (SELECT n FROM near_cross) AS n_neardup_cross
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val leakage audit for a deterministic 80/20 content-hash
    split of the corpus: how many EXACT duplicate pairs and how many
    MinHash near-duplicate pairs (same banding + exact re-rank as
    dedup_minhash_lsh) CROSS the split boundary. Dedup-before-split is
    the rule this measures the violation of — a val document with a
    train-side near-twin inflates eval scores exactly like benchmark
    contamination, and random splits of un-deduped corpora leak at
    roughly the corpus duplication rate.

    Scale shape: the near-dup side is the production banded pipeline
    (candidate equi-join, never all-pairs); the exact side joins on
    md5 digests; split assignment is a pure map-side hash. One number
    per leak class — the release-gate readout."""
    d = load(spark, sf_dir).documents
    part = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "cccc",
        "train",
    ).otherwise("val")
    # carries raw text — never pinned (unevictable once
    # lineage-truncated; see containment_pairs scale note); the split
    # assignment is a pure map over the scan, recompute is free
    split = d.select("doc_id", "text", part.alias("part"))
    counts = split.groupBy("part").agg(F.count(F.lit(1)).alias("n"))
    n_train = counts.filter(F.col("part") == "train").select(
        F.col("n").alias("n_train")
    )
    n_val = counts.filter(F.col("part") == "val").select(
        F.col("n").alias("n_val")
    )
    sa = split.select(
        F.col("doc_id").alias("id_a"), F.md5("text").alias("h"), F.col("part").alias("pa")
    )
    sb = split.select(
        F.col("doc_id").alias("id_b"), F.md5("text").alias("h"), F.col("part").alias("pb")
    )
    exact_cross = (
        sa.join(sb, "h")
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("pa") != F.col("pb")))
        .agg(F.count(F.lit(1)).alias("n_exact_cross"))
    )
    near = near_duplicate_pairs(d, "doc_id", "text")
    pa = split.select(F.col("doc_id").alias("id_a"), F.col("part").alias("pa"))
    pb = split.select(F.col("doc_id").alias("id_b"), F.col("part").alias("pb"))
    near_cross = (
        near.join(pa, "id_a")
        .join(pb, "id_b")
        .filter(F.col("pa") != F.col("pb"))
        .agg(F.count(F.lit(1)).alias("n_neardup_cross"))
    )
    return (
        n_train.crossJoin(F.broadcast(n_val))
        .crossJoin(F.broadcast(exact_cross))
        .crossJoin(F.broadcast(near_cross))
    )


def _sqrt_chain_sql(base: str, k: int) -> str:
    """(base)^(1/2^k) as nested sqrt() — IEEE-754 sqrt is correctly
    rounded, so unlike pow() the result is bit-identical across
    engines."""
    expr = base
    for _ in range(k):
        expr = f"sqrt({expr})"
    return expr


@register(
    "lsh_banding_advisor",
    oracle="""
    WITH combos(bands, rows_per_band, threshold_j) AS (
      VALUES (1, 16, """ + _sqrt_chain_sql("1.0", 4) + """),
             (2, 8,  """ + _sqrt_chain_sql("0.5", 3) + """),
             (4, 4,  """ + _sqrt_chain_sql("0.25", 2) + """),
             (8, 2,  """ + _sqrt_chain_sql("0.125", 1) + """),
             (16, 1, 0.0625)
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           round(threshold_j, 6) AS threshold_j,
           round(1 - power_term_035, 6) AS p_collide_at_035,
           round(1 - power_term_005, 6) AS p_collide_at_005
    FROM (
      SELECT bands, rows_per_band, threshold_j,
             exp(bands * ln(1 - exp(rows_per_band * ln(0.35))))
               AS power_term_035,
             exp(bands * ln(1 - exp(rows_per_band * ln(0.05))))
               AS power_term_005
      FROM combos
    )
    ORDER BY bands
    """,
)
def lsh_banding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter advisor for the 16-hash MinHash family: for
    every (bands, rows_per_band) factorization, the S-curve threshold
    j* = (1/b)^(1/r) (where collision probability crosses ~½) and the
    collision probability 1-(1-j^r)^b at the 0.35 operating threshold
    and at background similarity 0.05 — the two numbers that decide
    recall vs candidate volume BEFORE re-running the corpus. The
    current (4, 4) parameterization reads j* ≈ 0.707 / p₀.₃₅ ≈ 0.058 —
    deliberately conservative, relying on the exact re-rank; (8, 2)
    trades ~5× more background candidates for p₀.₃₅ ≈ 0.64.

    Determinism: thresholds use nested sqrt (IEEE correctly rounded →
    bit-identical across engines; pow() is not), and the probability
    terms use the same exp/ln composition on BOTH sides. A pure
    metadata query — no table scan; registered because pipeline owners
    version it alongside the corpus-scale dedup config."""
    rows = [
        (1, 16, "sqrt(sqrt(sqrt(sqrt(1.0))))"),
        (2, 8, "sqrt(sqrt(sqrt(0.5)))"),
        (4, 4, "sqrt(sqrt(0.25))"),
        (8, 2, "sqrt(0.125)"),
        (16, 1, "CAST(0.0625 AS DOUBLE)"),
    ]
    parts = []
    for b, r, thr in rows:
        parts.append(
            spark.range(0, 1, 1, 1).select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.round(F.expr(thr), 6).alias("threshold_j"),
                F.round(
                    1 - F.expr(f"exp({b} * ln(1 - exp({r} * ln(0.35))))"), 6
                ).alias("p_collide_at_035"),
                F.round(
                    1 - F.expr(f"exp({b} * ln(1 - exp({r} * ln(0.05))))"), 6
                ).alias("p_collide_at_005"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("bands")


# Prefix-filtered set-similarity join (AllPairs / PPJoin candidate
# generation, Bayardo et al. 2007 / Xiao et al. 2008). tau = 1/2 so
# every threshold test is exact integer arithmetic.
PFX_TAU_NUM, PFX_TAU_DEN = 1, 2


def _with_suffix_signature(df: DataFrame, size_col: str, wid) -> DataFrame:
    """Attach the 128-bucket token-presence SUFFIX SIGNATURE (r13, the
    PPJoin+ stage) to a (id, t, ...) token-rank stream: columns b0/b1
    (presence bitmap over bucket = t mod 128, packed into two BIGINTs)
    and exc (tokens beyond the first per occupied bucket), computed as
    window aggregates over the SAME per-id partitioning the prefix
    row_number already shuffles for — zero extra exchanges.

    LOSSLESSNESS (the one proof both call sites rely on): for one
    bucket holding h_a tokens of A and h_b of B, the shared-token count
    is <= min(h_a, h_b) = [both occupied] + min(h_a-1, h_b-1). Summing
    over buckets: shared <= popcount(b0_a&b0_b) + popcount(b1_a&b1_b)
    + min(exc_a, exc_b) — the bound `_signature_overlap_bound` builds.
    It is pair-level (independent of the prefix row's rn), so inside a
    prefix-join condition a pair's collision rows all pass or all
    fail, and any accumulated per-collision count stays exact for
    every surviving pair."""
    return (
        df.withColumn(
            "b0",
            F.expr(
                "bit_or(CASE WHEN pmod(t, 128) < 64 THEN"
                " shiftleft(CAST(1 AS BIGINT), CAST(pmod(t, 128) AS INT))"
                " ELSE CAST(0 AS BIGINT) END)"
            ).over(wid),
        )
        .withColumn(
            "b1",
            F.expr(
                "bit_or(CASE WHEN pmod(t, 128) >= 64 THEN"
                " shiftleft(CAST(1 AS BIGINT),"
                " CAST(pmod(t, 128) - 64 AS INT))"
                " ELSE CAST(0 AS BIGINT) END)"
            ).over(wid),
        )
        .withColumn(
            "exc", F.col(size_col) - F.bit_count("b0") - F.bit_count("b1")
        )
    )


def _signature_overlap_bound():
    """Lossless upper bound on |tokens(a) ∩ tokens(b)| from the two
    sides' suffix signatures (aliases `a`/`b`) — proof on
    `_with_suffix_signature`. Compare >= the join's required-overlap
    threshold inside the prefix-join condition."""
    return (
        F.bit_count(F.col("a.b0").bitwiseAND(F.col("b.b0")))
        + F.bit_count(F.col("a.b1").bitwiseAND(F.col("b.b1")))
        + F.least(F.col("a.exc"), F.col("b.exc"))
    )


@register(
    "prefix_filter_jaccard_pairs",
    headline=True,
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, ws[pos] || ' ' || ws[pos + 1] AS w
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS pos
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents)
            WHERE len(ws) >= 2)
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM tok GROUP BY doc_id
    ),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM tok a JOIN tok b ON b.w = a.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, size_a, size_b, jaccard FROM (
      SELECT s.id_a, s.id_b, s.inter,
             sa.sz AS size_a, sb.sz AS size_b,
             round(s.inter / (CAST(sa.sz + sb.sz - s.inter AS DOUBLE)), 6)
               AS jaccard,
             row_number() OVER (
               ORDER BY s.inter * 1.0 / (sa.sz + sb.sz - s.inter) DESC,
                        s.id_a, s.id_b) AS rn
      FROM shared s
      JOIN sizes sa ON sa.doc_id = s.id_a
      JOIN sizes sb ON sb.doc_id = s.id_b
      WHERE 3 * s.inter >= sa.sz + sb.sz
    ) t WHERE rn <= 500
    ORDER BY jaccard DESC, id_a, id_b
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold set-similarity self-join (Jaccard >= 1/2 over distinct
    word-BIGRAM sets — the standard shingle near-dup definition; r10
    moved from unigram word sets, whose tiny synthetic vocabulary made
    every "rare" prefix token common and degenerated the candidate set
    to ~86% of ALL pairs) with PPJoin candidate generation (Bayardo 2007 AllPairs
    + Xiao 2008 positional/length filters, all three LOSSLESS):

    * PREFIX filter — order every document's tokens rarest-first
      (global df asc, term asc) and emit candidates ONLY from each
      document's first |A| - ceil(tau*|A|) + 1 tokens: any qualifying
      pair MUST collide in those prefixes.
    * LENGTH filter — J >= 1/2 forces |A|/2 <= |B| <= 2|A| (exact
      integers: 2|B| >= |A| and |B| <= 2|A|), applied inside the join
      condition so pruned rows never reach the shuffle.
    * POSITIONAL filter — a collision at prefix positions (p_a, p_b)
      bounds the overlap by 1 + min(|A|-p_a, |B|-p_b); qualifying
      pairs need inter >= ceil((|A|+|B|)/3), and their FIRST common
      prefix token always satisfies the bound, so keeping pairs with
      any passing row is lossless (Xiao et al. 2008, PPJoin).

    The ORACLE is the unfiltered brute-force join over ALL shared
    tokens: hash equality IS the completeness proof (a pruned
    qualifying pair would show as a missing row).

    Exactness: the threshold test is the exact integer inequality
    3*inter >= |A|+|B| (tau = 1/2); the output is capped to the
    top-500 pairs through a fully tie-broken deterministic ordering;
    prefix lengths are integer identities; tokens are mapped to their
    EXACT global df-rank (global_order_stats — the distributed
    two-phase ranking, no single-partition window, no hash-collision
    risk) so ordering by tokid IS ordering by (df asc, term asc) and
    both engines pick identical prefixes.

    Scale shape (r12, VERDICT r11 #4): every post-explode stage —
    prefix self-join keys, per-doc ordering, sorted verification
    arrays, the 10⁶-scale array_intersect calls — runs on BIGINT token
    ids instead of bigram strings (the intersect was string-hash-bound
    at sf0.1); the per-row positional filter is replaced by the
    STRICTLY TIGHTER accumulated PPJoin bound computed in the
    candidate groupBy: for each pair, inter <= cnt +
    min(|A|-last_a, |B|-last_b) where cnt is the number of
    prefix-prefix collisions and (last_a, last_b) the positions of
    the LAST one — lossless because every common non-collision token
    globally orders after every collision token, so it lies after
    (last_a, last_b) in both docs; the first-collision bound
    1 + min(|A|-first_a, |B|-first_b) >= alpha is kept alongside
    (measured together: 3.54M -> 1.52M surviving pairs at sf0.1).
    A PPJoin+-style SUFFIX filter (r13) evaluates a lossless overlap
    bound from 128-bucket presence signatures (two BIGINTs + an excess
    count per prefix row — see the inline proof) INSIDE the prefix
    join condition, so non-qualifying pairs' collision rows never
    reach the candidate groupBy shuffle (12.76M -> 55k join rows at
    sf0.1). Exact verification — per-doc SORTED TOKEN-ID ARRAYS joined
    with two plain equi-joins, one codegen array_intersect per pair —
    then touches thousands of pairs, not millions."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    d = load(spark, sf_dir).documents
    # NOTE: tok is corpus-proportional (one row per distinct token per doc)
    # — never pinned/checkpointed/broadcast; each consumer re-derives it
    # from the column-pruned parquet scan, which is cheap and scale-safe.
    tok0 = d.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(th.word_shingles(th.words(F.col("text")), 2))
        ).alias("w"),
    )
    df_tbl = tok0.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # exact global df-rank as the integer token id: rank by (df asc, w)
    # via the two-phase distributed prefix sum — a bijection, so every
    # downstream count/intersection is exactly the string computation's.
    # The vocab-sized mapping is pinned: both forms execute 2 document
    # scans, but without the pin build+collect is ~13 % slower at sf0.01
    # (4-core host, local[3], 8 shuffle partitions).
    vocab = (
        global_order_stats(df_tbl, "df", "w", ascending=True)
        .select("w", F.col("global_rank").alias("t"))
        .localCheckpoint(eager=True)
    )
    tok = tok0.join(vocab, "w").select("id", "t")
    worder = W.partitionBy("id").orderBy("t")
    # SUFFIX signature (r13, the PPJoin+ stage): the shared
    # _with_suffix_signature bitmap+excess columns, carried ON EVERY
    # PREFIX ROW so _signature_overlap_bound evaluates INSIDE the
    # prefix join condition (losslessness proof on the helper).
    # Measured at sf0.1: join output 12.76M -> 55k rows, the candidate
    # groupBy shrinks from the plan's dominant shuffle to noise, sf0.1
    # median 12.1s -> ~6s. (Two rejected placements, both measured:
    # the Bayardo asymmetric prefix — see ROADMAP r12 — and a
    # post-groupBy signature join, which ADDED 1.5s because the
    # groupBy itself, not verification, dominates the plan.)
    wid = W.partitionBy("id")
    # |doc| as a window count over the SAME id partitioning the
    # row_number/signature windows already shuffle for — replaces the
    # r12 groupBy(id)+join(sizes), which cost its own corpus tokenize
    # pass plus a join (r13: main-job document passes 3 -> 1, the
    # other two collapsing onto this exchange via AQE reuse).
    base = tok.withColumn(
        "sz", F.count(F.lit(1)).over(wid).cast("long")
    ).withColumn("rn", F.row_number().over(worder))
    ranked = _with_suffix_signature(base, "sz", wid)
    # prefix length = sz - ceil(tau*sz) + 1; tau=1/2 -> sz - ceil(sz/2) + 1
    plen = F.col("sz") - F.expr(
        f"({PFX_TAU_NUM} * sz + {PFX_TAU_DEN} - 1) div {PFX_TAU_DEN}"
    ) + 1
    prefix = ranked.filter(F.col("rn") <= plen).select(
        "id", "t", "rn", "sz", "b0", "b1", "exc"
    )
    raw = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("b.t") == F.col("a.t"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter (exact): |A|/2 <= |B| <= 2|A|
            & (2 * F.col("b.sz") >= F.col("a.sz"))
            & (F.col("b.sz") <= 2 * F.col("a.sz"))
            # suffix signature bound (lossless, proof on the helper):
            # prunes the pair's rows before the groupBy shuffle
            & (_signature_overlap_bound() >= F.expr("(a.sz + b.sz + 2) div 3")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.rn").alias("rn_a"),
            F.col("b.rn").alias("rn_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
    )
    # overlap lower bound for tau=1/2: inter >= ceil((|A|+|B|)/3)
    alpha = F.expr("(sz_a + sz_b + 2) div 3")
    cand = (
        raw.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("rn_a").alias("mn_a"),
            F.min("rn_b").alias("mn_b"),
            F.max("rn_a").alias("mx_a"),
            F.max("rn_b").alias("mx_b"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
        .filter(
            # first-collision positional bound (the r10 filter, exact)
            (
                1
                + F.least(
                    F.col("sz_a") - F.col("mn_a"),
                    F.col("sz_b") - F.col("mn_b"),
                )
                >= alpha
            )
            # accumulated PPJoin bound at the LAST collision (lossless:
            # non-collision common tokens order after every collision)
            & (
                F.col("cnt")
                + F.least(
                    F.col("sz_a") - F.col("mx_a"),
                    F.col("sz_b") - F.col("mx_b"),
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
    )
    # exact verification on the (signature-pruned) survivors: per-doc
    # distinct-token-id ARRAYS (doc-bounded rows), two equi-joins, one
    # codegen array_intersect per pair. Built from the WINDOW output
    # (not tok.groupBy) so this branch's subtree is byte-identical to
    # the prefix branch's up through the id exchange — AQE exchange
    # reuse then feeds both from ONE tokenize pass; the groupBy itself
    # adds no exchange (window output is already hash(id)-partitioned).
    arrs = base.groupBy("id").agg(
        F.sort_array(F.collect_list("t")).alias("toks"),
        F.first("sz").alias("sz"),
    )
    aa = arrs.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("size_a"),
    )
    bb = arrs.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("size_b"),
    )
    inter = (
        cand.join(aa, "id_a")
        .join(bb, "id_b")
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("inter"),
        )
    )
    jac_raw = F.col("inter") * 1.0 / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    )
    return (
        # tau = 1/2: jaccard >= 1/2  <=>  3*inter >= |A|+|B| (exact ints)
        inter.filter(3 * F.col("inter") >= F.col("size_a") + F.col("size_b"))
        # top-500 via TakeOrderedAndProject (distributed partial top-k),
        # total order => deterministic boundary; never a global window
        .orderBy(jac_raw.desc(), "id_a", "id_b")
        .limit(500)
        .select(
            "id_a",
            "id_b",
            "inter",
            "size_a",
            "size_b",
            F.round(jac_raw, 6).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
    )


# Edit-distance threshold self-join (Gravano et al. 2001 q-gram
# filters; Xiao et al. 2008 Ed-Join prefix selection). Fuzzy-matching
# tier: exact (digest), set-Jaccard (PPJoin), MinHash/SimHash (sketch),
# Fellegi-Sunter (probabilistic) — this adds CHARACTER-level typo/
# near-edit matching on each document's 64-char lead fingerprint.
ED_K = 4        # edit-distance threshold
# q-gram width: q=4, NOT 2 — on a bounded alphabet the q-gram universe
# is |alphabet|^q, and prefix filtering only prunes while gram df stays
# small relative to the corpus. With q=2 the ~10^3-gram universe
# saturates (every gram's df grows linearly with docs, candidates grow
# quadratically — measured: the 8x probe never finished); q=4's ~10^6
# universe keeps the rarest grams rare as the corpus grows — the
# standard Ed-Join setting for strings of this length.
ED_Q = 4
ED_LEAD = 64    # lead fingerprint length
# prefix filter: ed <= k destroys at most k*q distinct q-gram values
# per side, so the (k*q + 1) globally-rarest distinct grams of each
# string must collide for any qualifying pair
ED_PLEN = ED_K * ED_Q + 1


@register(
    "edit_distance_neardup_pairs",
    oracle=f"""
    WITH leads AS (
      SELECT doc_id, substring(text, 1, {ED_LEAD}) AS s
      FROM documents WHERE length(text) >= {ED_Q}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS edit_distance,
           CAST(length(a.s) AS BIGINT) AS len_a,
           CAST(length(b.s) AS BIGINT) AS len_b
    FROM leads a JOIN leads b
      ON a.doc_id < b.doc_id
      -- lossless cheap bound evaluated before the DP: ed >= |len diff|
      AND abs(length(a.s) - length(b.s)) <= {ED_K}
      AND levenshtein(a.s, b.s) <= {ED_K}
    ORDER BY edit_distance, id_a, id_b
    LIMIT 500
    """,
)
def edit_distance_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance threshold self-join over each document's
    {ED_LEAD}-char lead fingerprint (Levenshtein <= {ED_K}): the
    CHARACTER-level member of the dedup tier — catches typo-level and
    shifted-boilerplate near-dupes that token-set Jaccard smooths over
    and exact digests miss entirely. Candidates come from the q-gram
    prefix filter (Gravano et al. 2001, VLDB; Ed-Join, Xiao et al.
    2008): order every lead's DISTINCT {ED_Q}-grams globally
    rarest-first (exact df-rank BIGINT ids via global_order_stats, the
    prefix_filter_jaccard_pairs discipline) and join only on each
    lead's first {ED_PLEN} grams — lossless, because <= {ED_K} edits
    destroy at most {ED_K}*{ED_Q} distinct gram values per side, so a
    qualifying pair MUST collide inside the ({ED_K}*{ED_Q}+1)-gram
    prefixes — with the exact length filter |len_a - len_b| <= {ED_K}
    fused into the join. Survivors are verified with Spark's
    THRESHOLDED levenshtein (early-exit DP, returns -1 above k).

    DEGENERATE-LEAD completeness: the count bound shared >=
    max(n_a, n_b) - {ED_K}*{ED_Q} is VACUOUS when BOTH sides have
    n <= {ED_K}*{ED_Q} distinct grams — such a pair can qualify while
    sharing ZERO grams ('hello' vs 'help!', ed=2, no common 4-gram) and
    the prefix join would never see it. (Mixed short x long pairs stay
    covered: n_b >= {ED_PLEN} forces shared >= n_b - {ED_K}*{ED_Q} >=
    1, and at most n_b - {ED_PLEN} shared grams can sit outside b's
    prefix, so at least one collision lands inside BOTH prefixes — the
    short side's prefix is its whole gram set.) Fix: leads with
    n <= {ED_K}*{ED_Q} distinct grams take a length-banded all-pairs
    side join (band key = exploded lead length, window |ln_a - ln_b|
    <= {ED_K}) unioned into the candidate set before verification. In
    natural corpora this set is only the very short (< ~{ED_K}*{ED_Q}
    + {ED_Q} chars) or pathologically repetitive leads, and the
    all-pairs cost is sum over length bands of |band|^2, never corpus^2.

    The ORACLE is the unfiltered brute-force levenshtein join: hash
    equality per driver round IS the completeness proof of the prefix
    filter (a pruned qualifying pair would surface as a missing row).

    Scale shape: grams explode map-side from a 2-column pruned scan;
    the df-rank mapping is vocab-bounded (<= alphabet^{ED_Q}); the
    candidate join touches only {ED_PLEN} grams per document with the
    length filter in the join condition; per-pair
    verification cost is bounded by the {ED_LEAD}-char fingerprint
    ({ED_LEAD}x{ED_LEAD} banded DP), never document length."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    d = load(spark, sf_dir).documents
    leads = d.filter(F.length("text") >= ED_Q).select(
        F.col("doc_id").alias("id"),
        F.substring("text", 1, ED_LEAD).alias("s"),
    )
    grams = leads.select(
        "id",
        F.length("s").alias("ln"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(s) - {ED_Q - 1}),"
                    f" i -> substring(s, i, {ED_Q}))"
                )
            )
        ).alias("g"),
    )
    df_tbl = grams.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    vocab = global_order_stats(df_tbl, "df", "g", ascending=True).select(
        "g", F.col("global_rank").alias("t")
    )
    # SUFFIX signature (r13, carried over from prefix_filter_jaccard_
    # pairs where it cut the join output 230x): the shared
    # _with_suffix_signature bitmap+excess columns, so
    # _signature_overlap_bound (losslessness proof on the helper)
    # evaluates INSIDE the prefix join. Edit distance <= k requires
    # shared >= max(n_a, n_b) - k*q — ~45 of a full lead's ~61 grams —
    # so the bound is even more selective here than at the Jaccard
    # tier's 1/3 threshold.
    wid = W.partitionBy("id")
    ranked = _with_suffix_signature(
        grams.join(vocab, "g")
        .withColumn("n", F.count(F.lit(1)).over(wid))
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("id").orderBy("t"))
        ),
        "n",
        wid,
    )
    prefix = ranked.filter(F.col("rn") <= ED_PLEN).select(
        "id", "t", "rn", "n", "ln", "b0", "b1", "exc"
    )
    raw = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("b.t") == F.col("a.t"))
            & (F.col("a.id") < F.col("b.id"))
            # exact ED length filter: |len_a - len_b| <= k
            & (
                F.abs(F.col("a.ln") - F.col("b.ln")) <= ED_K
            )
            # both-degenerate pairs (n <= k*q on BOTH sides) are routed
            # through the length-banded side join below — excluding
            # them here keeps the two candidate paths disjoint, so the
            # union needs no distinct()
            & ~(
                (F.col("a.n") <= ED_K * ED_Q)
                & (F.col("b.n") <= ED_K * ED_Q)
            )
            # suffix signature bound (lossless, proof on the helper)
            & (
                _signature_overlap_bound()
                >= F.greatest(F.col("a.n"), F.col("b.n")) - ED_K * ED_Q
            ),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.rn").alias("rn_a"),
            F.col("b.rn").alias("rn_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
    )
    # accumulated count bound (the prefix_filter_jaccard_pairs
    # machinery carried over): ed <= k needs shared distinct grams
    # >= max(n_a, n_b) - k*q, and shared <= cnt + min(n_a - last_a,
    # n_b - last_b) at the LAST prefix collision (non-collision shared
    # grams order after every collision in the global gram order) —
    # lossless, and it prunes sibling leads that collide on interior
    # grams but differ everywhere else before any levenshtein runs
    cand = (
        raw.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("rn_a").alias("mx_a"),
            F.max("rn_b").alias("mx_b"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .filter(
            F.col("cnt")
            + F.least(
                F.col("n_a") - F.col("mx_a"), F.col("n_b") - F.col("mx_b")
            )
            >= F.greatest("n_a", "n_b") - ED_K * ED_Q
        )
        .select("id_a", "id_b")
    )
    # degenerate-lead side join (docstring "DEGENERATE-LEAD"): leads
    # with n <= k*q distinct grams can qualify while sharing ZERO
    # grams, so both-short pairs get a length-banded all-pairs join —
    # band key = exploded lead length over the |ln_a - ln_b| <= k
    # window, each unordered pair emitted exactly once
    gcnt = grams.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"), F.first("ln").alias("ln")
    )
    shorts = gcnt.filter(F.col("n") <= ED_K * ED_Q).select("id", "ln")
    sh_a = shorts.select(
        "id",
        "ln",
        F.explode(F.sequence(F.col("ln"), F.col("ln") + ED_K)).alias("key"),
    )
    sh_b = shorts.select(
        F.col("id").alias("idb"),
        F.col("ln").alias("lnb"),
        F.col("ln").alias("key"),
    )
    short_pairs = (
        sh_a.join(sh_b, "key")
        .filter(
            (F.col("ln") < F.col("lnb"))
            | ((F.col("ln") == F.col("lnb")) & (F.col("id") < F.col("idb")))
        )
        .select(
            F.least("id", "idb").alias("id_a"),
            F.greatest("id", "idb").alias("id_b"),
        )
    )
    cand = cand.unionByName(short_pairs)
    sa = leads.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = leads.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        # thresholded levenshtein: early-exit banded DP, -1 above k
        .withColumn(
            "ed", F.levenshtein(F.col("s_a"), F.col("s_b"), ED_K)
        )
        .filter(F.col("ed") >= 0)
    )
    return (
        verified.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col("ed").cast("long").alias("edit_distance"),
            F.length("s_a").cast("long").alias("len_a"),
            F.length("s_b").cast("long").alias("len_b"),
        )
        .orderBy("edit_distance", "id_a", "id_b")
        .limit(500)
    )
