"""Adversarial-input hardening for the text/dedup surface (r7).

The documents fixtures are well-behaved; these tests push pathological
docs — empty text, whitespace-only, a single token repeated past 10k,
>10k distinct tokens, Unicode confusables — through the table-level
APIs (shingle_table / simhash128_table / simhash128_hamming_pairs /
tfidf_top_terms_table) and assert two things:

* no skew blowup: candidate generation stays bounded (per-doc
  array_distinct collapses the repeated-token doc to ONE shingle; the
  banded join emits exactly the true pair set, not a bucket explosion);
* engine parity survives: the registered text/dedup queries still
  hash-identically against their DuckDB oracles when the documents
  table itself is adversarial (split/md5/banding edge semantics agree
  on empty strings, huge docs, and non-ASCII).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import TABLE_NAMES
from data_warehouse_data_mining_spark.operators.dedup import (
    shingle_table,
    simhash128_hamming_pairs,
    simhash128_table,
)
from data_warehouse_data_mining_spark.operators.text import tfidf_top_terms_table
from data_warehouse_data_mining_spark.registry import all_queries
from tools.driver_sweep import check, duckdb_views

from .conftest import SF_SMALL


def _oracle_mismatch(spark, sf_dir: str, name: str) -> str | None:
    """The oracle comparator's verdict on one registered query over
    the tables in ``sf_dir``: None, or why it differs."""
    q = all_queries()[name]
    con = duckdb_views(sf_dir)
    try:
        return check(q.builder(spark, sf_dir), con, q.oracle)
    finally:
        con.close()


REPEAT_N = 12_000  # > 10k tokens, single repeated token
DISTINCT_N = 10_001  # > 10k distinct tokens

ADV_DOCS = [
    # (doc_id, text, lang, source)
    (1, "", "en", "src0"),
    (2, "   ", "en", "src0"),  # whitespace-only -> empty tokens
    (3, " ".join(["spam"] * REPEAT_N), "en", "src1"),
    (4, " ".join(["spam"] * REPEAT_N), "en", "src1"),  # exact twin of 3
    (5, "pаypal security alert verify account now", "en", "src2"),
    (6, "paypal security alert verify account now", "en", "src2"),
    (7, "an ordinary short document about nothing much", "en", "src0"),
    (8, " ".join(f"t{i}" for i in range(DISTINCT_N)), "en", "src3"),
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    """A full catalog dir whose documents table is adversarial: the
    other nine tables are symlinked from sf0.001 so registered queries
    (and their DuckDB oracles) run unmodified against it."""
    d = tmp_path_factory.mktemp("adversarial_sf")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in ADV_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in ADV_DOCS], pa.string()),
            "lang": pa.array([r[2] for r in ADV_DOCS], pa.string()),
            "source": pa.array([r[3] for r in ADV_DOCS], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in ADV_DOCS], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    for name in TABLE_NAMES:
        if name != "documents":
            os.symlink(f"{SF_SMALL}/{name}.parquet", str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def adv_docs_df(spark, adv_dir):
    return spark.read.parquet(os.path.join(adv_dir, "documents.parquet"))


def test_shingle_table_bounded_on_pathological_docs(adv_docs_df):
    """The repeated-token doc collapses map-side to ONE distinct
    shingle (array_distinct before explode — the no-skew-blowup
    property); sub-n-token docs yield zero shingles; the distinct-token
    doc yields exactly n_tokens - 2 trigram shingles."""
    rows = (
        shingle_table(adv_docs_df, "doc_id", "text")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_id = {r.id: r.n for r in rows}
    assert by_id.get(1) is None  # "" -> 1 token < 3 -> no shingles
    assert by_id.get(2) is None or by_id[2] <= 2  # empty tokens only
    assert by_id[3] == 1 and by_id[4] == 1  # 12k repeats -> 1 shingle
    assert by_id[8] == DISTINCT_N - 2


def test_simhash128_pathological_fingerprints(adv_docs_df):
    """One fingerprint row per doc, exact twins collapse to the same
    128 bits, and a single Cyrillic confusable flips the fingerprint."""
    fp = {
        r.id: (r.sh_hi, r.sh_lo)
        for r in simhash128_table(adv_docs_df, "doc_id", "text").collect()
    }
    assert set(fp) == {r[0] for r in ADV_DOCS}
    assert fp[3] == fp[4]
    assert fp[5] != fp[6]


def test_simhash128_pairs_exact_on_twins_no_blowup(adv_docs_df):
    """The banded candidate join on this skewed corpus (two 12k-token
    twins + garbage docs) returns exactly the true hamming<=3 pair set
    — the twin pair at distance 0 — for EVERY valid band width, and
    rejects invalid widths loudly."""
    for band_bits in (16, 32):
        pairs = simhash128_hamming_pairs(
            adv_docs_df, "doc_id", "text", band_bits=band_bits
        ).collect()
        twin = [(r.id_a, r.id_b, r.hamming) for r in pairs if {r.id_a, r.id_b} == {3, 4}]
        assert twin == [(3, 4, 0)]
        # bounded: no bucket explosion past the true near-dup set
        assert len(pairs) <= 6
    with pytest.raises(ValueError, match="band_bits"):
        simhash128_hamming_pairs(adv_docs_df, "doc_id", "text", band_bits=0)
    with pytest.raises(ValueError, match="band_bits"):
        simhash128_hamming_pairs(adv_docs_df, "doc_id", "text", band_bits=24)


def test_tfidf_topk_bounded_on_pathological_docs(spark, adv_docs_df):
    """Top-k stays <= k per doc and ranks are dense even when one doc
    is a 12k-fold single token and another has 10k+ distinct terms."""
    tokens = adv_docs_df.select(
        F.col("doc_id").alias("id"), F.explode(F.split("text", " ")).alias("w")
    )
    n_docs = adv_docs_df.agg(F.count(F.lit(1)).alias("n_docs"))
    top = tfidf_top_terms_table(tokens, n_docs, top_k=5)
    per_doc = top.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rank").alias("max_rank"),
    )
    bad = per_doc.filter((F.col("n") > 5) | (F.col("max_rank") != F.col("n"))).count()
    assert bad == 0
    assert top.filter(F.col("id") == 3).count() == 1  # single distinct term


ADVERSARIAL_PARITY_QUERIES = [
    "doc_chunking",
    "doc_repetition_scores",
    "simhash_hamming_stats",
    "simhash128_hamming_stats",
    "tfidf_top_terms",
    "dedup_minhash_lsh",
    # r8 curation stage: empty/whitespace docs exercise the zero-length
    # token edge in the gopher integer bounds, the "" token's md5 bucket
    # in dsir, and the exact-twin pair (docs 3/4) in softdedup's 1/c
    # weights — all must stay hash-identical to DuckDB
    "gopher_quality_rules",
    "dsir_importance_weights",
    "softdedup_weights",
    # r10: the PPJoin set-similarity join on the adversarial corpus —
    # the exact-twin 12k-token docs collapse to ONE distinct bigram
    # (J=1 pair), empty/whitespace docs yield empty sets, and the
    # length/positional filters must stay lossless on all of it
    "prefix_filter_jaccard_pairs",
]


@pytest.mark.parametrize("name", ADVERSARIAL_PARITY_QUERIES)
def test_oracle_parity_on_adversarial_corpus(spark, adv_dir, name):
    """The registered text/dedup queries must stay EXACT-hash equal to
    their DuckDB oracles when the documents table is adversarial — the
    engines' split/md5/banding semantics agree on empty strings, 12k-
    token docs, and Unicode confusables, not just on tidy fixtures."""
    err = _oracle_mismatch(spark, adv_dir, name)
    assert err is None, f"{name}: {err}"


def test_indexed_array_walks_linear_on_pathological_docs(adv_docs_df):
    """The r10 O(n²) class: a higher-order lambda that indexes into an
    UNMATERIALIZED array expression re-evaluates it per element (55 s
    for one 12k-token doc pre-fix). word_shingles, the winnowing window
    hasher, and the bigram-LM walk all route through texthash.bind now;
    this pins that the three walks stay fast AND correct on the 12k-
    token and 10k-distinct-token docs (wall-clock bound is generous —
    the quadratic form took minutes)."""
    import time

    from data_warehouse_data_mining_spark.functions import texthash as th

    t0 = time.perf_counter()
    # trigram shingles (word_shingles)
    sh = (
        adv_docs_df.select(
            "doc_id",
            F.size(th.word_shingles(th.words(F.col("text")), 3)).alias("n"),
        )
        .collect()
    )
    # bigram walk (doc_bigram_logprob's stream shape)
    bg = (
        adv_docs_df.select(
            "doc_id",
            F.size(
                th.bind(
                    th.words(F.col("text")),
                    lambda arr: F.when(
                        F.size(arr) >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size(arr) - 1),
                            lambda i: F.element_at(arr, i),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            ).alias("n"),
        )
        .collect()
    )
    elapsed = time.perf_counter() - t0
    by_id = {r["doc_id"]: r["n"] for r in sh}
    assert by_id[3] == REPEAT_N - 2  # 12k-token doc: n-2 trigrams
    assert by_id[8] == DISTINCT_N - 2
    bg_by_id = {r["doc_id"]: r["n"] for r in bg}
    assert bg_by_id[3] == REPEAT_N - 1
    assert elapsed < 60, f"indexed array walks took {elapsed:.1f}s — quadratic?"


SHORT_DOCS = [
    # degenerate leads: <= ED_K*ED_Q distinct 4-grams — the r13 ADVICE
    # gap where the q-gram count bound is vacuous and a qualifying pair
    # can share ZERO grams ('hello' vs 'help!', ed=2, no common 4-gram)
    (1, "hello"),
    (2, "help!"),
    (3, "abcd"),
    (4, "abce"),
    # a long near-dup pair: pins that the normal prefix-filter path and
    # the degenerate side path compose (disjoint candidate sets, union)
    (5, "an ordinary document about nothing much at all really truly"),
    (6, "an ordinary document about nothing much at all realy truly"),
    # control: 25 chars — outside the |len| <= 4 window of every other
    # doc, so it must NOT pair with anything
    (7, "qwertyuiopasdfghjklzxcvbn"),
    # pathologically repetitive long lead: 61 chars but ONE distinct
    # gram — lands in the degenerate set despite its length
    (8, "a" * 61),
    (9, "a" * 60 + "b"),
]


@pytest.fixture(scope="module")
def short_dir(tmp_path_factory):
    """A catalog dir whose documents are degenerate-lead texts (see
    SHORT_DOCS); other tables symlinked from sf0.001."""
    d = tmp_path_factory.mktemp("shortdoc_sf")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in SHORT_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in SHORT_DOCS], pa.string()),
            "lang": pa.array(["en"] * len(SHORT_DOCS), pa.string()),
            "source": pa.array(["s"] * len(SHORT_DOCS), pa.string()),
            "n_chars": pa.array(
                [len(r[1]) for r in SHORT_DOCS], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    for name in TABLE_NAMES:
        if name != "documents":
            os.symlink(f"{SF_SMALL}/{name}.parquet", str(d / f"{name}.parquet"))
    return str(d)


def test_edit_distance_complete_on_degenerate_leads(spark, short_dir):
    """edit_distance_neardup_pairs must stay hash-exact vs the
    brute-force levenshtein oracle when leads have <= ED_K*ED_Q
    distinct grams (the prefix count bound is vacuous there — ADVICE
    r13 medium): the length-banded all-pairs side path must surface
    'hello'/'help!' and 'abcd'/'abce' even though they share no 4-gram,
    and the repetitive-lead pair (docs 8/9, 1-2 distinct grams at
    60+ chars) must route through the degenerate path too."""
    err = _oracle_mismatch(spark, short_dir, "edit_distance_neardup_pairs")
    assert err is None, err
    rows = (
        all_queries()["edit_distance_neardup_pairs"]
        .builder(spark, short_dir)
        .collect()
    )
    pairs = {(r.id_a, r.id_b) for r in rows}
    assert (1, 2) in pairs  # zero shared grams, ed=2
    assert (3, 4) in pairs  # zero shared grams, ed=1
    assert (5, 6) in pairs  # normal prefix path
    assert (8, 9) in pairs  # repetitive 60+ char degenerate leads
    assert not any(7 in p for p in pairs)


@pytest.fixture(scope="module")
def lone_customer_dir(tmp_path_factory):
    """A catalog dir whose customer table has ONE row — the blocked
    pair set of the Fellegi-Sunter operators is empty there (a pair
    needs two customers sharing block keys)."""
    d = tmp_path_factory.mktemp("lonecust_sf")
    tbl = pq.read_table(f"{SF_SMALL}/customer.parquet").slice(0, 1)
    pq.write_table(tbl, str(d / "customer.parquet"))
    for name in TABLE_NAMES:
        if name != "customer":
            os.symlink(f"{SF_SMALL}/{name}.parquet", str(d / f"{name}.parquet"))
    return str(d)


def test_fs_em_params_empty_pair_set(spark, lone_customer_dir):
    """fellegi_sunter_em_params on an empty blocked-pair set: both
    engines must return ZERO rows ("no pairs -> no estimate") instead
    of a ZeroDivisionError in the EM walk (Spark) or one NULL-
    propagated junk row (DuckDB) — the r13 ADVICE degenerate case."""
    sdf = all_queries()["fellegi_sunter_em_params"].builder(
        spark, lone_customer_dir
    )
    assert sdf.count() == 0
    err = _oracle_mismatch(spark, lone_customer_dir, "fellegi_sunter_em_params")
    assert err is None, err


# ---------------------------------------------------------------------------
# Zero-norm embeddings (r13): the cosine tier's documented exclusion
# ---------------------------------------------------------------------------

ZERO_VEC_PARITY_QUERIES = [
    # every cosine-dividing registered query: a zero-norm embedding
    # (a failed encoder row — present in any real corpus) must neither
    # crash Spark (ANSI DIVIDE_BY_ZERO) nor diverge from DuckDB; the
    # tier's contract is that zero-norm rows are EXCLUDED, applied
    # identically in _corpus / _ORACLE_E / the direct-load sites
    "cosine_neardup_lsh",
    "cosine_neardup_blocked",
    "knn_brute_force",
    "ann_lsh_hyperplane",
    "embedding_margin_audit",
    "embedding_matryoshka_audit",  # also: zero PREFIX slice -> NULL cos
    "mmr_diversified_topk",
    "binary_quantization_search",
    "ann_ivf_kmeans",
    "ivf_nprobe_recall_curve",  # n_queries + recall denominator shrink
    "ann_lsh_recall_exact",
    "semdedup_bucket_representatives",
    "knn_shapley_data_values",
    "embedding_stats",
]


@pytest.fixture(scope="module")
def zero_vec_dir(tmp_path_factory):
    """A catalog dir whose embeddings table contains zero vectors —
    among the query ids (vec_id 1 < N_QUERIES), in the corpus (3, 7),
    plus a vector whose first 8 dims are zero (12: a zero matryoshka
    PREFIX on a nonzero vector). Other tables symlink sf0.001."""
    import numpy as np

    d = tmp_path_factory.mktemp("zero_vec_sf")
    rng = np.random.RandomState(7)
    vecs = [rng.randn(64).astype(np.float32) for _ in range(40)]
    vecs[1] = np.zeros(64, dtype=np.float32)
    vecs[3] = np.zeros(64, dtype=np.float32)
    vecs[7] = np.zeros(64, dtype=np.float32)
    v12 = np.zeros(64, dtype=np.float32)
    v12[8:] = rng.randn(56)
    vecs[12] = v12
    tbl = pa.table(
        {
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 3 for i in range(40)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    for name in TABLE_NAMES:
        if name != "embeddings":
            os.symlink(f"{SF_SMALL}/{name}.parquet", str(d / f"{name}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", ZERO_VEC_PARITY_QUERIES)
def test_oracle_parity_with_zero_vectors(spark, zero_vec_dir, name):
    """Exact engine parity of the cosine tier on a corpus containing
    zero-norm embeddings (r13: before the exclusion contract, Spark
    threw DIVIDE_BY_ZERO where DuckDB yielded NULL)."""
    err = _oracle_mismatch(spark, zero_vec_dir, name)
    assert err is None, f"{name}: {err}"


def test_dim_correlation_parity_with_constant_dimension(
    spark, tmp_path_factory
):
    """A constant embedding dimension has zero variance, so Pearson r
    is undefined for its pairs: both engines must EXCLUDE them (r13 —
    before the guard, Spark ANSI threw DIVIDE_BY_ZERO while DuckDB
    carried NULL r rows into the top-20 ordering)."""
    import numpy as np

    d = tmp_path_factory.mktemp("const_dim_sf")
    rng = np.random.RandomState(7)
    vecs = [rng.randn(64).astype(np.float32) for _ in range(30)]
    for v in vecs:
        v[5] = 1.25
    tbl = pa.table(
        {
            "vec_id": pa.array(range(30), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 3 for i in range(30)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    for name in TABLE_NAMES:
        if name != "embeddings":
            os.symlink(f"{SF_SMALL}/{name}.parquet", str(d / f"{name}.parquet"))
    err = _oracle_mismatch(spark, str(d), "embedding_dim_correlation")
    assert err is None, err
