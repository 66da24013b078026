"""Text-analysis operators (BASELINE.json north star: language-ID,
quality scoring, token counting, document fingerprinting, TF-IDF) —
generic over any (id, text) DataFrame; the registered queries
instantiate them on ``documents`` with exact DuckDB oracles.

Everything is built-in expression work (split/filter/aggregate over
arrays, md5) — zero Python UDFs in any hot path. Oracles operate on an
exploded token CTE rather than list lambdas for maximum ANSI
portability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.functions import texthash as th
from data_warehouse_data_mining_spark.operators.iterate import iterate
from data_warehouse_data_mining_spark.registry import register

STOPWORDS = ("the", "a")

# Deterministic keyword profiles for the heuristic language-ID.  On the
# synthetic corpus these are arbitrary but exercise the real plumbing:
# profile-score per language + argmax with a fixed tie-break order.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "data"),
    "es": ("row", "value"),
    "de": ("join", "merge"),
    "fr": ("filter", "sort"),
    "zh": ("spark", "vector"),
}

# ---------------------------------------------------------------------------
# Generic API (any DataFrame, any columns)
# ---------------------------------------------------------------------------


def token_table(
    df: DataFrame, id_col: str, text_col: str, extra_cols: list[str] | None = None
) -> DataFrame:
    """(id, [extra...], w): exploded whitespace tokens; the input is
    repartitioned off coarse files so tokenization uses all cores (see
    operators/dedup.py::shingle_table)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in (extra_cols or [])],
        F.explode(F.split(text_col, " ")).alias("w"),
    )


def token_stats(tokens: DataFrame) -> DataFrame:
    """(id, n_tokens, n_distinct, n_subwords, type_token_ratio) — BPE-ish
    subword estimate = ceil(len/4) pieces per word."""
    return tokens.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
        F.sum(F.ceil(F.length("w") / 4.0)).cast("bigint").alias("n_subwords"),
        F.round(F.countDistinct("w") / F.count(F.lit(1)), 6).alias("type_token_ratio"),
    )


def quality_scores(
    tokens: DataFrame, stopwords: tuple[str, ...] = STOPWORDS
) -> DataFrame:
    """(id, n_tokens, avg_word_len, stopword_ratio, quality) with
    quality = ln(1+n_tokens)·(1−stopword_ratio)."""
    per_doc = tokens.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(F.length("w")).alias("awl"),
        (
            F.sum(F.when(F.col("w").isin(*stopwords), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("sr"),
    )
    return per_doc.select(
        "id",
        "n_tokens",
        F.round("awl", 6).alias("avg_word_len"),
        F.round("sr", 6).alias("stopword_ratio"),
        F.round(F.log(1 + F.col("n_tokens")) * (1 - F.col("sr")), 6).alias("quality"),
    )


def langid_scores(
    tokens: DataFrame, profiles: dict[str, tuple[str, ...]] = LANG_PROFILES
) -> DataFrame:
    """(id, [extra...], predicted_lang): keyword-profile scores → argmax
    with the profile-dict order as a fixed tie-break. Profiles broadcast
    implicitly (they are literals inside the plan)."""
    extra = [c for c in tokens.columns if c not in ("id", "w")]
    scores = tokens.groupBy("id", *extra).agg(
        *[
            F.sum(F.when(F.col("w").isin(*ws), 1).otherwise(0)).alias(f"s_{lg}")
            for lg, ws in profiles.items()
        ]
    )
    langs = list(profiles)
    pred = None
    for i, lg in enumerate(langs[:-1]):
        cond = None
        for o in langs[i + 1 :]:
            c = F.col(f"s_{lg}") >= F.col(f"s_{o}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lg) if pred is None else pred.when(cond, lg)
    pred = pred.otherwise(langs[-1])
    return scores.withColumn("predicted_lang", pred).drop(
        *[f"s_{lg}" for lg in langs]
    )


def fingerprint_expr(text_col: Column) -> Column:
    """Canonicalization fingerprint: md5 over the sorted distinct token
    set — word-order / repetition insensitive dedup key."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(F.split(text_col, " "))), " "))


def tfidf_top_terms_table(
    tokens: DataFrame, n_docs: DataFrame, top_k: int = 5
) -> DataFrame:
    """(id, term, tfidf, rank): smoothed-IDF TF-IDF, top-k per document.

    df is a plain regroup of the tf table (one row per (doc, term)), so
    the corpus is tokenized exactly once; tf persists across its two
    consumers — the standard 100 TB TF-IDF shape.
    """
    tf = tokens.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf")).persist()
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # df is vocabulary-sized (grows with the corpus), so no broadcast hint:
    # a plain shuffle join on `w` lets AQE broadcast only when df actually
    # fits. Only the 1-row n_docs crossJoin is a safe forced broadcast.
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            F.col("w").alias("term"),
            (F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))).alias(
                "score"
            ),
        )
    )
    w = W.partitionBy("id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("id", "term", F.round("score", 6).alias("tfidf"), "rank")
    )


# ---------------------------------------------------------------------------
# Registered queries (documents-table instantiations)
# ---------------------------------------------------------------------------

_ORACLE_TOK = """
    tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_table(load(spark, sf_dir).documents, "doc_id", "text", ["lang"])


def _sql_in(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


@register(
    "text_token_stats",
    oracle="WITH "
    + _ORACLE_TOK
    + """
    SELECT doc_id,
           count(*) AS n_tokens,
           count(DISTINCT w) AS n_distinct,
           CAST(sum(ceil(length(w) / 4.0)) AS BIGINT) AS n_subwords,
           round(count(DISTINCT w) * 1.0 / count(*), 6) AS type_token_ratio
    FROM tok GROUP BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting on documents (generic: token_stats)."""
    return token_stats(_doc_tokens(spark, sf_dir)).withColumnRenamed("id", "doc_id")


@register(
    "text_quality_scores",
    oracle="WITH "
    + _ORACLE_TOK
    + f"""
    , per_doc AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             avg(length(w)) AS avg_word_len,
             sum(CASE WHEN w IN {_sql_in(STOPWORDS)} THEN 1 ELSE 0 END) * 1.0 / count(*)
               AS stop_ratio
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id,
           n_tokens,
           round(avg_word_len, 6) AS avg_word_len,
           round(stop_ratio, 6) AS stopword_ratio,
           round(ln(1 + n_tokens) * (1 - stop_ratio), 6) AS quality
    FROM per_doc
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring on documents (generic: quality_scores)."""
    return quality_scores(_doc_tokens(spark, sf_dir)).withColumnRenamed("id", "doc_id")


def _langid_case_sql(score: dict[str, str]) -> str:
    """Fixed-order argmax: first language (in LANG_PROFILES order) whose
    score is >= every later one wins."""
    langs = list(LANG_PROFILES)
    clauses = []
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"{score[lg]} >= {score[o]}" for o in langs[i + 1 :])
        clauses.append(f"WHEN {conds} THEN '{lg}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


@register(
    "text_langid_heuristic",
    oracle="WITH "
    + _ORACLE_TOK
    + ",\n    scores AS (SELECT doc_id, lang, "
    + ", ".join(
        f"sum(CASE WHEN w IN {_sql_in(ws)} THEN 1 ELSE 0 END) AS s_{lg}"
        for lg, ws in LANG_PROFILES.items()
    )
    + " FROM tok GROUP BY doc_id, lang)\n"
    + "    SELECT lang, "
    + _langid_case_sql({lg: f"s_{lg}" for lg in LANG_PROFILES})
    + """ AS predicted_lang,
           count(*) AS n_docs
    FROM scores GROUP BY 1, 2
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID on documents (generic: langid_scores), reported as a
    confusion table against the labeled lang column."""
    return (
        langid_scores(_doc_tokens(spark, sf_dir))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization fingerprints on documents (generic:
    fingerprint_expr)."""
    d = load(spark, sf_dir).documents
    return d.select("doc_id", fingerprint_expr(F.col("text")).alias("fingerprint"))


@register(
    "doc_unigram_logprob",
    oracle="WITH "
    + _ORACLE_TOK
    + """
    , uni AS (SELECT w, count(*) AS cw FROM tok GROUP BY w),
    tot AS (SELECT count(*) AS tw FROM tok)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(round(-ln(cw * 1.0 / tw), 6)
                               AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*), 6) AS avg_neg_logprob
    FROM tok JOIN uni USING (w) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: per document, the average
    negative log-probability of its tokens under the corpus unigram
    distribution — the KenLM-proxy perplexity filter of LLM data
    pipelines (high avg ⇒ rare/garbled tokens, low ⇒ boilerplate).

    Numeric canon: each token's -ln(p) is rounded to 6 decimals and
    summed through DECIMAL, so the per-doc mean is order-independent
    and engine-exact (a raw double avg accumulates in partition order
    and can flip the 6-decimal rounding vs the oracle's order).

    Scale shape: unigram counts are one token-keyed shuffle; the
    count-join back onto the token table is another (vocabulary-sized
    side, too big to broadcast blindly — AQE decides); the 1-row total
    rides a broadcast crossJoin."""
    tokens = _doc_tokens(spark, sf_dir).select("id", "w")
    uni = tokens.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    # total token count re-aggregates the (much smaller) unigram table
    # instead of rescanning the token explosion
    tot = uni.agg(F.sum("cw").alias("tw"))
    term6 = F.round(-F.log(F.col("cw") / F.col("tw")), 6).cast("decimal(28,6)")
    return (
        tokens.join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(term6).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_neg_logprob"),
        )
        .select(F.col("id").alias("doc_id"), "n_tokens", "avg_neg_logprob")
        .orderBy("doc_id")
    )


@register(
    "tfidf_top_terms",
    headline=True,
    oracle="WITH "
    + _ORACLE_TOK
    + """
    , tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    )
    SELECT doc_id, term, round(score, 6) AS tfidf, rank FROM (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    ) t WHERE rank <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per document (generic: tfidf_top_terms_table)."""
    tokens = _doc_tokens(spark, sf_dir).select("id", "w")
    n_docs = load(spark, sf_dir).documents.agg(F.count(F.lit(1)).alias("n_docs"))
    return tfidf_top_terms_table(tokens, n_docs, top_k=5).withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "doc_stats_by_lang_source",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           round(sum(n_chars), 2) AS total_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def doc_stats_by_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus slicing by language × source (the per-slice accounting a
    training-data pipeline runs before mixing)."""
    d = load(spark, sf_dir).documents
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        # DuckDB round(sum(INT),2) is DOUBLE; match the value space
        F.round(F.sum("n_chars"), 2).cast("double").alias("total_chars"),
    )


@register(
    "rolling_hash_fingerprints",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_transform(range(1, length(text) + 1),
                            i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
             (a, b) -> (a * 31 + b) % 1000000007
           ) AS rhash
    FROM documents
    """,
)
def rolling_hash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash (Rabin-Karp base-31 mod 1e9+7) over the
    raw character stream — the content-defined fingerprint family
    (md5-based fingerprints hash the SET; this hashes the SEQUENCE).
    Pure fold expressions on both engines: Spark aggregate() mirrors
    DuckDB list_reduce's first-element-seeded fold exactly."""
    d = load(spark, sf_dir).documents.repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.select(
        "doc_id",
        F.expr(
            """
            aggregate(
              slice(transform(sequence(1, length(text)),
                              i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
                    2, greatest(length(text) - 1, 0)),
              element_at(transform(sequence(1, length(text)),
                                   i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)), 1),
              (a, b) -> (a * 31 + b) % 1000000007
            )
            """
        ).alias("rhash"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators: chunking, repetition, decontamination
# ---------------------------------------------------------------------------

CHUNK_SIZE = 32
CHUNK_STRIDE = 24
REP_NGRAM = 3
CONTAM_NGRAM = 5
BENCHMARK_SOURCE = "src0"


@register(
    "doc_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         s AS (SELECT doc_id, ws,
                      unnest(range(0, greatest(len(ws), 1), {CHUNK_STRIDE})) AS start
               FROM t)
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(len(ws[start + 1 : start + {CHUNK_SIZE}]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(ws[start + 1 : start + {CHUNK_SIZE}], ' ')) AS chunk_hash
    FROM s
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: fixed {size}-token chunks at
    stride {stride} (overlap {size}-{stride}) — how a pretraining
    pipeline splits long documents into training sequences.

    Pure JVM expressions (split → sequence of starts → explode → slice);
    one map pass, no shuffle, linear output in corpus size. Chunk text
    is emitted as an md5 so the result stays narrow; swap the hash for
    the array_join to materialize real chunks.
    """
    d = load(spark, sf_dir).documents
    ws = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(ws) - 1, F.lit(0)), F.lit(CHUNK_STRIDE)
    )
    chunk = F.slice(F.col("ws"), F.col("start") + 1, CHUNK_SIZE)
    return (
        d.select("doc_id", ws.alias("ws"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
        )
    )


@register(
    "doc_repetition_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                      CASE WHEN len(ws) >= {REP_NGRAM}
                           THEN list_transform(range(1, len(ws) - {REP_NGRAM} + 2),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                           ELSE [] END AS grams
               FROM t)
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
           CASE WHEN len(grams) > 0
                THEN round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
                ELSE 0.0 END AS rep_ratio
    FROM g
    """,
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram ratio per document — the Gopher/RefinedWeb-style
    repetition quality signal (1 - distinct_ngrams/total_ngrams; high
    values flag loops and boilerplate for filtering).

    Entirely map-side array expressions inside whole-stage codegen: the
    n-gram list never explodes into rows, so the operator adds zero
    shuffle regardless of corpus size."""
    d = load(spark, sf_dir).documents
    grams = th.word_shingles(th.words(F.col("text")), REP_NGRAM)
    n = F.size(grams)
    nd = F.size(F.array_distinct(grams))
    return d.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        F.when(n > 0, F.round(1.0 - nd * F.lit(1.0) / n, 6))
        .otherwise(0.0)
        .alias("rep_ratio"),
    )


@register(
    "benchmark_contamination",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, source, unnest(list_distinct(
               CASE WHEN len(ws) >= {CONTAM_NGRAM}
                    THEN list_transform(range(1, len(ws) - {CONTAM_NGRAM} + 2),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                || ' ' || ws[i+3] || ' ' || ws[i+4])
                    ELSE [] END)) AS gram
      FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = '{BENCHMARK_SOURCE}'),
    contaminated AS (
      SELECT DISTINCT g.doc_id, g.source
      FROM g JOIN bench USING (gram)
      WHERE g.source <> '{BENCHMARK_SOURCE}'
    )
    SELECT d.source,
           count(*) AS n_docs,
           count(c.doc_id) AS n_contaminated,
           round(count(c.doc_id) * 1.0 / count(*), 6) AS contam_ratio
    FROM documents d
    LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.source <> '{BENCHMARK_SOURCE}'
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: which corpus documents share any
    {n}-gram with the held-out benchmark slice (source='src0') — the
    eval-leakage check every pretraining corpus needs.

    Shape at 100 TB: both sides reduce to DISTINCT n-gram tables
    (map-side array dedup before explode), the overlap is a shingle
    equi-join (never doc×doc), and the verdict re-aggregates per source.
    The benchmark side is corpus-scale so it is NOT broadcast-hinted;
    AQE decides."""
    d = load(spark, sf_dir).documents
    grams = F.array_distinct(th.word_shingles(th.words(F.col("text")), CONTAM_NGRAM))
    g = d.select("doc_id", "source", F.explode(grams).alias("gram"))
    bench = g.filter(F.col("source") == BENCHMARK_SOURCE).select("gram").distinct()
    corpus = g.filter(F.col("source") != BENCHMARK_SOURCE)
    contaminated = (
        corpus.join(bench, "gram", "left_semi").select("doc_id").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        d.filter(F.col("source") != BENCHMARK_SOURCE)
        .select("doc_id", "source")
        .join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "contam_ratio"
            ),
        )
        .orderBy("source")
    )


# Target mixture for corpus_mixture_sample: per-language keep rates as
# exact 16-bit hex thresholds (rate = threshold / 0x10000), so the
# md5-prefix comparison is bit-identical across engines. English is
# downsampled hardest (it dominates raw crawls), mid-resource languages
# kept in full — the standard pretraining data-mixing shape.
MIXTURE_THRESHOLDS = {
    "en": "8000",  # 50%
    "de": "4000",  # 25%
    "zh": "4000",  # 25%
    "fr": "ffff",  # ~100%
    "es": "ffff",  # ~100%
}


def _mixture_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN '{thr}'" for lang, thr in MIXTURE_THRESHOLDS.items()
    )
    return f"CASE lang {whens} ELSE '0000' END"


@register(
    "corpus_mixture_sample",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < {_mixture_case_sql()}
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixture resampling: downsample each language to
    a target mixture rate with a CONTENT-keyed Bernoulli filter (md5 of
    doc_id under a per-language hex threshold) — the data-mixing step
    of a pretraining pipeline, made reproducible: membership depends
    only on the key, so the mixture is stable across re-runs, engines,
    partitionings, and incremental corpus loads (same property as
    deterministic_hash_sample, operators/relational.py). Pure map-side
    filter + one hash aggregate; nothing shuffles except the final
    per-language rollup."""
    d = load(spark, sf_dir).documents
    thr = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(t))
            for lang, t in MIXTURE_THRESHOLDS.items()
        ],
        F.lit("0000"),
    )
    return (
        d.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < thr)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "html_boilerplate_strip",
    oracle="""
    WITH wrapped AS (
      SELECT doc_id,
             '<html><head><script>var x = 1 < 2;</script><style>p { color: red; }</style></head>'
             || '<body><h1>Title</h1><!-- nav --><p class="main">'
             || text
             || ' &amp; entities &lt;here&gt;&nbsp;ok</p></body></html>' AS html
      FROM documents WHERE doc_id < 300
    ),
    stripped AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '(?s)<script.*?</script>', ' ', 'g'),
                   '(?s)<style.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
               '<[^>]+>', ' ', 'g') AS no_tags
      FROM wrapped
    )
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(no_tags,
               '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '),
             '\\s+', ' ', 'g')) AS clean_text
    FROM stripped
    """,
)
def html_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal for web-corpus prep: drop script/style
    blocks and comments, strip tags, decode common entities, collapse
    whitespace — the first transformation every crawl-derived training
    corpus applies.

    The testdata documents are plain text, so the query wraps them in a
    deterministic HTML shell first; both engines then run the identical
    strip chain, value-checking every regex. All steps are codegen'd
    regexp_replace/replace — no Python in the loop, embarrassingly
    parallel per row at any scale.
    """
    d = load(spark, sf_dir).documents.filter(F.col("doc_id") < 300)
    html = F.concat(
        F.lit(
            "<html><head><script>var x = 1 < 2;</script>"
            "<style>p { color: red; }</style></head>"
            '<body><h1>Title</h1><!-- nav --><p class="main">'
        ),
        F.col("text"),
        F.lit(" &amp; entities &lt;here&gt;&nbsp;ok</p></body></html>"),
    )
    no_tags = html
    for pat in (
        "(?s)<script.*?</script>",
        "(?s)<style.*?</style>",
        "(?s)<!--.*?-->",
        "<[^>]+>",
    ):
        no_tags = F.regexp_replace(no_tags, pat, " ")
    decoded = no_tags
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&nbsp;", " ")):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(decoded, "\\s+", " "))
    return d.select("doc_id", clean.alias("clean_text"))


@register(
    "pmi_token_cooccurrence",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(ws) + 1),
                    i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS p
      FROM toks
    ),
    bg AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n FROM pairs GROUP BY 1, 2),
    uni AS (SELECT w1 AS w, CAST(sum(n) AS BIGINT) AS nw FROM bg GROUP BY w1),
    tots AS (SELECT CAST(sum(n) AS BIGINT) AS n_uni,
                    CAST(sum(CASE WHEN w2 IS NOT NULL THEN n END) AS BIGINT) AS n_bi
             FROM bg)
    SELECT bg.w1, bg.w2, CAST(bg.n AS BIGINT) AS n_pair,
           round(ln((bg.n * 1.0 / n_bi)
                    / ((u1.nw * 1.0 / n_uni) * (u2.nw * 1.0 / n_uni))), 6) AS pmi
    FROM bg
    JOIN uni u1 ON bg.w1 = u1.w
    JOIN uni u2 ON bg.w2 = u2.w
    CROSS JOIN tots
    WHERE bg.w2 IS NOT NULL
    ORDER BY round(ln((bg.n * 1.0 / n_bi)
                      / ((u1.nw * 1.0 / n_uni) * (u2.nw * 1.0 / n_uni))), 6) DESC,
             w1, w2
    LIMIT 100
    """,
)
def pmi_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — the
    collocation / phrase-mining score (Church & Hanks 1990) behind
    phrase detection in LLM-corpus tokenizer prep: pmi =
    ln(p(xy) / (p(x)p(y))), top-100 pairs.

    One corpus scan, NO token shuffle: bigrams are built map-side with
    an array `transform` over each document's token list (no
    posexplode+window, whose per-doc sort would shuffle the full token
    stream at 100 TB), and every token occurrence appears exactly once
    as a pair LHS (last tokens pair with NULL), so the single
    vocab²-sized (w1, w2) hash-agg also yields the unigram marginals
    as regroups of itself — probabilities stay exact integer ratios
    and pmi is one ln per pair, identical in both engines."""
    d = load(spark, sf_dir).documents
    pairs = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' '))),"
                " i -> struct(element_at(split(text, ' '), i) AS w1,"
                "             try_element_at(split(text, ' '), i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bg = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        # vocab²-sized; checkpoint so the three consumers below do not
        # each re-scan the corpus.
        .localCheckpoint(eager=True)
    )
    uni = bg.groupBy(F.col("w1").alias("w")).agg(F.sum("n").alias("nw"))
    tots = bg.agg(
        F.sum("n").alias("n_uni"),
        F.sum(F.when(F.col("w2").isNotNull(), F.col("n"))).alias("n_bi"),
    )
    pmi = F.round(
        F.log(
            (F.col("n") / F.col("n_bi"))
            / ((F.col("nw1") / F.col("n_uni")) * (F.col("nw2") / F.col("n_uni")))
        ),
        6,
    )
    return (
        bg.filter(F.col("w2").isNotNull())
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("nw").alias("nw1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("nw").alias("nw2"))), "w2")
        .crossJoin(F.broadcast(tots))
        .select("w1", "w2", F.col("n").alias("n_pair"), pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(100)
    )


_BM25_TERMS = ("join", "hash", "scan", "filter")


def _bm25_term_sql(t: str) -> str:
    """Per-term BM25 contribution over the pivoted (tf_t, dl) columns;
    k1=1.2, b=0.75, Lucene-style idf = ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return (
        f"(CASE WHEN tf_{t} > 0 THEN"
        f" ln(1 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * tf_{t} * 2.2 / (tf_{t} + 1.2 * (0.25 + 0.75 * dl / avgdl))"
        f" ELSE 0.0 END)"
    )


@register(
    "bm25_keyword_search",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
    """
    + ",\n".join(
        f"         CAST(sum(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    + """
      FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(sum(dl) AS BIGINT) * 1.0 / count(*) AS avgdl,
             CAST(count(*) AS BIGINT) AS n_docs,
    """
    + ",\n".join(
        f"         CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    + """
      FROM dl
    )
    SELECT doc_id, dl, """
    + ", ".join(f"tf_{t}" for t in _BM25_TERMS)
    + """,
           round("""
    + " + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)
    + """, 6) AS bm25
    FROM dl CROSS JOIN stats
    ORDER BY bm25 DESC, doc_id
    LIMIT 50
    """,
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75, Lucene idf): top-50
    documents for the fixed query {join, hash, scan, filter} — the
    lexical half of every hybrid (BM25 + vector) search stack.

    ONE corpus scan produces per-doc length AND the per-term tfs
    (conditional aggregation — the query-term filter means no
    vocabulary-sized state); corpus stats (N, avgdl, per-term df)
    regroup that doc-sized table into ONE row broadcast to the scorer.
    The score is a single fixed-order arithmetic expression over
    integer tfs/dfs — avgdl is derived sum/count, not avg(), so both
    engines compute bit-identical doubles and the top-50 cut cannot
    flip on a last-ulp tie."""
    d = load(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = dl.agg(
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    score = None
    for t in _BM25_TERMS:
        idf = F.log(
            1 + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        term = F.when(
            F.col(f"tf_{t}") > 0,
            idf
            * F.col(f"tf_{t}")
            * 2.2
            / (F.col(f"tf_{t}") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))),
        ).otherwise(0.0)
        score = term if score is None else score + term
    return (
        dl.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in _BM25_TERMS],
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
    )


@register(
    "inverted_index_postings",
    oracle="WITH "
    + _ORACLE_TOK
    + """
    SELECT w AS term,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           array_to_string(list_slice(list_sort(list(DISTINCT doc_id)), 1, 10), ',')
             AS postings_head
    FROM tok GROUP BY w ORDER BY term
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency + the head of
    the sorted postings list — the core retrieval structure BM25 /
    boolean search serves from, as one distinct-agg over the token
    table (posting lists live WITH their term row: shippable as a
    parquet index, mergeable per shard by sorted-list union).

    The head-slice keeps the registered query's output bounded for the
    value-hash compare; production writes the full `collect_set` (or,
    at 100 TB, a per-shard postings segment per term — the same
    groupBy with a shard key, merged lazily at read like Lucene
    segments). One shuffle on the term key.

    The head is emitted as a comma-joined STRING, not ARRAY<BIGINT>:
    the external canonicalizer sorts rows via pandas, which cannot
    hash list cells (r7's only red row). Registered outputs must be
    scalar-typed — enforced repo-wide by tools/driver_sweep.py."""
    d = load(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return (
        tok.groupBy(F.col("w").alias("term"))
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, 10).cast(
                    "array<string>"
                ),
                ",",
            ).alias("postings_head"),
        )
        .orderBy("term")
    )


@register(
    "mixture_temperature_weights",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    tots AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot,
             sum(pow(n_docs, 0.7)) AS z
      FROM counts
    )
    SELECT lang, n_docs,
           round(n_docs * 1.0 / n_tot, 6) AS raw_share,
           round(pow(n_docs, 0.7) / z, 6) AS temp_share,
           round((pow(n_docs, 0.7) / z) / (n_docs * 1.0 / n_tot), 6) AS boost
    FROM counts CROSS JOIN tots
    ORDER BY lang
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based sampling weights (α = 0.7, the mT5/XLM-R
    scheme): per-language mixture share ∝ n^α renormalized, with the
    boost factor over the raw share — the knob that up-samples
    low-resource languages in a multilingual training mix without
    flattening the head entirely.

    One scan to language counts; Z = Σ n^α is a 5-term regroup of the
    tiny count table, each share is exact-count-derived
    with one pow/division chain per row, and the boost column makes
    the up/down-sampling auditable (boost > 1 ⇔ below-average-size
    language)."""
    d = load(spark, sf_dir).documents
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tots = counts.agg(
        F.sum("n_docs").alias("n_tot"),
        F.sum(F.pow("n_docs", 0.7)).alias("z"),
    )
    raw = F.col("n_docs") / F.col("n_tot")
    temp = F.pow("n_docs", 0.7) / F.col("z")
    return (
        counts.crossJoin(F.broadcast(tots))
        .select(
            "lang",
            "n_docs",
            F.round(raw, 6).alias("raw_share"),
            F.round(temp, 6).alias("temp_share"),
            F.round(temp / raw, 6).alias("boost"),
        )
        .orderBy("lang")
    )


_HOLDOUT_K = 20


@register(
    "per_group_eval_holdout",
    oracle=f"""
    WITH r AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_pool,
           CAST(sum(CASE WHEN rn <= {_HOLDOUT_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_selected,
           CAST(sum(CASE WHEN rn <= {_HOLDOUT_K} THEN n_chars ELSE 0 END)
                AS BIGINT) AS holdout_chars
    FROM r
    GROUP BY lang
    ORDER BY lang
    """,
)
def per_group_eval_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k deterministic holdout per group: each language
    contributes its k=20 documents with the smallest md5(doc_id) — the
    eval/dev-set carve-out a training pipeline must keep STABLE across
    re-runs, engines, and corpus growth-by-appending (an existing doc's
    membership only changes if a new doc hashes below the current kth,
    exactly like a KMV sketch front).

    Unlike fraction-based sampling (deterministic_hash_sample), this
    guarantees the exact per-group count. The k smallest hashes per
    language come from the SALTED two-phase top-k
    (operators/ranking.py::bounded_group_topk): a handful of language
    groups would otherwise each sort a corpus-sized partition on one
    task; instead phase 1 ranks inside (lang, salt) partitions in
    parallel and phase 2 re-ranks only n_salts·k survivors, with the
    per-language pool size summed from the same pass. The phase-2 sort
    key appends the zero-padded doc_id to the hash so the (md5, doc_id)
    tie-break is one lexicographic column, matching the oracle."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        bounded_group_topk,
    )

    docs = load(spark, sf_dir).documents
    sel = docs.select(
        "lang",
        "n_chars",
        "doc_id",
        F.concat(
            F.md5(F.col("doc_id").cast("string")),
            F.lit("|"),
            F.lpad(F.col("doc_id").cast("string"), 19, "0"),
        ).alias("hk"),
    )
    top = bounded_group_topk(
        sel, ["lang"], "hk", _HOLDOUT_K, salt_src="doc_id",
        carry_cols=("n_chars",),
    )
    return (
        top.groupBy("lang")
        .agg(
            F.first("group_total").alias("n_pool"),
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("n_chars").cast("long").alias("holdout_chars"),
        )
        .orderBy("lang")
    )


# sized to the synthetic corpus (31 distinct tokens) so the OOV tail is
# non-degenerate; a production vocab would be 32k-256k BPE entries
_VOCAB_K = 24


@register(
    "vocab_oov_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    st AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY source, tok
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, CAST(sum(n) AS BIGINT) AS total
        FROM st GROUP BY tok
        ORDER BY total DESC, tok
        LIMIT {_VOCAB_K}
      )
    )
    SELECT st.source,
           CAST(sum(st.n) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN st.n ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           round(sum(CASE WHEN v.tok IS NULL THEN st.n ELSE 0 END) * 1.0
                 / sum(st.n), 6) AS oov_rate
    FROM st LEFT JOIN vocab v ON v.tok = st.tok
    GROUP BY st.source
    ORDER BY st.source
    """,
)
def vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: fix the vocabulary to the
    corpus's top-k tokens (k = _VOCAB_K, 24 here — sized to the 31-token
    synthetic corpus so the OOV tail is non-degenerate; production
    vocabularies are 32k-256k BPE entries; frequency-ordered, ties by
    token) and
    report each source's out-of-vocabulary token rate — the statistic
    that decides whether a tokenizer/vocab transfers to a new data
    source before training on it.

    One token pass total: the fact-sized token stream reduces
    immediately to (source, token) counts, which are materialized once
    and re-used for BOTH the global top-k vocabulary (distributed
    TakeOrdered over the token-summed table) and the per-source tally
    (left join against the k-row broadcast vocab). Rates are single
    divisions of exact integer counts."""
    docs = load(spark, sf_dir).documents
    st = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        # vocabulary-scale; vocab derivation and tally both read it
        .localCheckpoint(eager=True)
    )
    vocab = (
        st.groupBy("tok")
        .agg(F.sum("n").cast("long").alias("total"))
        .orderBy(F.col("total").desc(), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    tagged = st.join(F.broadcast(vocab), "tok", "left")
    oov = F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(0)
    return (
        tagged.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(oov).cast("long").alias("oov_tokens"),
            F.round(F.sum(oov) / F.sum("n"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


@register(
    "reciprocal_rank_fusion",
    oracle="""
    WITH base AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
             CAST(length(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS nt
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY nc DESC, doc_id) AS BIGINT)
               AS rank_chars,
             CAST(row_number() OVER (ORDER BY nt DESC, doc_id) AS BIGINT)
               AS rank_vocab
      FROM base
    )
    SELECT doc_id, rank_chars, rank_vocab,
           round(1.0 / (60 + rank_chars) + 1.0 / (60 + rank_vocab), 6)
             AS rrf_score
    FROM r
    ORDER BY 1.0 / (60 + rank_chars) + 1.0 / (60 + rank_vocab) DESC, doc_id
    LIMIT 50
    """,
)
def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k=60) of two retrieval signals —
    the standard way to merge heterogeneous rankings (BM25 + dense, or
    here: document length vs distinct-vocabulary size) when score
    scales aren't comparable: score(d) = Σ 1/(k + rank_i(d)), top-50.

    Each signal needs a GLOBAL ranking of every document — both are
    computed with the distributed two-phase prefix sum
    (operators/ranking.py), never a single-partition row_number window;
    the doc-level base (id, two integral signals) is checkpointed once
    and feeds both passes. Ranks are exact integers with doc_id
    tie-breaks, so 1/(60+r) is the identical double on both engines and
    the top-50 cut is deterministic."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    d = load(spark, sf_dir).documents
    base = (
        d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("nc"),
            F.size(F.array_distinct(F.split("text", " ")))
            .cast("long")
            .alias("nt"),
        )
        # doc-count-sized; both ranking passes read it
        .localCheckpoint(eager=True)
    )
    ra = global_order_stats(
        base.select("doc_id", "nc"), "nc", "doc_id", ascending=False
    ).select("doc_id", F.col("global_rank").alias("rank_chars"))
    rb = global_order_stats(
        base.select("doc_id", "nt"), "nt", "doc_id", ascending=False
    ).select("doc_id", F.col("global_rank").alias("rank_vocab"))
    score = F.lit(1.0) / (60 + F.col("rank_chars")) + F.lit(1.0) / (
        60 + F.col("rank_vocab")
    )
    return (
        ra.join(rb, "doc_id")
        .orderBy(score.desc(), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            "rank_chars",
            "rank_vocab",
            F.round(score, 6).alias("rrf_score"),
        )
    )


@register(
    "cross_source_quantile_calibration",
    oracle="""
    WITH s AS (
      SELECT source,
             unnest(['p10', 'p50', 'p90']) AS percentile,
             unnest([
               percentile_cont(0.1) WITHIN GROUP (ORDER BY n_chars),
               percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars),
               percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars)
             ]) AS val
      FROM documents GROUP BY source
    ),
    g AS (
      SELECT unnest(['p10', 'p50', 'p90']) AS percentile,
             unnest([
               percentile_cont(0.1) WITHIN GROUP (ORDER BY n_chars),
               percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars),
               percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars)
             ]) AS gval
      FROM documents
    )
    SELECT s.source, s.percentile,
           round(s.val, 6) AS value,
           round(g.gval, 6) AS global_value,
           round(s.val / g.gval, 6) AS ratio
    FROM s JOIN g ON g.percentile = s.percentile
    ORDER BY s.source, s.percentile
    """,
)
def cross_source_quantile_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source quantile calibration of document length: each
    source's p10/p50/p90 of n_chars against the global corpus
    percentiles, with the ratio that tells a mixing pipeline whether a
    per-source quality threshold (e.g. 'drop the shortest decile') cuts
    comparable material everywhere — the distribution-alignment check
    that precedes any global length/quality filter.

    Percentiles come from the sketch-bracketed exact selection helper
    (operators/relational.py::exact_group_percentiles — interpolated
    percentile_cont, no per-group whole-column agg buffer, no global
    sort), run once grouped by source and once on a constant group for
    the corpus-wide line; the 3-row global side broadcasts into the
    final join. Values are identical IEEE doubles to DuckDB's
    percentile_cont, so the single-division ratio rounds identically."""
    from data_warehouse_data_mining_spark.operators.relational import (
        exact_group_percentiles,
    )

    # the helper makes up to three passes per grouping; hand BOTH
    # groupings one materialized 2-column projection instead of six
    # re-reads of the documents parquet
    d = (
        load(spark, sf_dir)
        .documents.select("source", "n_chars")
        .localCheckpoint(eager=True)
    )
    ps = [0.1, 0.5, 0.9]
    labels = F.array(F.lit("p10"), F.lit("p50"), F.lit("p90"))
    src = exact_group_percentiles(d, "source", "n_chars", ps).select(
        "source",
        F.element_at(labels, F.col("pid").cast("int") + 1).alias("percentile"),
        F.col("val"),
    )
    glob = exact_group_percentiles(
        d.withColumn("__all", F.lit("ALL")), "__all", "n_chars", ps
    ).drop("__all").select(
        F.element_at(labels, F.col("pid").cast("int") + 1).alias("percentile"),
        F.col("val").alias("gval"),
    )
    return (
        src.join(F.broadcast(glob), "percentile")
        .select(
            "source",
            "percentile",
            F.round("val", 6).alias("value"),
            F.round("gval", 6).alias("global_value"),
            F.round(F.col("val") / F.col("gval"), 6).alias("ratio"),
        )
        .orderBy("source", "percentile")
    )


ZIPF_TOP = 1000


@register(
    "zipf_slope_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY w
    ),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, w) AS rk
      FROM vocab
    ),
    pts AS (
      SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
      FROM ranked WHERE rk <= {ZIPF_TOP}
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM pts
    )
    SELECT n AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS slope of
    ln(freq) vs ln(rank) over the top-{ZIPF_TOP} vocabulary — natural
    text sits near slope −1, and a corpus that deviates hard (flat:
    templated/spammy; steep: tiny effective vocabulary) gets flagged
    before training. Slope/intercept/R² come from one closed-form
    moment pass, the groupwise_ols_trend recipe applied corpus-wide.

    The frequency ranking is a GLOBAL order over the vocabulary —
    distributed two-phase prefix sum (operators/ranking.py), word
    tie-break, never a one-partition window; the top-{ZIPF_TOP} cut
    bounds the double-precision moment sums so cross-engine summation
    noise stays orders below the 6-decimal rounding."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    d = load(spark, sf_dir).documents
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_order_stats(vocab, "freq", "w", ascending=False)
    pts = ranked.filter(F.col("global_rank") <= ZIPF_TOP).select(
        F.log(F.col("global_rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6).alias("intercept"),
        F.round(
            F.pow(nd * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / (
                (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


@register(
    "dominant_term_clusters",
    oracle="WITH "
    + _ORACLE_TOK
    + """
    , tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    ),
    top1 AS (
      SELECT doc_id, term,
             -- double-round exactly like the Spark side (which reads the
             -- helper's 6-rounded tfidf): round6 -> x1e6 -> round0 on
             -- identical doubles is identical; a single-round here could
             -- diverge within representation error of .5 micro-units
             CAST(round(round(score, 6) * 1000000, 0) AS BIGINT)
               AS score_fp FROM (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rank
        FROM scored
      ) t WHERE rank = 1
    )
    SELECT term AS dominant_term,
           CAST(count(*) AS BIGINT) AS n_docs_cluster,
           ((2 * CAST(sum(score_fp) AS BIGINT) + count(*))
              // (2 * count(*))) / 1000000.0 AS avg_top_score
    FROM top1
    GROUP BY term
    ORDER BY n_docs_cluster DESC, dominant_term
    LIMIT 50
    """,
)
def dominant_term_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lightweight topic clustering: every document is assigned to its
    rank-1 TF-IDF term (ties break lexicographically) and the top-50
    clusters report size and mean top-score — the cheap, fully
    deterministic 'what is this corpus about' census that precedes any
    real topic model, and a grouping key for stratified corpus audits.

    Reuses the one-tokenization TF-IDF shape (tfidf_top_terms_table
    with k = 1 — tf persists across its df regroup and the scoring
    join); the cluster rollup is vocabulary-bounded. The cluster mean
    is computed half-up in 1e-6 fixed point: averaging even identical
    rounded doubles hits .5-ulp boundaries where engines' summation
    order flips the 6th decimal (playbook rule)."""
    tokens = _doc_tokens(spark, sf_dir).select("id", "w")
    n_docs = load(spark, sf_dir).documents.agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    top1 = tfidf_top_terms_table(tokens, n_docs, top_k=1)
    return (
        top1.groupBy(F.col("term").alias("dominant_term"))
        .agg(
            F.count(F.lit(1)).alias("n_docs_cluster"),
            (
                F.expr(
                    "(2 * CAST(sum(CAST(round(tfidf * 1000000, 0) AS BIGINT))"
                    " AS BIGINT) + count(1)) div (2 * count(1))"
                )
                / 1000000.0
            ).alias("avg_top_score"),
        )
        .orderBy(F.col("n_docs_cluster").desc(), "dominant_term")
        .limit(50)
    )


@register(
    "quality_filter_ablation",
    oracle="WITH "
    + _ORACLE_TOK
    + f"""
    , per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN w IN {_sql_in(STOPWORDS)}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
             CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
      FROM tok GROUP BY doc_id
    ),
    flags AS (
      SELECT CASE WHEN n_tokens < 25 THEN 1 ELSE 0 END AS f_short,
             CASE WHEN n_stop * 10 >= n_tokens THEN 1 ELSE 0 END AS f_stop,
             CASE WHEN n_distinct * 2 <= n_tokens THEN 1 ELSE 0 END AS f_rep
      FROM per_doc
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM flags)
    SELECT f_short, f_stop, f_rep,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) * 1.0 / any_value(t.total), 6) AS share,
           CASE WHEN f_short + f_stop + f_rep = 0
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM flags CROSS JOIN t
    GROUP BY f_short, f_stop, f_rep
    ORDER BY f_short, f_stop, f_rep
    """,
)
def quality_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ablation matrix: three deterministic corpus
    filters (too-short < 25 tokens; stopword-heavy, ratio ≥ 10% as the
    integer test 10·stops ≥ tokens; repetitive, distinct-token ratio
    ≤ ½) evaluated JOINTLY — one row per flag combination with counts
    and corpus share. The ablation view shows what each filter uniquely
    removes vs overlaps, which is how curation pipelines tune
    thresholds before a destructive drop (a marginal-only report hides
    double-counting).

    ONE tokenization pass feeds all three flags (count / conditional
    count / distinct count in the same per-doc hash-agg); the rollup is
    ≤ 8 rows. Every threshold is an exact integer comparison — no float
    boundary can disagree across engines."""
    tok = _doc_tokens(spark, sf_dir)
    per_doc = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("w").isin(*STOPWORDS).cast("int"))
        .cast("long")
        .alias("n_stop"),
        F.countDistinct("w").alias("n_distinct"),
    )
    flags = per_doc.select(
        F.when(F.col("n_tokens") < 25, 1).otherwise(0).alias("f_short"),
        F.when(F.col("n_stop") * 10 >= F.col("n_tokens"), 1)
        .otherwise(0)
        .alias("f_stop"),
        F.when(F.col("n_distinct") * 2 <= F.col("n_tokens"), 1)
        .otherwise(0)
        .alias("f_rep"),
    )
    t = flags.agg(F.count(F.lit(1)).alias("total"))
    return (
        flags.crossJoin(F.broadcast(t))
        .groupBy("f_short", "f_stop", "f_rep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.count(F.lit(1)) * 1.0 / F.first("total"), 6).alias(
                "share"
            ),
            F.when(
                F.col("f_short") + F.col("f_stop") + F.col("f_rep") == 0,
                "keep",
            )
            .otherwise("drop")
            .alias("verdict"),
        )
        .orderBy("f_short", "f_stop", "f_rep")
    )


TOKENIZE_VOCAB_K = 1000


@register(
    "tokenize_to_ids",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS tokn
      FROM ws, unnest(range(1, len(w) + 1)) AS u(i)
    ),
    freq AS (
      SELECT tokn, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY tokn
    ),
    vocab AS (
      SELECT tokn, rk AS vid FROM (
        SELECT tokn, row_number() OVER (ORDER BY f DESC, tokn) AS rk
        FROM freq
      ) r WHERE rk <= {TOKENIZE_VOCAB_K}
    ),
    ids AS (
      SELECT t.doc_id, t.pos, coalesce(v.vid, 0) AS vid
      FROM tok t LEFT JOIN vocab v ON v.tokn = t.tokn
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           md5(string_agg(CAST(vid AS VARCHAR), ',' ORDER BY pos)) AS ids_digest
    FROM ids GROUP BY doc_id ORDER BY doc_id
    """,
)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer step of a training pipeline made explicit: map
    every document to its ORDERED sequence of vocabulary ids (top-1000
    corpus tokens by frequency, deterministic freq-then-lex ranking; id
    0 = OOV) and emit per doc the token/OOV counts plus an md5 digest
    of the comma-joined id sequence — the digest makes the full ordered
    id array hash-verifiable without shipping megabyte rows through the
    compare.

    Shapes: the vocabulary ranking is the distributed two-phase prefix
    sum over the vocab-sized frequency table; the id join is
    token-stream ⋈ vocab on the token key (AQE broadcasts the 1000-row
    vocab); sequence order is reconstructed INSIDE the aggregate via
    array_sort over (pos, id) structs — collect_list alone is
    arrival-ordered (match_recognize_funnel's rule)."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    d = load(spark, sf_dir).documents
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tokn")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tokn")
    freq = (
        tok.groupBy("tokn")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    vocab = (
        global_order_stats(freq, "f", "tokn", ascending=False)
        .filter(F.col("global_rank") <= TOKENIZE_VOCAB_K)
        .select("tokn", F.col("global_rank").alias("vid"))
    )
    ids = tok.join(vocab, "tokn", "left").select(
        "doc_id", "pos", F.coalesce("vid", F.lit(0)).alias("vid")
    )
    return (
        ids.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("vid") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.md5(
                F.expr(
                    "array_join(transform(array_sort("
                    "collect_list(struct(pos, vid))),"
                    " x -> CAST(x.vid AS STRING)), ',')"
                )
            ).alias("ids_digest"),
        )
        .orderBy("doc_id")
    )


@register(
    "hapax_ratio_by_source",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS f
      FROM tok GROUP BY source, w
    )
    SELECT source,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS hapax_ratio,
           round(count(*) * 1.0 / CAST(sum(f) AS BIGINT), 6)
             AS type_token_ratio
    FROM vocab
    GROUP BY source
    ORDER BY source
    """,
)
def hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness profile per source: hapax legomena share
    (tokens occurring exactly once — high on natural/diverse text,
    collapsing on templated output) and type-token ratio — the
    corpus-linguistics companions to zipf_slope_fit for spotting
    machine-generated or boilerplate-heavy sources before training.

    One (source, token) hash-agg then a source rollup; both ratios are
    single divisions of exact counts."""
    d = load(spark, sf_dir).documents
    vocab = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).groupBy("source", "w").agg(F.count(F.lit(1)).alias("f"))
    return (
        vocab.groupBy("source")
        .agg(
            F.sum("f").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.round(
                F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_ratio"),
            F.round(
                F.count(F.lit(1)) * 1.0 / F.sum("f").cast("long"), 6
            ).alias("type_token_ratio"),
        )
        .orderBy("source")
    )


SPAN_LEN = 12      # tokens per exact-match window
SPAN_MOD = 4       # mod-p fingerprint sampling density (keep 1/SPAN_MOD)
SPAN_TOP = 100


@register(
    "repeated_span_census",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wins AS (
      SELECT doc_id,
             md5(array_to_string(ws[i : i + {SPAN_LEN - 1}], ' ')) AS h
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {SPAN_LEN - 2})) AS i
            FROM words WHERE len(ws) >= {SPAN_LEN})
    ),
    sel AS (
      SELECT doc_id, h FROM wins
      WHERE list_reduce(
              list_transform(range(1, 9),
                j -> CAST(strpos('0123456789abcdef',
                                 substr(h, CAST(j AS INT), 1)) - 1 AS BIGINT)),
              (a, b) -> a * 16 + b) % {SPAN_MOD} = 0
    )
    SELECT h AS span_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM sel GROUP BY h
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, span_hash
    LIMIT {SPAN_TOP}
    """,
)
def repeated_span_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span detection across documents — the scalable
    approximation of suffix-array substring dedup (the Lee et al.
    'Deduplicating Training Data' family): any {SPAN_LEN}-token window
    repeated verbatim in ≥2 docs surfaces here, via mod-p fingerprint
    sampling instead of a suffix array. Every sliding window is hashed
    (md5 of the token join — engine-portable), then only windows whose
    hash ≡ 0 (mod {SPAN_MOD}) are kept: identical spans select identical
    fingerprints, so a repeated span of ≥ {SPAN_LEN}+{SPAN_MOD} tokens is
    caught with near-certainty while the shuffle carries ~1/{SPAN_MOD}
    of the window stream. The census groups the sampled fingerprints and
    reports cross-doc repeats (top {SPAN_TOP} by spread, deterministic
    hash tiebreak).

    Scale: window hashing and sampling are map-only codegen expressions;
    the only shuffle is the sampled-fingerprint groupBy (SPAN_MOD tunes
    shuffle volume); the top-k is TakeOrdered, not a global sort. This
    catches verbatim template/boilerplate repetition that shingle-SET
    methods (MinHash on 3-gram sets) dilute away in long documents."""
    d = load(spark, sf_dir).documents.repartition(
        spark.sparkContext.defaultParallelism
    )
    return repeated_spans(d, "doc_id", "text")


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_len: int = SPAN_LEN,
    mod: int = SPAN_MOD,
    top: int = SPAN_TOP,
) -> DataFrame:
    """Generic mod-p-sampled repeated-span detector (see
    ``repeated_span_census`` for semantics and scale notes); works on
    any (id, text) DataFrame."""
    # th.bind: the split(text) array must be a bound lambda variable —
    # an inline reference inside the per-window slice re-evaluates the
    # split per window (the word_shingles O(n²) class, fixed r10)
    win_hashes = th.bind(
        th.words(F.col(text_col)),
        lambda arr: F.when(
            F.size(arr) >= span_len,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - (span_len - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(arr, i, span_len))),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    wins = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(win_hashes).alias("h"),
    )
    sel = wins.filter(
        F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint") % mod == 0
    )
    return (
        sel.groupBy(F.col("h").alias("span_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "span_hash"
        )
        .limit(top)
    )


BIGRAM_ALPHA = 0.5


@register(
    "doc_bigram_logprob",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    big AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
            FROM words WHERE len(ws) >= 2)
    ),
    cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
    cc AS (SELECT w1, count(*) AS cc FROM big GROUP BY w1),
    vocab AS (
      SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(round(-ln((cb.cb + {BIGRAM_ALPHA})
                                         / (cc.cc + {BIGRAM_ALPHA} * v)), 6)
                               AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*), 6) AS avg_neg_logprob
    FROM big b
    JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
    JOIN cc ON cc.w1 = b.w1
    CROSS JOIN vocab
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score with add-α smoothing — the
    CCNet-style perplexity filter one order up from
    ``doc_unigram_logprob``: per document, the average
    -ln P(wᵢ | wᵢ₋₁) under the corpus bigram distribution,
    P(w₂|w₁) = (c(w₁,w₂)+α) / (c(w₁·)+α·V). Catches garbled token
    ORDER (shuffled/interleaved text) that any unigram model scores as
    perfectly normal.

    Numeric canon: identical to the unigram scorer — each term rounds
    to 6 decimals and sums through DECIMAL, so the per-doc mean is
    accumulation-order-independent and engine-exact.

    Scale shape: the bigram stream is built map-side from the token
    array (no self-join on position); bigram/context counts are two
    hash-agg shuffles; the count-joins back onto the stream are
    vocabulary²-sized on one side (AQE decides broadcast); the 1-row
    vocabulary size rides a broadcast crossJoin."""
    d = load(spark, sf_dir).documents.repartition(
        spark.sparkContext.defaultParallelism
    )
    ws = th.words(F.col("text"))
    big = d.select(
        F.col("doc_id").alias("id"),
        F.explode(
            # th.bind: see repeated-span note — indexed walks over the
            # split array must bind it as a lambda variable (O(n²) fix)
            th.bind(
                ws,
                lambda arr: F.when(
                    F.size(arr) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - 1),
                        lambda i: F.struct(
                            F.element_at(arr, i).alias("w1"),
                            F.element_at(arr, i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<w1:string,w2:string>>")
                ),
            )
        ).alias("bg"),
    ).select("id", "bg.w1", "bg.w2")
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cc = big.groupBy("w1").agg(F.count(F.lit(1)).alias("cc"))
    vocab = (
        d.select(F.explode(ws).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    term6 = F.round(
        -F.log(
            (F.col("cb") + BIGRAM_ALPHA) / (F.col("cc") + BIGRAM_ALPHA * F.col("v"))
        ),
        6,
    ).cast("decimal(28,6)")
    return (
        big.join(cb, ["w1", "w2"])
        .join(cc, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(term6).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_neg_logprob"),
        )
        .select(F.col("id").alias("doc_id"), "n_bigrams", "avg_neg_logprob")
        .orderBy("doc_id")
    )


BPE_TOP_MERGES = 10


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
      SELECT w, count(*) AS cnt FROM tok WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 1) AS left_sym,
             substr(w, CAST(i AS INT) + 1, 1) AS right_sym,
             cnt
      FROM wc, unnest(range(1, length(w))) AS t(i)
    ),
    agg AS (
      SELECT left_sym, right_sym,
             CAST(sum(cnt) AS BIGINT) AS pair_freq
      FROM pairs GROUP BY 1, 2
    )
    SELECT left_sym, right_sym, pair_freq,
           CAST(row_number() OVER (ORDER BY pair_freq DESC, left_sym,
                                   right_sym) AS BIGINT) AS merge_rank
    FROM agg
    ORDER BY merge_rank
    LIMIT {BPE_TOP_MERGES}
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training step: the corpus-weighted frequency
    of every ADJACENT symbol pair, ranked — the top row is the merge a
    BPE trainer would perform next (Sennrich et al. 2016). Symbols
    here are the initial character alphabet; pairs never cross word
    boundaries (standard word pre-tokenization).

    The scale trick IS the classic one: pair counting runs over the
    word-FREQUENCY table, not the corpus — one corpus-sized token
    aggregate collapses 100 TB of text into a vocabulary-sized
    (word, count) table, and the pair explode + weighted sum happen on
    that bounded table (each distinct word contributes its pairs once,
    weighted by cnt). A naive per-document pair explode would be
    corpus-sized; this is vocab-sized. Two shuffles total, both
    map-side combinable: token→word counts, then pair→freq; the top-10
    cut is a distributed TakeOrdered on the (alphabet²)-bounded pair
    table, with merge_rank re-derived on the 10-row result.

    Exact-oracle-checked end to end: counts are exact integers and the
    (freq DESC, left, right) order is total."""
    tok = load(spark, sf_dir).documents.select(
        F.explode(F.split("text", " ")).alias("w")
    )
    wc = (
        tok.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # len >= 2 guarantees sequence(1, len-1) is ascending (never the
    # descending-sequence surprise of sequence(1, 0))
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.struct(
            F.col("w").substr(i, F.lit(1)).alias("left_sym"),
            F.col("w").substr(i + 1, F.lit(1)).alias("right_sym"),
        ),
    )
    agg = (
        wc.select(F.explode(pair_arr).alias("p"), "cnt")
        .groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("cnt").cast("bigint").alias("pair_freq"))
    )
    order = [F.col("pair_freq").desc(), F.col("left_sym"), F.col("right_sym")]
    top = agg.orderBy(*order).limit(BPE_TOP_MERGES)
    wr = W.orderBy(*order)
    return (
        top.withColumn("merge_rank", F.row_number().over(wr).cast("bigint"))
        .orderBy("merge_rank")
    )


@register(
    "filter_shapley_attribution",
    oracle="WITH "
    + _ORACLE_TOK
    + f"""
    , per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN w IN {_sql_in(STOPWORDS)}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
             CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
      FROM tok GROUP BY doc_id
    ),
    flags AS (
      SELECT CASE WHEN n_tokens < 25 THEN 1 ELSE 0 END AS fs,
             CASE WHEN n_stop * 10 >= n_tokens THEN 1 ELSE 0 END AS ft,
             CASE WHEN n_distinct * 2 <= n_tokens THEN 1 ELSE 0 END AS fr
      FROM per_doc
    ),
    v AS (
      SELECT CAST(sum(fs) AS BIGINT) AS v_s,
             CAST(sum(ft) AS BIGINT) AS v_t,
             CAST(sum(fr) AS BIGINT) AS v_r,
             CAST(sum(greatest(fs, ft)) AS BIGINT) AS v_st,
             CAST(sum(greatest(fs, fr)) AS BIGINT) AS v_sr,
             CAST(sum(greatest(ft, fr)) AS BIGINT) AS v_tr,
             CAST(sum(greatest(fs, ft, fr)) AS BIGINT) AS v_str
      FROM flags
    )
    SELECT filter_name, solo_removed, shapley_sixths,
           round(shapley_sixths / 6.0, 6) AS shapley_docs,
           round(shapley_sixths * 100.0 / (6 * v_str), 6) AS share_pct
    FROM (
      SELECT 'short' AS filter_name, v_s AS solo_removed,
             CAST(2 * v_s + (v_st - v_t) + (v_sr - v_r)
                  + 2 * (v_str - v_tr) AS BIGINT) AS shapley_sixths,
             v_str
      FROM v
      UNION ALL
      SELECT 'stopword_heavy', v_t,
             CAST(2 * v_t + (v_st - v_s) + (v_tr - v_r)
                  + 2 * (v_str - v_sr) AS BIGINT), v_str
      FROM v
      UNION ALL
      SELECT 'repetitive', v_r,
             CAST(2 * v_r + (v_sr - v_s) + (v_tr - v_t)
                  + 2 * (v_str - v_st) AS BIGINT), v_str
      FROM v
    ) ORDER BY filter_name
    """,
)
def filter_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley attribution of removed documents across the three
    quality filters (quality_filter_ablation's short / stopword-heavy /
    repetitive gates): each filter's fair credit for the jointly
    removed set, averaging its marginal contribution over all 3!
    orderings — the principled answer to "which filter is doing the
    work" when removals overlap (a solo-count report double-counts).

    Exactness: with three players the Shapley value has denominator 6,
    so each φ is kept as an exact BIGINT in SIXTHS —
    6φ_i = 2·v({{i}}) + Σ_j (v({{i,j}})−v({{j}})) + 2·(v(N)−v(N\\{{i}}))
    — and all seven coalition values come from ONE per-doc flags pass
    (union-of-filters removal = greatest() of the bits). Efficiency
    (Σφ_i = v(N)) is test-pinned. Scale shape: one tokenization pass,
    one 1-row coalition rollup, a 3-row unpivot."""
    tok = _doc_tokens(spark, sf_dir)
    per_doc = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("w").isin(*STOPWORDS).cast("int"))
        .cast("long")
        .alias("n_stop"),
        F.countDistinct("w").alias("n_distinct"),
    )
    flags = per_doc.select(
        F.when(F.col("n_tokens") < 25, 1).otherwise(0).alias("fs"),
        F.when(F.col("n_stop") * 10 >= F.col("n_tokens"), 1)
        .otherwise(0)
        .alias("ft"),
        F.when(F.col("n_distinct") * 2 <= F.col("n_tokens"), 1)
        .otherwise(0)
        .alias("fr"),
    )
    v = flags.agg(
        F.sum("fs").cast("long").alias("v_s"),
        F.sum("ft").cast("long").alias("v_t"),
        F.sum("fr").cast("long").alias("v_r"),
        F.sum(F.greatest("fs", "ft")).cast("long").alias("v_st"),
        F.sum(F.greatest("fs", "fr")).cast("long").alias("v_sr"),
        F.sum(F.greatest("ft", "fr")).cast("long").alias("v_tr"),
        F.sum(F.greatest("fs", "ft", "fr")).cast("long").alias("v_str"),
    )
    rows = []
    specs = [
        ("short", "v_s", ("v_st", "v_t"), ("v_sr", "v_r"), "v_tr"),
        ("stopword_heavy", "v_t", ("v_st", "v_s"), ("v_tr", "v_r"), "v_sr"),
        ("repetitive", "v_r", ("v_sr", "v_s"), ("v_tr", "v_t"), "v_st"),
    ]
    for name, solo, (p1, m1), (p2, m2), rest in specs:
        sixths = (
            2 * F.col(solo)
            + (F.col(p1) - F.col(m1))
            + (F.col(p2) - F.col(m2))
            + 2 * (F.col("v_str") - F.col(rest))
        ).cast("long")
        rows.append(
            v.select(
                F.lit(name).alias("filter_name"),
                F.col(solo).alias("solo_removed"),
                sixths.alias("shapley_sixths"),
                F.round(sixths / 6.0, 6).alias("shapley_docs"),
                F.round(
                    sixths * 100.0 / (6 * F.col("v_str")), 6
                ).alias("share_pct"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("filter_name")


RAKE_TOP_K = 20


@register(
    "rake_keyphrases",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, w, CAST(ord AS BIGINT) AS pos,
             CASE WHEN w IN {STOPWORDS!r} THEN 1 ELSE 0 END AS stop
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS ord
        FROM documents
      )
    ),
    runs AS (
      SELECT doc_id, w, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM words WHERE stop = 0
    ),
    phrases AS (
      SELECT doc_id, island,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM runs GROUP BY doc_id, island
    ),
    members AS (
      SELECT r.w, p.plen
      FROM runs r JOIN phrases p
        ON p.doc_id = r.doc_id AND p.island = r.island
    ),
    wstats AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
      FROM members GROUP BY w
    ),
    wscore AS (
      SELECT w, (deg * 1000000) // freq AS score_micro FROM wstats
    ),
    pscore AS (
      SELECT p.phrase,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(any_value(ps.s) AS BIGINT) AS score_micro
      FROM phrases p
      JOIN (
        SELECT p2.doc_id, p2.island, CAST(sum(ws.score_micro) AS BIGINT) AS s
        FROM runs r2
        JOIN phrases p2 ON p2.doc_id = r2.doc_id AND p2.island = r2.island
        JOIN wscore ws ON ws.w = r2.w
        GROUP BY p2.doc_id, p2.island
      ) ps ON ps.doc_id = p.doc_id AND ps.island = p.island
      GROUP BY p.phrase
    )
    SELECT phrase, n_occurrences, score_micro,
           CAST(row_number() OVER (ORDER BY score_micro DESC, phrase)
                AS BIGINT) AS rank
    FROM pscore
    ORDER BY score_micro DESC, phrase LIMIT {RAKE_TOP_K}
    """,
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free word runs (gaps-and-islands on word
    position); each word scores degree/frequency where degree sums the
    lengths of every phrase containing it; a phrase scores the sum of
    its words' scores. The corpus-level top-{RAKE_TOP_K} distinct
    phrases complement tfidf_top_terms (unigram, document-frequency
    driven) with multi-word, co-occurrence-driven keys.

    Exactness: word scores are single integer floor-divisions at 1e-6
    fixed point ((deg*1e6) div freq) and phrase scores are BIGINT sums
    of those — no doubles anywhere; equal phrase TEXT implies equal
    score (scores are global word stats), so the distinct-phrase
    rollup can take any_value. Ranking tie-breaks on the phrase.

    Scale shape: one scan -> posexplode (map-only) -> one doc_id
    shuffle for the island window -> phrase/word hash aggs (vocab- and
    phrase-bounded); the top-k is a TakeOrderedAndProject."""
    d = load(spark, sf_dir).documents
    words = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).withColumn("stop", F.col("w").isin(*STOPWORDS).cast("int"))
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    runs = (
        words.filter(F.col("stop") == 0)
        .withColumn("island", F.col("pos") - F.row_number().over(wdoc))
        .select("doc_id", "w", "pos", "island")
    )
    phrases = runs.groupBy("doc_id", "island").agg(
        F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("pos", "w"))).getField("w")).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    members = runs.join(phrases, ["doc_id", "island"]).select("w", "plen")
    wscore = (
        members.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .select("w", F.expr("(deg * 1000000) div freq").alias("score_micro"))
    )
    island_scores = (
        runs.join(wscore, "w")
        .groupBy("doc_id", "island")
        .agg(F.sum("score_micro").cast("long").alias("s"))
    )
    pscore = (
        phrases.join(island_scores, ["doc_id", "island"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.expr("any_value(s)").cast("long").alias("score_micro"),
        )
    )
    # rank AFTER the TakeOrderedAndProject cut: the row_number window
    # then spans 20 rows, never the full distinct-phrase table
    top = pscore.orderBy(F.col("score_micro").desc(), "phrase").limit(
        RAKE_TOP_K
    )
    wrank = W.orderBy(F.col("score_micro").desc(), "phrase")
    return (
        top.withColumn("rank", F.row_number().over(wrank).cast("long"))
        .orderBy("rank")
        .select("phrase", "n_occurrences", "score_micro", "rank")
    )


WAND_TOP_K = 10


@register(
    "wand_topk_pruning",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
    """
    + ",\n".join(
        f"         CAST(sum(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    + """
      FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(sum(dl) AS BIGINT) * 1.0 / count(*) AS avgdl,
             CAST(count(*) AS BIGINT) AS n_docs,
    """
    + ",\n".join(
        f"         CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    + """
      FROM dl
    ),
    scored AS (
      SELECT doc_id, """
    + ", ".join(f"tf_{t}" for t in _BM25_TERMS)
    + """,
             """
    + " + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)
    + """ AS bm25,
    """
    + ",\n".join(
        f"         {_bm25_term_sql(t)} AS c_{t}" for t in _BM25_TERMS
    )
    + """
      FROM dl CROSS JOIN stats
    ),
    ubs AS (
      SELECT """
    + ", ".join(f"max(c_{t}) AS ub_{t}" for t in _BM25_TERMS)
    + """
      FROM scored
    ),
    theta AS (
      SELECT min(bm25) AS theta FROM (
        SELECT bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
      )
    ),
    cands AS (
      SELECT s.doc_id, s.bm25,
             """
    + " + ".join(
        f"(CASE WHEN s.tf_{t} > 0 THEN u.ub_{t} ELSE 0.0 END)"
        for t in _BM25_TERMS
    )
    + """ AS ub_doc
      FROM scored s CROSS JOIN ubs u
    ),
    topk AS (
      SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM scored) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_candidates,
           round(count(*) * 1.0
                 / (SELECT count(*) FROM scored), 6) AS candidate_frac,
           round((SELECT theta FROM theta), 6) AS theta,
           CAST((SELECT count(*) FROM topk tk
                 JOIN cands c2 ON c2.doc_id = tk.doc_id
                 WHERE c2.ub_doc >= (SELECT theta FROM theta))
                = 10 AS INT) AS top10_all_candidates
    FROM cands WHERE ub_doc >= (SELECT theta FROM theta)
    """,
)
def wand_topk_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND / max-score candidate pruning (Broder et al. 2003; the
    block-max refinement is Ding & Suel 2011) for the BM25 query
    {join, hash, scan, filter}: each term carries its corpus-wide
    maximum contribution UB(t); a document's score is bounded by the
    sum of UB(t) over the query terms it CONTAINS, so any document
    whose bound falls below the current k-th best score theta can be
    skipped without scoring — the candidate fraction is the share of
    the postings a top-k engine would actually evaluate. The safety
    theorem (score <= bound, hence every true top-10 doc survives) is
    emitted as top10_all_candidates and pinned structurally in tests.

    Determinism: term contributions are the bm25_keyword_search
    fixed-order expressions of exact integers (identical doubles both
    engines); UBs are maxima of those; the doc bound sums <= 4 UBs in
    one written order; theta is the min of the TakeOrdered top-10.
    Scale: ONE corpus scan -> doc-sized pivot (query-term filter means
    no vocabulary state); UBs and theta are 1-row broadcasts; at index
    scale the bound test is the skip condition evaluated per posting
    block, not a second pass."""
    d = load(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    ).localCheckpoint(eager=True)
    stats = dl.agg(
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    scored = dl.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        *[F.col(f"tf_{t}") for t in _BM25_TERMS],
        F.expr(" + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)).alias("bm25"),
        *[F.expr(_bm25_term_sql(t)).alias(f"c_{t}") for t in _BM25_TERMS],
    )
    ubs = scored.agg(
        *[F.max(f"c_{t}").alias(f"ub_{t}") for t in _BM25_TERMS]
    )
    top10 = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(WAND_TOP_K)
    theta = top10.agg(F.min("bm25").alias("theta"))
    ub_doc = " + ".join(
        f"(CASE WHEN tf_{t} > 0 THEN ub_{t} ELSE 0.0D END)" for t in _BM25_TERMS
    )
    cands = (
        scored.crossJoin(F.broadcast(ubs))
        .crossJoin(F.broadcast(theta))
        .withColumn("ub_doc", F.expr(ub_doc))
        .filter(F.col("ub_doc") >= F.col("theta"))
    )
    n_docs = scored.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    top_in = (
        top10.select("doc_id")
        .join(cands.select("doc_id"), "doc_id", "left_semi")
        .agg((F.count(F.lit(1)) == WAND_TOP_K).cast("int").alias("top10_all_candidates"))
    )
    return (
        cands.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.round(F.first("theta"), 6).alias("theta"),
        )
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(top_in))
        .select(
            "n_docs",
            "n_candidates",
            F.round(F.col("n_candidates") * 1.0 / F.col("n_docs"), 6).alias(
                "candidate_frac"
            ),
            "theta",
            "top10_all_candidates",
        )
    )


@register(
    "chao1_vocab_richness",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY lang, w
    ),
    per_lang AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS d_observed,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM counts GROUP BY lang
    )
    SELECT lang, d_observed, n_tokens, f1, f2,
           round(d_observed
                 + f1 * 1.0 * (f1 - 1) / (2 * (f2 + 1)), 2) AS chao1_est,
           round(1.0 - f1 * 1.0 / n_tokens, 6) AS good_turing_coverage
    FROM per_lang
    ORDER BY lang
    """,
)
def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimation per language: the bias-corrected
    Chao1 richness estimator D + f1(f1-1)/(2(f2+1)) (Chao 1984) from
    singleton/doubleton counts, plus Good-Turing sample coverage
    1 - f1/N (Good 1953) — the 'how much vocabulary has this crawl NOT
    seen yet' readout that decides whether scraping more of a source
    still buys new tokens (the capture-recapture complement to
    ngram_novelty_by_source's marginal-gain curve and
    vocab_oov_coverage's fixed-vocab view).

    Exactness: D, N, f1, f2 are exact BIGINTs off the per-(lang, word)
    count table; the estimator and coverage are each ONE division of
    exact integers (bias-corrected form — no f2=0 special case),
    rounded at the edge. Scale: token explode -> vocab-bounded hash
    agg -> per-lang 5-number rollup; nothing else."""
    d = load(spark, sf_dir).documents
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    counts = tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_lang = counts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("d_observed"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("int")).cast("long").alias("f1"),
        F.sum((F.col("c") == 2).cast("int")).cast("long").alias("f2"),
    )
    return per_lang.select(
        "lang",
        "d_observed",
        "n_tokens",
        "f1",
        "f2",
        F.round(
            F.col("d_observed")
            + F.col("f1") * 1.0 * (F.col("f1") - 1) / (2 * (F.col("f2") + 1)),
            2,
        ).alias("chao1_est"),
        F.round(1.0 - F.col("f1") * 1.0 / F.col("n_tokens"), 6).alias(
            "good_turing_coverage"
        ),
    ).orderBy("lang")


GT_MAX_R = 10


@register(
    "good_turing_estimates",
    oracle=f"""
    WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
    tok AS (
      SELECT ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS w
      FROM ws, unnest(range(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 3
    ),
    counts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
    fof AS (
      SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r
      FROM counts GROUP BY c
    ),
    grid AS (
      SELECT g.r,
             coalesce(f.n_r, 0) AS n_r,
             coalesce(f1.n_r, 0) AS n_r1
      FROM (SELECT unnest(range(1, {GT_MAX_R + 1})) AS r) g
      LEFT JOIN fof f ON f.r = g.r
      LEFT JOIN fof f1 ON f1.r = g.r + 1
    )
    SELECT CAST(grid.r AS BIGINT) AS r, n_r,
           round(CASE WHEN n_r > 0
                      THEN (grid.r + 1) * 1.0 * n_r1 / n_r
                      ELSE 0.0 END, 6) AS r_star,
           round(CASE WHEN n_r > 0
                      THEN (grid.r + 1) * 1000000.0 * n_r1 / (n_r * n)
                      ELSE 0.0 END / 1.0, 6) AS p_item_ppm,
           n AS n_tokens,
           round(coalesce((SELECT n_r FROM fof WHERE r = 1), 0) * 1.0 / n,
                 6) AS p0_unseen
    FROM grid CROSS JOIN tot
    ORDER BY grid.r
    """,
)
def good_turing_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency re-estimation (Good 1953) over the corpus
    TRIGRAM distribution (the synthetic vocabulary is 31 words, each
    ~900x — unigrams have no rare tail; word trigrams are properly
    Zipfian here with N_1 ~ 9.4k singletons at sf0.01, and trigram
    events are what Katz backoff actually smooths): the
    frequency-of-frequencies table N_r and
    the Turing-adjusted counts r* = (r+1) N_(r+1)/N_r for r = 1..10,
    plus the unseen-event mass P0 = N_1/N — the smoothing table every
    count-based LM (Katz backoff) is built from, and the probability-
    mass complement to chao1_vocab_richness (which estimates unseen
    TYPES; this estimates unseen PROBABILITY and discounts seen
    counts). A healthy Zipfian corpus shows r* < r at small r (mass
    shaved off rare events) — visible directly in the output.

    Exactness: N_r, N and the r* numerators are exact BIGINTs off the
    word-count table; r*, per-item probability (in ppm) and P0 are
    each ONE division of exact integers rounded at the edge — no
    transcendentals at all. Empty N_r rows report 0 (the r grid is a
    10-row literal spine, so the output schema is SF-independent).

    Scale: token explode -> vocab-bounded hash agg -> count-of-counts
    agg (bounded by max frequency); the 10-row spine join is a
    broadcast. One corpus scan total."""
    d = load(spark, sf_dir).documents
    counts = (
        d.select(F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    fof = (
        counts.groupBy(F.col("c").alias("r"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    )
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n")
    )
    # aggregate (never filter-to-maybe-empty): a corpus with no
    # singletons must yield f1 = 0, not an empty frame that zeroes the
    # cross join
    f1 = fof.agg(
        F.coalesce(
            F.sum(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0)
        )
        .cast("long")
        .alias("f1")
    )
    grid = spark.range(1, GT_MAX_R + 1).select(F.col("id").alias("r"))
    g = (
        grid.join(F.broadcast(fof), "r", "left")
        .withColumn("n_r", F.coalesce("n_r", F.lit(0)))
        .join(
            F.broadcast(
                fof.select(
                    (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
                )
            ),
            "r",
            "left",
        )
        .withColumn("n_r1", F.coalesce("n_r1", F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(f1))
    )
    rs = F.when(
        F.col("n_r") > 0,
        (F.col("r") + 1) * 1.0 * F.col("n_r1") / F.col("n_r"),
    ).otherwise(F.lit(0.0))
    pp = F.when(
        F.col("n_r") > 0,
        (F.col("r") + 1) * 1_000_000.0 * F.col("n_r1")
        / (F.col("n_r") * F.col("n")),
    ).otherwise(F.lit(0.0))
    return g.select(
        F.col("r").cast("long").alias("r"),
        "n_r",
        F.round(rs, 6).alias("r_star"),
        F.round(pp, 6).alias("p_item_ppm"),
        F.col("n").alias("n_tokens"),
        F.round(F.col("f1") * 1.0 / F.col("n"), 6).alias("p0_unseen"),
    ).orderBy("r")


TR_ITERS = 8
TR_UNIT = 1_000_000_000_000  # 1.0 of rank mass in fixed-point units
TR_TOP = 15


def _textrank_oracle() -> str:
    steps = []
    for i in range(TR_ITERS):
        steps.append(
            f"""r{i + 1} AS MATERIALIZED (
      SELECT e.dst AS w,
             (15 * {TR_UNIT} // 100)
             + (85 * CAST(sum((r{i}.rank * e.cnt) // wd.wdeg) AS BIGINT))
               // 100 AS rank
      FROM r{i}
      JOIN wd ON wd.w = r{i}.w
      JOIN e ON e.src = r{i}.w
      GROUP BY e.dst
    )"""
        )
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
    adj AS (
      SELECT ws[i] AS a, ws[i + 1] AS b
      FROM ws, unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    pairw AS (
      SELECT least(a, b) AS lo, greatest(a, b) AS hi,
             CAST(count(*) AS BIGINT) AS cnt
      FROM adj WHERE a <> b GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
      SELECT lo AS src, hi AS dst, cnt FROM pairw
      UNION ALL
      SELECT hi AS src, lo AS dst, cnt FROM pairw
    ),
    wd AS MATERIALIZED (
      SELECT src AS w, CAST(sum(cnt) AS BIGINT) AS wdeg
      FROM e GROUP BY src
    ),
    r0 AS (SELECT w, CAST({TR_UNIT} AS BIGINT) AS rank FROM wd),
    {unrolled}
    SELECT w AS word, rank AS rank_units,
           round(rank / {TR_UNIT}.0, 6) AS rank_score
    FROM r{TR_ITERS}
    ORDER BY rank DESC, w LIMIT {TR_TOP}
    """


@register("textrank_keywords", oracle=_textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the word co-occurrence graph (adjacent-word edges,
    weight = corpus co-occurrence count), damping 0.85, {TR_ITERS}
    power iterations, top-{TR_TOP} words by rank. The graph-centrality
    member of the keyword tier next to rake_keyphrases (degree/freq
    heuristic) and tfidf_top_terms (document-frequency weighting) —
    the three classic extractors, now all present.

    Exactness: the graph_pagerank integer discipline — rank mass in
    1e12 fixed-point units, per-edge contribution floor(rank*w/W_u)
    via integer division, damping as (85*x)//100 — so every iteration
    is bit-identical in both engines (DuckDB materialized-CTE unroll
    mirrors the Spark loop, whose lineage is cut every superstep).

    Scale: the node set is the corpus VOCABULARY and the edge set the
    distinct adjacent-word pairs — both saturate far below corpus
    size, so iterations run on bounded tables; only the one token
    explode scans the corpus."""
    d = load(spark, sf_dir).documents
    adj = (
        d.select(F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS a, ws[i + 1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
    )
    pairw = adj.groupBy(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    e = pairw.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst"), "cnt"
    ).unionAll(
        pairw.select(
            F.col("hi").alias("src"), F.col("lo").alias("dst"), "cnt"
        )
    ).localCheckpoint(eager=True)  # vocab-bounded edge list, reused 8x
    wd = e.groupBy(F.col("src").alias("w")).agg(
        F.sum("cnt").cast("long").alias("wdeg")
    ).localCheckpoint(eager=True)
    base = 15 * TR_UNIT // 100

    def superstep(ranks: DataFrame, _: int) -> DataFrame:
        contrib = (
            ranks.join(wd, "w")
            .join(e, F.col("w") == F.col("src"))
            .select(
                F.col("dst"),
                F.expr("(rank * cnt) div wdeg").alias("c"),
            )
        )
        return contrib.groupBy(F.col("dst").alias("w")).agg(
            (F.lit(base) + F.expr("(85 * CAST(sum(c) AS BIGINT)) div 100"))
            .cast("long")
            .alias("rank")
        )

    ranks = iterate(
        wd.select("w", F.lit(TR_UNIT).cast("long").alias("rank")),
        superstep,
        TR_ITERS,
        cut_every=1,
    )
    return (
        ranks.select(
            F.col("w").alias("word"),
            F.col("rank").alias("rank_units"),
            F.round(F.col("rank") / float(TR_UNIT), 6).alias("rank_score"),
        )
        .orderBy(F.col("rank_units").desc(), "word")
        .limit(TR_TOP)
    )


def _kappa_oracle() -> str:
    scores = ", ".join(
        f"sum(CASE WHEN w IN {_sql_in(ws)} THEN 1 ELSE 0 END) AS s_{lg}"
        for lg, ws in LANG_PROFILES.items()
    )
    pred = _langid_case_sql({lg: f"s_{lg}" for lg in LANG_PROFILES})
    return f"""
    WITH {_ORACLE_TOK},
    scores AS (SELECT doc_id, lang, {scores} FROM tok
               GROUP BY doc_id, lang),
    pred AS (SELECT lang, {pred} AS p FROM scores),
    cm AS (SELECT lang, p, CAST(count(*) AS BIGINT) AS n
           FROM pred GROUP BY 1, 2),
    rm AS (SELECT lang AS l, CAST(sum(n) AS BIGINT) AS rn
           FROM cm GROUP BY 1),
    cl AS (SELECT p AS l, CAST(sum(n) AS BIGINT) AS cn
           FROM cm GROUP BY 1),
    chance AS (
      SELECT CAST(sum(rm.rn * cl.cn) AS BIGINT) AS chance_num
      FROM rm JOIN cl ON cl.l = rm.l
    ),
    tots AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CASE WHEN lang = p THEN n ELSE 0 END) AS BIGINT)
               AS agree,
             (SELECT chance_num FROM chance) AS chance_num
      FROM cm
    )
    SELECT nn AS n_docs, agree AS n_agree,
           round(CAST(agree AS DOUBLE) / nn, 6) AS observed_agreement,
           round(CAST(chance_num AS DOUBLE)
                 / CAST(CAST(nn AS DECIMAL(38,0)) * nn AS DOUBLE), 6)
             AS chance_agreement,
           round(CAST(CAST(nn AS DECIMAL(38,0)) * agree - chance_num
                      AS DOUBLE)
                 / CAST(CAST(nn AS DECIMAL(38,0)) * nn - chance_num
                        AS DOUBLE), 6)
             AS cohens_kappa
    FROM tots
    """


@register("cohens_kappa_langid", oracle=_kappa_oracle())
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between the n-gram language-ID
    heuristic's predictions and the labeled lang column — agreement
    BEYOND CHANCE, the honest skill metric when classes are imbalanced
    (raw accuracy rewards predicting the majority language; kappa
    subtracts the marginal-product chance agreement). The
    inter-rater-agreement member of the evaluation kit beside the raw
    confusion table (text_langid_heuristic) and the paired-outcome
    test (mcnemar_paired_conversion).

    Fully exact: the confusion matrix, row/column marginals, observed
    agreement N*sum(n_ii) and chance term sum(r_i*c_i) are all exact
    integers (DECIMAL(38,0) products); kappa is ONE division of exact
    values — no transcendentals, no floor guards. Honest readout on
    this synthetic corpus: kappa ~= 0.013 at sf0.01 (accuracy 30.4%
    vs 29.5% chance) — the shared 31-word vocabulary gives the
    stopword-profile heuristic almost no signal, exactly the
    imbalance-blind-accuracy trap kappa exists to expose.

    Scale: one token explode -> per-doc score agg -> 16-cell confusion
    matrix; everything after is scalar."""
    scored = langid_scores(_doc_tokens(spark, sf_dir))
    cm = scored.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rows_m = cm.groupBy(F.col("lang").alias("l")).agg(
        F.sum("n").cast("long").alias("rn")
    )
    cols_m = cm.groupBy(F.col("predicted_lang").alias("l")).agg(
        F.sum("n").cast("long").alias("cn")
    )
    chance = (
        rows_m.join(cols_m, "l")
        .agg(F.sum(F.col("rn") * F.col("cn")).cast("long").alias("chance_num"))
    )
    tots = cm.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.when(F.col("lang") == F.col("predicted_lang"), F.col("n")))
        .cast("long")
        .alias("agree"),
    ).crossJoin(F.broadcast(chance))
    return tots.selectExpr(
        "nn AS n_docs",
        "agree AS n_agree",
        "round(CAST(agree AS DOUBLE) / nn, 6) AS observed_agreement",
        "round(CAST(chance_num AS DOUBLE)"
        " / CAST(CAST(nn AS DECIMAL(38,0)) * nn AS DOUBLE), 6)"
        " AS chance_agreement",
        "round(CAST(CAST(nn AS DECIMAL(38,0)) * agree - chance_num"
        " AS DOUBLE)"
        " / CAST(CAST(nn AS DECIMAL(38,0)) * nn - chance_num"
        " AS DOUBLE), 6)"
        " AS cohens_kappa",
    )


LP_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_LP_IN = "(" + ", ".join(f"'{s}'" for s in LP_SOURCES) + ")"


@register(
    "lincoln_petersen_overlap",
    oracle=f"""
    WITH ws AS (
      SELECT source, string_split(text, ' ') AS ws FROM documents
      WHERE source IN {_LP_IN}
    ),
    tg AS (
      SELECT DISTINCT source,
             ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS t
      FROM ws, unnest(range(1, len(ws) - 1)) AS x(i)
      WHERE len(ws) >= 3
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM tg GROUP BY 1
    ),
    inter AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(count(*) AS BIGINT) AS m
      FROM tg a JOIN tg b ON b.t = a.t AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.sa AS source_a, i.sb AS source_b,
           na.n AS n_a, nb.n AS n_b, i.m AS n_shared,
           na.n + nb.n - i.m AS observed_union,
           round((na.n + 1.0) * (nb.n + 1.0) / (i.m + 1.0) - 1.0, 2)
             AS chapman_estimate,
           round(((na.n + 1.0) * (nb.n + 1.0) / (i.m + 1.0) - 1.0)
                 / (na.n + nb.n - i.m), 4) AS est_over_observed
    FROM inter i
    JOIN sizes na ON na.source = i.sa
    JOIN sizes nb ON nb.source = i.sb
    ORDER BY i.sa, i.sb
    """,
)
def lincoln_petersen_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation (Lincoln 1930; Petersen
    1896; Chapman 1951 bias-corrected form) treating two crawl
    sources' TRIGRAM-TYPE sets as two independent captures from the
    same underlying language: N-hat = (n_a+1)(n_b+1)/(m+1) - 1
    estimates the total trigram population, and est/observed-union > 1
    quantifies how much of the language BOTH crawls missed — the
    two-sample complement to chao1_vocab_richness's within-sample
    singleton estimator, and the statistical backing for 'will another
    source still add novelty' (ngram_novelty_by_source measures it
    marginally).

    Exactness: set sizes and intersections are exact distinct counts
    (one (source, trigram) dedup + a self-equi-join on trigram);
    Chapman and the ratio are each one double expression over exact
    integers. All 10 pairs of the 5 audited sources.

    Scale: one corpus scan -> per-source type dedup (vocab-bounded) ->
    type-keyed equi-join; never doc x doc."""
    d = load(spark, sf_dir).documents.filter(
        F.col("source").isin(*LP_SOURCES)
    )
    tg = (
        d.select("source", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
                )
            ).alias("t"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # (source, type) table, vocab-bounded
    )
    sizes = tg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    b = tg.select(F.col("source").alias("sb"), F.col("t").alias("tb"))
    inter = (
        tg.join(
            b, (F.col("t") == F.col("tb")) & (F.col("source") < F.col("sb"))
        )
        .groupBy(F.col("source").alias("sa"), "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    na = sizes.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))
    chap = (
        (F.col("n_a") + 1.0) * (F.col("n_b") + 1.0) / (F.col("m") + 1.0)
        - 1.0
    )
    return (
        inter.join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_a",
            "n_b",
            F.col("m").alias("n_shared"),
            (F.col("n_a") + F.col("n_b") - F.col("m")).alias(
                "observed_union"
            ),
            F.round(chap, 2).alias("chapman_estimate"),
            F.round(
                chap / (F.col("n_a") + F.col("n_b") - F.col("m")), 4
            ).alias("est_over_observed"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "hill_numbers_by_source",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cells AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS d0,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(floor(c * ln(c) * 1000000 + 0.001)
                           AS BIGINT)) AS BIGINT) AS slnc_micro,
             CAST(sum(c * c) AS BIGINT) AS sc2
      FROM cells GROUP BY source
    )
    SELECT source, n AS n_tokens, d0 AS d0_richness,
           round(exp(ln(CAST(n AS DOUBLE))
                     - slnc_micro / (1000000.0 * n)), 4) AS d1_shannon,
           round(CAST(n AS DOUBLE) * n / sc2, 4) AS d2_simpson,
           round(exp(ln(CAST(n AS DOUBLE))
                     - slnc_micro / (1000000.0 * n)) / d0, 4)
             AS evenness_d1_over_d0
    FROM per_source ORDER BY source
    """,
)
def hill_numbers_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill-number diversity profile (Hill 1973; Jost 2006) of each
    source's token distribution: D0 = richness, D1 = exp(Shannon H)
    and D2 = inverse Simpson — the three classic diversity indices
    unified as 'effective number of equally-common types' at q=0/1/2,
    plus the evenness ratio D1/D0. One scale for 'how repetitive is
    this crawl source' that simpson_diversity_by_source (q=2 only)
    and column_entropy_profile (H in nats) each show one slice of.

    Exactness: per-(source, word) counts are exact; H assembles as
    ln N - (sum c ln c)/N where each c*ln(c) cell term is floored to
    1e-6 fixed point (bounded cell table) so the cross-cell sum is an
    exact BIGINT; the one ln(N) and one exp per source are single
    identical-double ops; D2 = N^2/sum(c^2) is exact-integer rational.

    Scale: one token explode -> (source, word) hash agg (vocab x
    sources bounded) -> per-source rollup."""
    d = load(spark, sf_dir).documents
    cells = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_source = cells.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("d0"),
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.expr("CAST(floor(c * ln(c) * 1000000 + 0.001) AS BIGINT)")
        )
        .cast("long")
        .alias("slnc_micro"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
    )
    d1 = F.exp(
        F.log(F.col("n").cast("double"))
        - F.col("slnc_micro") / (1_000_000.0 * F.col("n"))
    )
    return per_source.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("d0").alias("d0_richness"),
        F.round(d1, 4).alias("d1_shannon"),
        F.round(
            F.col("n").cast("double") * F.col("n") / F.col("sc2"), 4
        ).alias("d2_simpson"),
        F.round(d1 / F.col("d0"), 4).alias("evenness_d1_over_d0"),
    ).orderBy("source")


_DLL_XLNX = (
    "CASE WHEN ({x}) > 0 THEN CAST(floor(({x}) * ln({x}) * 1000000"
    " + 0.001) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
)


def _dll_terms(sign: str, xs: list[str]) -> str:
    return " + ".join(
        f"({sign}1) * ({_DLL_XLNX.format(x=x)})" for x in xs
    )


@register(
    "dunning_llr_collocations",
    oracle=f"""
    WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
    bg AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM ws, unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    pair AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11
      FROM bg GROUP BY 1, 2
    ),
    rowm AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS r FROM pair GROUP BY 1),
    colm AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c FROM pair GROUP BY 1),
    tot AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM pair),
    cells AS (
      SELECT p.w1, p.w2, p.k11,
             rowm.r - p.k11 AS k12,
             colm.c - p.k11 AS k21,
             tot.n - rowm.r - colm.c + p.k11 AS k22,
             rowm.r AS r, colm.c AS c, tot.n AS n
      FROM pair p
      JOIN rowm ON rowm.w1 = p.w1
      JOIN colm ON colm.w2 = p.w2
      CROSS JOIN tot
    ),
    scored AS (
      SELECT w1, w2, k11,
             2 * ({_dll_terms('+', ['k11', 'k12', 'k21', 'k22', 'n'])}
                  + {_dll_terms('-', ['r', 'n - r', 'c', 'n - c'])})
               AS llr_micro2
      FROM cells
    )
    SELECT w1 || ' ' || w2 AS bigram, k11 AS n_cooccur,
           llr_micro2,
           round(llr_micro2 / 1000000.0, 4) AS llr
    FROM scored
    ORDER BY llr_micro2 DESC, w1, w2 LIMIT 20
    """,
)
def dunning_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by Dunning's log-likelihood ratio
    (Dunning 1993, "Accurate Methods for the Statistics of Surprise
    and Coincidence"): every adjacent word bigram scored by the G^2
    statistic of its 2x2 contingency table against independence —
    the rare-count-robust alternative to pointwise mutual information
    (pmi_token_cooccurrence overweights hapax pairs; LLR is the
    standard fix) and the statistical member of the keyword tier next
    to RAKE/TF-IDF/TextRank.

    Determinism: all eight contingency cells and marginals are exact
    integers off the bigram-type table; each x*ln(x) entropy term is
    floored to 1e-6 fixed point, so G^2 assembles as an exact BIGINT
    sum of nine identical terms per bigram (0 ln 0 = 0 handled by the
    CASE); ranking ties break on the bigram text.

    Scale: one corpus scan -> bigram-type hash agg (vocab^2-bounded);
    marginals and scores live on that bounded table."""
    d = load(spark, sf_dir).documents
    pair = (
        d.select(F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("k11"))
        .localCheckpoint(eager=True)  # bigram-type table, read 3x
    )
    rowm = pair.groupBy("w1").agg(F.sum("k11").cast("long").alias("r"))
    colm = pair.groupBy("w2").agg(F.sum("k11").cast("long").alias("c"))
    tot = pair.agg(F.sum("k11").cast("long").alias("n"))
    cells = (
        pair.join(F.broadcast(rowm), "w1")
        .join(F.broadcast(colm), "w2")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "w1",
            "w2",
            "k11",
            "r - k11 AS k12",
            "c - k11 AS k21",
            "n - r - c + k11 AS k22",
            "r",
            "c",
            "n",
        )
    )
    scored = cells.selectExpr(
        "w1",
        "w2",
        "k11",
        f"2 * ({_dll_terms('+', ['k11', 'k12', 'k21', 'k22', 'n'])}"
        f" + {_dll_terms('-', ['r', 'n - r', 'c', 'n - c'])})"
        " AS llr_micro2",
    )
    return (
        scored.select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("k11").alias("n_cooccur"),
            "llr_micro2",
            F.round(F.col("llr_micro2") / 1_000_000.0, 4).alias("llr"),
        )
        .orderBy(F.col("llr_micro2").desc(), "bigram")
        .limit(20)
    )


@register(
    "heaps_law_fit",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
      FROM tok GROUP BY doc_id
    ),
    firsts AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
    new_types AS (
      SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY fd
    ),
    cum AS (
      SELECT p.doc_id,
             CAST(sum(p.n_tok) OVER (ORDER BY p.doc_id) AS BIGINT) AS nn,
             CAST(sum(coalesce(t.n_new, 0)) OVER (ORDER BY p.doc_id)
                  AS BIGINT) AS vv
      FROM per_doc p LEFT JOIN new_types t ON t.doc_id = p.doc_id
    ),
    pts AS (
      SELECT CAST(floor(ln(CAST(nn AS DOUBLE)) * 1000000 + 0.001)
                  AS BIGINT) AS x,
             CAST(floor(ln(CAST(vv AS DOUBLE)) * 1000000 + 0.001)
                  AS BIGINT) AS y
      FROM cum
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pts
    ),
    f AS (SELECT CAST(max(vv) AS BIGINT) AS vocab_final,
                 CAST(max(nn) AS BIGINT) AS tokens_final FROM cum)
    SELECT s.n AS n_docs, f.tokens_final, f.vocab_final,
           round((CAST(s.n AS DOUBLE) * s.sxy - CAST(s.sx AS DOUBLE) * s.sy)
                 / (CAST(s.n AS DOUBLE) * s.sxx
                    - CAST(s.sx AS DOUBLE) * s.sx), 6) AS beta,
           round(exp(((CAST(s.sy AS DOUBLE)
                 - (CAST(s.n AS DOUBLE) * s.sxy - CAST(s.sx AS DOUBLE) * s.sy)
                   / (CAST(s.n AS DOUBLE) * s.sxx
                      - CAST(s.sx AS DOUBLE) * s.sx) * s.sx) / s.n)
                 / 1000000.0), 6) AS k_coefficient,
           round(pow(CAST(s.n AS DOUBLE) * s.sxy
                     - CAST(s.sx AS DOUBLE) * s.sy, 2)
                 / ((CAST(s.n AS DOUBLE) * s.sxx
                     - CAST(s.sx AS DOUBLE) * s.sx)
                    * (CAST(s.n AS DOUBLE) * s.syy
                       - CAST(s.sy AS DOUBLE) * s.sy)), 6) AS r2
    FROM s CROSS JOIN f
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth (Heaps 1978; Herdan 1960):
    V(n) ≈ K·n^beta, estimated by OLS of ln V(d) on ln N(d) over the
    doc_id-ordered corpus prefix curve — natural text sits near
    beta ≈ 0.4-0.6; templated corpora flatten early (tiny beta), and a
    crawl whose vocabulary keeps growing linearly (beta → 1) is full of
    noise/IDs — the growth-side companion to zipf_slope_fit (the two
    laws are asymptotically dual) and the third corpus-linguistics
    gate beside hapax_ratio_by_source.

    Determinism (the zipf discipline, hardened for data-proportional
    point counts): both cumulative curves are exact BIGINT prefix sums
    computed DISTRIBUTED (global_order_stats two-phase — the doc table
    is corpus-proportional, so a bare ORDER BY window is banned); each
    regression point is floored to 1e-6 fixed point behind one ln, so
    all five moment sums are exact BIGINT sums of identical integers
    (bounded: x ≤ ln(N)·1e6 ≈ 2e7, x² ≤ 4e14, well under BIGINT at any
    SF) and beta/K/R² are single double expressions on identical ints.

    Scale: one tokenize pass feeds both the per-doc counts and the
    type-first-occurrence agg (vocab-bounded); everything after runs
    on one row per document with no single-partition stage."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    d = load(spark, sf_dir).documents
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    per_doc = (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
        # doc-bounded staged table: the two-phase ranking passes below
        # otherwise each re-tokenize the corpus
        .localCheckpoint(eager=True)
    )
    new_types = (
        tok.groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy(F.col("fd").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    per_doc2 = per_doc.join(new_types, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    ).localCheckpoint(eager=True)
    cn = global_order_stats(
        per_doc2, "doc_id", "doc_id", measure_col="n_tok", ascending=True
    ).select("doc_id", F.col("global_cum").cast("long").alias("nn"))
    cv = global_order_stats(
        per_doc2, "doc_id", "doc_id", measure_col="n_new", ascending=True
    ).select(
        F.col("doc_id").alias("doc_id2"),
        F.col("global_cum").cast("long").alias("vv"),
    )
    cum = cn.join(cv, F.col("doc_id") == F.col("doc_id2")).select(
        "doc_id", "nn", "vv"
    )
    pts = cum.select(
        F.expr(
            "CAST(floor(ln(CAST(nn AS DOUBLE)) * 1000000 + 0.001) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(floor(ln(CAST(vv AS DOUBLE)) * 1000000 + 0.001) AS BIGINT)"
        ).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    f = cum.agg(
        F.max("vv").cast("long").alias("vocab_final"),
        F.max("nn").cast("long").alias("tokens_final"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    beta = num / den
    return s.crossJoin(F.broadcast(f)).select(
        F.col("n").alias("n_docs"),
        "tokens_final",
        "vocab_final",
        F.round(beta, 6).alias("beta"),
        F.round(
            F.exp(
                ((F.col("sy").cast("double") - beta * F.col("sx")) / F.col("n"))
                / 1_000_000.0
            ),
            6,
        ).alias("k_coefficient"),
        F.round(
            F.pow(num, 2)
            / (
                den
                * (
                    nd * F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy")
                )
            ),
            6,
        ).alias("r2"),
    )
