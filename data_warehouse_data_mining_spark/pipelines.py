"""End-to-end LLM training-corpus pipeline: the north-star operators
composed into one flow —

    ingest → quality score → quality filter → exact dedup →
    near-dup removal (MinHash-LSH) → per-slice accounting

Every stage is one of the engine's tested operators (operators/text.py
formulas, operators/dedup.py dedup family), so the COMPOSITION is also
fully deterministic and oracle-checkable — the registered query's DuckDB
mirror rebuilds the identical pipeline in SQL.

At 100 TB each stage is the documented scale shape of its operator; the
pipeline adds no new shuffles beyond them, and intermediate corpora
would be staged to parquet between phases (here the optimizer pipelines
them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load, read_parquet
from data_warehouse_data_mining_spark.operators import dedup
from data_warehouse_data_mining_spark.registry import register

QUALITY_MIN = 3.0
STOPWORDS = ("the", "a")


def quality_scored(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Attach n_tokens / stopword_ratio / quality (same formula as
    operators/text.py::text_quality_scores) to each row."""
    tok = df.select(
        F.col(id_col).alias("qid"), F.explode(F.split(text_col, " ")).alias("w")
    )
    per_doc = tok.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (
            F.sum(F.when(F.col("w").isin(*STOPWORDS), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("stop_ratio"),
    )
    per_doc = per_doc.withColumn(
        "quality", F.log(1 + F.col("n_tokens")) * (1 - F.col("stop_ratio"))
    )
    return df.join(per_doc, df[id_col] == per_doc["qid"]).drop("qid")


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = QUALITY_MIN,
    neardup_threshold: float = dedup.JACCARD_THRESHOLD,
    staging_dir: str | None = None,
) -> DataFrame:
    """The cleaned corpus: quality-filtered, exact-deduped (keep min id),
    near-dup-removed (keep the lower id of each near-dup pair).

    ``staging_dir`` is the cluster-scale path: the exact-deduped
    corpus (the three-consumer intermediate) is written to parquet
    there and re-read, so nothing corpus-sized is ever pinned in
    executor storage — localCheckpoint blocks are unevictable once
    lineage-truncated (SCALING.md r6 pinning rule), which is fine for
    this stage at audit scale but not for a 100 TB corpus. The two
    modes return identical results (test-pinned)."""
    scored = quality_scored(df, id_col, text_col)
    good = scored.filter(F.col("quality") >= quality_min)

    keepers = dedup.exact_duplicates(good, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    # three consumers downstream (both near-dup scans + the final
    # anti-join): compute the quality+exact-dedup prefix once — via a
    # parquet stage when staging_dir is given (corpus-sized, the 100 TB
    # path), via localCheckpoint otherwise (audit scale)
    exact_kept = good.join(keepers, id_col)
    if staging_dir is not None:
        exact_kept.write.mode("overwrite").parquet(staging_dir)
        exact_kept = read_parquet(df.sparkSession, staging_dir)
    else:
        exact_kept = exact_kept.localCheckpoint(eager=True)

    near = dedup.near_duplicate_pairs(
        exact_kept, id_col, text_col, threshold=neardup_threshold
    )
    drop = near.select(F.col("id_b").alias(id_col)).distinct()
    return exact_kept.join(drop, id_col, "left_anti")


@register(
    "llm_corpus_clean",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END) * 1.0 / count(*)
               AS stop_ratio
      FROM tok GROUP BY doc_id
    ),
    scored AS (
      SELECT d.*, p.n_tokens,
             ln(1 + p.n_tokens) * (1 - p.stop_ratio) AS quality
      FROM documents d JOIN per_doc p USING (doc_id)
    ),
    good AS (SELECT * FROM scored WHERE quality >= {QUALITY_MIN}),
    keepers AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(text)),
    exact_kept AS (SELECT g.* FROM good g JOIN keepers USING (doc_id)),
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM exact_kept),
    shingles AS (
      SELECT DISTINCT doc_id,
             ws[pos] || ' ' || ws[pos + 1] || ' ' || ws[pos + 2] AS shingle
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS pos
            FROM words WHERE len(ws) >= 3)
    ),
    {dedup._ORACLE_MINHASH},
    {dedup._oracle_bands()},
    {dedup._ORACLE_CANDIDATES},
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM candidates c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    removed AS (
      SELECT DISTINCT i.doc_b AS doc_id
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.n_inter * 1.0 / (za.ns + zb.ns - i.n_inter) >= {dedup.JACCARD_THRESHOLD}
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality), 6) AS avg_quality
    FROM exact_kept
    WHERE doc_id NOT IN (SELECT doc_id FROM removed)
    GROUP BY lang, source
    """,
)
def llm_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus pipeline on documents, reported per
    (lang, source) slice — quality filter + exact dedup + MinHash-LSH
    near-dup removal composed; the oracle rebuilds the identical
    pipeline in SQL, so the entire composition is hash-checked."""
    cleaned = clean_corpus(load(spark, sf_dir).documents)
    return cleaned.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


@register(
    "corpus_training_shards",
    oracle=f"""
    WITH mixture AS (
      SELECT * FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
            CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN '4000'
                      WHEN 'zh' THEN '4000' WHEN 'fr' THEN 'ffff'
                      WHEN 'es' THEN 'ffff' ELSE '0000' END
    ),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM mixture
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END) * 1.0 / count(*)
               AS stop_ratio
      FROM tok GROUP BY doc_id
    ),
    good AS (
      SELECT d.doc_id, d.lang, d.source, d.text, p.n_tokens
      FROM mixture d JOIN per_doc p USING (doc_id)
      WHERE ln(1 + p.n_tokens) * (1 - p.stop_ratio) >= {QUALITY_MIN}
    ),
    keepers AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(text)),
    kept AS (SELECT g.* FROM good g JOIN keepers USING (doc_id)),
    packed AS (
      SELECT lang, source, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY lang, source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS stream_offset
      FROM kept
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(stream_offset // 256) + 1 AS BIGINT) AS n_blocks,
           CAST(count(*) FILTER (WHERE stream_offset % 256 = 0) AS BIGINT)
             AS n_block_aligned
    FROM packed
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def corpus_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data path, stage-composed:

        language-mixture resample (deterministic md5 thresholds,
        operators/text.py::corpus_mixture_sample)
      → quality score + filter (this module's quality_scored)
      → exact dedup, keep min doc_id (operators/dedup.py)
      → concat-and-cut sequence packing (operators/packing.py)
      → per-shard block accounting

    Every stage is deterministic, so the WHOLE composition hash-checks
    against a single SQL mirror — the engine's answer to "can the
    pieces actually be chained?". Scale: mixture + quality + dedup add
    map filters and two digest-keyed shuffles before packing's one
    shard-partitioned window; no stage widens a shuffle beyond its
    standalone shape."""
    from data_warehouse_data_mining_spark.operators.packing import (
        pack_assignments,
    )
    from data_warehouse_data_mining_spark.operators.text import (
        MIXTURE_THRESHOLDS,
    )

    d = load(spark, sf_dir).documents
    thr = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(t))
            for lang, t in MIXTURE_THRESHOLDS.items()
        ],
        F.lit("0000"),
    )
    mixture = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < thr
    )
    scored = quality_scored(mixture, "doc_id", "text")
    good = scored.filter(F.col("quality") >= QUALITY_MIN)
    keepers = dedup.exact_duplicates(good, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    kept = good.join(keepers, "doc_id")
    packed = pack_assignments(kept, ["lang", "source"], "doc_id")
    return (
        packed.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.max("block_id") + 1).cast("bigint").alias("n_blocks"),
            F.count_if(F.col("offset_in_block") == 0)
            .cast("bigint")
            .alias("n_block_aligned"),
        )
        .orderBy("lang", "source")
    )


@register(
    "corpus_multimodal_manifest",
    oracle="""
    WITH per_doc AS (
      SELECT source, lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' THEN 0
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' THEN 1
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 2
                  ELSE 3 END AS shard,
             octet_length(encode(text)) AS n_bytes,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'a'))) AS n_stop
      FROM documents
    )
    SELECT source, lang, shard,
           count(*) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT)  AS total_bytes,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CAST(round(ln(1 + n_tokens)
                     * (1 - n_stop * 1.0 / n_tokens), 6)
                     AS DECIMAL(18,6))) AS DOUBLE)
             AS total_quality
    FROM per_doc
    GROUP BY source, lang, shard
    ORDER BY source, lang, shard
    """,
)
def corpus_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest over the multimodal corpus: per
    (source, lang, content-hash shard) — document count, payload bytes,
    token totals, and summed quality score. The accounting table a data
    loader reads to plan epochs/mixtures, produced in ONE aggregation
    pass over the corpus.

    Composition: binary payload sizing (multimodal with_payload),
    whitespace tokenization + stopword quality (text module semantics),
    and md5-prefix shard assignment (deterministic_hash_split pattern —
    stable under re-runs and data growth). Per-doc qualities are
    quantized to 6 decimals and summed through DECIMAL so the group
    total is accumulation-order-independent — engine-exact like
    money_sum (a mean would re-introduce a rounding tie at the
    division). Map-side partials; one shuffle on the 3-part key.
    """
    from data_warehouse_data_mining_spark.operators.multimodal import with_payload

    d = load(spark, sf_dir).documents
    p = with_payload(d).select("doc_id", F.length("payload").alias("n_bytes"))
    words = F.split("text", " ")
    hexc = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    shard = (
        F.when(hexc < "4", 0)
        .when(hexc < "8", 1)
        .when(hexc < "c", 2)
        .otherwise(3)
    )
    per_doc = d.join(p, "doc_id").select(
        "source",
        "lang",
        shard.alias("shard"),
        "n_bytes",
        F.size(words).alias("n_tokens"),
        F.size(F.filter(words, lambda w: w.isin("the", "a"))).alias("n_stop"),
    )
    quality = F.round(
        F.log(1 + F.col("n_tokens"))
        * (1 - F.col("n_stop") / F.col("n_tokens")),
        6,
    )
    return (
        per_doc.groupBy("source", "lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(quality.cast("decimal(18,6)"))
            .cast("double")
            .alias("total_quality"),
        )
        .orderBy("source", "lang", "shard")
    )


@register(
    "daily_kpi_build",
    oracle="""
    WITH du AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purch
      FROM events GROUP BY 1, 2
    ),
    flagged AS (
      SELECT day, n_events, n_purch,
             CASE WHEN day = min(day) OVER (PARTITION BY user_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM du
    ),
    ev AS (
      SELECT day,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(is_new) AS BIGINT) AS n_new,
             CAST(sum(n_purch) AS BIGINT) AS n_purchases
      FROM flagged GROUP BY day
    ),
    rev AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    )
    SELECT strftime(coalesce(ev.day, rev.day), '%Y-%m-%d') AS day,
           coalesce(n_active, 0) AS n_active,
           coalesce(n_new, 0) AS n_new,
           coalesce(n_purchases, 0) AS n_purchases,
           round(coalesce(rev_c, 0) / 100.0, 2) AS revenue,
           CASE WHEN coalesce(n_active, 0) > 0
                THEN round(coalesce(n_purchases, 0) * 1.0 / n_active, 6)
                ELSE 0.0 END AS purchases_per_active
    FROM ev FULL OUTER JOIN rev ON ev.day = rev.day
    ORDER BY day
    """,
)
def daily_kpi_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily dashboard build as ONE composed pipeline: active users,
    new users, purchase events (behavioral, from the event stream) and
    exact revenue (financial, from orders) merged into a single
    day-grain KPI table — the materialized view every warehouse
    refreshes nightly, here hash-checked end to end.

    One scan per source table: events reduce to a (day, user) pre-
    aggregate that feeds both the per-day rollup
    AND the first-seen-day window that marks new users; orders reduce
    to exact day cents. The two day-grain sides meet in a full-outer
    join (day cardinality — tiny at any scale), so event-less revenue
    days and revenue-less event days both survive with zero-filled
    KPIs."""
    from data_warehouse_data_mining_spark.operators.mining import (
        day_user_activity,
    )

    e = load(spark, sf_dir).events
    o = load(spark, sf_dir).orders
    # (day, user) grain + first-seen flag shared with new_vs_returning
    flagged = day_user_activity(e)
    ev = flagged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum("is_new").cast("long").alias("n_new"),
        F.sum("n_purch").cast("long").alias("n_purchases"),
    )
    rev = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .cast("long")
        .alias("rev_c")
    )
    j = ev.join(rev, "day", "full_outer")
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_active", F.lit(0)).cast("long").alias("n_active"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        F.coalesce("n_purchases", F.lit(0)).cast("long").alias("n_purchases"),
        F.round(F.coalesce("rev_c", F.lit(0)) / 100.0, 2).alias("revenue"),
        F.when(
            F.coalesce("n_active", F.lit(0)) > 0,
            F.round(F.coalesce("n_purchases", F.lit(0)) / F.col("n_active"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("purchases_per_active"),
    ).orderBy("day")


@register(
    "corpus_curation_funnel",
    oracle="""
    WITH tok0 AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_stop,
             CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
      FROM tok0 GROUP BY doc_id
    ),
    s1 AS (
      SELECT p.doc_id, p.n_tokens FROM per_doc p
      WHERE p.n_tokens >= 25
        AND p.n_stop * 10 < p.n_tokens
        AND p.n_distinct * 2 > p.n_tokens
    ),
    s2 AS (
      SELECT d.doc_id, s1.n_tokens FROM documents d
      JOIN s1 ON s1.doc_id = d.doc_id
      WHERE d.doc_id = (
        SELECT min(d2.doc_id) FROM documents d2
        JOIN s1 x ON x.doc_id = d2.doc_id
        WHERE md5(d2.text) = md5(d.text)
      )
    ),
    words AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS ws
      FROM documents d JOIN s2 ON s2.doc_id = d.doc_id
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             ws[pos] || ' ' || ws[pos + 1] || ' ' || ws[pos + 2] AS shingle
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS pos
            FROM words WHERE len(ws) >= 3)
    ),
    sizes AS (SELECT doc_id, count(*) AS ns FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS da, sb.doc_id AS db, count(*) AS n_inter
      FROM shingles sa JOIN shingles sb
        ON sa.shingle = sb.shingle AND sa.doc_id <> sb.doc_id
      GROUP BY 1, 2
    ),
    dropped AS (
      SELECT DISTINCT i.da AS doc_id
      FROM inter i
      JOIN sizes za ON za.doc_id = i.da
      JOIN sizes zb ON zb.doc_id = i.db
      WHERE i.n_inter * 2 >= za.ns
        AND (zb.ns > za.ns OR (zb.ns = za.ns AND i.db < i.da))
    ),
    s3 AS (
      SELECT s2.doc_id, s2.n_tokens FROM s2
      WHERE s2.doc_id NOT IN (SELECT doc_id FROM dropped)
    ),
    stages AS (
      SELECT 0 AS stage_n, 'ingest' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM per_doc
      UNION ALL
      SELECT 1, 'quality_filter', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s1
      UNION ALL
      SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'containment_prune', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s3
    )
    SELECT stage_n, stage, n_docs, n_tokens,
           round(n_docs * 1.0 /
                 (SELECT count(*) FROM per_doc), 6) AS doc_survival
    FROM stages ORDER BY stage_n
    """,
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation waterfall — the session's new stages composed
    end-to-end and hash-checked as ONE query: ingest → joint quality
    filter (quality_filter_ablation's three exact-integer thresholds) →
    exact dedup (keep min doc per content hash) → asymmetric
    containment prune (drop any survivor ≥½-contained in a strictly
    bigger — or tie-smaller-id — survivor, containment_pairs'
    semantics, which kills quote/subset duplication Jaccard-only
    pipelines keep). One row per stage with doc/token counts and the
    survival ratio: the waterfall view is what tells a pipeline owner
    WHICH stage costs the corpus its tokens.

    Every stage reuses the documented scale shape of its operator; the
    containment stage runs on the post-dedup survivor set only (the
    shingle inverted index shrinks with each preceding stage). The
    drop rule's strict (size, id) order makes the prune deterministic
    and acyclic."""
    from data_warehouse_data_mining_spark.operators.dedup import (
        shingle_table,
    )

    d = load(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    per_doc = (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("w").isin("the", "a").cast("int"))
            .cast("long")
            .alias("n_stop"),
            F.countDistinct("w").alias("n_distinct"),
        )
        .localCheckpoint(eager=True)
    )
    s1 = per_doc.filter(
        (F.col("n_tokens") >= 25)
        & (F.col("n_stop") * 10 < F.col("n_tokens"))
        & (F.col("n_distinct") * 2 > F.col("n_tokens"))
    ).select("doc_id", "n_tokens")
    s1_docs = d.join(s1, "doc_id").select("doc_id", "text")
    keep = s1_docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    s2 = (
        s1.join(keep.select("doc_id"), "doc_id")
        .localCheckpoint(eager=True)
    )
    # shingle stream is token-proportional: persist (EVICTABLE blocks,
    # spills under pressure), never localCheckpoint-pin — the r6 rule;
    # lineage-truncated blocks are unevictable and OOM at corpus scale.
    # Three consumers (sizes, sa, sb) make caching worth it; eviction
    # just degrades to recompute.
    sh = shingle_table(
        d.join(s2.select("doc_id"), "doc_id"), "doc_id", "text"
    ).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("ns"))
    sa = sh.select(F.col("id").alias("da"), F.col("shingle").alias("x1"))
    sb = sh.select(F.col("id").alias("db"), F.col("shingle").alias("x2"))
    inter = (
        sa.join(sb, (F.col("x1") == F.col("x2")) & (F.col("da") != F.col("db")))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    dropped = (
        inter.join(sizes.select(F.col("id").alias("da"), F.col("ns").alias("ns_a")), "da")
        .join(sizes.select(F.col("id").alias("db"), F.col("ns").alias("ns_b")), "db")
        .filter(
            (F.col("n_inter") * 2 >= F.col("ns_a"))
            & (
                (F.col("ns_b") > F.col("ns_a"))
                | ((F.col("ns_b") == F.col("ns_a")) & (F.col("db") < F.col("da")))
            )
        )
        .select(F.col("da").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(dropped, "doc_id", "left_anti")

    def stage(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(n).alias("stage_n"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).select("stage_n", "stage", "n_docs", "n_tokens")

    stages = (
        stage(per_doc, 0, "ingest")
        .unionAll(stage(s1, 1, "quality_filter"))
        .unionAll(stage(s2, 2, "exact_dedup"))
        .unionAll(stage(s3, 3, "containment_prune"))
    )
    total = per_doc.agg(F.count(F.lit(1)).alias("n0"))
    return (
        stages.crossJoin(F.broadcast(total))
        .select(
            "stage_n",
            "stage",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") * 1.0 / F.col("n0"), 6).alias(
                "doc_survival"
            ),
        )
        .orderBy("stage_n")
    )
