"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect cost, no result materialization skew) and timed over
5 runs after a warm-up pass. The headline "queries"/"value" report the
MEDIAN; "queries_min"/"value_min" report the MIN. Both matter: this
host has co-tenant interference (identical binaries have benched
7.4-18.6 s across rounds), and the min-of-5 is the
interference-resistant statistic — if the min regresses, it's the
code; if only the median does, it's the machine. Raw samples are kept
in "samples" so any future regression is attributable per-stage.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_warehouse_data_mining_spark.registry import headline_queries
from data_warehouse_data_mining_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# 7 runs (r8, was 5): this host's co-tenant is hypervisor-level
# (SCALING.md r8 — ±35% min wobble at 0.35 in-guest loadavg), and the
# min is the only interference-resistant statistic; two more samples
# per query materially improve the chance one lands in a quiet window.
DEFAULT_RUNS = "7"
REPO = os.path.dirname(os.path.abspath(__file__))


# The r01 baseline-comparable core set: BASELINE.md's contract
# ("within 2x of the driver baseline" = BENCH_r01's 6.627 s total) is
# defined over these eight queries, so "value"/"value_min" keep summing
# exactly them — r10 extended the HEADLINE set with three post-r01 tier
# representatives (VERDICT r9 #3: ANN serving, set-similarity join,
# curation) which appear in "queries"/"queries_min" (per-query floors
# tracked round-over-round from their r10 debuts) and in
# "value_full"/"value_full_min" (the 11-query total; NOT comparable to
# the r01 baseline).
CORE_BASELINE_SET = frozenset({
    "dedup_minhash_lsh",
    "knn_brute_force",
    "pricing_summary",
    "regional_supplier_volume",
    "revenue_by_nation",
    "tfidf_top_terms",
    "topk_per_group",
    "tumbling_window_counts",
})

# Heavy additions run fewer samples. The 3-sample cap dates from when
# this trio cost 10-25 s/run (codebook-literal plan compile, pre-r12);
# after the r12/r13 rewrites they run 1.3-3.9 s, and at 3 samples the
# min — the host's only interference-resistant statistic — is owned by
# a single noisy window (r13-opt: dsir flagged a min "regression" that
# interleaved A/B disproved). dsir/ivf_pq now take the full run count;
# prefix keeps a reduced-but-larger 5 (~4 s/run). Old 3-sample numbers
# remain in BENCH_r12 history; medians are unaffected in expectation.
PER_QUERY_RUNS = {
    "prefix_filter_jaccard_pairs": 5,
}

# Queries that get ONE untimed pass before their samples: the
# once-per-session PQ/IVF codebook fit (cached like a built index) is
# training cost, not serving latency — see the sampling-loop comment.
WARM_FIRST = {"ivf_pq_search"}


def _prior_mins(sf_label: str) -> dict[str, float]:
    """Best-ever per-query min across prior rounds' BENCH_r*.json at
    the same sf AND the same core count. The min-of-N is the
    interference-resistant statistic on this co-tenant host, so
    regressions are judged min-vs-best-min, never mean-vs-mean.

    Same-core-count guard (r14 measurement-bug fix, documented in
    OPTIMIZATION_r14.md): the driver also records a LOW-core run
    (BENCH_r13_c8.json, "cpus": 8 in its wrapper), and several sub-2 s
    queries are FASTER at 8 cores (32-way task fan-out overhead
    dominates 17 MB of data — the scaling block's ratios < 1 for
    dedup_minhash/dsir/tfidf), so without the guard the 8-core mins
    (dsir 0.83, dedup_minhash 0.871) became unreachable "best priors"
    for every 32-core run and the gate flagged permanent false
    regressions. Records whose wrapper lacks a cpus field (this
    bench's own stdout line has none) are assumed comparable; old
    numbers stay in the BENCH_r* history untouched."""
    import glob

    best: dict[str, float] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        rec_cpus = rec.get("cpus")
        if rec_cpus is not None and str(rec_cpus) != str(CPUS):
            continue
        # the external driver records bench output wrapped under "parsed"
        if isinstance(rec.get("parsed"), dict):
            rec = rec["parsed"]
        if str(rec.get("sf")) != sf_label:
            continue
        # strictly min-vs-min: rounds predating "queries_min" recorded
        # mean-of-runs totals, which are not comparable baselines
        mins = rec.get("queries_min") or {}
        for name, v in mins.items():
            if isinstance(v, (int, float)) and (
                name not in best or v < best[name]
            ):
                best[name] = float(v)
    return best


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _preflight_load() -> dict:
    """Machine-state snapshot BEFORE the JVM starts: 1/5/15-min loadavg
    and cpu count. r2 and r7 both burned a round's bench signal
    adjudicating co-tenancy after the fact; recording the load at
    measurement time makes a noisy round machine-attributed in the
    BENCH json itself. `busy_at_start` flags 1-min loadavg above half
    the cpus — on that start, treat the medians as unusable and the
    mins as suspect."""
    try:
        la1, la5, la15 = os.getloadavg()
    except OSError:
        la1 = la5 = la15 = -1.0
    ncpu = os.cpu_count() or 1
    return {
        "loadavg_1m": round(la1, 2),
        "loadavg_5m": round(la5, 2),
        "loadavg_15m": round(la15, 2),
        "cpus": ncpu,
        "busy_at_start": la1 > ncpu / 2,
    }


def _runs() -> int:
    """SPARK_GRAFT_BENCH_RUNS as a sample count; exit 2 unless it is an
    integer >= 1 (0 would start Spark only to fail on an empty median)."""
    raw = os.environ.get("SPARK_GRAFT_BENCH_RUNS", DEFAULT_RUNS)
    try:
        runs = int(raw)
    except ValueError:
        runs = 0
    if runs < 1:
        print(
            f"SPARK_GRAFT_BENCH_RUNS must be an integer >= 1, got {raw!r}",
            file=sys.stderr,
        )
        sys.exit(2)
    return runs


def main() -> None:
    runs = _runs()
    preflight = _preflight_load()
    if preflight["busy_at_start"]:
        print(
            f"# WARNING: 1-min loadavg {preflight['loadavg_1m']} > "
            f"{preflight['cpus']}/2 cpus at bench start — co-tenant "
            "active; medians unusable, mins suspect",
            file=sys.stderr,
        )
    spark = get_session(app_name="bench", master=f"local[{CPUS}]")
    sf_label = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")

    timings: dict[str, float] = {}
    # warm the JVM/reader paths once with the cheapest query so JIT and
    # parquet footer caching don't distort the first measured query
    qs = headline_queries()
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        # targeted floor-hunt mode (e.g. reproducing a best-prior min
        # with extra samples); the driver's per-round record always
        # runs the full set
        keep = {n.strip() for n in only.split(",")}
        unknown = keep - set(qs)
        if unknown:
            print(
                f"SPARK_GRAFT_BENCH_ONLY names not in the headline set: "
                f"{sorted(unknown)}; available: {sorted(qs)}",
                file=sys.stderr,
            )
            sys.exit(2)
        qs = {n: q for n, q in qs.items() if n in keep}
    first = sorted(qs)[0]
    _force(qs[first].builder(spark, SF_DIR))

    total = 0.0
    total_min = 0.0
    total_full = 0.0
    total_full_min = 0.0
    timings_min: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    for name in sorted(qs):
        samples = []
        if name in WARM_FIRST:
            # one untimed pass: the PQ/IVF codebook fit + Arrow UDF
            # warmup is a cached once-per-session artifact (the
            # FAISS-style train-once discipline — _fit_sample and
            # _pq_codebooks memoize per session), ~6 s of driver-side
            # numpy + py4j that would otherwise land entirely in the
            # first sample (BENCH_DETAIL r12 sample_spread 3.5). Serving
            # latency, not training cost, is what this query measures.
            _force(qs[name].builder(spark, SF_DIR))
        for _ in range(PER_QUERY_RUNS.get(name, runs)):
            t0 = time.perf_counter()
            _force(qs[name].builder(spark, SF_DIR))
            samples.append(time.perf_counter() - t0)
        dt = statistics.median(samples)
        timings[name] = round(dt, 3)
        timings_min[name] = round(min(samples), 3)
        all_samples[name] = [round(s, 3) for s in samples]
        total_full += dt
        total_full_min += min(samples)
        if name in CORE_BASELINE_SET:
            total += dt
            total_min += min(samples)

    # regression gate: current min vs best-ever prior min (>15% slower
    # flags; the mean has proven uninformative under co-tenancy)
    prior = _prior_mins(sf_label)
    regressions = {
        name: {"min": timings_min[name], "best_prior_min": prior[name]}
        for name in timings_min
        if name in prior and timings_min[name] > prior[name] * 1.15
    }

    # co-tenancy indicator: per-query relative spread of the 5 samples
    # ((max-min)/min). On an idle machine spreads sit under ~0.15; a
    # busy co-tenant inflates them past 0.3-0.5, so a flagged min
    # regression accompanied by a high spread is machine noise, not a
    # plan regression — this makes the environmental reading
    # machine-checkable instead of a judgment call.
    spread = {
        name: round((max(s) - min(s)) / min(s), 3)
        for name, s in all_samples.items()
    }
    noise = round(statistics.median(spread.values()), 3) if spread else 0.0

    # VERDICT r10 #2: the driver tail-captures stdout and parses the LAST
    # JSON line; r10's line with per-query `samples` arrays outgrew the
    # capture and left BENCH_r10.json with "parsed": null. The verbose
    # diagnostics now go to a side file (+ an EARLIER stdout line for
    # human runs); the final line stays compact — metric/value/queries
    # only — so the driver's parse never truncates again.
    detail = {
        "samples": all_samples,
        "sample_spread": spread,
        "core_baseline_set": sorted(n for n in qs if n in CORE_BASELINE_SET),
        "preflight_load": preflight,
        "min_regressions_vs_best_prior": regressions,
    }
    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print("# detail: " + json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "value_min": round(total_min, 3),
                "value_full": round(total_full, 3),
                "value_full_min": round(total_full_min, 3),
                "unit": "sec",
                "queries": timings,
                "queries_min": timings_min,
                "cotenancy_noise_median_spread": noise,
                "busy_at_start": preflight["busy_at_start"],
                "sf": float(sf_label) if sf_label.replace(".", "").isdigit() else sf_label,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
