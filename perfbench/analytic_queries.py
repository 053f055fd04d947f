"""analytic_queries: the analytic surface the reference hands downstream,
as a closed loop with one client over a fixed panel of registry queries.

Panel: the oracle-backed HEADLINE keys of the repo's query bench, with
the oracle-less ``q37_minhash_dedup`` replaced by ``q37f_minhash_rolling``
(22 queries), always in this order. Corpus: the fixed testdata tables at
``$SPARK_GRAFT_SF_DIR`` (default: the ``sf0.01`` sibling of the package's
``tables.DEFAULT_SF_DIR``, the repository's testdata corpus); the seed does
not change it.

Phases: pass 0 runs every query once and compares its collected rows with
its DuckDB ``oracle_sql`` (outside the timed window); ``WARM_PASSES`` more
untimed passes follow; then round(--seconds / ``PASS_S``) whole timed
passes (at least 2), so every run times the same passes of the same
queries. Latency is one query, plan build + collect();
throughput is queries/s over the timed passes. Loads ``plans/``,
``operators/`` and ``functions/text.py``; does no streaming.
"""

from __future__ import annotations

import os
import time

from perfbench import stats
from perfbench.streamrun import spark_rest

PANEL = [
    "q01_parquet_scan",
    "q03_filter",
    "q06_inner_join",
    "q07_broadcast_join",
    "q12_range_join",
    "q14_tpch_q3",
    "q15_asof_join",
    "q15b_asof_merge",
    "q16_tpch_q1",
    "q17_count_distinct",
    "q19_rollup",
    "q22_window_ranking",
    "q24_window_frame",
    "q25_multi_key_sort",
    "q27_union",
    "q36_exact_dedup",
    "q37f_minhash_rolling",
    "q38_ann_brute_force",
    "q39_word_count",
    "q39d_quality_score",
    "q52_tpch_q5",
    "q68_sessionization",
]
WARM_PASSES = 1
PASS_S = 4.5  # nominal time of one warm pass on 4 cores; sets the timed pass count


def run(ctx) -> None:
    import pandas as pd

    from perfbench.oracle import duckdb_views, matches
    from wing_binlog_go_spark.registry import all_queries
    from wing_binlog_go_spark.tables import DEFAULT_SF_DIR

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(f"analytic corpus {sf_dir} is missing")
    tr = ctx.tracer
    spark = ctx.start_session()
    with ctx.phase("fixtures.prepare_s"):
        registry = all_queries()
        missing = [q for q in PANEL if q not in registry or registry[q].oracle is None]
        if missing:
            raise RuntimeError(f"panel queries missing or without oracle: {missing}")
        con = duckdb_views(sf_dir)
    ctx.freeze_fixtures()

    failed = 0
    with ctx.phase("warmup_s"):
        for q in PANEL:
            try:
                df = registry[q].spark(spark, sf_dir)
                why = matches(pd.DataFrame.from_records(df.collect(), columns=df.columns),
                              con, registry[q].oracle)
            except Exception as exc:  # a query that raises is a failed query
                why = f"raised {type(exc).__name__}: {exc}"
            if why:
                failed += 1
                ctx.fail(f"{q}: {why}")
        for _ in range(WARM_PASSES):
            for q in PANEL:
                registry[q].spark(spark, sf_dir).collect()
    con.close()

    sc = spark.sparkContext
    samples: dict[str, list[tuple[float, float]]] = {q: [] for q in PANEL}
    n_passes = max(2, round(ctx.seconds / PASS_S))
    ctx.timed_start()
    t0 = time.monotonic()
    for n_pass in range(n_passes):
        for q in PANEL:
            if tr.enabled:
                sc.setJobGroup(f"perfbench:{q}:{n_pass}", q)
            ta = time.monotonic()
            with tr.span("plans.build"):
                df = registry[q].spark(spark, sf_dir)
            tb = time.monotonic()
            with tr.span("exec.collect"):
                df.collect()
            samples[q].append((tb - ta, time.monotonic() - tb))
    elapsed = time.monotonic() - t0
    ctx.timed_end()

    n = n_passes * len(PANEL)
    ctx.attempted = n + len(PANEL)
    ctx.failed = failed
    lat = {(q, i): b + c for q, xs in samples.items() for i, (b, c) in enumerate(xs)}
    ctx.report_latency(lat)
    ctx.e2e["throughput_per_s"] = n / elapsed
    if tr.enabled:
        sc.setJobGroup("perfbench:idle", "idle")
        for q, xs in samples.items():
            ctx.layer[f"plans.{q}_ms"] = stats.median([(b + c) * 1e3 for b, c in xs])
        ctx.layer["plans.build_ms"] = stats.median([b * 1e3 for xs in samples.values() for b, _ in xs])
        ctx.layer["exec.collect_ms"] = stats.median([c * 1e3 for xs in samples.values() for _, c in xs])
        tasks, shuffle = _spark_work(spark)
        ctx.layer["spark.tasks_per_query"] = tasks / n
        ctx.layer["spark.shuffle_bytes_per_query"] = shuffle / n


def _spark_work(spark) -> tuple[int, int]:
    """Tasks run and shuffle bytes written by the timed queries' jobs."""
    jobs = [j for j in spark_rest(spark, "jobs")
            if (j.get("jobGroup") or "").startswith("perfbench:q")]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    tasks = shuffle = 0
    for s in spark_rest(spark, "stages"):
        if s["stageId"] in stage_ids and s["status"] == "COMPLETE":
            tasks += s["numTasks"]
            shuffle += s["shuffleWriteBytes"]
    return tasks, shuffle
