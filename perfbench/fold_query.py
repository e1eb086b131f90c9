"""Workload ``fold_query``: the analytical side of the engine, no materializer.

Set-up stages the seeded fixture tables and loads the join view's customer
dimension.  The window is then shared: first CDC batches are folded into the
six maintained views (``fold_maintain.py``), then the registry query mix
runs cold once and warm while its part of the window lasts
(``query_mix.py``).  The fold metrics and the query metrics come from
different layers, so each end-to-end metric moves with one of them only:
``throughput_per_s`` and ``latency_s`` with the folds, ``read_ms`` with the
operators.
"""

from __future__ import annotations

import os
import time

import fold_maintain
import query_mix
from harness import Tracer, jvm_peak_rss_mb, log, median, start_session
from tables import write_tables

SETUP_REPS = 3
FOLD_SHARE = 0.7  # of the window; the query passes get the rest


def run(seed: int, seconds: float, trace: bool, work: str, ledger) -> dict:
    spark, get_spark_s = start_session(work, trace, "bench-fold_query")
    tr = Tracer(spark, trace)
    log(f"session up in {get_spark_s:.2f}s")

    # set-up, repeated from the same seed; the run continues on the last one
    setup = []
    for i in range(SETUP_REPS):
        root = os.path.join(work, f"rep{i}")
        t0 = time.perf_counter()
        table_rows = write_tables(os.path.join(root, "tables"), seed)
        views = fold_maintain.Views(root, seed)
        views.load_dimension(spark)
        setup.append(time.perf_counter() - t0)
    sf_dir = os.path.join(root, "tables")
    log(f"set-up done: {[round(s, 2) for s in setup]}")

    folds = fold_maintain.fold_phase(
        spark, tr, ledger, views, seconds * FOLD_SHARE, os.path.join(root, "batches"))
    log(f"{len(folds['batch_s'])} fold batches: {[round(s, 2) for s in folds['batch_s']]}")
    queries = query_mix.query_phase(spark, tr, ledger, sf_dir, seconds * (1 - FOLD_SHARE))
    log(f"cold pass {sum(queries['cold'].values()):.2f}s, {len(queries['warm'])} warm passes: "
        f"{[round(sum(p.values()), 2) for p in queries['warm']]}")
    peak = jvm_peak_rss_mb(spark)

    # -- verification, outside the timed region --
    correct = fold_maintain.folds_correct(views, folds["rows"])
    correct &= query_mix.queries_correct(sf_dir, queries)
    log(f"verified: correct={correct}")
    layers = fold_maintain.fold_layers(views, folds) | query_mix.query_layers(queries)
    layers |= {"session.get_spark_s": get_spark_s, "session.jvm_peak_rss_mb": peak}
    spark.stop()

    fold_s = {f: median(ts) for f, ts in folds["fold_s"].items()}
    warm = query_mix.warm_medians(queries)
    return {
        "correct": correct,
        "e2e": {
            "setup_s": get_spark_s + median(setup),
            "throughput_per_s": folds["events"] / sum(folds["batch_s"]),
            # one batch through the six folds, from each fold's median call
            "latency_s": sum(fold_s.values()),
            # one warm pass over the query set, from each query's median
            "read_ms": sum(warm.values()) * 1e3,
        },
        "layers": layers,
        "spans": tr.spans,
        "scale": {"seed_keys": fold_maintain.SEED_KEYS, "batch": fold_maintain.BATCH,
                  "dim_changes": fold_maintain.DIM_CHANGES, "rows": table_rows,
                  "queries": len(query_mix.NAMES)},
    }
