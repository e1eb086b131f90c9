"""The fold phase of the ``fold_query`` workload: incremental views, closed loop.

The CDC batch stream (plus customer-dimension changes) is folded into six
maintained views — ``agg_mv``, ``scd2``, ``heavy_hitters``, ``theta_stats``,
``table_stats`` and ``join_mv``; then ``compact_agg_mv`` and
``compact_theta`` fold the contributions into baselines and each view is
read once.  The materializer does no work here.
"""

from __future__ import annotations

import os
import time

from cdcgen import (
    CUSTOMERS, SEGMENTS, CdcStream, agg_oracle, heavy_hitter_ok, join_oracle, scd2_oracle,
    write_jsonl,
)
from harness import dir_bytes, pct

SEED_KEYS = 20_000
BATCH = 1_000
DIM_CHANGES = 10
DIM_EVERY = 2
WARMUP_BATCHES = 2
BATCH_S = 4.5  # nominal seconds of one measured batch, sizing the window's work
FOLDS = ("agg_mv", "scd2", "heavy_hitters", "theta_stats", "table_stats", "join_mv")
AGG_KEYS = ["status"]
AGG_SPEC = {
    "events": ("count", "order_key"),
    "price_sum": ("sum", "price"),
    "key_min": ("min", "order_key"),
    "key_max": ("max", "order_key"),
}
STATS_COLS = ["order_key", "cust_key", "status"]
DIM_SCHEMA = "cust_key LONG, segment STRING, _seq LONG, __deleted STRING"
HH_M = 64
THETA_K = 256


class Views:
    """The six view locations of one set-up, and the stream folded into them."""

    def __init__(self, root: str, seed: int):
        from mysql_cdc_debezium_starrocks_spark.streaming import join_mv

        self.stream = CdcStream(seed, SEED_KEYS)
        self.stream.dim.extend(
            (c, SEGMENTS[c % len(SEGMENTS)], c, "false") for c in range(CUSTOMERS)
        )
        self.dirs = {f: os.path.join(root, f) for f in FOLDS}
        self.jcfg = join_mv.JoinMVConfig(
            state_dir=self.dirs["join_mv"], fact_key="order_key",
            fk="cust_key", dim_key="cust_key", dim_cols=("segment",),
            dim_types=("string",),
        )

    def load_dimension(self, spark) -> None:
        """Set-up: the dimension side of the join view, loaded fresh."""
        from mysql_cdc_debezium_starrocks_spark.streaming import join_mv

        join_mv.merge_join_mv_batch(
            spark, self.jcfg,
            dim_delta=spark.createDataFrame(self.stream.dim, DIM_SCHEMA),
        )


def fold_phase(spark, tr, ledger, views: Views, window: float, work: str) -> dict:
    """Warm-up batches, then the window's 1k-event batches through the six
    folds, then compaction and one read of every view.  The window holds a
    fixed number of batches, ``window / BATCH_S`` (at least three): folds
    speed up for many batches as the JVM compiles their code, so a count
    fixed by time would put each run at another point of that curve.

    Returns the per-fold call times of the measured batches, the measured
    batch times, the events folded in them, and the collected views."""
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.cdc.apply import parse_envelope
    from mysql_cdc_debezium_starrocks_spark.streaming import (
        agg_mv, heavy_hitters, join_mv, scd2, table_stats, theta_stats,
    )

    dirs, jcfg, stream = views.dirs, views.jcfg, views.stream
    os.makedirs(work, exist_ok=True)

    def call(name, fn, *args, **kw):
        """Seconds the call took, or None when it failed (counted, never
        retried)."""
        err = None
        try:
            with tr.span(name) as sp:
                fn(*args, **kw)
        except Exception as ex:
            err = ex
        ledger.record(name, err)
        return None if err is not None else sp["wall_s"]

    fold_s: dict[str, list] = {f: [] for f in FOLDS}
    batch_s = []
    n_events = 0
    measured = False
    for bid in range(WARMUP_BATCHES + max(3, round(window / BATCH_S))):
        if bid == WARMUP_BATCHES:
            measured = tr.steady = True
        path = os.path.join(work, f"b{bid}.json")
        write_jsonl(path, stream.batch(BATCH))
        raw = spark.read.schema("`_seq` LONG, value STRING").json(path)
        t0 = time.perf_counter()
        parsed = (
            parse_envelope(raw).filter(F.col("order_key").isNotNull())
            .withColumn("price", F.col("total_price").cast("decimal(12,2)"))
            .persist()
        )
        took = {
            "agg_mv": call("agg_mv.merge", agg_mv.merge_agg_mv_batch, spark,
                           dirs["agg_mv"], parsed, AGG_KEYS, AGG_SPEC, bid),
            "scd2": call("scd2.merge", scd2.merge_scd2_batch, spark, dirs["scd2"], raw, bid),
            "heavy_hitters": call("heavy_hitters.merge", heavy_hitters.merge_heavy_hitters_batch,
                                  spark, dirs["heavy_hitters"], parsed, bid,
                                  key_col="cust_key", m=HH_M),
            "theta_stats": call("theta_stats.merge", theta_stats.update_theta_batch, spark,
                                dirs["theta_stats"], parsed, "order_key", bid, k=THETA_K),
            "table_stats": call("table_stats.merge", table_stats.update_stats_batch, spark,
                                dirs["table_stats"], parsed, STATS_COLS, bid),
            "join_mv": call("join_mv.merge", join_mv.merge_join_mv_batch, spark, jcfg,
                            fact_delta=parsed.drop("price")),
        }
        elapsed = time.perf_counter() - t0
        parsed.unpersist()
        if measured and None not in took.values():
            batch_s.append(elapsed)
            n_events += BATCH
            for f, s in took.items():
                fold_s[f].append(s)
        # dimension changes arrive between batches, timed on their own, so
        # every measured batch carries the same work
        if bid % DIM_EVERY == 0:
            dim_delta = spark.createDataFrame(stream.dim_rows(DIM_CHANGES), DIM_SCHEMA)
            call("join_mv.dim", join_mv.merge_join_mv_batch, spark, jcfg, dim_delta=dim_delta)

    # compaction while the stream pauses: all but the newest contribution go
    # into a committed baseline, which the reads below then merge
    call("agg_mv.compact", agg_mv.compact_agg_mv, spark, dirs["agg_mv"],
         AGG_KEYS, AGG_SPEC, keep_last=1)
    call("theta_stats.compact", theta_stats.compact_theta, spark,
         dirs["theta_stats"], keep_last=1)

    readers = {
        "agg_mv": lambda: agg_mv.read_agg_mv(spark, dirs["agg_mv"], AGG_KEYS, AGG_SPEC),
        "scd2": lambda: scd2.scd2_view(spark, dirs["scd2"]).select(
            "order_key", "valid_from_seq", "valid_to_seq"),
        "heavy_hitters": lambda: heavy_hitters.heavy_hitters_view(
            spark, dirs["heavy_hitters"], k=HH_M),
        "theta_stats": lambda: theta_stats.read_theta(spark, dirs["theta_stats"]),
        "table_stats": lambda: table_stats.read_stats(spark, dirs["table_stats"]),
        "join_mv": lambda: join_mv.read_join_mv(spark, jcfg).select(
            "order_key", "cust_key", "segment", "_seq"),
    }
    rows = {}
    for name, reader in readers.items():
        err = None
        try:
            with tr.span(f"{name}.read"):
                rows[name] = reader().collect()
        except Exception as ex:  # counted, never retried
            err = ex
        ledger.record(f"{name}.read", err)
    return {"fold_s": fold_s, "batch_s": batch_s, "events": n_events, "rows": rows}


def folds_correct(views: Views, rows: dict) -> bool:
    """The collected views against the pure-Python folds of every event."""
    evs, dim = views.stream.events, views.stream.dim
    if len(rows) != len(FOLDS):
        return False
    agg = {r["status"]: (r["events"], r["price_sum"], r["key_min"], r["key_max"])
           for r in rows["agg_mv"]}
    n_keys = len({e.key for e in evs})
    return (
        agg == agg_oracle(evs)
        and {tuple(r) for r in rows["scd2"]} == scd2_oracle(evs)
        and heavy_hitter_ok([tuple(r) for r in rows["heavy_hitters"]], evs)
        and len(rows["theta_stats"]) == min(THETA_K, n_keys)
        and all(r["rows"] == len(evs) and r["nulls"] == 0 for r in rows["table_stats"])
        and len(rows["table_stats"]) == len(STATS_COLS)
        and {tuple(r) for r in rows["join_mv"]} == join_oracle(evs, dim)
    )


def fold_layers(views: Views, res: dict) -> dict:
    """Per-layer values the spans do not give: per-fold medians and the
    bytes each view keeps on disk."""
    out = {f"{f}.state_b": dir_bytes(d)[0] for f, d in views.dirs.items()}
    out["fold.batch_p90_s"] = pct(res["batch_s"], 0.9)
    return out
