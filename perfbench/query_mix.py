"""The query phase of the ``fold_query`` workload: the registry, cold then warm.

One cold pass over a fixed set of registry queries (the first run of some of
them builds the session's cached artifacts), then warm passes while the
window is open, on seeded fixture tables.  Every result is checked against
the query's DuckDB oracle.  No CDC layer runs.
"""

from __future__ import annotations

from harness import median, pct

# one light query from each of 11 of the 17 operator modules (the run-time
# budget leaves out the rest; see WORKLOADS.md); the first runs of cdc_topk,
# emb_pq_codes and emb_centroid_by_label build cached session artifacts
QUERIES = {
    "cdc_queries": ("cdc_topk",),
    "relational": ("q1_pricing_summary",),
    "tpch": ("q6_revenue_forecast",),
    "merge_ops": ("merge_upsert_orders",),
    "dedup": ("dedup_exact_stats",),
    "similarity": ("emb_pq_codes",),
    "linalg": ("emb_centroid_by_label",),
    "sketches": ("sketch_kmv_distinct",),
    "stats": ("sample_stratified",),
    "text": ("text_pii_redact",),
    "events": ("events_json_props",),
}
NAMES = [(m, q) for m, qs in QUERIES.items() for q in qs]
PASS_S = 2.0  # nominal seconds of one warm pass, sizing the window's work
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def query_phase(spark, tr, ledger, sf_dir: str, window: float) -> dict:
    """The cold pass, one unmeasured warm-up pass (queries still speed up
    as the JVM compiles them), then the window's warm passes:
    ``window / PASS_S`` of them, at least three so each query has a median.

    Returns per-query cold seconds, per-query warm seconds of every warm
    pass, and the cold and last warm results."""
    import __spark_entry__ as se

    registry = se.queries()

    def one_pass(phase):
        times, results = {}, {}
        for module, q in NAMES:
            err = None
            try:
                with tr.span(f"query.{q}", phase=phase, module=module) as sp:
                    df = registry[q](spark, sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                results[q] = (list(df.columns), rows)
                times[q] = sp["wall_s"]
            except Exception as ex:  # counted with its class, never retried
                err = ex
            ledger.record("query", err)
        return times, results

    cold, cold_res = one_pass("cold")
    one_pass("warm-up")
    warm, warm_res = [], {}
    for _ in range(max(3, round(window / PASS_S))):
        times, warm_res = one_pass("warm")
        warm.append(times)
    return {"cold": cold, "warm": warm, "cold_res": cold_res, "warm_res": warm_res}


def warm_medians(res: dict) -> dict[str, float]:
    """Per query, its median warm seconds over the passes it succeeded in."""
    return {q: median([p[q] for p in res["warm"] if q in p])
            for _m, q in NAMES if any(q in p for p in res["warm"])}


def _oracle_rows(sf_dir: str, sqls: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name, sql in sqls.items():
            cur = con.execute(sql)
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _oracles(sf_dir: str, names) -> dict[str, str]:
    """The registry's DuckDB oracles for ``names``, canonicalized exactly as
    ``__spark_entry__.oracle_sql()`` does, typed against the staged tables."""
    from mysql_cdc_debezium_starrocks_spark.operators import _modules
    from mysql_cdc_debezium_starrocks_spark.operators._canon import canonize_oracles

    raw = {}
    for m in _modules():
        raw |= {q: sql for q, sql in m.ORACLE.items() if q in names}
    return canonize_oracles(raw, sf_dir)


def queries_correct(sf_dir: str, res: dict) -> bool:
    """Cold and warm results against each query's DuckDB oracle, with
    ``tools/parity.py``'s comparison (queries without an oracle: warm must
    equal cold)."""
    from tools.parity import df_to_multiset

    cold_res, warm_res = res["cold_res"], res["warm_res"]
    if not len(cold_res) == len(warm_res) == len(NAMES):
        return False
    expect = _oracle_rows(sf_dir, _oracles(sf_dir, [q for _m, q in NAMES]))
    for _m, q in NAMES:
        for cols, rows in (cold_res[q], warm_res[q]):
            if q in expect:
                dcols, drows = expect[q]
                if sorted(cols) != sorted(dcols) or (
                    df_to_multiset(cols, rows) != df_to_multiset(dcols, drows)
                ):
                    return False
            elif df_to_multiset(cols, rows) != df_to_multiset(*cold_res[q]):
                return False
    return True


def query_layers(res: dict) -> dict:
    """Per-module cold and warm seconds and the pass totals."""
    from mysql_cdc_debezium_starrocks_spark.operators.dedup import ARTIFACT_BUILD_SECONDS

    warm = warm_medians(res)
    out = {
        "operators.cold_pass_s": sum(res["cold"].values()),
        "operators.warm_p90_s": pct([t for p in res["warm"] for t in p.values()], 0.9),
        "operators.artifact_build_s": sum(ARTIFACT_BUILD_SECONDS.values()),
    }
    for module, qs in QUERIES.items():
        out[f"operators.{module}.cold_s"] = sum(res["cold"].get(q, 0.0) for q in qs)
        out[f"operators.{module}.warm_s"] = sum(warm.get(q, 0.0) for q in qs)
    return out
