"""Workload ``cdc_live``: live ingest, closed-loop merges, then reads by key.

Seed a keyed state, then a load created with ``LoadJobManager.create`` (1 s
trigger, tombstone GC and a ``cust_key`` secondary index refreshed on
cadence) consumes event files that the generator writes on a fixed
schedule.  Every micro-batch is a ``merge_batch`` into existing state:
inserts of new keys, Zipf-skewed updates and deletes of seeded keys, both
envelope shapes, and a malformed share that must dead-letter.  A few
warm-up files are applied before the window opens.  When every file of the
window is committed the load stops; the rest of the window is closed-loop
``merge_batch`` calls of the same stream into the same state (the
materializer's capacity, which the open loop's fixed arrival rate hides),
then rounds of two ``point_lookup`` calls and one ``lookup_by_index``.
No read runs while a merge rewrites a bucket.

Visible latency is read from outside the program: a file's scheduled write
time to the mtime of the checkpoint ``commits/<id>`` of the micro-batch
whose ``sources/0`` log lists the file.  Per-call counters come from the
Spark event log: each benchmark call runs under its own job group, and the
stream's jobs carry the micro-batch id Spark stamps on them.
"""

from __future__ import annotations

import json
import os
import random
import time

from cdcgen import CUSTOMERS, CdcStream, lww_live_rows, write_jsonl
from harness import Tracer, dir_bytes, error_class, jvm_peak_rss_mb, log, median, pct, start_session

SEED_KEYS = 20_000
# 5.55 files/s: a period of 20/111 s, so the files' offsets within the 1 s
# trigger period sweep it evenly; a rate that divides the period would pin
# every file to a few offsets, and the median latency to the run's phase
FILES_PER_S = 5.55
EVENTS_PER_FILE = 90
WARMUP_FILES = 2
MERGE_BATCH = 2_000
# shares of the window; the reads get the rest.  The merges and reads are
# fixed counts sized from these shares at nominal speeds, so every run does
# the same work
INGEST_SHARE = 0.6
MERGE_SHARE = 0.22
MERGE_S = 0.8        # nominal seconds of one closed-loop merge
READ_ROUND_S = 0.5   # nominal seconds of two point reads and one index read
READ_WARMUP_ROUNDS = 4
SETUP_REPS = 3
DRAIN_TIMEOUT_S = 60.0
READ_STATE_CALLS = 3
WIRE_SCHEMA = "`_seq` LONG, value STRING"
COLS = (
    "order_key", "cust_key", "status", "total_price", "order_ts", "priority",
    "__deleted", "_seq",
)


def checkpoint_batches(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """(file basename -> micro-batch id, batch id -> commit mtime) from a
    file-source checkpoint.  Source logs are ``sources/0/<id>`` (and
    ``<id>.compact`` after compaction): a version line, then one JSON entry
    per file with its ``path`` and ``batchId``."""
    files: dict[str, int] = {}
    src = os.path.join(ckpt, "sources", "0")
    if os.path.isdir(src):
        for fn in os.listdir(src):
            if fn.startswith("."):
                continue
            with open(os.path.join(src, fn)) as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    files[name] = min(files.get(name, e["batchId"]), e["batchId"])
    commits: dict[int, float] = {}
    cdir = os.path.join(ckpt, "commits")
    if os.path.isdir(cdir):
        for fn in os.listdir(cdir):
            if fn.isdigit():
                commits[int(fn)] = os.path.getmtime(os.path.join(cdir, fn))
    return files, commits


def visible_latencies(ckpt: str, scheduled: dict[str, float]) -> dict[str, float | None]:
    """Per written file: commit time of the batch that applied it minus its
    scheduled write time (None while not yet committed)."""
    files, commits = checkpoint_batches(ckpt)
    out = {}
    for name, t_sched in scheduled.items():
        bid = files.get(name)
        t_commit = commits.get(bid) if bid is not None else None
        out[name] = None if t_commit is None else t_commit - t_sched
    return out


def _wait_committed(cfg, names, query) -> bool:
    """Wait until every file in ``names`` is in a committed micro-batch."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline and query.isActive:
        if None not in visible_latencies(cfg.checkpoint_dir, dict.fromkeys(names, 0.0)).values():
            return True
        time.sleep(0.1)
    return False


def _call(tr, ledger, name, fn, *args, **attrs):
    """One timed call, counted; returns its span, or None when it failed
    (with the exception class kept, never retried)."""
    err = None
    with tr.span(name, **attrs) as sp:
        try:
            fn(*args)
        except Exception as ex:
            err = ex
            sp["error"] = error_class(ex)
    ledger.record(name, err)
    return None if err is not None else sp


def run(seed: int, seconds: float, trace: bool, work: str, ledger) -> dict:
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.cdc.apply import latest_by_key, parse_envelope
    from mysql_cdc_debezium_starrocks_spark.streaming.jobs import LoadJobManager
    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
        CdcLoadConfig, gc_tombstones, merge_batch, point_lookup, read_state,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.secondary_index import (
        build_secondary_index, lookup_by_index,
    )

    spark, get_spark_s = start_session(work, trace, "bench-cdc_live")
    tr = Tracer(spark, trace)
    log(f"session up in {get_spark_s:.2f}s")

    # set-up, repeated: every repetition seeds its own state and index from
    # the same seed; the run continues on the last one
    setup = []
    for i in range(SETUP_REPS):
        d = os.path.join(work, f"rep{i}")
        os.makedirs(os.path.join(d, "src"))
        stream = CdcStream(seed, SEED_KEYS)
        cfg = CdcLoadConfig(
            name=f"live{i}", source_dir=os.path.join(d, "src"),
            state_dir=os.path.join(d, "state"),
            checkpoint_dir=os.path.join(d, "ckpt"), trigger_seconds=1,
            max_files_per_trigger=10, gc_every_batches=4,
            index_cols=("cust_key",), index_refresh_every=4,
        )
        t0 = time.perf_counter()
        path = os.path.join(d, "seed.json")
        write_jsonl(path, stream.seed_rows())
        merge_batch(spark, cfg, spark.read.schema(WIRE_SCHEMA).json(path))
        build_secondary_index(spark, cfg, "cust_key")
        setup.append(time.perf_counter() - t0)
    log(f"set-up done: {[round(s, 2) for s in setup]}")

    mgr = LoadJobManager(spark)
    tr.steady = True
    with tr.span("jobs.create"):
        query = mgr.create(cfg)
    staging = os.path.join(work, "staging")
    os.makedirs(staging)

    def put(name):
        # write beside, then rename in: the source never sees a partial file
        write_jsonl(os.path.join(staging, name), stream.batch(EVENTS_PER_FILE))
        os.replace(os.path.join(staging, name), os.path.join(cfg.source_dir, name))

    # warm-up: the stream's first micro-batches, applied before the window
    warm = [f"w{i}.json" for i in range(WARMUP_FILES)]
    for name in warm:
        put(name)
    _wait_committed(cfg, warm, query)
    warm_batches = set(checkpoint_batches(cfg.checkpoint_dir)[0].values())

    # -- the window, part 1: open-loop ingest through the load --
    scheduled: dict[str, float] = {}
    late = []
    ingest_s = seconds * INGEST_SHARE
    t_open = time.time()
    i = 0
    while (t_sched := t_open + i / FILES_PER_S) < t_open + ingest_s:
        name = f"f{i:05d}.json"
        time.sleep(max(0.0, t_sched - time.time()))
        put(name)
        late.append(max(0.0, time.time() - t_sched))
        scheduled[name] = t_sched
        i += 1
    time.sleep(max(0.0, t_open + ingest_s - time.time()))
    t_close = time.time()
    # drain: every file of the window committed, then the load stops so
    # nothing below meets a bucket the stream is rewriting
    _wait_committed(cfg, scheduled, query)
    mgr.show()
    progress = [p for p in query.recentProgress
                if p.get("numInputRows") and p["batchId"] not in warm_batches]
    mgr.stop(cfg.name)
    query.awaitTermination(30)
    lat = visible_latencies(cfg.checkpoint_dir, scheduled)
    files, _commits = checkpoint_batches(cfg.checkpoint_dir)
    stream_err = query.exception()
    for _ in progress:
        ledger.record("micro_batch")
    if stream_err is not None or None in lat.values():
        ledger.record("micro_batch", stream_err or RuntimeError("stream did not drain"))
    visible = [v for v in lat.values() if v is not None]
    log(f"ingest: {len(scheduled)} files in {len(progress)} micro-batches, "
        f"visible p50 {median(visible):.2f}s")

    # -- part 2: closed-loop merges of the same stream into the same state --
    merges = []
    for m in range(max(3, round(seconds * MERGE_SHARE / MERGE_S))):
        path = os.path.join(work, f"m{m}.json")
        wire_b = write_jsonl(path, stream.batch(MERGE_BATCH))
        # batch ids past the stream's keep the dead-letter dirs apart
        sp = _call(tr, ledger, "materializer.merge_batch", merge_batch, spark, cfg,
                   spark.read.schema(WIRE_SCHEMA).json(path), 10**6 + m,
                   wire_b=wire_b, path=path)
        if sp is not None:
            merges.append(sp)
    log(f"merges: {[round(sp['wall_s'], 2) for sp in merges]}")

    # -- part 3: reads of the state the merges left, after warm-up rounds --
    rnd = random.Random(seed + 7)
    reads: dict[str, list] = {}
    rounds = max(5, round(seconds * (1 - INGEST_SHARE - MERGE_SHARE) / READ_ROUND_S))
    for r in range(READ_WARMUP_ROUNDS + rounds):
        tr.steady = r >= READ_WARMUP_ROUNDS
        for name, fn, arg in (
            ("materializer.point_lookup", point_lookup, rnd.randrange(SEED_KEYS)),
            ("materializer.point_lookup", point_lookup, rnd.randrange(SEED_KEYS)),
            ("secondary_index.lookup_by_index", lambda s, c, v: lookup_by_index(s, c, "cust_key", v),
             rnd.randrange(CUSTOMERS)),
        ):
            sp = _call(tr, ledger, name, lambda: fn(spark, cfg, arg).collect())
            if sp is not None and tr.steady:
                reads.setdefault(name, []).append(sp["wall_s"] * 1e3)
    point_ms = reads.get("materializer.point_lookup", [])
    log(f"reads: point p50 {median(point_ms):.1f}ms of {len(point_ms)}")

    # -- after the window: single calls measured for the per-layer view --
    layers: dict = {}
    if trace:
        for _ in range(READ_STATE_CALLS):
            with tr.span("materializer.read_state.count"):
                read_state(spark, cfg).count()
        _call(tr, ledger, "materializer.gc_tombstones", gc_tombstones, spark, cfg,
              stream.events[-1].seq + 1)
        parse_s, buckets = [], []
        for sp in merges:
            df = spark.read.schema(WIRE_SCHEMA).json(sp["path"])
            # the batch's parse + LWW reduction alone, through the noop sink
            with tr.span("cdc.parse_latest") as ps:
                latest_by_key(parse_envelope(df), "order_key").write.format(
                    "noop").mode("overwrite").save()
            parse_s.append(ps["wall_s"])
            buckets.append(parse_envelope(df).filter(F.col("order_key").isNotNull())
                           .select(F.pmod(F.hash("order_key"), F.lit(cfg.buckets)))
                           .distinct().count())
        layers["cdc.parse_latest_s"] = median(parse_s)
        layers["materializer.merge_batch.buckets_rewritten"] = median(buckets)

    # -- verification, outside the timed region --
    live = {tuple(r) for r in read_state(spark, cfg).select(*COLS).collect()}
    expect = lww_live_rows(stream.events)
    dl = os.path.join(cfg.state_dir, "_dead_letter")
    dead = spark.read.parquet(dl).count() if os.path.isdir(dl) else 0
    correct = stream_err is None and None not in lat.values() and len(merges) > 0
    correct &= live == expect and dead == stream.malformed
    by_key = {r[0]: r for r in expect}
    rnd = random.Random(seed + 11)
    for k in (rnd.randrange(SEED_KEYS) for _ in range(2)):
        got = {tuple(r) for r in point_lookup(spark, cfg, k).select(*COLS).collect()}
        correct &= got == ({by_key[k]} if k in by_key else set())
    for c in (rnd.randrange(CUSTOMERS) for _ in range(1)):
        # a lagging index may miss rows merged since its refresh, never lie
        got = {tuple(r) for r in lookup_by_index(spark, cfg, "cust_key", c).select(*COLS).collect()}
        correct &= got <= {r for r in expect if r[1] == c}
    log(f"verified: correct={correct}")

    def dur(key):
        return median([p["durationMs"].get(key, 0) / 1e3 for p in progress]) if progress else 0.0

    batch_files: dict[int, list] = {}
    for name, b in files.items():
        if name in scheduled:
            batch_files.setdefault(b, []).append(name)
    unapplied = [t_close - scheduled[n] for n, v in lat.items()
                 if v is None or scheduled[n] + v > t_close]
    state_b, state_files = dir_bytes(os.path.join(cfg.state_dir, "current"))
    layers |= {
        "session.get_spark_s": get_spark_s,
        "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        "stream.visible_p90_s": pct(visible, 0.9),
        "readers.read_p90_ms": pct(point_ms, 0.9),
        "stream.trigger_s": dur("triggerExecution"),
        "stream.add_batch_s": dur("addBatch"),
        "stream.latest_offset_s": dur("latestOffset"),
        "stream.wal_commit_s": dur("walCommit"),
        "stream.files_per_batch": median([len(v) for v in batch_files.values()]),
        "stream.batches": len(batch_files),
        "source.lag_end_s": max(unapplied, default=0.0),
        "generator.late_s_max": max(late, default=0.0),
        "materializer.state_b": state_b,
        "materializer.state_files": state_files,
    }
    run_id = str(query.runId)
    spark.stop()

    def post_trace(groups):
        """Spark jobs per micro-batch of the load, from the jobs stamped
        with this query's run id and the batch id."""
        jobs = [groups[g]["jobs"] for g in (f"{run_id}#batch{p['batchId']}" for p in progress)
                if g in groups]
        return {"stream.jobs_per_batch": median(jobs) if jobs else 0.0}

    return {
        "correct": correct,
        "e2e": {
            "setup_s": get_spark_s + median(setup),
            # events per second of one closed-loop merge into the state
            "throughput_per_s": MERGE_BATCH / median([sp["wall_s"] for sp in merges]),
            "latency_s": median(visible),
            "read_ms": median(point_ms),
        },
        "layers": layers,
        "spans": tr.spans,
        "post_trace": post_trace,
        "scale": {"seed_keys": SEED_KEYS, "files_per_s": FILES_PER_S,
                  "events_per_file": EVENTS_PER_FILE, "merge_batch": MERGE_BATCH,
                  "buckets": cfg.buckets},
    }
