"""The four feature-store workloads.

Each is a closed loop with one client, because an inference caller waits
for each reply. A workload sets itself up, warms every request type,
runs its seeded request stream until the run's seconds are spent, and checks
every reply against the generator's ground truth outside the timed
region. Every workload reports the same four BENCHMARK.json metrics,
each mapped to a named metric of the workload (perfbench/README.md);
the named metrics are printed alongside.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen

# the request each workload's p50 is taken over; the traced run's
# generic per-layer metrics describe the same spans
PRIMARY_SPAN = {
    "online_serve": "feature_store.get_record",
    "ingest_refresh": "refresh.fresh",
    "offline_train": "train.pipeline",
    "batch_analytics": "analytics.query",
}

# The reference's inference script makes one call sequence for one
# literal key (get_record -> float cast -> predict) and no traffic mix,
# so these shapes are assumptions, not measurements of real traffic:
# 8,000 keys (far above the 1,500 users of the sf0.1 events table),
# zipf s=1.1, 10% absent keys, 5% tombstoned keys, 10% late rows per
# refresh batch, 200-row batches. get_record has no cache and scans one
# hash bucket whatever the key, so the skew and the absent share do not
# move its latency; they decide which replies the checks exercise.
SERVE = {
    "default": gen.StreamShape(8000, 2.0, 3, 1.1, 0.1, 0.05, 0.1, 200),
    "tiny": gen.StreamShape(1500, 1.5, 2, 1.1, 0.1, 0.05, 0.1, 60),
}
# (orders, parts) of the generated lineitem: 6,000 orders of 1-7 parts,
# about 24,000 rows, four times the sf0.001 testdata. At this size a
# graph query's executor CPU is about as large as its driver gap.
ANALYTICS = {"default": (6000, 600), "tiny": (200, 40)}
WARM_PASSES = 2
ANALYTICS_QUERIES = ("graph_sssp_weighted", "graph_label_propagation", "graph_kcore_floor")
TRAIN_LABELS = {"default": 1500, "tiny": 300}
NUM_TREES, TRAIN_SEED = 100, 42
COMPACT_EVERY = 3
GROUP = "bench_features"


@dataclass
class Ctx:
    spark: object
    tracer: object  # tracing.Tracer in the traced run, else None
    rng: np.random.Generator
    seconds: float
    size: str
    work_dir: str
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    named: dict = field(default_factory=dict)  # printed metrics: name -> (value, unit)
    setup: dict = field(default_factory=dict)  # set-up phase -> seconds
    primary: list = field(default_factory=list)  # (kind, seconds, traced) per primary request

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def span(self, name, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.span(name, fn, *args, **kwargs)

    def timed_loop(self, requests, do, at_least=1, trace_group=1):
        """Closed loop: issue requests in order until `seconds` pass and
        at least `at_least` are done. In the traced run, groups of
        `trace_group` requests are traced in the order traced, untraced,
        untraced, traced, ..., so that a trend during the run (such as
        the JIT still warming) does not count as tracing overhead; the
        untraced ones give the overhead baseline, and at least one such
        cycle of four groups runs."""
        out, t_end = [], time.perf_counter() + self.seconds
        if self.tracer is not None:
            at_least = max(at_least, 4 * trace_group)
        t0 = time.perf_counter()
        for i, req in enumerate(requests):
            if len(out) >= at_least and time.perf_counter() >= t_end:
                break
            traced = self.tracer is not None and (i // trace_group) % 4 in (0, 3)
            if self.tracer is not None:
                self.tracer.enabled, self.tracer.request = traced, i
            t = time.perf_counter()
            res = do(req)
            out.append((req, res, time.perf_counter() - t, traced))
        if self.tracer is not None:
            self.tracer.enabled, self.tracer.request = False, None
        return out, time.perf_counter() - t0

    def named_metric(self, name, value, unit):
        self.named[name] = (value, unit)


p50 = statistics.median


def tail(xs):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than 20 samples."""
    xs = sorted(xs)
    for pct in (99, 90, 50):
        if len(xs) * (100 - pct) / 100 >= 10:
            return pct, xs[min(len(xs) - 1, math.ceil(len(xs) * pct / 100) - 1)]
    return None


# -- shared set-up ----------------------------------------------------------


def feature_group():
    from cust_sagemaker_feature_store_spark.core.feature_group import FeatureDefinition, FeatureGroup

    return FeatureGroup(GROUP, "customer_id", "event_time", (
        FeatureDefinition("customer_id", "Integral"), FeatureDefinition("event_time", "String"),
        FeatureDefinition("amount", "Fractional"), FeatureDefinition("n_items", "Integral"),
    ))


def build_store(ctx: Ctx, hist: pd.DataFrame, root: str):
    """Bulk-load the history and materialize the online snapshot."""
    from cust_sagemaker_feature_store_spark.core.feature_store import FeatureStore

    fs = FeatureStore(ctx.spark, root)
    fs.create_feature_group(feature_group())
    fs.ingest(GROUP, ctx.spark.createDataFrame(gen.to_ingest(hist), gen.SCHEMA))
    fs.materialize_online(GROUP)
    return fs


def set_up_store(ctx: Ctx, shape: gen.StreamShape):
    """Generate the history and build the store once. The build is
    timed whole: a second build in the same process would be a warm
    build, 2-3 s against the first one's 8-13 s, and its time would hide
    the cold cost a user pays."""
    t = time.perf_counter()
    hist = gen.history(ctx.rng, shape)
    truth = gen.OnlineTruth(hist)
    ctx.setup["generate_s"] = time.perf_counter() - t
    t = time.perf_counter()
    fs = build_store(ctx, hist, os.path.join(ctx.work_dir, "store"))
    ctx.setup["store_build_s"] = time.perf_counter() - t
    return fs, hist, truth


def train_pipeline(ctx: Ctx, fs, hist: pd.DataFrame, shape: gen.StreamShape, rng, model_dir: str):
    """The historical_features.py path: window query, point-in-time
    training set, 100-tree forest, save/load, batch predict. Returns the
    loaded model, the training-set row count, the pipeline's wall time
    and the label range; checks the training set and the predictions."""
    span_s = shape.days * 86400
    lo = int(rng.integers(0, span_s // 4))
    hi = int(rng.integers(span_s // 2, span_s - 7200))
    labels = gen.training_labels(rng, hist, lo, hi, TRAIN_LABELS[ctx.size])
    t = time.perf_counter()
    model, ts_rows, preds, mse = ctx.span("train.pipeline", _train, ctx, fs, labels, lo, hi, model_dir)
    elapsed = time.perf_counter() - t

    want = sorted(
        (int(k), lt, None if pd.isna(a) else float(a))
        for k, lt, a in labels[["customer_id", "label_time", "amount"]].itertuples(index=False)
    )
    got = sorted((r["customer_id"], r["label_time"], r["amount"]) for r in ts_rows)
    ctx.check(got == want, f"training set differs from the as-of ground truth ({len(got)} vs {len(want)} rows)")
    label_range = float(labels["label"].min()), float(labels["label"].max())
    ctx.check(
        len(preds) == len(labels) and math.isfinite(mse)
        and all(label_range[0] <= r["prediction"] <= label_range[1] for r in preds),
        "batch predictions missing or outside the label range",
    )
    return model, len(ts_rows), elapsed, label_range


def _train(ctx: Ctx, fs, labels: pd.DataFrame, lo: int, hi: int, model_dir: str):
    from cust_sagemaker_feature_store_spark.functions.timeutil import parse_iso_z
    from cust_sagemaker_feature_store_spark.ml import regression
    from cust_sagemaker_feature_store_spark.operators import asof

    lo_iso, hi_iso = gen.iso([lo, hi])
    feats = fs.history_between(GROUP, lo_iso, hi_iso, ["customer_id", "event_time", "amount"])
    feats = feats.select("customer_id", parse_iso_z("event_time").alias("feature_ts"), "amount")
    probe = ctx.spark.createDataFrame(
        labels[["customer_id", "label_time", "label"]], "customer_id long, label_time string, label double"
    ).withColumn("label_ts", parse_iso_z("label_time"))

    def training_set():
        ts = asof.asof_join_auto(probe, feats, "customer_id", "label_ts", "feature_ts")
        ts = ts.select("customer_id", "label_time", "label", "amount").persist()
        return ts, ts.collect()

    ts, ts_rows = ctx.span("asof.training_set", training_set)
    train = ts.na.fill(0.0, ["amount"])
    result = regression.train_regressor(train, ["amount"], "label", NUM_TREES, TRAIN_SEED)
    regression.save_model(result.model, model_dir)
    model = regression.load_model(model_dir)
    preds = regression.predict(model, train).select("prediction").collect()
    ts.unpersist()
    return model, ts_rows, preds, result.mse


# -- online_serve -----------------------------------------------------------


def online_serve(ctx: Ctx) -> dict:
    from cust_sagemaker_feature_store_spark.ml import regression

    shape = SERVE[ctx.size]
    fs, hist, truth = set_up_store(ctx, shape)
    t = time.perf_counter()
    model, _, _, label_range = train_pipeline(
        ctx, fs, hist, shape, ctx.rng, os.path.join(ctx.work_dir, "model")
    )
    ctx.setup["model_s"] = time.perf_counter() - t

    def get(key):
        return fs.get_record(GROUP, key)

    def batch_get(keys):
        return fs.batch_get_record(GROUP, keys)

    def infer(key):
        vec = fs.feature_vector(GROUP, key, ["amount"])
        return vec, regression.predict_single(model, ctx.spark, ["amount"], vec)

    handlers = {"get": get, "batch_get": batch_get, "infer": infer}

    def do(req):
        kind, arg = req
        if kind == "get":
            return handlers[kind](arg)
        return ctx.span(f"serve.{kind}", handlers[kind], arg)

    # the same mix and order on every seed (only the keys are seeded), so
    # throughput compares across runs: per block of twenty, 18 gets, one
    # 100-key batch get and one feature_vector -> predict_single. The
    # mix is an assumption ("mostly get_record"); p50_ms is over the
    # plain gets only, so the mix moves throughput_per_s, not p50_ms
    pattern = ["get"] * 5 + ["batch_get"] + ["get"] * 9 + ["infer"] + ["get"] * 4
    n_keys = 200 * sum(100 if kind == "batch_get" else 1 for kind in pattern) + 8
    keys = iter(gen.request_keys(ctx.rng, truth, shape, n_keys))
    requests = [
        (kind, [next(keys) for _ in range(100)] if kind == "batch_get" else next(keys))
        for _ in range(200) for kind in pattern
    ]
    # warm up until three gets in a row agree within 15%: the JIT keeps
    # compiling for a while after the store builds and the training run
    t = time.perf_counter()
    warm_ms = []
    while len(warm_ms) < 3 or (len(warm_ms) < 8 and max(warm_ms[-3:]) > 1.15 * min(warm_ms[-3:])):
        t_get = time.perf_counter()
        do(("get", next(keys)))
        warm_ms.append((time.perf_counter() - t_get) * 1000)
    do(requests[5])
    do(requests[15])
    ctx.setup["warmup_s"] = time.perf_counter() - t
    ctx.named_metric("warmup_get_ms.runs", [round(x, 1) for x in warm_ms], "ms")

    done, wall = ctx.timed_loop(requests, do)

    lo_l, hi_l = label_range
    for (kind, arg), res, _, _ in done:
        if kind == "get":
            ctx.check(gen.record_matches(res, truth.record(arg)), f"get_record({arg})")
        elif kind == "batch_get":
            want = {k: truth.record(k) for k in set(arg)}
            ok = set(res) == {k for k, v in want.items() if v is not None} and all(
                gen.record_matches(rec, want[k]) for k, rec in res.items()
            )
            ctx.check(ok, "batch_get_record")
        else:
            vec, pred = res
            exp = truth.record(arg)
            ok = vec == [exp["amount"] if exp else 0.0] and lo_l <= pred <= hi_l
            ctx.check(ok, f"feature_vector/predict_single({arg})")

    by = {k: [dt * 1000 for (kind, _), _, dt, _ in done if kind == k] for k in handlers}
    ctx.primary = [("get", dt, tr) for (kind, _), _, dt, tr in done if kind == "get"]
    ctx.named_metric("get_p50_ms", p50(by["get"]), "ms")
    tl = tail(by["get"])
    ctx.named_metric(
        f"get_p{tl[0]}_ms" if tl else "get_p90_ms",
        tl[1] if tl else f"n/a ({len(by['get'])} gets; a p90 needs 100)", "ms",
    )
    ctx.named_metric("get_count", len(by["get"]), "count")
    ctx.named_metric("get_ms.runs", [round(x, 1) for x in by["get"]], "ms")
    if by["batch_get"]:
        ctx.named_metric("batch_get_p50_ms", p50(by["batch_get"]), "ms")
    if by["infer"]:
        ctx.named_metric("infer_p50_ms", p50(by["infer"]), "ms")
    ctx.named_metric("serve_ops_per_s", len(done) / wall, "ops/s")
    return {"p50_ms": p50(by["get"]), "throughput_per_s": len(done) / wall}


# -- ingest_refresh ---------------------------------------------------------


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _bucket_files(online_dir: str) -> dict[str, frozenset]:
    return {
        d: frozenset(f for f in os.listdir(os.path.join(online_dir, d)) if f.endswith(".parquet"))
        for d in os.listdir(online_dir) if d.startswith("bucket=")
    }


def _rewrite_stats(online_dir: str, before: dict, batch: pd.DataFrame) -> tuple[float, float]:
    """(dirty_bucket_ratio, rows_rewritten_per_key) of one upsert, read
    from the snapshot's files: buckets whose files changed over the
    bucket count in the sidecar, and the rows those buckets now hold
    over the batch's distinct keys."""
    import pyarrow.parquet as pq

    with open(os.path.join(online_dir, "_snapshot_meta.json")) as fh:
        n_buckets = json.load(fh)["n_buckets"]
    after = _bucket_files(online_dir)
    dirty = [d for d, files in after.items() if before.get(d) != files]
    rows = sum(
        pq.read_metadata(os.path.join(online_dir, d, f)).num_rows for d in dirty for f in after[d]
    )
    return len(dirty) / n_buckets, rows / batch["customer_id"].nunique()


def ingest_refresh(ctx: Ctx) -> dict:
    shape = SERVE[ctx.size]
    fs, hist, truth = set_up_store(ctx, shape)
    now = [shape.days * 86400]
    rows_in = [len(hist)]

    def refresh(batch):
        """ingest -> upsert_online -> get_record of the updated key; the
        wall of all three is the batch's freshness."""
        df, probes = batch
        out = fs.ingest(GROUP, ctx.spark.createDataFrame(gen.to_ingest(df), gen.SCHEMA))
        fs.upsert_online(GROUP, out)
        return fs.get_record(GROUP, probes["updated"])

    def one_batch(i):
        df, probes = gen.micro_batch(ctx.rng, truth, shape, now[0])
        now[0] += 3600
        before = _bucket_files(fs.online_path(GROUP))
        t = time.perf_counter()
        fresh_rec = ctx.span("refresh.fresh", refresh, (df, probes))
        fresh = time.perf_counter() - t
        rewrite = _rewrite_stats(fs.online_path(GROUP), before, df)
        truth.apply(df)
        rows_in[0] += len(df)
        probe_out, probe_ms = {}, []
        for kind in ("late", "tombstoned"):
            t = time.perf_counter()
            probe_out[kind] = fs.get_record(GROUP, probes[kind])
            probe_ms.append((time.perf_counter() - t) * 1000)
        compact_s = 0.0
        if (i + 1) % COMPACT_EVERY == 0:
            t = time.perf_counter()
            fs.compact_offline(GROUP)
            compact_s = time.perf_counter() - t
        expected = {k: truth.record(v) for k, v in probes.items()}
        return fresh, fresh_rec, probe_out, probe_ms, compact_s, expected, len(df), rewrite

    t = time.perf_counter()
    warm = one_batch(-1)
    ctx.setup["warmup_s"] = time.perf_counter() - t
    ctx.check(gen.record_matches(warm[1], warm[5]["updated"]), "warm-up refresh")

    done, wall = ctx.timed_loop(range(10**6), one_batch)
    fresh_ms, get_ms, rows, write_s, rewrites = [], [], 0, 0.0, []
    for i, (fresh, rec, probe_out, probe_ms, compact_s, expected, n, rewrite), dt, _ in done:
        ctx.check(gen.record_matches(rec, expected["updated"]), f"batch {i}: updated key")
        ctx.check(gen.record_matches(probe_out["late"], expected["late"]), f"batch {i}: late row won")
        ctx.check(probe_out["tombstoned"] is None, f"batch {i}: tombstoned key still served")
        fresh_ms.append(fresh * 1000)
        get_ms += probe_ms
        rows += n
        write_s += fresh + compact_s
        rewrites.append(rewrite)
    ctx.primary = [("refresh", f / 1000, tr) for f, (_, _, _, tr) in zip(fresh_ms, done)]
    store_bytes = _dir_bytes(fs.offline_path(GROUP)) + _dir_bytes(fs.online_path(GROUP))
    ctx.named_metric("fresh_p50_ms", p50(fresh_ms), "ms")
    ctx.named_metric("get_p50_ms", p50(get_ms), "ms")
    ctx.named_metric("ingest_rows_per_s", rows / write_s, "rows/s")
    ctx.named_metric("store_bytes_per_row", store_bytes / rows_in[0], "B/row")
    ctx.named_metric("batches", len(done), "count")
    ctx.named_metric("online.dirty_bucket_ratio", p50([r[0] for r in rewrites]), "ratio")
    ctx.named_metric("online.rows_rewritten_per_key", p50([r[1] for r in rewrites]), "rows/key")
    n_files = sum(f.endswith(".parquet") for _, _, fs_ in os.walk(fs.offline_path(GROUP)) for f in fs_)
    ctx.named_metric("feature_store.offline_files", n_files, "count")
    return {"p50_ms": p50(fresh_ms), "throughput_per_s": rows / write_s}


# -- offline_train ----------------------------------------------------------


def offline_train(ctx: Ctx) -> dict:
    shape = SERVE[ctx.size]
    fs, hist, _ = set_up_store(ctx, shape)
    t = time.perf_counter()
    train_pipeline(ctx, fs, hist, shape, ctx.rng, os.path.join(ctx.work_dir, "model_warm"))
    ctx.setup["warmup_s"] = time.perf_counter() - t

    def iteration(i):
        rng = np.random.default_rng(ctx.rng.integers(1 << 31))
        return train_pipeline(ctx, fs, hist, shape, rng, os.path.join(ctx.work_dir, f"model{i % 2}"))

    done, _ = ctx.timed_loop(range(10**6), iteration)
    # the pipeline's own clock excludes the ground-truth check it runs
    secs = [res[2] for _, res, _, _ in done]
    rows = sum(res[1] for _, res, _, _ in done)
    ctx.primary = [("train", res[2], tr) for _, res, _, tr in done]
    ctx.named_metric("train_s", p50(secs), "s")
    ctx.named_metric("iterations", len(done), "count")
    return {"p50_ms": p50(secs) * 1000, "throughput_per_s": rows / sum(secs)}


# -- batch_analytics --------------------------------------------------------


class _Collected:
    """Rows already collected in the timed region, in the shape
    `testing.compare_spark_to_oracle` reads (columns + collect)."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def batch_analytics(ctx: Ctx) -> dict:
    from cust_sagemaker_feature_store_spark import testing
    from cust_sagemaker_feature_store_spark.queries import REGISTRY

    data_dir = os.path.join(ctx.work_dir, "tables")
    t = time.perf_counter()
    gen.analytics_tables(ctx.rng, data_dir, *ANALYTICS[ctx.size])
    ctx.setup["generate_s"] = time.perf_counter() - t

    def run_query(name):
        df = ctx.span(f"query.{name}.build", REGISTRY[name].fn, ctx.spark, data_dir)
        rows = ctx.span(f"query.{name}.run", df.collect)
        return df.columns, rows

    def do(name):
        return ctx.span("analytics.query", run_query, name)

    # queries in a seeded order, one permutation per pass; the first
    # WARM_PASSES passes are the warm-up: after the cold pass, each pass
    # is still 10-15% faster than the one before while the JIT compiles
    n = len(ANALYTICS_QUERIES)
    order = [str(q) for _ in range(1000) for q in ctx.rng.permutation(ANALYTICS_QUERIES)]
    t = time.perf_counter()
    warm = [(name, run_query(name)) for name in order[:n * WARM_PASSES]]
    ctx.setup["warmup_s"] = time.perf_counter() - t

    # at least two measured passes, so every query has two samples and
    # every run measures the same passes after the warm-up: with one,
    # a slow host left some queries a single sample from the pass that
    # is still warming, and those runs read 10-45% slower. A pass is the
    # sum of the per-query medians
    done, _ = ctx.timed_loop(order[n * WARM_PASSES:], do, at_least=2 * n, trace_group=n)

    con = testing.duckdb_connection(data_dir, ("lineitem",))
    try:
        for name, (cols, rows) in warm + [(name, res) for name, res, _, _ in done]:
            problems = testing.compare_spark_to_oracle(
                _Collected(cols, rows), con, REGISTRY[name].oracle
            )
            ctx.check(not problems, f"{name}: {problems[:1]}")
    finally:
        con.close()

    per_query = {q: p50([dt for name, _, dt, _ in done if name == q]) for q in ANALYTICS_QUERIES}
    pass_s = sum(per_query.values())
    ctx.primary = [(name, dt, tr) for name, _, dt, tr in done]
    ctx.named_metric("batch_s", pass_s, "s")
    ctx.named_metric("queries", len(done), "count")
    ctx.named_metric("query_s.runs", [(name, round(dt, 2)) for name, _, dt, _ in done], "s")
    for name, secs in per_query.items():
        ctx.named_metric(f"query.{name}.s", secs, "s")
    # queries per second of a pass at the per-query medians: counting the
    # queries done in the window would depend on which ones it caught
    return {"p50_ms": pass_s * 1000, "throughput_per_s": n / pass_s}


WORKLOADS = {
    "online_serve": online_serve,
    "ingest_refresh": ingest_refresh,
    "offline_train": offline_train,
    "batch_analytics": batch_analytics,
}
