"""Spans, Spark job attribution and event-log costs for the traced run.

The traced run wraps public engine functions at runtime by rebinding the
names their callers resolve (module globals and class attributes); the
engine itself is untouched. Each wrapped call is one span (name, start,
end, parent, request id) and runs under its own Spark job group, so
every job the call launches can be attributed to the innermost span.
Spans stay in memory; `summarize` turns them, the status tracker's job
lists and the Spark event log into per-layer numbers once the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import resource
import statistics
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. `enabled` toggles recording per request,
    so one process can alternate traced and untraced requests and report
    the difference as tracing overhead."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.request = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(f"span{rec['id']}", name)
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self._set_group(f"span{parent['id']}", parent["name"])
            else:
                self._set_group(None, None)

    def _set_group(self, group, desc):
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", desc)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Rebind ``owner.attr`` (a module global or a class attribute)
        to a recording wrapper."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    def job_ids(self) -> dict[int, list[int]]:
        """Jobs per span, read from the status tracker by job group."""
        st = self.sc.statusTracker()
        return {s["id"]: list(st.getJobIdsForGroup(f"span{s['id']}")) for s in self.spans}


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark names."""
    from cust_sagemaker_feature_store_spark.core import feature_store, online
    from cust_sagemaker_feature_store_spark.ml import regression
    from cust_sagemaker_feature_store_spark.operators import asof

    fs_cls = feature_store.FeatureStore
    for meth in (
        "get_record", "batch_get_record", "feature_vector", "ingest",
        "upsert_online", "compact_offline", "materialize_online", "history_between",
    ):
        tracer.wrap(fs_cls, meth, f"feature_store.{meth}")
    # core.online functions are resolved through core.feature_store's
    # globals by FeatureStore, and through core.online's by each other
    for fn in ("read_snapshot_meta", "read_snapshot_bucket", "upsert_bucketed_snapshot"):
        tracer.wrap(feature_store, fn, f"online.{fn}")
    tracer.wrap(online, "read_snapshot_meta", "online.read_snapshot_meta")
    tracer.wrap(feature_store, "with_dense_row_ids", "ids.with_dense_row_ids")
    tracer.wrap(asof, "asof_join_auto", "asof.asof_join_auto")
    for fn in ("train_regressor", "save_model", "load_model", "predict", "predict_single"):
        tracer.wrap(regression, fn, f"regression.{fn}")


def event_log_conf(event_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def read_event_log(event_dir: str, app_id: str) -> dict:
    """Per-job wall interval and task costs from the event log (the
    parsing shape of tools/profile_stages.py)."""
    path = os.path.join(event_dir, app_id)
    files = [path]
    if not os.path.exists(path):
        v2 = os.path.join(event_dir, f"eventlog_v2_{app_id}")
        files = [os.path.join(v2, p) for p in sorted(os.listdir(v2)) if p.startswith("events_")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev.get("Submission Time", 0) / 1000.0, "end": None,
                        "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        # a stage runs in the first job that lists it;
                        # later jobs list it again only as skipped
                        stage_job.setdefault(sid, jid)
                elif e == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
                elif e == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    tm = ev.get("Task Metrics") or {}
                    if job is None:
                        continue
                    job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    job["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return jobs


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize(spans: list[dict], span_jobs: dict[int, list[int]], jobs: dict) -> dict:
    """Per-span costs, then per-name medians.

    A span's jobs are its own group's plus its descendants'. Self time is
    the span's wall minus the union of its children's intervals; driver
    gap is its wall minus the union of its jobs' intervals."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    all_jobs: dict[int, list[int]] = {}

    def collect(s):
        if s["id"] not in all_jobs:
            ids = list(span_jobs.get(s["id"], []))
            for c in children[s["id"]]:
                ids += collect(c)
            all_jobs[s["id"]] = ids
        return all_jobs[s["id"]]

    for s in spans:
        jids = collect(s)
        wall = s["end"] - s["start"]
        js = [jobs[j] for j in jids if j in jobs and jobs[j]["end"] is not None]
        covered = _union_s([
            (max(j["start"], s["start"]), min(j["end"], s["end"])) for j in js
            if min(j["end"], s["end"]) > max(j["start"], s["start"])
        ])
        kids = _union_s([(c["start"], c["end"]) for c in children[s["id"]]])
        s.update(
            ms=wall * 1000.0,
            self_ms=(wall - kids) * 1000.0,
            jobs=len(jids),
            driver_gap_ms=(wall - covered) * 1000.0,
            executor_cpu_s=sum(j["cpu_s"] for j in js),
            gc_s=sum(j["gc_s"] for j in js),
            shuffle_write_mb=sum(j["shuffle_write_b"] for j in js) / 1e6,
        )

    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    layers = {}
    for name, ss in sorted(by_name.items()):
        row = {"calls": len(ss)}
        for k in ("ms", "self_ms", "jobs", "driver_gap_ms", "executor_cpu_s", "gc_s",
                  "shuffle_write_mb"):
            row[k] = statistics.median(s[k] for s in ss)
        layers[name] = row
    return layers


def peak_rss_mb(spark) -> float:
    """JVM VmHWM (from /proc) plus this Python process's ru_maxrss."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0
