"""Seeded inputs and their ground truth, computed with pandas and DuckDB
over the generated rows and never with the engine under test.

Feature-store workloads get their own feature stream instead of the
sf0.1 `events` table, whose 1,500 distinct users leave about 23 keys per
snapshot bucket. The analytics workload gets a small `lineitem` table in
the shape of the repository's testdata, written as parquet so the registered
queries and their DuckDB oracles read the same file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE = pd.Timestamp("2024-03-01", tz="UTC")
ISO = "%Y-%m-%dT%H:%M:%SZ"
SCHEMA = "customer_id long, event_time string, amount double, n_items long, is_deleted boolean"
FEATURES = ("customer_id", "event_time", "amount", "n_items")
NEVER_INGESTED = 10**12  # request keys at or above this were never written
STRUCTURE_SEED = 20240301  # co-purchase graph shape shared by all seeds


@dataclass(frozen=True)
class StreamShape:
    """Knobs of the generated feature stream."""

    n_keys: int
    rows_per_key: float
    days: int
    zipf_s: float  # request-key skew: P(rank r) ~ 1 / r**zipf_s
    absent_share: float  # requested keys that have no live record
    tombstone_share: float  # keys whose latest event is a delete
    late_share: float  # micro-batch rows older than the key's stored latest
    batch_rows: int  # micro-batch size


def iso(seconds) -> pd.Series:
    return pd.Series((BASE + pd.to_timedelta(np.asarray(seconds), unit="s")).strftime(ISO))


def history(rng: np.random.Generator, shape: StreamShape) -> pd.DataFrame:
    """Initial history: every key at least once, unique (key, second),
    and a final tombstone for `tombstone_share` of the keys. Rows come
    shuffled, as an unordered bulk load would."""
    n_extra = int(shape.n_keys * (shape.rows_per_key - 1))
    keys = np.concatenate([np.arange(shape.n_keys), rng.integers(0, shape.n_keys, n_extra)])
    secs = rng.integers(0, shape.days * 86400 - 7200, len(keys))
    df = pd.DataFrame({"customer_id": keys, "sec": secs}).drop_duplicates(["customer_id", "sec"])
    n = len(df)
    df["amount"] = np.round(rng.random(n) * 500, 2)
    df["n_items"] = rng.integers(1, 20, n)
    df["is_deleted"] = False
    dead = rng.choice(shape.n_keys, int(shape.n_keys * shape.tombstone_share), replace=False)
    last = df.groupby("customer_id")["sec"].max()
    tomb = pd.DataFrame({
        "customer_id": dead,
        "sec": last.loc[dead].to_numpy() + rng.integers(1, 3600, len(dead)),
        "amount": 0.0, "n_items": 0, "is_deleted": True,
    })
    df = pd.concat([df, tomb], ignore_index=True).sample(frac=1.0, random_state=rng.integers(1 << 31))
    df["event_time"] = iso(df["sec"]).to_numpy()
    return df.reset_index(drop=True)


def to_ingest(df: pd.DataFrame) -> pd.DataFrame:
    return df[[*FEATURES, "is_deleted"]]


class OnlineTruth:
    """Latest live record per key, maintained from the generated rows."""

    def __init__(self, hist: pd.DataFrame):
        self.latest: dict[int, tuple] = {}
        self.apply(hist)

    def apply(self, rows: pd.DataFrame) -> None:
        for k, s, t, a, n, d in rows[["customer_id", "sec", "event_time", "amount", "n_items",
                                      "is_deleted"]].itertuples(index=False):
            cur = self.latest.get(int(k))
            if cur is None or s > cur[0]:
                self.latest[int(k)] = (int(s), t, float(a), int(n), bool(d))

    def record(self, key: int):
        """The expected get_record payload as {feature: value}, or None."""
        cur = self.latest.get(key)
        if cur is None or cur[4]:
            return None
        return {"customer_id": key, "event_time": cur[1], "amount": cur[2], "n_items": cur[3]}

    def live_keys(self) -> np.ndarray:
        return np.array(sorted(k for k, v in self.latest.items() if not v[4]))

    def dead_keys(self) -> np.ndarray:
        return np.array(sorted(k for k, v in self.latest.items() if v[4]))


def record_matches(record, expected) -> bool:
    """Compare the engine's wire record ({FeatureName, ValueAsString}
    list) with the expected payload, value by typed value."""
    if record is None or expected is None:
        return record is None and expected is None
    got = {f["FeatureName"]: f["ValueAsString"] for f in record}
    return (
        set(got) == set(FEATURES)
        and int(got["customer_id"]) == expected["customer_id"]
        and got["event_time"] == expected["event_time"]
        and float(got["amount"]) == expected["amount"]
        and int(got["n_items"]) == expected["n_items"]
    )


def request_keys(rng, truth: OnlineTruth, shape: StreamShape, n: int) -> list[int]:
    """Zipf-skewed keys over the live keys (rank order seeded), with
    `absent_share` drawn half from tombstoned keys and half from keys
    never ingested."""
    live = rng.permutation(truth.live_keys())
    p = 1.0 / np.arange(1, len(live) + 1) ** shape.zipf_s
    keys = live[rng.choice(len(live), n, p=p / p.sum())]
    dead = truth.dead_keys()
    for i in np.flatnonzero(rng.random(n) < shape.absent_share):
        if len(dead) and rng.random() < 0.5:
            keys[i] = dead[rng.integers(len(dead))]
        else:
            keys[i] = NEVER_INGESTED + rng.integers(1 << 30)
    return [int(k) for k in keys]


def micro_batch(rng, truth: OnlineTruth, shape: StreamShape, now_sec: int) -> tuple[pd.DataFrame, dict]:
    """One refresh batch at event time `now_sec`: updates of live keys,
    brand-new keys, late rows (older than the key's stored latest, so
    they must not win) and tombstones. Returns the rows and one probe
    key of each kind."""
    n = shape.batch_rows
    n_late = max(1, int(n * shape.late_share))
    n_tomb = max(1, n // 20)
    n_new = max(1, n // 10)
    n_upd = n - n_late - n_tomb - n_new
    chosen = rng.choice(truth.live_keys(), n_upd + n_late + n_tomb, replace=False)
    upd, late, tomb = np.split(chosen, [n_upd, n_upd + n_late])
    new = max(k for k in truth.latest if k < NEVER_INGESTED) + 1 + np.arange(n_new)
    # strictly older than the stored latest: an equal time would tie and
    # the later ingest would win
    late_sec = np.array([truth.latest[int(k)][0] for k in late]) - rng.integers(1, 86400, n_late)
    df = pd.DataFrame({
        "customer_id": np.concatenate([upd, new, late, tomb]),
        "sec": np.concatenate([
            now_sec + rng.integers(0, 60, n_upd + n_new), late_sec, now_sec + 60 + np.arange(n_tomb),
        ]),
        "is_deleted": np.arange(n) >= n - n_tomb,
    })
    df["amount"] = np.round(rng.random(n) * 500, 2)
    df["n_items"] = rng.integers(1, 20, n)
    df["event_time"] = iso(df["sec"]).to_numpy()
    probes = {"updated": int(upd[0]), "late": int(late[0]), "tombstoned": int(tomb[0])}
    return df.sample(frac=1.0, random_state=rng.integers(1 << 31)).reset_index(drop=True), probes


def training_labels(rng, hist: pd.DataFrame, lo_sec: int, hi_sec: int, n: int) -> pd.DataFrame:
    """Label events for the point-in-time training set: (key, time,
    label) plus `amount`, the ground-truth as-of feature (NaN when the
    key has no history row at or before the label time), with the label
    a noisy function of it."""
    keys = hist["customer_id"].to_numpy()[rng.integers(0, len(hist), n)]
    secs = rng.integers(lo_sec, hi_sec, n)
    lab = pd.DataFrame({"customer_id": keys, "sec": secs}).drop_duplicates(["customer_id", "sec"])
    lab["label_time"] = iso(lab["sec"]).to_numpy()
    lab = lab.merge(training_truth(hist, lab, lo_sec, hi_sec), on=["customer_id", "sec"])
    lab["label"] = np.round(lab["amount"].fillna(0.0) * 0.1 + rng.normal(0, 2, len(lab)), 3)
    return lab.reset_index(drop=True)


def training_truth(hist: pd.DataFrame, labels: pd.DataFrame, lo_sec: int, hi_sec: int) -> pd.DataFrame:
    """Point-in-time join with DuckDB's ASOF JOIN: for each label, the
    amount of the key's latest history row at or before the label time,
    over history inside the [lo, hi] window (tombstone rows included,
    as `history_between` returns them)."""
    con = duckdb.connect()
    try:
        h = hist[(hist["sec"] >= lo_sec) & (hist["sec"] <= hi_sec)][["customer_id", "sec", "amount"]]
        con.register("h", h)
        con.register("l", labels[["customer_id", "sec"]])
        return con.execute(
            "SELECT l.customer_id, l.sec, h.amount FROM l "
            "ASOF LEFT JOIN h ON l.customer_id = h.customer_id AND l.sec >= h.sec"
        ).df()
    finally:
        con.close()


# -- analytics tables ------------------------------------------------------

def analytics_tables(rng, out_dir: str, n_orders: int, n_parts: int) -> None:
    """`lineitem` in the testdata's shape: orders of 1-7 distinct parts,
    parts mildly skewed, so the co-purchase graph has hubs and leaves.

    The graph's structure is the same for every seed; the seed relabels
    parts and orders and shuffles the rows. So every seed gives the
    iterative queries the same number of rounds and the same amount of
    work, and run-to-run spread measures the engine, not the draw."""
    shape = np.random.default_rng(STRUCTURE_SEED)
    w = 1.0 / np.arange(1, n_parts + 1) ** 0.6
    w = w / w.sum()
    orders, parts = [], []
    for o in range(n_orders):
        k = int(shape.integers(1, 8))
        orders += [o] * k
        parts += list(shape.choice(n_parts, k, replace=False, p=w))
    part_ids = rng.permutation(n_parts) + 1
    order_ids = rng.permutation(n_orders) + 1
    rows = rng.permutation(len(orders))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(order_ids[np.asarray(orders)[rows]], pa.int64()),
            "l_partkey": pa.array(part_ids[np.asarray(parts)[rows]], pa.int64()),
        }),
        os.path.join(out_dir, "lineitem.parquet"),
    )
