"""store_churn: one manifest chunk store under small commits and reads.

The store holds three slices of the chunk layout, one schema:

- ``stream=222/camera=CameraTop``: 1-minute ``write_chunked(mode="append")``
  batches, read back by time range and drained by ``watch_manifested``;
- ``stream=200/camera=CameraTop``: hour chunks re-run in place (partition
  replace);
- ``stream=90/camera=Labels``: keyed rows under ``merge_manifested`` upserts
  and ``delete_manifested`` point deletes, read by key and version-pinned.

Every round runs the same fourteen operations, about half writes and half
reads, and ends with ``compact_manifested`` and ``maintain``. The op
sequence and its inputs are fixed by the seed and simulated in pandas ahead
of the run, so each read is checked against the model: range and point
reads by row count and digest, pinned reads against the model as of that
version, the watch against every row appended so far, exactly once, and
the whole store once more after the last round.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spans import rounds

T0 = pd.Timestamp("2024-01-01 00:00:00")
IDS = ["BAA-1104045", "BAA-1104047"]
COLS = ["time", "id", "identity", "part", "x", "y"]
APPEND, REPLACE, LABELS = (
    "stream=222/camera=CameraTop/", "stream=200/camera=CameraTop/", "stream=90/camera=Labels/"
)
ROUND = [
    "append", "range_read", "append", "point_read", "merge", "pinned_read",
    "append", "watch", "replace", "delete", "range_read", "point_read",
    "compact", "maintain",
]
WRITES = {"append", "replace", "merge", "delete", "compact", "maintain"}
MAX_ROUNDS = 12
ROUND_S = 2.5  # a warm round on 4 CPUs
KEEP_VERSIONS = 64  # > commits in two rounds: pinned reads and the watch cursor stay resolvable
APPEND_FRAMES, REPLACE_ROWS, LABEL_ROWS = 1500, 2000, 2000
MERGE_UPDATES, MERGE_INSERTS = 40, 10


def digest(df: pd.DataFrame) -> tuple:
    """Row count and an order-insensitive hash of the rows."""
    df = df[COLS].sort_values("id", ignore_index=True)
    df["time"] = df["time"].astype("datetime64[us]").astype("int64")
    h = pd.util.hash_pandas_object(df, index=False).values.tobytes()
    return len(df), hashlib.md5(h).hexdigest()


def _rows(rng, ids, times) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame({
        "time": times, "id": np.asarray(ids, dtype=np.int64),
        "identity": np.array(IDS, dtype=object)[rng.integers(0, 2, n)],
        "part": "spine2", "x": rng.uniform(0, 1440, n), "y": rng.uniform(0, 1080, n),
    })


class Model:
    """The store as pandas frames, one per slice, and the op list."""

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        self.appended: list[pd.DataFrame] = []
        ids = 200_000_000 + np.arange(LABEL_ROWS)
        self.labels = _rows(rng, ids, T0 + pd.Timedelta(hours=20)
                            + pd.to_timedelta(np.sort(rng.integers(0, 3_600_000_000, LABEL_ROWS)), unit="us"))
        self.replaced = {h: self._chunk(rng, h) for h in (10, 11, 12)}
        self.initial = {"labels": self.labels, "replaced": pd.concat(self.replaced.values())}
        self.ops: list[dict] = []
        label_snap = digest(self.labels)
        for r in range(MAX_ROUNDS):
            for kind in ROUND:
                op = {"kind": kind, "round": r}
                if kind == "append":
                    a = len(self.appended)
                    f = np.arange(APPEND_FRAMES)
                    times = T0 + pd.Timedelta(minutes=a) + pd.to_timedelta(np.repeat(f, 2) * 40, unit="ms")
                    op["input"] = _rows(rng, a * 10_000 + np.arange(2 * APPEND_FRAMES), times)
                    self.appended.append(op["input"])
                elif kind == "replace":
                    h = 10 + r % 3
                    op["input"] = self.replaced[h] = self._chunk(rng, h)
                elif kind == "merge":
                    live = self.labels["id"].to_numpy()
                    upd = self.labels[self.labels["id"].isin(
                        rng.choice(live, MERGE_UPDATES, replace=False))].copy()
                    upd["x"], upd["y"] = rng.uniform(0, 1440, len(upd)), rng.uniform(0, 1080, len(upd))
                    new_ids = 300_000_000 + r * 100 + np.arange(MERGE_INSERTS)
                    ins = _rows(rng, new_ids, T0 + pd.Timedelta(hours=20) + pd.to_timedelta(
                        rng.integers(0, 3_600_000_000, MERGE_INSERTS), unit="us"))
                    op["input"] = pd.concat([upd, ins], ignore_index=True)
                    keep = self.labels[~self.labels["id"].isin(upd["id"])]
                    self.labels = pd.concat([keep, op["input"]], ignore_index=True)
                elif kind == "delete":
                    op["id"] = int(rng.choice(self.labels["id"].to_numpy()))
                    self.labels = self.labels[self.labels["id"] != op["id"]]
                elif kind == "range_read":
                    s = int(rng.integers(0, len(self.appended)))
                    op["start"] = T0 + pd.Timedelta(minutes=s)
                    op["end"] = op["start"] + pd.Timedelta(minutes=5)
                    rows = pd.concat(self.appended, ignore_index=True)
                    op["expect"] = digest(rows[rows["time"].between(op["start"], op["end"])])
                elif kind == "point_read":
                    op["id"] = int(rng.choice(self.labels["id"].to_numpy()))
                    op["expect"] = digest(self.labels[self.labels["id"] == op["id"]])
                elif kind == "pinned_read":
                    # the labels as of the last delete (the store as staged in round 0)
                    op["expect"] = label_snap
                elif kind == "watch":
                    op["expect"] = sum(len(a) for a in self.appended)
                if kind == "delete":
                    label_snap = digest(self.labels)
                self.ops.append(op)
            self.ops[-1]["final"] = {
                "appended": digest(pd.concat(self.appended, ignore_index=True)),
                "replaced": digest(pd.concat(self.replaced.values(), ignore_index=True)),
                "labels": digest(self.labels),
                "user_bytes": sum(
                    pa.Table.from_pandas(df[COLS], preserve_index=False).nbytes
                    for df in (*self.appended, *self.replaced.values(), self.labels)
                ),
            }

    @staticmethod
    def _chunk(rng, h: int) -> pd.DataFrame:
        ids = 100_000_000 + h * 100_000 + np.arange(REPLACE_ROWS)
        times = T0 + pd.Timedelta(hours=h) + pd.to_timedelta(np.arange(REPLACE_ROWS) * 1800, unit="ms")
        return _rows(rng, ids, times)


def _head_version(store: str) -> int:
    return max(int(f[:-5]) for f in os.listdir(os.path.join(store, "_manifests"))
               if f.endswith(".json") and f[:-5].isdigit())


class Workload:
    def __init__(self, seed: int, work: str):
        self.seed = seed

    def prepare(self, spark, root: str) -> None:
        """Simulate the op sequence, stage every write's input as parquet
        (one partition per op), and create the store with its initial
        label rows and replaceable chunks."""
        from aeon_sleap_processing_spark.sources.chunked import write_chunked

        self.model = Model(self.seed)
        self.inputs = os.path.join(root, "inputs")
        parts = [op["input"].assign(op=i) for i, op in enumerate(self.model.ops) if "input" in op]
        for name, df in self.model.initial.items():
            parts.append(df.assign(op=f"initial_{name}"))
        table = pa.Table.from_pandas(
            pd.concat([p.astype({"op": str}) for p in parts], ignore_index=True),
            preserve_index=False,
        )
        pq.write_to_dataset(table, self.inputs, partition_cols=["op"],
                            coerce_timestamps="us", allow_truncated_timestamps=True)
        self.store = os.path.join(root, "store")
        write_chunked(self._input(spark, "initial_labels"), self.store, "Labels", 90)
        write_chunked(self._input(spark, "initial_replaced"), self.store, "CameraTop", 200)
        self.cursor = os.path.join(root, "watch.cursor")
        self.pinned = _head_version(self.store)

    def _input(self, spark, op):
        from pyspark.sql import functions as F

        df = spark.read.parquet(self.inputs).where(F.col("op") == str(op)).drop("op")
        return df.withColumn("time", F.col("time").cast("timestamp")).select(*COLS)

    def warmup(self, spark) -> None:
        spark.read.parquet(self.inputs).count()

    def _do(self, spark, tracer, i: int, op: dict):
        """Run one op; returns what its check needs."""
        from pyspark.sql import functions as F

        from aeon_sleap_processing_spark.sources import sinks
        from aeon_sleap_processing_spark.sources.chunked import load_chunked, write_chunked
        from aeon_sleap_processing_spark.streaming.watch import watch_manifested

        kind, store = op["kind"], self.store
        if kind in ("append", "replace"):
            with tracer.span("sources.chunked.write"):
                write_chunked(self._input(spark, i), store, "CameraTop",
                              222 if kind == "append" else 200,
                              mode="append" if kind == "append" else "overwrite")
        elif kind == "merge":
            upd = self._input(spark, i).select(
                *COLS, F.lit(90).alias("stream"), F.lit("Labels").alias("camera"),
                F.date_format(F.date_trunc("hour", "time"), "yyyy-MM-dd'T'HH-mm-ss").alias("chunk"),
            )
            with tracer.span("sources.sinks.merge"):
                sinks.merge_manifested(spark, upd, store, key="id", prefixes=[LABELS])
        elif kind == "delete":
            with tracer.span("sources.sinks.delete"):
                sinks.delete_manifested(spark, store, f"id = {op['id']}", prefixes=[LABELS])
        elif kind == "compact":
            with tracer.span("sources.sinks.compact"):
                sinks.compact_manifested(spark, store)
        elif kind == "maintain":
            with tracer.span("sources.sinks.maintain"):
                sinks.maintain(spark, store, keep_versions=KEEP_VERSIONS)
        elif kind == "watch":
            delivered = []

            def take(df, until):
                with tracer.span("spark.action"):
                    delivered.extend(df.select("id").toPandas()["id"])

            with tracer.span("streaming.watch"):
                polls = watch_manifested(spark, store, take, self.cursor, prefixes=[APPEND])
                tracer.note(polls=polls["polls"], rows_delivered=len(delivered))
            return delivered
        else:
            if kind == "range_read":
                with tracer.span("sources.chunked.load"):
                    df = load_chunked(spark, store, 222, "CameraTop", op["start"], op["end"])
                    tracer.note(files_scanned=len(df.inputFiles()), reads=1)
            else:
                with tracer.span("sources.sinks.read"):
                    version = self.pinned if kind == "pinned_read" else None
                    df = sinks.read_manifested(spark, store, version=version, prefixes=[LABELS])
                    if kind == "point_read":
                        df = df.where(F.col("id") == op["id"])
                    tracer.note(files_scanned=len(df.inputFiles()), reads=1)
            with tracer.span("spark.action"):
                out = df.select(*COLS).toPandas()
                tracer.planning(df)
            return out
        return None

    def _check(self, op: dict, out) -> bool:
        if op["kind"] == "watch":
            self.delivered.extend(out)
            return len(self.delivered) == op["expect"] and sorted(self.delivered) == sorted(
                pd.concat(self.model.appended[: op["expect"] // (2 * APPEND_FRAMES)])["id"])
        if "expect" in op:
            return digest(out) == op["expect"]
        return True

    def _final_check(self, spark, final: dict) -> bool:
        from aeon_sleap_processing_spark.sources.sinks import read_manifested

        ok = True
        for name, prefix in (("appended", APPEND), ("replaced", REPLACE), ("labels", LABELS)):
            out = read_manifested(spark, self.store, prefixes=[prefix]).select(*COLS).toPandas()
            ok &= digest(out) == final[name]
        return ok

    def run(self, spark, tracer, seconds: float, rec) -> None:
        self.delivered: list[int] = []
        i = 0
        for rnd in rounds(tracer, seconds, ROUND_S, min_warm=2):
            if rnd == MAX_ROUNDS:
                break
            for _ in ROUND:
                op = self.model.ops[i]
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"bench.{op['kind']}", op=f"op{i}"):
                        out = self._do(spark, tracer, i, op)
                    dt = time.perf_counter() - t0
                    ok = self._check(op, out)
                    if op["kind"] == "delete":
                        self.pinned = _head_version(self.store)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    dt, ok = time.perf_counter() - t0, False
                if not ok:
                    print(f"store_churn: op {i} ({op['kind']}) is wrong", file=sys.stderr)
                write = op["kind"] in WRITES
                rec.add(op["kind"], dt, ok, rnd, tracer.active, main=write,
                        reads=[] if write else [dt])
                i += 1
            self.final = self.model.ops[i - 1]["final"]
        rec.check(self._final_check(spark, self.final))

    def store_stats(self, spark) -> dict:
        from layers import store_stats

        return store_stats(spark, self.store, self.final["user_bytes"])
