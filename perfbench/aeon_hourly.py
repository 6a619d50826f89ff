"""aeon_hourly: the reference's operational loop, one chunk per cycle.

Per cycle: ``write_chunked`` the chunk's raw streams (full pose 212, identity
anchors 202, blob 200, EnvironmentState) → ``combine_pose_id`` → write the
combined register 222 → ``api.detect_fights`` and ``api.detect_tube_tests``
over the chunk's range. Cycle k lands at hour k of the store.

The generator draws a background of two mice orbiting the arena annulus on
opposite sides, then plants scenes at seeded offsets: tube tests (one with
an identity swap that both the tracker and the identity model make), fights,
a side-by-side decoy, a skeleton-flip decoy, and a maintenance window that
hides one tube test and one fight. The check compares the detected events
and the combined row counts against that plant list.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spans import rounds

FPS = 50.0
TICK_US = 20_000
T0 = pd.Timestamp("2024-01-01 00:00:00")
IDS = ["BAA-1104045", "BAA-1104047"]
PARTS = ["nose", "head", "right_ear", "left_ear", "spine1", "spine2", "spine3", "spine4"]
ALL_PARTS = PARTS + ["anchor"]  # the anchor point sits on spine2
CENTER = (720.0, 540.0)
ORBIT_R = 350.0
METADATA = {
    "ActiveRegion": {
        "ArenaInnerRadius": 300.0,
        "ArenaOuterRadius": 400.0,
        "ArenaCenter": {"X": CENTER[0], "Y": CENTER[1]},
        "NestRegion": {
            "ArrayOfPoint": [
                {"X": 1100.0, "Y": 480.0},
                {"X": 1100.0, "Y": 500.0},
                {"X": 1100.0, "Y": 580.0},
            ]
        },
    },
    "Devices": {
        "GateRfid1": {"Location": {"X": 720.0, "Y": 140.0}},
        "CameraTop": {"TriggerFrequency": "HighFrequency"},
        "VideoController": {"HighFrequency": "50"},
    },
}

# distance behind the nose along the heading, and lateral offset, per part
_BODY = {
    "nose": (0.0, 0.0), "head": (4.0, 0.0), "right_ear": (6.0, 3.0),
    "left_ear": (6.0, -3.0), "spine1": (8.0, 0.0), "spine2": (12.0, 0.0),
    "spine3": (18.0, 0.0), "spine4": (24.0, 0.0), "anchor": (12.0, 0.0),
}
# a fighting mouse's tracked skeleton is implausible: nose-head 10 px > 7
_FIGHT_BODY = {
    "nose": (0.0, 0.0), "head": (10.0, 0.0), "right_ear": (12.0, 3.0),
    "left_ear": (12.0, -3.0), "spine1": (15.0, 0.0), "spine2": (20.0, 0.0),
    "spine3": (25.0, 0.0), "spine4": (30.0, 0.0), "anchor": (20.0, 0.0),
}

TUBE_LEN, FIGHT_LEN = 70, 75
# scene kind -> frames it occupies
SCENE_LEN = {"tube": TUBE_LEN, "tube_swap": TUBE_LEN, "side_by_side": 31,
             "flip": 22, "fight": FIGHT_LEN}


def _pose(x_nose: float, y: float, facing: int, body=_BODY) -> dict:
    """Skeleton on a horizontal line, nose at x_nose, facing +1 (right) or
    -1 (left)."""
    return {p: (x_nose - facing * d, y + facing * lat) for p, (d, lat) in body.items()}


def _set(X, f, m, pose):
    for i, p in enumerate(ALL_PARTS):
        X[f, m, i] = pose[p]


def _plant(kind: str, f0: int, X, label) -> None:
    """Write one scene into the coordinate array (frames, mouse, part, xy)
    starting at frame f0, in the geometry of the repository's golden pose
    fixtures."""
    if kind in ("tube", "tube_swap"):
        for i in range(TUBE_LEN):
            f = f0 + i
            _set(X, f, 0, _pose(370.0, 540.0, +1))
            if i < 20:  # head-on standoff in the corridor
                _set(X, f, 1, _pose(390.0, 540.0, -1))
            else:  # mouse 1 turns and retreats 3 px/frame
                _set(X, f, 1, _pose(390.0 + 3.0 * (i - 19) + 24.0, 540.0, +1))
            if kind == "tube_swap" and 10 <= i <= 14:
                label[f] = (1, 0)
    elif kind == "side_by_side":
        for i in range(31):
            _set(X, f0 + i, 0, _pose(370.0, 540.0, +1))
            _set(X, f0 + i, 1, {p: (x - 24.0, y + 8.0) for p, (x, y) in
                                _pose(370.0, 540.0, +1).items()})
    elif kind == "flip":
        for i in range(22):
            _set(X, f0 + i, 0, _pose(370.0, 540.0, +1))
            # frames 10-11: the tracker flips mouse 1's skeleton end to end
            flipped = i in (10, 11)
            _set(X, f0 + i, 1, _pose(390.0 + (24.0 if flipped else 0.0), 540.0,
                                     +1 if flipped else -1))
    elif kind == "fight":
        for i in range(FIGHT_LEN):
            x0 = 520.0 + 5.0 * i
            _set(X, f0 + i, 0, _pose(x0, 700.0, +1, _FIGHT_BODY))
            _set(X, f0 + i, 1, _pose(x0 + 10.0, 700.0, +1, _FIGHT_BODY))
    else:
        raise ValueError(kind)


class Chunk:
    """One generated chunk: its raw streams as pandas frames and the
    events the detectors must report (times relative to the chunk start)."""

    def __init__(self, seed: int, minutes: float):
        rng = np.random.default_rng(seed)
        n = int(minutes * 60 * FPS)
        t = np.arange(n)
        th0 = rng.uniform(0, 2 * np.pi)
        X = np.empty((n, 2, len(ALL_PARTS), 2))
        for m in (0, 1):
            th = th0 + m * np.pi + 0.0005 * t
            nx, ny = CENTER[0] + ORBIT_R * np.cos(th), CENTER[1] + ORBIT_R * np.sin(th)
            hx, hy = -np.sin(th), np.cos(th)  # heading: along the orbit
            for i, p in enumerate(ALL_PARTS):
                d, lat = _BODY[p]
                X[:, m, i, 0] = nx - d * hx - lat * hy + rng.normal(0, 0.3, n)
                X[:, m, i, 1] = ny - d * hy + lat * hx + rng.normal(0, 0.3, n)
        label = np.tile(np.array([0, 1]), (n, 1))

        # scenes: one per slot, at a seeded offset inside it; two adjacent
        # slots form the maintenance window and hide the scenes inside
        shown = ["tube", "tube_swap", "side_by_side", "flip", "fight", "fight"]
        hidden = ["tube", "fight"]
        n_slots = len(shown) + len(hidden)
        slot = n // n_slots
        # the window opens after the chunk start and closes before its end
        m0 = int(rng.integers(1, n_slots - 2))
        order = list(rng.permutation(shown))
        kinds = []
        for s in range(n_slots):
            kinds.append(hidden[s - m0] if m0 <= s <= m0 + 1 else order.pop())
        self.plants = []
        for s, kind in enumerate(kinds):
            f0 = s * slot + int(rng.integers(250, slot - 250 - SCENE_LEN[kind]))
            _plant(kind, f0, X, label)
            self.plants.append({"kind": kind, "frame": f0, "hidden": m0 <= s <= m0 + 1})
        maint = (m0 * slot, (m0 + 2) * slot)

        # lost tracking: 1% of non-anchor points, away from the scenes
        keep = np.ones((n, 2, len(ALL_PARTS)), dtype=bool)
        calm = np.ones(n, dtype=bool)
        for p in self.plants:
            calm[max(0, p["frame"] - 100): p["frame"] + SCENE_LEN[p["kind"]] + 100] = False
        drop = rng.random((n, 2, len(PARTS))) < 0.01
        keep[:, :, : len(PARTS)] &= ~(drop & calm[:, None, None])

        times = T0 + pd.to_timedelta(t * TICK_US, unit="us")
        f_idx, m_idx, p_idx = np.nonzero(keep)
        lab = label[f_idx, m_idx]
        self.pose = pd.DataFrame({
            "time": times[f_idx],
            "identity": lab.astype(str),  # tracker labels before combine
            "part": np.array(ALL_PARTS)[p_idx],
            "x": X[f_idx, m_idx, p_idx, 0],
            "y": X[f_idx, m_idx, p_idx, 1],
            "model": "212/1",
            "part_likelihood": 1.0,
        })
        a = ALL_PARTS.index("anchor")
        fa = np.repeat(t, 2)
        ma = np.tile([0, 1], n)
        la = label[fa, ma]
        lik = [[(IDS[k], 0.9), (IDS[1 - k], 0.1)] for k in (0, 1)]
        self.anchors = pa.table({
            "time": pa.array(times[fa], type=pa.timestamp("us")),
            # the identity model follows the tracker: a swapped label swaps
            # the identity too, so the combined stream carries the swap
            "identity": pa.array(np.array(IDS)[la]),
            "identity_likelihood": pa.array(
                [lik[k] for k in la], type=pa.map_(pa.string(), pa.float64())
            ),
            "part": pa.array(np.full(len(fa), "anchor")),
            "x": pa.array(X[fa, ma, a, 0]),
            "y": pa.array(X[fa, ma, a, 1]),
            "model": pa.array(np.full(len(fa), "202/1")),
        })
        mid = X[:, :, ALL_PARTS.index("spine2"), :].mean(axis=1)
        self.blob = pd.DataFrame({"time": times, "x": mid[:, 0], "y": mid[:, 1]})
        self.env = pd.DataFrame({
            "time": [times[0], times[maint[0]], times[maint[1]], times[-1]],
            "state": ["Experiment", "Maintenance", "Experiment", "Maintenance"],
        })
        self.rows_by_identity = {
            IDS[k]: int((lab == k).sum()) for k in (0, 1)
        }
        self.pose_rows = len(self.pose)

    def expected(self, kind: str) -> list[float]:
        """Seconds from the chunk start of the events a detector must
        report: planted scenes of that kind outside the maintenance window."""
        kinds = ("tube", "tube_swap") if kind == "tube" else (kind,)
        return sorted(p["frame"] / FPS for p in self.plants
                      if p["kind"] in kinds and not p["hidden"])

    def stage(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)
        opts = dict(coerce_timestamps="us", allow_truncated_timestamps=True)
        for name in ("pose", "blob", "env"):
            pq.write_table(pa.Table.from_pandas(getattr(self, name), preserve_index=False),
                           os.path.join(root, f"{name}.parquet"), **opts)
        pq.write_table(self.anchors, os.path.join(root, "anchors.parquet"), **opts)


def write_metadata(root: str) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "metadata.json"), "w") as f:
        json.dump(METADATA, f)


POSE_COLS = ["time", "identity", "part", "x", "y", "model", "part_likelihood"]
# raw stream name -> (register, camera) in the chunk store
RAW_STREAMS = {
    "pose": (212, "CameraTop"),
    "anchors": (202, "CameraTop"),
    "blob": (200, "CameraTop"),
    "env": (1, "Environment"),
}


class Workload:
    """Chunk cycles over one store. Chunks are MINUTES long (the reference's
    chunk is an hour; see perfbench/README.md) and cycle k re-uses generated
    chunk k % TEMPLATES, shifted to hour k. CYCLE_S is a warm cycle's time
    on 4 CPUs."""

    MINUTES = 4
    TEMPLATES = 2
    CYCLE_S = 7.0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.store = os.path.join(work, "store")

    def prepare(self, spark, root: str) -> None:
        self.chunks = [Chunk(self.seed * 1000 + i, self.MINUTES) for i in range(self.TEMPLATES)]
        for i, chunk in enumerate(self.chunks):
            chunk.stage(os.path.join(root, f"chunk{i}"))
        self.inputs = root

    def warmup(self, spark) -> None:
        """Session warm-up only (scans of the staged inputs): the first
        chunk cycle stays cold."""
        for i in range(self.TEMPLATES):
            for name in RAW_STREAMS:
                self._input(spark, i, name, 0).count()
        write_metadata(self.store)

    def _input(self, spark, i: int, name: str, k: int):
        from pyspark.sql import functions as F

        df = spark.read.parquet(os.path.join(self.inputs, f"chunk{i}", f"{name}.parquet"))
        # staged timestamps are timezone-naive; the store keeps TIMESTAMP
        return df.withColumn(
            "time", F.col("time").cast("timestamp") + F.expr(f"INTERVAL {k} HOURS")
        )

    def _cycle(self, spark, tracer, i: int, k: int, start, end) -> dict:
        from pyspark.sql import functions as F

        from aeon_sleap_processing_spark import api
        from aeon_sleap_processing_spark.plans.combine import chunk_bounds, combine_pose_id
        from aeon_sleap_processing_spark.sources.chunked import load_chunked, write_chunked

        for name, (register, camera) in RAW_STREAMS.items():
            with tracer.span("sources.chunked.write"):
                write_chunked(self._input(spark, i, name, k), self.store, camera, register)
        with tracer.span("plans.combine"):
            with tracer.span("sources.chunked.load"):
                top = load_chunked(spark, self.store, 212, "CameraTop", start, end)
                ids = load_chunked(spark, self.store, 202, "CameraTop", start, end)
                tracer.note(files_scanned=len(top.inputFiles()) + len(ids.inputFiles()),
                            reads=2)
            top = top.select(*POSE_COLS)
            ids = ids.select(*POSE_COLS[:5], "identity_likelihood")
            quad = ids.limit(0).withColumn("x_top", F.col("x")).withColumn("y_top", F.col("y"))
            c_start, c_end, _ = chunk_bounds(start, FPS)
            with tracer.span("plans.build"):
                combined = combine_pose_id(top, ids, quad, c_start, c_end, FPS)
            with tracer.span("sources.chunked.write"):
                write_chunked(combined, self.store, "CameraTop", 222)
        events, reads = {}, []
        for name in ("detect_fights", "detect_tube_tests"):
            t0 = time.perf_counter()
            with tracer.span(f"api.{name}"):
                with tracer.span("plans.build"):
                    df = getattr(api, name)(self.store, start, end, spark=spark)
                with tracer.span("spark.action"):
                    events[name] = df.toPandas()
                    tracer.planning(df)
            reads.append(time.perf_counter() - t0)
        return events, reads

    def _check(self, spark, chunk: Chunk, events: dict, start, end) -> bool:
        from aeon_sleap_processing_spark.sources.chunked import load_chunked

        def offsets(df):
            return sorted(round((t - start).total_seconds(), 3) for t in df.start_timestamp)

        tubes = events["detect_tube_tests"]
        counts = dict(
            load_chunked(spark, self.store, 222, "CameraTop", start, end)
            .groupBy("identity").count().collect()
        )
        return (
            offsets(events["detect_fights"]) == chunk.expected("fight")
            and offsets(tubes) == chunk.expected("tube")
            and set(tubes.winner_identity) <= {IDS[0]}
            and counts == chunk.rows_by_identity
        )

    def run(self, spark, tracer, seconds: float, rec) -> None:
        for k in rounds(tracer, seconds, self.CYCLE_S, min_warm=3):
            i = k % self.TEMPLATES
            start = T0 + pd.Timedelta(hours=k)
            end = start + pd.Timedelta(hours=1) - pd.Timedelta(microseconds=1)
            t0, reads = time.perf_counter(), []
            try:
                with tracer.span("bench.cycle", op=f"chunk{k}"):
                    tracer.note(pose_rows=self.chunks[i].pose_rows)
                    events, reads = self._cycle(spark, tracer, i, k, start, end)
                dt = time.perf_counter() - t0
                ok = self._check(spark, self.chunks[i], events, start, end)
                if not ok:
                    print(f"aeon_hourly: chunk {k} disagrees with its plant list", file=sys.stderr)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                dt, ok = time.perf_counter() - t0, False
            rec.add("chunk", dt, ok, k, tracer.active, reads=reads,
                    items=self.chunks[i].pose_rows)

    def store_stats(self, spark) -> dict:
        from layers import store_stats

        return store_stats(spark, self.store)
