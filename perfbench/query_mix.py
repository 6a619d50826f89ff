"""query_mix: a fixed sample of the registry's queries over generated tables.

The sample covers the relational, temporal/window, text and similarity
families; every entry has a DuckDB ``oracle_sql()``, and no entry touches
the manifest store or streaming. The seed generates the tables and orders
the sample. Round 0 runs every query once, cold; each later round runs the
whole sample again, warm. Every result is checked against the oracle's
order-insensitive digest, computed once before the timed rounds.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd

import tables
from spans import rounds

SF = 0.02
PASS_S = 9.0  # a warm pass over the sample on 4 CPUs
SAMPLE = [
    # relational
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q10_returned_items", "q_lineitem_dedup", "q_set_ops",
    "q13_order_distribution", "q_skew_salted_agg", "q_cumulative_share",
    # temporal / window
    "q_sessionize", "q_asof_join", "q_interval_filter", "q_funnel", "q_ewma",
    "q_resample_asof",
    # text
    "q_tfidf", "q_minhash_signature", "q_lsh_buckets", "q_jaccard_top_pairs",
    "q_dedup_clusters",
    # similarity: the Python kernels run here
    "q_knn_bruteforce", "q_knn_ivf", "q_embedding_neardup", "q_semantic_dedup",
]


def digest(df: pd.DataFrame) -> tuple:
    """Order-insensitive result digest: column names, row count and a hash
    of the rows sorted after normalizing values (floats to 9 digits,
    timestamps to text)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s)
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(list(v)) if isinstance(v, np.ndarray) else str(v))
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    text = df.to_csv(index=False, float_format="%.9g")
    return tuple(df.columns), len(df), hashlib.md5(text.encode()).hexdigest()


class Workload:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        order = np.random.default_rng(seed).permutation(len(SAMPLE))
        self.names = [SAMPLE[i] for i in order]

    def prepare(self, spark, root: str) -> None:
        tables.stage(tables.generate(self.seed, SF), root)
        self.sf_dir = root

    def warmup(self, spark) -> None:
        """Table scans plus one broadcast join and one window, as bench.py
        warms a session: JVM code paths and file footers, not the queries."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from aeon_sleap_processing_spark.sources.catalog import TESTDATA_TABLES, load_table

        for t in TESTDATA_TABLES:
            load_table(spark, t, self.sf_dir).count()
        n = load_table(spark, "nation", self.sf_dir)
        r = load_table(spark, "region", self.sf_dir)
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).groupBy("r_name").count().collect()
        n.select(F.row_number().over(
            Window.partitionBy("n_regionkey").orderBy("n_nationkey")
        )).collect()

    def _oracle(self) -> dict:
        import duckdb

        import __spark_entry__ as registry
        from aeon_sleap_processing_spark.sources.catalog import TESTDATA_TABLES

        sql = registry.oracle_sql(self.sf_dir)
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t)}.parquet'")
            return {q: digest(con.execute(sql[q]).fetchdf()) for q in self.names}
        finally:
            con.close()

    def run(self, spark, tracer, seconds: float, rec) -> None:
        import __spark_entry__ as registry

        builders = registry.queries()
        expected = self._oracle()
        for rnd in rounds(tracer, seconds, PASS_S, min_warm=1):
            for q in self.names:
                t0 = time.perf_counter()
                try:
                    with tracer.span("registry.query", op=q):
                        with tracer.span("plans.build"):
                            df = builders[q](spark, self.sf_dir)
                        with tracer.span("spark.action"):
                            out = df.toPandas()
                            tracer.planning(df)
                    dt = time.perf_counter() - t0
                    ok = digest(out) == expected[q]
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    dt, ok = time.perf_counter() - t0, False
                if not ok:
                    print(f"query_mix: {q} does not match its oracle", file=sys.stderr)
                rec.add(q, dt, ok, rnd, tracer.active, reads=[dt])

    def store_stats(self, spark) -> dict:
        return {}
