"""One measured run of one workload, in a fresh process.

Started by run.py, which generates the inputs, sets the environment and
passes the monotonic time at which it spawned this process. The run:

1. set-up: `session.get_spark`, `catalog.table` for the workload's
   tables (plain and spread, so sharded copies are built here), one
   warming job;
2. the cold pass: the first pass over the workload's queries;
3. three warm-up passes, discarded;
4. the measured window: whole passes until `--seconds` have elapsed,
   at least 3;
5. the oracle check, outside the timed region: one more pass fetches
   every query's output, compared against DuckDB running its registered
   oracle SQL on the same files.

Every pass forces each query with a noop write (as bench.py does), or,
when tracing, through the query's own QueryExecution (layers.py).
"""

from __future__ import annotations

import argparse
import json
import numbers
import os
import sys
import time
import traceback

from metrics import median, tree_cpu_s, tree_peak_rss_mb
from tests.oracle import _norm_cell, assert_scalar_schema
from workloads import WORKLOADS

MIN_PASSES = 3
#: discarded passes after the cold one; pass times still fall ~10%
#: from the second to the third pass after it (JIT)
WARMUPS = 3


class Runner:
    def __init__(self, spark, queries, data_dir: str, tracer=None):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.query_s: dict[str, list[float]] = {qid: [] for qid, _ in queries}

    def one_pass(self, collect: dict | None = None) -> tuple[float, float, dict]:
        """(wall s, process-tree CPU s, per-query layer records). With
        `collect`, each output is fetched into it as pandas instead."""
        records = {}
        pid = os.getpid()
        cpu0 = tree_cpu_s(pid)
        t0 = time.perf_counter()
        for qid, fn in self.queries:
            self.spark.catalog.clearCache()
            self.attempted += 1
            tq = time.perf_counter()
            try:
                if collect is not None:
                    df = fn(self.spark, self.data_dir)
                    assert_scalar_schema(df, qid)
                    collect[qid] = df.toPandas()
                elif self.tracer is not None:
                    records[qid] = self.tracer.run(qid, fn, self.data_dir)
                else:
                    fn(self.spark, self.data_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
            except Exception:
                self.failed += 1
                print(f"worker: {qid} failed\n{traceback.format_exc()}", file=sys.stderr)
            self.query_s[qid].append(time.perf_counter() - tq)
        wall = time.perf_counter() - t0
        return wall, tree_cpu_s(pid) - cpu0, records


def _canon_column(s):
    """One column as type-tagged text, normalised as tests/oracle.py's
    _norm_cell does (floats to 10 significant digits, NaN, NaT and None
    alike, datetimes as ISO text), but vectorised where the dtype allows:
    its per-row tuple sort takes seconds on 100k-row outputs."""
    import pandas as pd

    if pd.api.types.is_bool_dtype(s):
        s = s.astype("int64")
    if pd.api.types.is_integer_dtype(s):
        return "n:" + s.astype("int64").astype(str)
    if pd.api.types.is_float_dtype(s):
        text = (s.astype("float64") + 0.0).map("n:{:.10g}".format)
        return text.where(s.notna(), "z:")
    if pd.api.types.is_datetime64_any_dtype(s):
        us = s.dt.microsecond.fillna(0).astype("int64")
        frac = ("." + us.astype(str).str.zfill(6)).where(us > 0, "")
        return ("s:" + s.dt.strftime("%Y-%m-%d %H:%M:%S") + frac).where(s.notna(), "z:")
    if pd.api.types.infer_dtype(s, skipna=True) == "string":
        return ("s:" + s.astype(str)).where(s.notna(), "z:")
    return s.map(lambda v: _tag(_norm_cell(v)))


def _tag(v) -> str:
    if v is None:
        return "z:"
    if isinstance(v, numbers.Integral):
        return f"n:{int(v)}"
    if isinstance(v, numbers.Number):
        return "n:{:.10g}".format(float(v) + 0.0)
    return f"s:{v}"


def compare_frames(got, want, qid: str) -> None:
    """tests/oracle.compare on an already collected Spark output: same
    columns, same row count, same multiset of normalised rows."""
    import pandas as pd

    assert sorted(got.columns) == sorted(want.columns), f"{qid}: columns differ"
    assert len(got) == len(want), f"{qid}: {len(got)} rows, oracle {len(want)}"
    cols = sorted(got.columns)
    a, b = (
        pd.DataFrame({c: _canon_column(df[c]).to_numpy() for c in cols})
        .sort_values(cols, ignore_index=True)
        for df in (got, want)
    )
    diff = (a != b).any(axis=1)
    assert not diff.any(), (
        f"{qid}: {int(diff.sum())} rows differ; first: "
        f"{a[diff].head(3).values.tolist()} vs {b[diff].head(3).values.tolist()}"
    )


def mismatches(outputs: dict, data_dir: str) -> list[str]:
    """Query ids whose collected output differs from DuckDB running the
    registered oracle SQL on the same parquet files."""
    import duckdb

    from bitcoin_olap_spark.catalog import TABLES
    from bitcoin_olap_spark.registry import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    bad = []
    for qid, got in outputs.items():
        try:
            compare_frames(got, con.execute(oracles[qid]).df(), qid)
        except AssertionError:
            bad.append(qid)
            print(f"worker: {qid} mismatch\n{traceback.format_exc()}", file=sys.stderr)
    con.close()
    return bad


def sum_layers(records: dict) -> dict:
    total: dict[str, float] = {}
    for rec in records.values():
        for k, v in rec.items():
            total[k] = total.get(k, 0.0) + v
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]

    from bitcoin_olap_spark import catalog
    from bitcoin_olap_spark.registry import all_queries
    from bitcoin_olap_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{w.name}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for name in w.tables:
        catalog.table(spark, args.data, name)
    t2 = time.perf_counter()
    for name in w.tables:
        catalog.table(spark, args.data, name, spread=True)
    t3 = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    setup_s = time.monotonic() - args.spawn

    registered = all_queries()
    queries = [(qid, registered[qid]) for qid in w.queries]
    tracer = None
    if args.trace:
        from layers import LAYER_KEYS, Tracer

        tracer = Tracer(spark)
    runner = Runner(spark, queries, args.data, tracer)

    cold_s, _, cold_rec = runner.one_pass()
    warmups = [runner.one_pass()[0] for _ in range(WARMUPS)]
    walls, cpus, layer_passes = [], [], []
    t_window = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - t_window < args.seconds:
        wall, cpu, rec = runner.one_pass()
        walls.append(wall)
        cpus.append(cpu)
        layer_passes.append(rec)
    # before the check pass: fetching 100k-row outputs to pandas moved
    # the JVM's peak resident set by up to 20% from run to run
    peak_rss = tree_peak_rss_mb(os.getpid())

    outputs: dict = {}
    runner.one_pass(collect=outputs)
    mismatched = mismatches(outputs, args.data)

    result = {
        "workload": w.name,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "mismatched": mismatched,
        "setup_s": setup_s,
        "cold_s": cold_s,
        "warm_s": median(walls),
        "cpu_s": median(cpus),
        "peak_rss_mb": sum(peak_rss.values()),
        "peak_rss_parts": peak_rss,
        "warmup_passes": warmups,
        "passes": walls,
        "pass_cpu": cpus,
        "query_s": runner.query_s,
    }
    if tracer is not None:
        sums = [sum_layers(p) for p in layer_passes]
        per_layer = {
            "session.start_s": t1 - t0,
            "catalog.resolve_s": t2 - t1,
            "catalog.shard_s": t3 - t2,
        }
        for key in LAYER_KEYS:
            per_layer[key] = median([s.get(key, 0.0) for s in sums])
        cold_sum = sum_layers(cold_rec)
        for key in (
            "queries.construct_s",
            "queries.construct_jobs",
            "exec.jobs",
            "pyworker.boot_s",
            "streaming.batches",
            "acidtable.files_written",
            "acidtable.bytes_written_mb",
        ):
            per_layer[f"cold.{key}"] = cold_sum.get(key, 0.0)
        result["per_layer"] = per_layer
        result["records"] = {"cold": cold_rec, "measured": layer_passes}
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
