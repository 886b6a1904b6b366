"""One benchmark run: generate inputs, set up, check, measure, report.

Started by ``run.py`` inside a fresh run directory (its own TMPDIR and
Spark scratch root). Prints one summary line and, as the last line of
standard output, the result object; writes the full record (per-query
times, and in traced runs every span) to ``--artifact``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import itertools
import json
import math
import os
import random
import sys
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402

PKG = "public_projet_data_engineering_tarification_electrique_spark"
#: session set-ups after the cold one (JVM launch); setup_s is their median
SETUP_ROUNDS = 2
#: timed passes per run, at least; more while --seconds has not elapsed
MIN_PASSES = 3
#: micro-batch phases reported per traced pass (progress key -> metric)
STREAM_PHASES = {
    "triggerExecution": "stream.trigger_s",
    "addBatch": "stream.add_batch_s",
    "queryPlanning": "stream.query_planning_s",
    "latestOffset": "stream.latest_offset_s",
    "walCommit": "stream.wal_commit_s",
    "commitOffsets": "stream.commit_offsets_s",
}
STAGE_KEYS = {
    "construct": ("tasks", "task_run_s", "shuffle_write_bytes"),
    "execute": (
        "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    ),
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def compare_frames(got, want) -> str | None:
    """``None`` when a Spark result equals its oracle: same columns, same
    rows in any order, exact floats, same numeric kind per column."""
    import pandas as pd

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].dt.strftime("%Y-%m-%d %H:%M:%S")
            elif df[c].dtype == object:
                first = df[c].dropna().head(1)
                if len(first) and isinstance(first.iloc[0], (dt.date, dt.datetime)):
                    df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%d %H:%M:%S")
                else:
                    df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    family = {"i": "i", "u": "i", "f": "f", "b": "b"}
    for c in got.columns:
        a, b = got[c], want[c]
        fa, fb = family.get(a.dtype.kind), family.get(b.dtype.kind)
        if fa and fb and fa != fb:
            return f"{c}: dtype {a.dtype} != {b.dtype}"
        if "f" in (a.dtype.kind, b.dtype.kind):
            bad = [
                (x, y) for x, y in zip(a.astype("float64"), b.astype("float64"))
                if not (x == y or (math.isnan(x) and math.isnan(y)))
            ]
        else:
            mask = (a != b) & ~(a.isna() & b.isna())
            bad = list(zip(a[mask], b[mask]))
        if bad:
            return f"{c}: {len(bad)} values differ, first {bad[0]}"
    return None


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = W.WORKLOADS[args.workload]
        self.nproc = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
        self.run_dir = os.getcwd()
        self.data = os.path.join(self.run_dir, "data")
        self.attempted = 0
        self.failures: list[str] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "nproc": self.nproc}
        self.layers: dict[str, float] = {}
        self.spark = None

    # ------------------------------------------------------------------ setup

    def fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}"[:500])

    def start_session(self):
        from public_projet_data_engineering_tarification_electrique_spark import get_spark

        return get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # a fixed-size heap: without it, whether and when G1 grows the
            # heap decides the peak RSS more than the workload does
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                f"-Djava.io.tmpdir={os.environ.get('TMPDIR', self.run_dir)}",
        })

    def build(self, name: str):
        from public_projet_data_engineering_tarification_electrique_spark.plans import registry

        return getattr(registry, name)(self.spark, self.data)

    def setup(self) -> None:
        """Session start, warm-up (JIT, parquet footers) and staging: once
        cold, with the JVM launch, then ``SETUP_ROUNDS`` times in the
        running JVM. The last session is kept."""
        rounds = []
        for _ in range(1 + SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            t1 = time.perf_counter()
            for name in W.PROBE:
                noop(self.build(name))
            t2 = time.perf_counter()
            self.stage()
            t3 = time.perf_counter()
            rounds.append({"session_s": t1 - t0, "warmup_s": t2 - t1,
                           "stage_s": t3 - t2, "total_s": t3 - t0})
        self.record["setup_rounds"] = rounds
        warm = rounds[1:]
        self.setup_s = stats.median([r["total_s"] for r in warm])
        self.layers["session.start_s"] = rounds[0]["session_s"]
        self.layers["session.warmup_s"] = stats.median([r["warmup_s"] for r in warm])
        # the last warm-up is the probe pair, run in a warm JVM
        self.probe_s = rounds[-1]["warmup_s"]

    def stage(self) -> None:
        if self.workload["kind"] != "serving":
            return
        from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
            ALPHA_YEAR, _annual_city, _daily_region,
        )

        self.daily = _daily_region(self.spark, self.data).cache()
        self.annual = _annual_city(
            self.spark, self.data, year_range=(ALPHA_YEAR, ALPHA_YEAR + 1)
        ).cache()
        self.daily.count()
        self.annual.count()

    def settle(self) -> None:
        """Free what one query left behind: cached frames, and the
        localCheckpoint blocks that only a Python GC releases."""
        self.spark.catalog.clearCache()
        gc.collect()

    # ------------------------------------------------------------ batch work

    def check_batch(self, names: list[str]) -> None:
        """One untimed pass: every query's result against its DuckDB
        oracle; records each batch query's executed plan for the
        traced-run plan-identity check."""
        import duckdb
        from public_projet_data_engineering_tarification_electrique_spark.plans.oracles import (
            ORACLE_SQL,
        )
        from spans import normalize_plan

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        self.plans: dict[str, str] = {}
        t0 = time.perf_counter()
        for name in names:
            self.attempted += 1
            try:
                df = self.build(name)
                if name not in W.STREAMING:
                    self.plans[name] = normalize_plan(
                        df._jdf.queryExecution().executedPlan().toString())
                problem = compare_frames(df.toPandas(), con.execute(ORACLE_SQL[name]).fetchdf())
            except Exception as e:  # a raise is a failure; the run goes on
                problem = f"raised {type(e).__name__}: {e}"
            if problem:
                self.fail(name, problem)
            self.settle()
        con.close()
        self.record["check_s"] = time.perf_counter() - t0

    def batch_pass(self, names: list[str], tracer=None) -> dict[str, float]:
        walls = {}
        for name in names:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    noop(self.build(name))
                    walls[name] = time.perf_counter() - t0
                else:
                    walls[name] = self.traced_query(name, tracer)
            except Exception as e:
                self.fail(name, f"raised {type(e).__name__}: {e}")
            self.settle()
        return walls

    def traced_query(self, name: str, tracer) -> float:
        """Construct, plan and execute one query under spans; returns the
        traced wall time. Counters are read after it, off the timed path."""
        from spans import drain, normalize_plan, plan_counts, stage_metrics

        with tracer.span(name, "construct") as c:
            df = self.build(name)
        with tracer.span(name, "plan") as p:
            plan = df._jdf.queryExecution().executedPlan().toString()
        with tracer.span(name, "execute") as e:
            noop(df)
        wall = e["end"] - c["start"]
        p.update(plan_counts(plan))
        if name in self.plans and normalize_plan(plan) != self.plans[name]:
            self.fail(name, "executed plan differs with tracing on")
        drain(self.spark)
        for span in (c, e):
            span.update(stage_metrics(self.spark, span["stage_lo"], span["stage_hi"]))
        return wall

    def run_batch(self) -> dict[str, float]:
        names = W.queries(self.args.workload)
        self.check_batch(names)
        if self.args.trace:
            return self.trace_batch(names)
        samples: dict[str, list[float]] = defaultdict(list)
        deadline = time.perf_counter() + self.args.seconds
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() < deadline:
            for name, wall in self.batch_pass(names).items():
                samples[name].append(wall)
            passes += 1
        self.record["query_s"] = samples
        self.record["passes"] = passes
        return {"pass_s": sum(stats.median(v) for v in samples.values())}

    def trace_batch(self, names: list[str]) -> dict:
        """Untraced and traced passes, alternating, so the overhead is
        measured in the same window as the spans."""
        import spans as T
        from public_projet_data_engineering_tarification_electrique_spark.sources import (
            tables, writers,
        )

        targets = {}
        for modname, mod in list(sys.modules.items()):
            if modname.startswith((f"{PKG}.operators.", f"{PKG}.streaming.")):
                targets.update(T.public_functions(mod, "op", PKG))
        targets[tables.load_table] = ("sources.tables.load_table", "sources.load")
        targets.update({fn: (n, "sources.write") for fn, (n, _) in
                        T.public_functions(writers, "sources", PKG).items()})
        tracer = T.Tracer(self.spark)
        listener = T.StreamStats()
        plain, traced = [], []
        deadline = time.perf_counter() + self.args.seconds
        while not traced or time.perf_counter() < deadline:
            plain.append(self.batch_pass(names))
            tracer.wrap(PKG, targets)
            self.spark.streams.addListener(listener)
            try:
                traced.append(self.batch_pass(names, tracer))
            finally:
                tracer.unwrap()
                T.drain(self.spark)
                self.spark.streams.removeListener(listener)
        self.layers.update(self.batch_layers(tracer.spans, listener.batches, len(traced)))
        self.layers["trace_overhead_frac"] = (
            stats.median([sum(p.values()) for p in traced])
            / stats.median([sum(p.values()) for p in plain]) - 1
        )
        # per query: the layer split next to its traced wall time
        split: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
        for s in tracer.spans:
            if s["layer"] in ("construct", "plan", "execute"):
                split[s["name"]][f"{s['layer']}_s"].append(s["end"] - s["start"])
            if s["layer"] == "construct":
                split[s["name"]]["construct.jobs"].append(s["jobs"])
        for walls in traced:
            for name, wall in walls.items():
                split[name]["traced_wall_s"].append(wall)
        self.record.update(
            plain_query_s=plain, traced_query_s=traced,
            query_layers={q: {k: stats.median(v) for k, v in d.items()}
                          for q, d in split.items()},
            spans=tracer.spans, stream_batches=listener.batches,
        )
        return {}

    @staticmethod
    def batch_layers(spans: list[dict], batches: list[dict], passes: int) -> dict:
        m: dict[str, float] = defaultdict(float)
        self_s = stats.self_time(spans)
        self_jobs = stats.self_counts(spans, "jobs")
        stream_construct = 0.0
        for s, own_s, own_jobs in zip(spans, self_s, self_jobs):
            layer, dur = s["layer"], s["end"] - s["start"]
            if layer in ("construct", "plan", "execute"):
                m[f"{layer}_s"] += dur
            if layer in ("construct", "execute"):
                m[f"{layer}.jobs"] += s["jobs"]
                m[f"{layer}.stages"] += s["stages"]
                for key in STAGE_KEYS[layer]:
                    m[f"{layer}.{key}"] += s.get(key, 0)
            if layer == "construct" and s["name"] in W.STREAMING:
                stream_construct += dur
            elif layer == "plan":
                for key in ("exchanges", "broadcasts", "python_nodes"):
                    m[f"plan.{key}"] += s[key]
            elif layer == "sources.load":
                m["sources.load_calls"] += 1
                m["sources.load_s"] += dur
            elif layer == "sources.write":
                m["sources.write_calls"] += 1
                m["sources.write_s"] += dur
            elif layer == "op":
                m[f"{s['name']}_s"] += own_s
                m[f"{s['name']}.jobs"] += own_jobs
        for b in batches:
            m["stream.batches"] += 1
            m["stream.input_rows"] += b["input_rows"]
            for key, metric in STREAM_PHASES.items():
                m[metric] += b["duration_ms"].get(key, 0) / 1000
            m["stream.state_rows"] += b["state_rows"]
            m["stream.state_bytes"] += b["state_bytes"]
        m["stream.outside_batch_s"] = (
            stream_construct - m["stream.trigger_s"] if batches else 0.0
        )
        return {k: v / passes for k, v in m.items()}

    # ---------------------------------------------------------- serving work

    def serving_requests(self) -> list[dict]:
        """``SERVING_PASS`` requests drawn by seed from the requests table;
        a seeded share has one required field dropped."""
        from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
            _requests,
        )
        from public_projet_data_engineering_tarification_electrique_spark.schemas import (
            PRICING_REQUEST_REQUIRED,
        )

        table = sorted((r.asDict() for r in _requests(self.spark, self.data).collect()),
                       key=lambda r: int(r["code_commune"]))
        rng = random.Random(self.args.seed)
        drawn = rng.sample(table, W.SERVING_PASS)
        for req in drawn:
            if rng.random() < W.MISSING_FIELD_SHARE:
                del req[rng.choice(sorted(PRICING_REQUEST_REQUIRED))]
        return drawn

    def expected_prices(self, drawn: list[dict]) -> list[tuple]:
        """The batch envelope (``score_requests_with_status``) over the
        same requests: the reference answer for every response."""
        from pyspark.sql import types as T
        from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
            score_requests_with_status,
        )
        from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
            ALPHA_YEAR, RUN_DATE,
        )
        from public_projet_data_engineering_tarification_electrique_spark.schemas import (
            PRICING_REQUEST,
        )

        schema = T.StructType(
            [T.StructField("idx", T.IntegerType(), False)]
            + [T.StructField(f.name, f.dataType, True) for f in PRICING_REQUEST.fields]
        )
        rows = [(i, *(r.get(f.name) for f in PRICING_REQUEST.fields))
                for i, r in enumerate(drawn)]
        scored = score_requests_with_status(
            self.spark.createDataFrame(rows, schema), self.daily, self.annual,
            RUN_DATE, ALPHA_YEAR,
        ).select("idx", "status", "price").collect()
        out = [None] * len(drawn)
        for r in scored:
            out[r.idx] = (r.status, r.price)
        return out

    def serve_pass(self, pool, drawn, expected, tracer=None):
        """All drawn requests through ``nproc`` closed-loop clients: each
        client sends its next request only when the previous returned."""
        from public_projet_data_engineering_tarification_electrique_spark.operators import pricing
        from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
            ALPHA_YEAR, RUN_DATE,
        )

        order = iter(range(len(drawn)))
        lock = threading.Lock()
        latency = [0.0] * len(drawn)
        answers: list = [None] * len(drawn)
        sc = self.spark.sparkContext
        session = self.spark if tracer is None else _TimedSession(self.spark, tracer)

        def client() -> None:
            while True:
                with lock:
                    i = next(order, None)
                if i is None:
                    return
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        row = pricing.score_one(session, drawn[i], self.daily,
                                                self.annual, RUN_DATE, ALPHA_YEAR)
                    else:
                        group = f"price-{next(self._req_ids)}"
                        sc.setJobGroup(group, "price", False)
                        with tracer.span("price", "request") as rec:
                            row = pricing.score_one(session, drawn[i], self.daily,
                                                    self.annual, RUN_DATE, ALPHA_YEAR)
                        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                    answers[i] = (row.status, row.price)
                except Exception as e:
                    answers[i] = f"raised {type(e).__name__}: {e}"
                latency[i] = time.perf_counter() - t0

        t0 = time.perf_counter()
        for f in [pool.submit(client) for _ in range(self.nproc)]:
            f.result()
        wall = time.perf_counter() - t0
        for i, (got, want) in enumerate(zip(answers, expected)):
            self.attempted += 1
            if got != want:
                self.fail(f"request {i}", f"got {got}, batch envelope says {want}")
        return wall, latency

    def run_serving(self) -> dict[str, float]:
        drawn = self.serving_requests()
        expected = self.expected_prices(drawn)
        self._req_ids = itertools.count()
        with ThreadPoolExecutor(max_workers=self.nproc) as pool:
            if self.args.trace:
                return self.trace_serving(pool, drawn, expected)
            walls, lat = [], []
            deadline = time.perf_counter() + self.args.seconds
            while len(walls) < MIN_PASSES or time.perf_counter() < deadline:
                wall, latency = self.serve_pass(pool, drawn, expected)
                walls.append(wall)
                lat.extend(latency)
        tail = stats.tail(lat)
        self.record.update(pass_walls=walls, requests=len(lat),
                           price_p50_ms=1000 * stats.median(lat),
                           price_rps=len(lat) / sum(walls))
        if tail:
            self.record[f"price_p{tail[0]:g}_ms"] = 1000 * tail[1]
        return {"pass_s": stats.median(walls)}

    def trace_serving(self, pool, drawn, expected) -> dict:
        import spans as T
        from public_projet_data_engineering_tarification_electrique_spark.operators import pricing

        tracer = T.Tracer(self.spark, counted=False)
        build = {pricing.score_requests_with_status:
                 ("pricing.score_requests_with_status", "pricing.build")}
        plain, traced = [], []
        deadline = time.perf_counter() + self.args.seconds
        while not traced or time.perf_counter() < deadline:
            plain.append(self.serve_pass(pool, drawn, expected)[0])
            tracer.wrap(PKG, build)
            try:
                traced.append(self.serve_pass(pool, drawn, expected, tracer)[0])
            finally:
                tracer.unwrap()
        spans = tracer.spans
        m: dict[str, float] = defaultdict(float)
        for s in spans:
            m[s["layer"]] += s["end"] - s["start"]
            m["jobs"] += s.get("jobs", 0) if s["layer"] == "request" else 0
        n = sum(1 for s in spans if s["layer"] == "request")
        self.layers.update({
            "pricing.input_s": m["pricing.input"] / n,
            "pricing.build_s": m["pricing.build"] / n,
            "pricing.action_s": (m["request"] - m["pricing.input"] - m["pricing.build"]) / n,
            "pricing.jobs_per_req": m["jobs"] / n,
            "trace_overhead_frac": stats.median(traced) / stats.median(plain) - 1,
        })
        self.record.update(plain_pass_s=plain, traced_pass_s=traced, spans=spans)
        return {}

    # ----------------------------------------------------------------- main

    def teardown(self) -> int:
        """Stop Spark and its JVM; return the peak RSS (kB) of this
        process plus the JVM."""
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        rss = vm_hwm_kb("self") + (vm_hwm_kb(proc.pid) if proc else 0)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        return rss

    def main(self) -> dict:
        t0 = time.perf_counter()
        gen.write(self.data, self.args.seed, W.SCALE)
        self.record["gen_s"] = time.perf_counter() - t0
        self.setup()
        if self.workload["kind"] == "serving":
            e2e = self.run_serving()
        else:
            e2e = self.run_batch()
        rss_kb = self.teardown()
        self.record.update(setup_s=self.setup_s, probe_s=self.probe_s,
                           peak_rss_mb=rss_kb / 1024, attempted=self.attempted,
                           failures=self.failures, **e2e)
        self.layers["probe_s"] = self.probe_s
        if self.args.trace:
            metrics = {m["name"]: {"value": self.layers.get(m["name"], 0.0),
                                   "unit": m["unit"]} for m in self.args.spec["per_layer"]}
        else:
            e2e.update(setup_s=self.setup_s, peak_rss_mb=rss_kb / 1024)
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in self.args.spec["end_to_end"]}
        self.record["layers"] = self.layers
        return metrics


class _TimedSession:
    """The session handed to ``score_one`` in traced serving passes:
    times ``createDataFrame`` (the request's input frame) as a span."""

    def __init__(self, spark, tracer) -> None:
        self._spark, self._tracer = spark, tracer

    def createDataFrame(self, *args, **kwargs):
        with self._tracer.span("createDataFrame", "pricing.input"):
            return self._spark.createDataFrame(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spec", required=True, help="path of BENCHMARK.json")
    ap.add_argument("--artifact", required=True)
    args = ap.parse_args()
    with open(args.spec) as fh:
        args.spec = json.load(fh)
    run = Run(args)
    metrics = run.main()
    failed = len(run.failures)
    with open(args.artifact, "w") as fh:
        json.dump(run.record, fh, default=str)
    summary = {k: v for k, v in run.record.items()
               if k not in ("spans", "query_s", "plain_query_s", "traced_query_s",
                            "stream_batches", "layers")}
    summary["fail_frac"] = failed / max(1, run.attempted)
    print("perfbench " + json.dumps(summary, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
