"""Engine-path benchmark: one workload, one process, one client thread.

    python3 perfbench/run.py --workload cypher-interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``,
sets the engine up several times, warms every op kind up, then sends whole
decks of ops (closed loop) until at least ``--seconds`` of op time have
passed, checks every op's result against DuckDB, and prints one JSON line
last: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPANS_DIR = os.path.join(ROOT, ".perfbench_out")  # where a traced run writes its spans

END_TO_END = {"ops_per_s": "1/s", "latency_p50_s": "s", "latency_tail_s": "s",
              "setup_s": "s"}
CYPHER_KINDS = ("id_seek", "expand_1hop", "expand_2hop", "supplier_coneighbours",
                "label_aggregate", "order_by_limit")
ANALYTICS_KINDS = ("egonet", "degree_distribution", "triangle_count", "top_k_pagerank")
CYPHER_LAYERS = {"cypher.parse_s": "s", "cypher.compile_s": "s", "perf.ledger_s": "s",
                 "sinks.rows_s": "s", "sinks.jobs": "count"}
ANALYTICS_LAYERS = {"analytics.build_s": "s", "analytics.build_jobs": "count",
                    "analytics.consume_s": "s"}
SPARK_LAYERS = {"spark.jobs": "count", "spark.stages": "count", "spark.driver_gap_s": "s",
                "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
                "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
                "spark.spill_bytes": "B"}
STREAM_LAYERS = {"streaming.batch_s": "s", "streaming.restart_s": "s",
                 "streaming.post_restart_batch_s": "s"}


def per_layer_units() -> dict:
    """Every per-layer metric and its unit. Each workload prints all of
    them; a layer the workload leaves idle reads 0."""
    units = {"session.start_s": "s", "sources.ingest_s": "s",
             "graph.store_bytes_per_edge": "B"}
    for layers, kinds in ((CYPHER_LAYERS, CYPHER_KINDS), (ANALYTICS_LAYERS, ANALYTICS_KINDS)):
        for name, unit in layers.items():
            units[name] = unit
            units.update({f"{name}.{k}": unit for k in kinds})
    units.update({"perf.ledger_files": "count", "bench.ledger_rows_share": "ratio"})
    units.update(STREAM_LAYERS)
    units["streaming.state_bytes_per_edge"] = "B"
    units.update(SPARK_LAYERS)
    units.update({"bench.warmup_s": "s", "bench.trace_overhead": "ratio",
                  "bench.drifting_kinds": "count"})
    return units


# warm-up: rounds of one op per kind until no kind's latency still falls
WARMUP_MIN_ROUNDS = 3
WARMUP_FALL = 0.9   # a round still "falls" if it beats the previous best by >10%
WARMUP_CAP_S = 18.0
DRIFT = 0.15        # first-half vs second-half median change that flags a kind
SETUPS = 3          # set-ups per run; setup_s is their median
CORES = 1           # Spark's local cores: steadiest, see README


def tail_rank(n: int) -> int:
    """0-based rank of the highest percentile with at least ten samples
    beyond it (the smallest sample when a run has ten or fewer)."""
    return max(0, n - 11)


def pin_environment(run_dir: str, cores: int) -> dict:
    """Every Spark setting the run depends on, and scratch space that
    lives and dies with the run directory."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM process the session launched."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, run_dir: str):
        import numpy as np

        from spans import Tracer
        from workloads import WORKLOADS

        cls = WORKLOADS[args.workload]
        self.args = args
        self.rng = np.random.default_rng(args.seed)
        self.conf = pin_environment(run_dir, CORES)
        if args.trace:  # a traced analytics run outgrows the default 1000
            # jobs and stages the status store keeps, and lost stage lookups
            self.conf.update({"spark.ui.retainedJobs": "10000",
                              "spark.ui.retainedStages": "10000"})
        self.w = cls(run_dir, args.seed, args.sf if args.sf else cls.default_sf)
        self.tr = Tracer(False)  # untraced ops and set-up
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.attempted = self.failed = 0
        self.inject = args.inject_wrong_answer

    # ---- set-up --------------------------------------------------------
    def start_session(self):
        from jasminegraph_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=self.conf)
        spark.sparkContext.setLogLevel("FATAL")
        return spark

    def setup(self) -> dict:
        setup_s, session_s, layers = [], [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            session_s.append(time.perf_counter() - t0)
            layers.append(self.w.setup(self.spark, self.tr))
            setup_s.append(time.perf_counter() - t0)
        out = {"setup_s": statistics.median(setup_s),
               "session.start_s": statistics.median(session_s)}
        for k in layers[0]:
            out[k] = statistics.median(x[k] for x in layers)
        return out

    # ---- ops -----------------------------------------------------------
    def run(self, op, tracer) -> float:
        """Send one op and return its latency. The check runs after the
        clock stops."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = self.w.run_op(op, tracer)
        except Exception as exc:  # a failing op is counted, and the run goes on
            print(f"op {op} raised {type(exc).__name__}: {exc}", file=sys.stderr)
            self.failed += 1
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if self.inject:
            result, self.inject = _corrupt(result), False
        if not self.w.check(op, result):
            print(f"op {op} returned a wrong answer", file=sys.stderr)
            self.failed += 1
        return dt

    def warm_up(self) -> float:
        """Untimed rounds, one op of each kind per round: at least
        WARMUP_MIN_ROUNDS, then until no kind's last round beat its best
        earlier round by more than 10%, or WARMUP_CAP_S has passed."""
        seen: dict = {}
        t0 = time.perf_counter()
        rounds = 0
        while True:
            self.w.start_deck()
            for op in self.w.warmup_round(self.rng):
                dt = self.run(op, self.tr)
                seen.setdefault(op[0], []).append(dt)
            rounds += 1
            falling = [k for k, v in seen.items()
                       if len(v) < WARMUP_MIN_ROUNDS or v[-1] < WARMUP_FALL * min(v[:-1])]
            if rounds >= WARMUP_MIN_ROUNDS and (
                    not falling or time.perf_counter() - t0 > WARMUP_CAP_S):
                if falling:
                    print(f"warm-up capped with kinds still falling: {falling}",
                          file=sys.stderr)
                return time.perf_counter() - t0

    def timed(self, traced: bool) -> dict:
        """Whole decks until at least --seconds of op time have passed."""
        from spans import SparkCounters

        lat, kinds, layer_rows = [], [], []
        plain_s = traced_s = 0.0
        counters = SparkCounters(self.spark) if traced else None
        while sum(lat) < self.args.seconds:
            deck = self.w.deck(self.rng)
            # traced runs send each deck twice, plain and with spans, the
            # first pass alternating: the two give the tracing overhead
            passes = [False, True] if traced else [False]
            if traced and len(layer_rows) % (2 * len(deck)):
                passes.reverse()
            for with_spans in passes:
                self.w.start_deck()
                tracer = self.tr if not with_spans else self.tracer
                for op in deck:
                    tracer.op_id = self.attempted
                    t0 = time.perf_counter()
                    dt = self.run(op, tracer)
                    if with_spans:
                        traced_s += dt
                        row = {"kind": op[0], "latency": dt}
                        row.update(self.w.op_layers(op, tracer, tracer.op_id, counters))
                        row.update(counters.op_counters(t0, t0 + dt))
                        layer_rows.append(row)
                    else:
                        plain_s += dt
                        lat.append(dt)
                        kinds.append(op[0])
        return {"lat": lat, "kinds": kinds, "layers": layer_rows,
                "plain_s": plain_s, "traced_s": traced_s,
                "missing_stages": counters.missing_stages if counters else 0}


def _corrupt(result):
    """A deliberately wrong answer, for the benchmark's own tests."""
    if isinstance(result, tuple):
        return (result[0] + 1,) + result[1:]
    if isinstance(result, int):
        return result + 1
    return list(result)[1:] if result else ["unexpected"]


def drifting(lat: list, kinds: list) -> list:
    """Kinds whose first-half and second-half medians differ by > DRIFT."""
    out = []
    for k in sorted(set(kinds)):
        v = [x for x, kk in zip(lat, kinds) if kk == k]
        h = len(v) // 2
        if h >= 3:
            a, b = statistics.median(v[:h]), statistics.median(v[h:])
            if abs(b - a) > DRIFT * a:
                out.append(k)
    return out


def layer_metrics(res: dict, setup: dict, totals: dict, warmup_s: float) -> dict:
    units = per_layer_units()
    vals = dict.fromkeys(units, 0.0)
    for k in ("session.start_s", "sources.ingest_s", "graph.store_bytes_per_edge"):
        vals[k] = setup.get(k, 0.0)
    vals.update(totals)
    rows = res["layers"]
    names = {n for r in rows for n in r if n in units}
    for n in names:
        # across kinds, the mean per op: a median would read 0 for a layer
        # that only some kinds use (eager jobs in two of four verbs)
        vals[n] = statistics.fmean(r[n] for r in rows if n in r)
        for kind in {r["kind"] for r in rows}:
            if f"{n}.{kind}" in units:
                vals[f"{n}.{kind}"] = statistics.median(
                    r[n] for r in rows if r["kind"] == kind and n in r)
    if any("perf.ledger_s" in r for r in rows):
        vals["bench.ledger_rows_share"] = statistics.median(
            (r["perf.ledger_s"] + r["sinks.rows_s"]) / r["latency"] for r in rows)
    vals["bench.warmup_s"] = warmup_s
    vals["bench.trace_overhead"] = res["traced_s"] / res["plain_s"] - 1.0
    vals["bench.drifting_kinds"] = len(drifting(res["lat"], res["kinds"]))
    return {k: {"value": vals[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    from workloads import WORKLOADS  # imports the engine: fails before any work without it

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated tables (default: per workload)")
    ap.add_argument("--inject-wrong-answer", action="store_true",
                    help="corrupt the first op's result before its check (self-test)")
    args = ap.parse_args(argv)

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    runner = None
    try:
        os.chdir(run_dir)  # anything written relative to the cwd stays in the run
        runner = Runner(args, run_dir)
        setup = runner.setup()
        warmup_s = runner.warm_up()
        res = runner.timed(bool(args.trace))
        totals = runner.w.layer_totals()
        lat = sorted(res["lat"])
        n = len(lat)
        rank = tail_rank(n)
        by_kind = {k: statistics.median(x for x, kk in zip(res["lat"], res["kinds"]) if kk == k)
                   for k in sorted(set(res["kinds"]))}
        print("# median latency by kind: "
              + ", ".join(f"{k} {v:.3f} s" for k, v in by_kind.items()))
        drift = drifting(res["lat"], res["kinds"])
        if drift:
            print(f"drift: kinds whose timed medians moved > {DRIFT:.0%} "
                  f"between halves: {drift}", file=sys.stderr)
        print(f"# {args.workload}: {n} timed ops; latency_tail_s is "
              f"p{100.0 * (rank + 1) / n:.1f} (rank {rank + 1} of {n}, "
              f"{n - rank - 1} beyond); warm-up {warmup_s:.1f} s")
        if args.trace:
            os.makedirs(SPANS_DIR, exist_ok=True)
            path = os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.json")
            runner.tracer.dump(path)
            print(f"# spans: {path}; status-store stage lookups missed: "
                  f"{res['missing_stages']}")
            metrics = layer_metrics(res, setup, totals, warmup_s)
        else:
            values = {"ops_per_s": n / sum(lat), "latency_p50_s": statistics.median(lat),
                      "latency_tail_s": lat[rank], "setup_s": setup["setup_s"]}
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        result = {"correct": runner.failed == 0, "attempted": runner.attempted,
                  "failed": runner.failed, "metrics": metrics}
    finally:
        os.chdir(ROOT)
        if runner is not None and runner.spark is not None:
            stop_jvm(runner.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(runs):
            os.rmdir(runs)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
