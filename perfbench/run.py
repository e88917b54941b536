"""Repo benchmark: drives the engine from outside through its public entry
points and prints one JSON result line.

    python3 perfbench/run.py --workload short --seed 1 --seconds 15 --trace 0

Workloads (``perfbench/workloads.py``): ``short`` (floor-bound reads and
a streaming query) and ``mr_kv`` (keyed puts, point gets, scan, delete
and a Python MapReduce). One client runs a closed loop on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use)
with a 1 GB driver heap (``$SPARK_GRAFT_DRIVER_MEM``).

A run:

1. builds missing inputs under ``.perfbench/`` in the checkout (the
   fixtures once per checkout, the mr_kv puts once per seed) and
   fingerprints them;
2. sets up three times: a fresh ``session.get_spark`` answering the
   workload's first op on the tiny inputs; ``setup_s`` is the median (the
   first set-up also launches the JVM);
3. warms up: runs every op once untimed and checks its full output
   against an independent model (DuckDB oracles, cached by input
   fingerprint, and a DuckDB last-write-wins model for mr_kv);
4. loops over the ops, in an order shuffled by the seed on every pass,
   for ``--seconds``; every timed op also checks its result against the
   model (row count for queries, full output for the KV steps);
   ``wall_s`` is the sum over ops of each op's median time (the
   point-get step counts its gets times their median latency);
5. with ``--trace 1``, restarts the session with Spark's event log and a
   streaming listener on, enables the span shims and loops again for
   ``--seconds``; the per-layer metrics come from this phase.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The full record — core count, pyspark version, commit,
seed, input fingerprints, per-op medians — goes to stderr and to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp", str(os.getpid()))
SETUPS = 3


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Keep every file the engine, Spark and Python write inside WORK, in a
    directory of this process's own."""
    tmp = TMP
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(spark, parts: dict) -> float:
    """Peak resident memory (VmHWM) of this Python driver, the JVM and the
    JVM's live Python workers; ``parts`` receives the three shares."""
    jvm = spark.sparkContext._gateway.proc.pid
    parts["driver"] = _vm_hwm_kb(os.getpid()) / 1024.0
    parts["jvm"] = _vm_hwm_kb(jvm) / 1024.0
    parts["workers"] = sum(_vm_hwm_kb(p) for p in _descendants(jvm)) / 1024.0
    return sum(parts.values())


def _shutdown(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _source_digest() -> str:
    """sha256 over the engine's Python sources and bench.py — identifies the
    program when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "distributed_map_reduce_spark")
    paths = [os.path.join(ROOT, "bench.py")]
    for d, _, files in os.walk(pkg):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Runner:
    def __init__(self, args) -> None:
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None

    # -- bookkeeping ----------------------------------------------------------
    def _attempt(self, op, body):
        """Run ``body()`` → (rows, ok); count the attempt and any failure."""
        self.attempted += 1
        try:
            rows, ok, *detail = body()
        except Exception as e:  # noqa: BLE001 - every error is a counted failure
            rows, ok, detail = None, False, [f"{type(e).__name__}: {str(e)[:300]}"]
            traceback.print_exc(file=sys.stderr)
        if not ok:
            self.failed += 1
            msg = f"{op.name}: {(detail or ['row count differs from the model'])[0]}"
            if len(self.failures) < 20:
                self.failures.append(msg)
            _log(f"FAIL {msg}")
        return rows, ok

    def loop(self, ops, seconds: float, rng):
        """Closed loop over ``ops`` for ``seconds``: every pass in a fresh
        seeded order; at least one full pass. Returns per-op samples."""
        samples = {op.name: [] for op in ops}
        deadline = time.perf_counter() + seconds
        passes = 0
        while passes == 0 or time.perf_counter() < deadline:
            for op in self.W.shuffled(ops, rng):
                if passes and time.perf_counter() >= deadline:
                    break
                t0, w0 = time.perf_counter(), time.time()
                rows, ok = self._attempt(op, lambda op=op: op.run(self.spark))
                dt = time.perf_counter() - t0
                if ok:
                    samples[op.name].append(
                        {"s": dt, "t0": w0, "t1": w0 + dt, "rows": rows, "spans": self.trace.TRACER.take()}
                    )
                else:
                    self.trace.TRACER.take()
            passes += 1
        return samples, passes

    def main(self) -> int:
        try:
            return self._run()
        finally:
            _shutdown(self.spark)
            shutil.rmtree(TMP, ignore_errors=True)

    # -- phases ---------------------------------------------------------------
    def _run(self) -> int:
        a = self.args
        _prepare_env()
        sys.path.insert(0, ROOT)
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        t_import = time.perf_counter()
        from perfbench import trace

        trace.install_shims()  # before the registry binds the wrapped names
        import numpy as np
        import pyspark

        import bench
        from check_oracle import driver_canon, value_hash
        from distributed_map_reduce_spark import registry, session
        from distributed_map_reduce_spark.sources import TABLES
        from perfbench import gen, oracle, workloads as W

        registry.all_queries()
        import_s = time.perf_counter() - t_import
        self.trace, self.W = trace, W
        wl = W.WORKLOADS[a.workload]
        rng = np.random.default_rng(a.seed)

        # 1. inputs
        t_inputs = time.perf_counter()
        data = os.path.join(WORK, "data")
        fps = {}
        for name, sf in W.FIXTURES.items():
            gen.ensure_dir(
                os.path.join(data, name),
                lambda sf=sf: gen.fixture_tables(gen.fixture_rows(sf), W.FIXTURE_SEED),
            )
            fps[name] = gen.fingerprint(os.path.join(data, name))
        canon = lambda pdf: oracle.answer_of(pdf, driver_canon, value_hash)  # noqa: E731
        qs = registry.all_queries()

        def query_ops(fixture: str, with_oracle: bool):
            d = os.path.join(data, fixture)
            cache = None
            if with_oracle:
                cache = oracle.OracleCache(
                    os.path.join(WORK, "oracle_cache.json"),
                    fps[fixture]["digest"],
                    oracle.duckdb_compute(d, TABLES),
                    driver_canon,
                    value_hash,
                )
            return [
                W.QueryOp(qs[n], d, cache.get(qs[n].oracle) if cache else None, bench._execute, canon)
                for n in wl.queries
            ]

        ops = query_ops("small", True)
        inputs = {"small": fps["small"]} if wl.queries else {}
        # The set-up probe: the workload's first op on the tiny inputs.
        probe = query_ops("tiny", False)[0] if wl.queries else W.kv_ops(data, a.seed, "tiny")[0][0]
        if wl.kv:
            kv_ops, kv_state = W.kv_ops(data, a.seed, "measure")
            ops += kv_ops
            inputs["kv_puts"] = kv_state.fp
            self.kv_live_frac = len(kv_state.live) / kv_state.n_puts
        inputs_s = time.perf_counter() - t_inputs
        _log(f"inputs ready in {inputs_s:.1f}s")

        # 2. set-ups: a fresh session answering its first op.
        setups = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = session.get_spark("perfbench")
            t1 = time.perf_counter()
            self._attempt(probe, lambda: probe.run(self.spark))
            setups.append({"get_spark_s": t1 - t0, "first_op_s": time.perf_counter() - t1})
        setup_s = statistics.median(s["get_spark_s"] + s["first_op_s"] for s in setups)
        _log(f"set-ups: {[round(s['get_spark_s'] + s['first_op_s'], 2) for s in setups]}")
        # 3. warm-up: every op once, untimed, checking its full output; the
        # spans it records name the tables each op loads.
        t_check = time.perf_counter()
        trace.TRACER.enabled = True
        for op in W.shuffled(ops, rng):
            self._attempt(op, lambda op=op: op.check(self.spark))
            loaded = {s.attrs["table"] for s in trace.TRACER.take() if s.name == "sources.load_table"}
            if isinstance(op, W.QueryOp):
                op.tables |= loaded
        trace.TRACER.enabled = False
        warmup_s = time.perf_counter() - t_check

        rows_of = W.fixture_rows(fps["small"])
        input_rows = {
            op.name: W.kv_input_rows(op) if isinstance(op, W.KVOp) else sum(rows_of[t] for t in op.tables)
            for op in ops
        }

        # Point-get latencies: every get at the measured scale, from the check
        # pass on, so a run holds the hundred a p90 needs.
        kv_gets = next((op for op in ops if op.name == "point_gets"), None)

        # 4. timed closed loop, tracing off
        samples, passes = self.loop(ops, a.seconds, rng)
        op_medians = {n: statistics.median(x["s"] for x in v) for n, v in samples.items() if v}
        per_op = dict(op_medians)
        get_ms = list(kv_gets.get_ms) if kv_gets else []
        if kv_gets and "point_gets" in per_op:
            # A point get is the unit request: the step's time is its gets
            # per pass times their median latency, a far steadier figure
            # than the median of two or three whole passes.
            per_op["point_gets"] = len(kv_state.get_keys) * statistics.median(get_ms) / 1000.0
        complete = len(per_op) == len(ops)
        wall_s = sum(per_op.values())
        rss = peak_rss_mb(self.spark, rss_parts := {})

        record = {
            "workload": a.workload,
            "seed": a.seed,
            "trace": a.trace,
            "seconds": a.seconds,
            "cores": {
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "nproc": len(os.sched_getaffinity(0)),
            },
            "pyspark": pyspark.__version__,
            "commit": _commit(),
            "source_digest": _source_digest(),
            "inputs": inputs,
            "passes": passes,
            "per_op_s": per_op,
            "samples_s": {n: [x["s"] for x in v] for n, v in samples.items()},
            "rss_mb": rss_parts,
            "setups": setups,
            "warmup_s": warmup_s,
            "import_s": import_s,
            "inputs_s": inputs_s,
            "failures": self.failures,
        }
        if wl.kv:
            record["kv_live_frac"] = self.kv_live_frac
        end_to_end = {
            "wall_s": (wall_s, "s"),
            "setup_s": (setup_s, "s"),
            "input_rows_per_s": (sum(input_rows.values()) / wall_s if wall_s else 0.0, "rows/s"),
            "peak_rss_mb": (rss, "MB"),
        }

        if a.trace:
            metrics = self.traced_phase(ops, rng, sum(op_medians.values()), setups, get_ms, record)
        else:
            metrics = end_to_end

        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        record["end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        out = os.path.join(
            WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"
        )
        with open(out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print(json.dumps(record, sort_keys=True), file=sys.stderr)
        result = {
            "correct": self.failed == 0 and complete,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": record["metrics"],
        }
        print(json.dumps(result))
        return 0

    def traced_phase(self, ops, rng, untraced_wall, setups, get_ms, record):
        from distributed_map_reduce_spark import session

        from perfbench import layers

        trace = self.trace
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        jvm_system = self.spark.sparkContext._jvm.java.lang.System
        self.spark.stop()
        # A new SparkContext loads spark.* JVM system properties as defaults.
        for k, v in trace.event_log_confs(log_dir).items():
            jvm_system.setProperty(k, v)
        self.spark = session.get_spark("perfbench-traced")
        for op in ops:  # warm the restarted context's Python workers
            self._attempt(op, lambda op=op: op.run(self.spark))
        progress: list[dict] = []
        listener = trace.make_progress_listener(progress)
        self.spark.streams.addListener(listener)
        trace.TRACER.enabled = True
        samples, _ = self.loop(ops, self.args.seconds, rng)
        trace.TRACER.enabled = False
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        self.spark.streams.removeListener(listener)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark.stop()
        self.spark = None
        jobs = trace.parse_event_log(trace.latest_event_log(log_dir))
        return layers.per_layer(samples, jobs, progress, untraced_wall, setups, get_ms, cores, record)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return Runner(args).main()


if __name__ == "__main__":
    sys.exit(main())
