"""Layer benchmark for dask_spark: one closed-loop client on
``local[<cores>]`` runs a workload's registry queries back to back on
inputs generated from ``--seed``, and checks every result against a
DuckDB replay of the query's ``oracle_sql``.

    python3 layerbench/run.py --workload frame_sf0.001 --seed 1 \
        --seconds 12 --trace 0

A run: generate the inputs, compute the DuckDB references, set up the
session (fresh JVM, tables registered), run one cold pass, warm-up
passes, then ``--seconds`` worth of the workload's nominal warm passes
(see ``timed_passes``). With ``--trace 0`` it then sets up once more in
a fresh JVM and reports the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced passes and reports the per-layer ones.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Detail and spans go to
``layerbench/.work/out/``.

The parent process runs the measurement in a child, marks every process
the run starts, scans the JVM log for silent whole-stage-codegen
fallbacks, and reaps the JVM, the pyspark daemon and its workers on
every exit path.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import procs  # noqa: E402

CORES = len(os.sched_getaffinity(0))
DEADLINE_S = 170  # the run is killed (and fails) past this
KEEP_INPUTS = 6   # generated input sets kept per checkout

# name -> generator scale and replicas, the queries of one pass, the
# nominal seconds of a warm pass on a 4-core host, the tables the
# queries read (registered during set-up), extra environment and
# session conf
WORKLOADS = {
    "frame_sf0.001": {
        # the dask.dataframe/array core plus a driver-loop graph
        # operator on one sf0.001 replica; all JVM, graph cache gate off
        "sf": 0.001, "replicas": 1, "env": {}, "conf": {},
        "queries": ["groupby_agg", "join_inner", "join_q21_sole_returns",
                    "merge_asof", "arr_einsum", "graph_clustering"],
        "pass_s": 3.0,
        "tables": ["nation", "customer", "supplier", "orders", "lineitem",
                   "events", "embeddings"],
    },
    "corpus_x10": {
        # 10 disjoint replicas of sf0.001. The graph cache gate and the
        # broadcast threshold are scaled with the data (both 64 MB vs
        # ~140 MB of sf0.1x10 lineitem), so lineitem's file is above
        # both here, as at sf0.1x10, and below both in frame_sf0.001.
        "sf": 0.001, "replicas": 10,
        "env": {"SPARK_GRAFT_GRAPH_PERSIST_BYTES": str(512 << 10)},
        "conf": {"spark.sql.autoBroadcastJoinThreshold": str(512 << 10)},
        "queries": ["groupby_agg", "join_inner", "text_repetition",
                    "graph_clustering"],
        "pass_s": 3.0,
        "tables": ["customer", "orders", "lineitem", "documents"],
    },
}
WARMUP_PASSES = 1
MIN_TIMED = 2
# fresh-JVM set-ups of an untraced run; setup_s is their median. Two,
# because each costs ~10 s and a run must stay near 60 s (see README)
SETUPS = 2
# (workload, query) pairs whose exact counts were seen to vary between
# traced passes of one run (see README)
KNOWN_UNSTABLE = {("corpus_x10", "graph_clustering")}


def timed_passes(wl: dict, seconds: float) -> int:
    """Timed passes a run makes: ``seconds`` of nominal warm passes.
    A pass count rather than a clock deadline, because JIT compilation
    keeps shortening passes for minutes after start: a deadline would
    let a fast run measure later (faster) passes than a slow one."""
    return max(MIN_TIMED, round(seconds / wl["pass_s"]))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """Latency at the highest of p50..p99 with at least ten samples
    beyond it, and that percentile (0 when there are too few)."""
    xs = sorted(xs)
    if not xs:
        return 0.0, 0
    for p in (99, 95, 90, 75, 50):
        i = int(len(xs) * p / 100)
        if len(xs) - 1 - i >= 10:
            return xs[i], p
    return xs[-1], 0


# ----------------------------------------------------------------------
# worker: the measured process


def _inputs(wl: dict, seed: int) -> Path:
    import gen

    name = f"sf{wl['sf']}_x{wl['replicas']}_seed{seed}"
    path = WORK / "inputs" / name
    if not (path / "done").exists():
        tmp = WORK / "inputs" / f".{name}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, wl["sf"], seed, wl["replicas"])
        (tmp / "done").write_text("")
        shutil.rmtree(path, ignore_errors=True)
        tmp.rename(path)
    sets = sorted((WORK / "inputs").glob("sf*"), key=lambda p: p.stat().st_mtime)
    for old in sets[:-KEEP_INPUTS]:
        if old != path:
            shutil.rmtree(old, ignore_errors=True)
    return path


class Run:
    """One workload run inside the worker process."""

    def __init__(self, args, wl, data_dir, refs, rounded):
        self.args, self.wl, self.data = args, wl, str(data_dir)
        self.refs, self.rounded = refs, rounded
        self.me = os.getpid()
        self.execs = []    # every checked execution
        self.passes = []   # pass records
        self.counts = None
        self.tracer = None
        self.jvm_rss_mb = 0.0  # peak RSS of the measured JVM

    def setup(self):
        """Start a fresh JVM through ``get_spark`` and register the
        workload's tables; returns the seconds this took."""
        from dask_spark.queries import load
        from dask_spark.session import get_spark

        local = Path(os.environ["TMPDIR"])
        conf = {
            "spark.sql.warehouse.dir": str(local / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            **self.wl["conf"],
        }
        t0 = time.perf_counter()
        self.spark = get_spark("layerbench", **conf)
        self.spark.sparkContext.setLogLevel("WARN" if self.args.trace
                                            else "ERROR")
        for t in self.wl["tables"]:
            load(self.spark, self.data, t)
        setup_s = time.perf_counter() - t0
        self.jvm = procs.spark_tree(self.me)["jvm"]
        return setup_s

    def stop(self):
        """Stop the session and its JVM, so that the next ``setup``
        starts a fresh one (pyspark otherwise reuses the gateway JVM)."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def execute(self, name, pass_no, traced):
        """Build and collect one query; checking and trace reads wait
        until the pass clock has stopped (see ``finish``). Between
        queries a traced pass only snapshots what cannot wait: the
        block manager's storage and the Python workers' CPU."""
        from dask_spark.queries import REGISTRY

        import tracing

        sc = self.spark.sparkContext
        rec = {"query": name, "pass": pass_no, "ok": False}
        group = f"lb:{pass_no}:{name}"
        if traced:
            rec["before"] = dict(self.counts, python_worker_cpu_s=(
                tracing.python_workers(self.me)[0]))
            sc.setJobGroup(group + ":build", name, False)
        rec["w0"], t0 = time.time(), time.perf_counter()
        try:
            df = REGISTRY[name][0](self.spark, self.data)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(group + ":action", name, False)
            rec["table"] = df.toArrow()
            rec["latency_s"], rec["build_s"] = time.perf_counter() - t0, t1 - t0
            rec["df"] = df
        except Exception as exc:  # a failed execution is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        finally:
            rec["w2"] = time.time()
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["after"] = dict(self.counts, python_worker_cpu_s=(
                    tracing.python_workers(self.me)[0]))
                rec["storage"] = self.tracer.storage()
        self.spark.catalog.clearCache()
        return rec

    def finish(self, rec, traced):
        """Check one execution against its reference; read its trace."""
        import oracle

        table, df = rec.pop("table", None), rec.pop("df", None)
        if table is not None:
            got = oracle.canonical(table)
            rec["checksum"] = oracle.checksum(got)
            err = oracle.mismatch(got, self.refs[rec["query"]],
                                  self.rounded[rec["query"]])
            rec["ok"] = err is None
            if err:
                rec["error"] = f"wrong result: {err}"[:400]
        if "error" in rec:
            print(f"# {rec['query']} pass {rec['pass']}: {rec['error']}",
                  file=sys.stderr)
        if traced and df is not None:
            self._trace(rec, df)
        self.execs.append(rec)

    def _trace(self, rec, df):
        tr = self.tracer
        group = f"lb:{rec['pass']}:{rec['query']}"
        w0, w2 = rec["w0"], rec["w2"]
        q = tr.span(rec["query"], "query", w0, w2, None, ok=rec["ok"])
        b = tr.span("build", "build", w0, w0 + rec["build_s"], q)
        a = tr.span("action", "action", w0 + rec["build_s"], w2, q)
        cb, ib = tr.jobs(group + ":build", b)
        ca, ia = tr.jobs(group + ":action", a)
        c = {k: cb[k] + ca[k] for k in cb}
        c["build_jobs"] = cb["jobs"]
        c.update(tr.catalyst(df))
        c.update(tr.plan(df))
        c["cached_mb"], c["blocks"] = rec.pop("storage")
        before, after = rec.pop("before"), rec.pop("after")
        c.update({k: after[k] - before[k] for k in after})
        rec["counters"] = c
        rec["intervals"] = ib + ia
        tr.spans[q - 1]["counters"] = c

    def run_pass(self, kind, pass_no, traced=False):
        import tracing

        steal0 = procs.host_steal_s()
        cpu0 = procs.tree_cpu_s(self.me)
        py0 = procs.cpu_s(self.me, children=False)
        if traced:
            jit0, gc0 = self.tracer.jvm_times()
            pw0 = tracing.python_workers(self.me)
        w0, t0 = time.time(), time.perf_counter()
        recs = [self.execute(q, pass_no, traced) for q in self.wl["queries"]]
        wall = time.perf_counter() - t0
        w1 = time.time()
        p = {"kind": kind, "pass": pass_no, "traced": traced, "wall_s": wall,
             "cpu_s": procs.tree_cpu_s(self.me) - cpu0,
             "python_cpu_s": procs.cpu_s(self.me, children=False) - py0,
             "steal_s": procs.host_steal_s() - steal0,
             "latencies": [r["latency_s"] for r in recs if "latency_s" in r]}
        if traced:
            jit1, gc1 = self.tracer.jvm_times()
            pw1 = tracing.python_workers(self.me)
            p.update(jit_s=jit1 - jit0, jvm_gc_s=gc1 - gc0,
                     arrow_cpu_s=pw1[0] - pw0[0], arrow_workers=pw1[1],
                     workers_rss_mb=pw1[2])
        t_check = time.perf_counter()
        for r in recs:
            self.finish(r, traced)
        p["check_s"] = time.perf_counter() - t_check
        if traced:
            ivs = [iv for r in recs for iv in r.get("intervals", [])]
            p["gap_s"] = (w1 - w0) - tracing.covered(ivs, w0, w1)
            keys = next((r["counters"].keys() for r in recs
                         if "counters" in r), [])
            p["counters"] = {k: sum(r.get("counters", {}).get(k, 0)
                                    for r in recs) for k in keys}
        self.passes.append(p)
        print(f"# {kind} pass {pass_no}{' traced' if traced else ''}: "
              f"{wall:.2f}s wall, {p['cpu_s']:.2f} cpu-s, checked in "
              f"{p['check_s']:.2f}s", file=sys.stderr)
        return p


def worker(args) -> dict:
    wl = WORKLOADS[args.workload]
    os.environ.update(wl["env"])
    # Spark, JVM and worker temp files stay in this run's scratch dir
    tmp = WORK / "tmp" / os.environ[procs.RUN_MARK]
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TZ": "UTC", "SPARK_GRAFT_CPUS": str(CORES),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(tmp), "TMPDIR": str(tmp),
    })
    time.tzset()

    import gen
    import oracle

    t0 = time.perf_counter()
    data_dir = _inputs(wl, args.seed)
    t_gen = time.perf_counter() - t0
    t_import = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    from dask_spark.queries import REGISTRY

    import_s = time.perf_counter() - t_import
    sqls = {q: REGISTRY[q][1] for q in wl["queries"]}
    refs = oracle.references(data_dir, sqls, WORK / "refs", gen.TABLES)
    print(f"# inputs {t_gen:.2f}s, references "
          f"{time.perf_counter() - t0 - t_gen - import_s:.2f}s", file=sys.stderr)
    run = Run(args, wl, data_dir, refs,
              {q: oracle.rounded_columns(sql) for q, sql in sqls.items()})
    setups = [run.setup()]
    print(f"# set-up {setups[0]:.2f}s", file=sys.stderr)
    if args.trace:
        import tracing

        run.counts = dict.fromkeys(tracing.COUNTERS, 0)
        tracing.count_calls(run.counts)
        run.tracer = tracing.Tracer(run.spark, CORES)
    cold = run.run_pass("cold", 0)
    n = 1
    for _ in range(WARMUP_PASSES):
        run.run_pass("warmup", n)
        n += 1
    # a traced run alternates untraced and traced passes, half as many
    # of each, so it costs about as much as an untraced run
    kinds = [False, True] if args.trace else [False]
    for _ in range(timed_passes(wl, args.seconds / len(kinds))):
        for traced in kinds:
            run.run_pass("timed", n, traced)
            n += 1
    run.jvm_rss_mb = procs.vm_hwm_mb(run.jvm) if run.jvm else 0.0
    run.stop()
    if not args.trace:
        # the further set-ups come last, so they do not disturb the
        # measured JVM; each starts a fresh JVM of its own
        for _ in range(SETUPS - 1):
            setups.append(run.setup())
            run.stop()
        print("# set-ups " + ", ".join(f"{s:.2f}s" for s in setups),
              file=sys.stderr)
    return summarize(args, run, cold, setups, import_s)


def summarize(args, run, cold, setups, import_s) -> dict:
    timed = [p for p in run.passes if p["kind"] == "timed"]
    plain = [p for p in timed if not p["traced"]]
    lat = [x for p in timed for x in p["latencies"]]
    tail_s, tail_p = tail(lat)
    failed = sum(not r["ok"] for r in run.execs)
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": CORES,
        "passes": [{k: v for k, v in p.items() if k != "latencies"}
                   for p in run.passes],
        "query_tail": {"percentile": tail_p, "samples": len(lat)},
        "setups_s": setups,
        "steal_s_timed": sum(p["steal_s"] for p in timed),
        "executions": [{k: v for k, v in r.items() if k != "intervals"}
                       for r in run.execs],
    }
    if args.trace:
        traced = [p for p in timed if p["traced"]]
        med = {k: _median([p["counters"][k] for p in traced])
               for k in traced[0]["counters"]}
        wall_t = _median([p["wall_s"] for p in traced])

        def m(key):
            return _median([p[key] for p in traced])

        metrics = {
            "session.jvm_start_s": (import_s + setups[0], "s"),
            "queries.build_s": (_median([sum(
                r["build_s"] for r in run.execs
                if r["pass"] == p["pass"] and "build_s" in r)
                for p in traced]), "s"),
            "queries.build_jobs": (med["build_jobs"], "count"),
            "actions.jobs": (med["jobs"], "count"),
            "actions.stages": (med["stages"], "count"),
            "actions.tasks": (med["tasks"], "count"),
            "driver.gap_s": (m("gap_s"), "s"),
            "driver.python_cpu_s": (m("python_cpu_s"), "s"),
            "catalyst.analysis_s": (med["analysis"], "s"),
            "catalyst.optimization_s": (med["optimization"], "s"),
            "catalyst.planning_s": (med["planning"], "s"),
            "plan.shuffles": (med["shuffles"], "count"),
            "plan.codegen_stages": (med["codegen_stages"], "count"),
            "plan.broadcast_joins": (med["broadcast_joins"], "count"),
            "executor.run_s": (med["run_s"], "s"),
            "executor.cpu_s": (med["cpu_s"], "s"),
            "executor.gc_s": (med["gc_s"], "s"),
            "executor.busy_frac": (med["run_s"] / (wall_t * CORES), "ratio"),
            "stage.starved_s": (med["starved_s"], "s"),
            "scan.input_mb": (med["input_mb"], "MB"),
            "shuffle.write_mb": (med["shuffle_write_mb"], "MB"),
            "shuffle.read_mb": (med["shuffle_read_mb"], "MB"),
            "spill.mb": (med["spill_mb"], "MB"),
            "reuse.cached_mb": (med["cached_mb"], "MB"),
            "reuse.blocks": (med["blocks"], "count"),
            "reuse.gate_hits": (med["gate_hits"], "count"),
            "reuse.checkpoints": (med["checkpoints"], "count"),
            "arrow.sites": (med["arrow_sites"], "count"),
            "arrow.python_cpu_s": (m("arrow_cpu_s"), "s"),
            "arrow.workers": (max(p["arrow_workers"] for p in traced), "count"),
            "jvm.jit_s": (m("jit_s"), "s"),
            "jvm.gc_s": (m("jvm_gc_s"), "s"),
            "driver.peak_rss_mb": (run.jvm_rss_mb, "MB"),
            "workers.peak_rss_mb": (max(p["workers_rss_mb"] for p in traced),
                                    "MB"),
            "host.steal_s": (m("steal_s"), "s"),
            "pass.cold_s": (cold["wall_s"], "s"),
            "pass.cold_cpu_s": (cold["cpu_s"], "s"),
            "pass.wall_s": (_median([p["wall_s"] for p in plain]), "s"),
            "query.p50_s": (_median(lat), "s"),
            "query.tail_s": (tail_s, "s"),
            "trace.overhead_frac": (
                wall_t / _median([p["wall_s"] for p in plain]) - 1, "ratio"),
        }
        # each layer's share of a traced warm pass: wall-clock layers
        # over the pass wall, core-time layers over wall x cores
        v = {k: val for k, (val, _) in metrics.items()}
        core_s = wall_t * CORES
        detail["shares"] = {
            "driver.gap": v["driver.gap_s"] / wall_t,
            "queries.build": v["queries.build_s"] / wall_t,
            "catalyst": (v["catalyst.analysis_s"] + v["catalyst.optimization_s"]
                         + v["catalyst.planning_s"]) / wall_t,
            "executor.run": v["executor.run_s"] / core_s,
            "arrow.python_cpu": v["arrow.python_cpu_s"] / core_s,
            "jvm.jit": v["jvm.jit_s"] / core_s,
            "jvm.gc": v["jvm.gc_s"] / wall_t,
        }
        print("# layer shares of a warm pass: " + ", ".join(
            f"{k} {x:.3f}" for k, x in detail["shares"].items()),
            file=sys.stderr)
        detail["spans"] = run.tracer.spans
        detail["pins"] = pins(args, run)
    else:
        metrics = {
            "cpu_s": (_median([p["cpu_s"] for p in plain]), "s"),
            "setup_s": (_median(setups), "s"),
        }
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    out = WORK / "out"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}_seed{args.seed}_trace{args.trace}.json"
     ).write_text(json.dumps(detail, indent=1, default=str))
    if args.trace and not detail["pins"]["ok"]:
        raise SystemExit("layerbench: exact counts differ from pins.json "
                         "or between traced passes (see above)")
    print(f"# {args.workload} seed {args.seed}: host steal over timed passes "
          f"{detail['steal_s_timed']:.2f}s; query tail at "
          f"p{tail_p} of {detail['query_tail']['samples']} warm executions", file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(run.execs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def _source_digest(workload: str) -> str:
    """Digest of the ``dask_spark/`` sources and the workload's
    definition: what the exact counts depend on, besides seed and cores."""
    import hashlib

    h = hashlib.sha256()
    for f in sorted((ROOT / "dask_spark").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(json.dumps(WORKLOADS[workload], sort_keys=True).encode())
    return h.hexdigest()[:16]


PIN_KEYS = ("jobs", "stages", "tasks", "build_jobs", "shuffles",
            "codegen_stages", "broadcast_joins", "arrow_sites",
            "checkpoints", "pins", "gate_hits")


def pins(args, run) -> dict:
    """Exact per-query counts of the first traced pass, checked against
    (and with ``--pin`` written to) pins.json. ``ok`` is False when a
    query's counts differ between traced passes of the run or from the
    counts pinned for the same digest, seed and cores; the queries in
    ``KNOWN_UNSTABLE`` are reported but neither pinned nor compared."""
    traced = [r for r in run.execs if "counters" in r]
    first = min(r["pass"] for r in traced)

    def counts(r):
        return {k: r["counters"][k] for k in PIN_KEYS}

    got = {r["query"]: counts(r) for r in traced if r["pass"] == first}
    unstable = sorted({r["query"] for r in traced
                       if counts(r) != got.get(r["query"])})
    known = {q for w, q in KNOWN_UNSTABLE if w == args.workload}
    stable = {q: c for q, c in got.items() if q not in known}
    path = HERE / "pins.json"
    book = json.loads(path.read_text()) if path.exists() else {}
    digest = _source_digest(args.workload)
    key = f"{args.workload} seed {args.seed} cores {CORES}"
    want = book.get(digest, {}).get(key)
    status = "absent" if want is None else (
        "match" if want == stable else "differ")
    if args.pin:
        book.setdefault(digest, {})[key] = stable
        path.write_text(json.dumps(book, indent=1, sort_keys=True) + "\n")
    ok = (args.pin or status != "differ") and not set(unstable) - known
    print(f"# pins {status} (digest {digest}, {key}); counts unstable "
          f"across traced passes: {unstable or 'none'} (known: "
          f"{sorted(known) or 'none'})", file=sys.stderr)
    return {"status": status, "digest": digest, "key": key, "ok": ok,
            "unstable": unstable, "counts": got}


# ----------------------------------------------------------------------
# parent: process hygiene around the worker


def parent(args) -> int:
    # the log scanner is loaded by file path, so this process does not
    # import the package (and pyspark) just to read the worker's log
    plans = ROOT / "dask_spark" / "plans" / "__init__.py"
    if not plans.exists():
        print(f"layerbench: no dask_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = importlib.util.spec_from_file_location("_plans", plans)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    codegen_failure_lines = mod.codegen_failure_lines
    if args.workload not in WORKLOADS:
        print(f"layerbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    busy = [p for p in procs.leftovers() if p["cores"] >= 0.2]
    for p in busy:
        print(f"# leftover process burning {p['cores']} cores: pid "
              f"{p['pid']} {p['cmd']}", file=sys.stderr)

    token = uuid.uuid4().hex[:12]
    env = dict(os.environ, **{procs.RUN_MARK: token})
    cmd = [sys.executable, str(Path(__file__).resolve()), "--worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.pin:
        cmd.append("--pin")
    fallbacks: list[str] = []
    proc = None

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.PIPE, text=True)

        out: list[str] = []

        def pump_err():
            for line in proc.stderr:
                sys.stderr.write(line)
                fallbacks.extend(codegen_failure_lines(line))

        pumps = [threading.Thread(target=pump_err, daemon=True),
                 threading.Thread(target=lambda: out.extend(proc.stdout),
                                  daemon=True)]
        for t in pumps:
            t.start()
        try:
            proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"layerbench: run exceeded {DEADLINE_S}s", file=sys.stderr)
            return 1
        for t in pumps:
            t.join(timeout=5)
        lines = [ln for ln in out if ln.startswith("{")]
        if proc.returncode != 0 or not lines:
            print(f"layerbench: worker exited {proc.returncode} without a "
                  "result", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.trace:
            result["metrics"]["plan.codegen_fallbacks"] = {
                "value": len(fallbacks), "unit": "count"}
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        left = procs.reap(token)
        if left:
            print(f"layerbench: could not reap {left}", file=sys.stderr)
        shutil.rmtree(WORK / "tmp" / token, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this traced run's exact counts in pins.json")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not args.worker:
        return parent(args)
    result = worker(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
