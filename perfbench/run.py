#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 10 --trace 0

Runs one workload against a stock, host-sized ``OlapEngine`` session
built from the checkout this file sits in, checks every output, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A JSON
artifact with host facts, the per-op breakdown and (traced) the spans
is written under ``.perfbench/out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_PASSES = 3
STEAL_LIMIT = 0.05


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def host_facts() -> dict:
    import pyspark

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(ram / 1024**3, 1),
        "spark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    CPU time the hypervisor gave to other guests shows box contention."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def driver_memory() -> str:
    """A quarter of physical RAM, whole GiB, within [1g, 24g] (24g is
    ``EngineConfig``'s own default ceiling)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(ram // 4 // 1024**3, 1), 24)}g"


def _stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat from the state on (state, ppid, ...,
    start time at index 19); empty when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return []


class RssSampler:
    """Peak resident set of the driver JVM plus its Python workers:
    every descendant of this process, summed, sampled every 0.1 s on a
    daemon thread. Remembers each process it saw (pid, start time) so
    the run can wait for all of them to end."""

    def __init__(self):
        self.peak = 0
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendants(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit() and (st := _stat(d)):
                parent[int(d)] = int(st[1])
        found, frontier = [], [os.getpid()]
        while frontier:
            kids = [c for c, pp in parent.items() if pp == frontier[-1]]
            frontier.pop()
            found += kids
            frontier += kids
        return found

    def sample(self) -> None:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
                self.seen.setdefault(pid, _stat(pid)[19])
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def wait_gone(self, timeout: float = 20.0) -> None:
        """Wait until every process seen has exited (Python workers
        end after their JVM); kill any still running after that."""

        def alive() -> list[int]:
            return [
                p for p, start in self.seen.items()
                if (st := _stat(p)) and st[0] != "Z" and st[19] == start
            ]

        deadline = time.time() + timeout
        while alive() and time.time() < deadline:
            time.sleep(0.1)
        for p in alive():
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)


class Spans:
    """Harness call spans of the current operation. In a traced run
    the k-th call of op n also sets the Spark job group
    ``op<n>.<k>.<call>``."""

    def __init__(self):
        self.tracer = None
        self.op_id = 0
        self.calls: list[tuple[str, float, float]] = []
        self.totals: dict[str, float] = {}

    def begin(self, op_id: int) -> None:
        self.op_id, self.calls = op_id, []

    @contextlib.contextmanager
    def __call__(self, name: str):
        traced = self.tracer is not None and self.op_id
        if traced:
            self.tracer.group(self.op_id, len(self.calls), name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.calls.append((name, t0, t1))
            self.totals[name] = self.totals.get(name, 0.0) + (t1 - t0)
            if traced:
                self.tracer.clear()


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM it runs in, and wait for
    that process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def attempt(op, ctx) -> tuple[float, str | None]:
    """Time one op's call; then, untimed, check its output. Returns
    (seconds, None) or (seconds, what went wrong)."""
    t0 = time.perf_counter()
    try:
        got = op.call(ctx)
    except Exception as e:
        seconds = time.perf_counter() - t0
        traceback.print_exc(file=sys.stderr)
        return seconds, f"raised {e!r}"[:300]
    seconds = time.perf_counter() - t0
    try:
        return seconds, op.check(got)
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        return seconds, f"check raised {e!r}"[:300]


def timed_loop(wl, ctx, spans, tracer, seconds: float, first_round: int) -> dict:
    """Whole rounds only, so every run times each distinct op equally
    often: a new round starts while the timed op seconds are under
    ``seconds`` (checks and the traced harvest do not count, so traced
    and untraced runs time the same rounds) or fewer than the
    workload's ``MIN_ROUNDS`` ran."""
    from perfbench.stats import Tally

    tally = Tally()
    per_op: list[tuple[str, dict]] = []
    calls: list[tuple[int, str, float]] = []  # (op id, harness call, seconds)
    rnd, timed = first_round, 0.0
    steal0, total0 = cpu_ticks()
    loop_t0 = time.perf_counter()
    while timed < seconds or rnd - first_round < wl.MIN_ROUNDS:
        for op in wl.round(ctx, rnd):
            op_id = spans.op_id + 1
            spans.begin(op_id)
            w0 = time.time()
            secs, problem = attempt(op, ctx)
            timed += secs
            tally.record(op.name, secs, problem)
            calls += [(op_id, name, b - a) for name, a, b in spans.calls]
            if tracer is not None:
                m = tracer.harvest(op_id, op.name, w0, w0 + secs, spans.calls)
                for name, a, b in spans.calls:
                    m[f"call.{name}"] = m.get(f"call.{name}", 0.0) + (b - a)
                m["op_s"] = secs
                per_op.append((op.name, m))
        rnd += 1
    steal1, total1 = cpu_ticks()
    return {
        "tally": tally, "per_op": per_op, "calls": calls,
        "first_round": first_round, "next_round": rnd,
        "loop_s": time.perf_counter() - loop_t0,
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
    }


def run(args, work: str, out_dir: str, rss: RssSampler, host: dict) -> dict:
    from gpu_olap_engine_spark import EngineConfig, OlapEngine
    from gpu_olap_engine_spark.session import get_spark

    from perfbench import stats
    from perfbench.gen import GEN_VERSION
    from perfbench.trace import EXACT_COUNTS, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    cores = os.cpu_count() or 1
    cfg = EngineConfig(
        driver_memory=driver_memory(),
        # deployment paths and console only; every engine knob stays default
        extra_confs={
            "spark.local.dir": os.path.join(work, "spark"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    wl = WORKLOADS[args.workload]()
    spans = Spans()
    t0 = time.perf_counter()
    wl.generate(Ctx(engine=None, spark=None, work=work, seed=args.seed))
    gen_s = time.perf_counter() - t0

    # Set-up passes: session start plus input registration. The first
    # pass also launches the JVM; the median is the warm-process cost.
    setup_passes, session_starts = [], []
    spark = None
    for _ in range(SETUP_PASSES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(cfg, master=f"local[{cores}]")
        session_starts.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(engine=OlapEngine(cfg, spark=spark), spark=spark, work=work, seed=args.seed, spans=spans)
        spans.totals = {}
        wl.register(ctx)
        setup_passes.append(time.perf_counter() - t0)
    setup_totals = dict(spans.totals)

    # One untimed call of every distinct op; only the calls count
    # towards set-up, their output checks (harness work) do not.
    warm_ops, warm_failures = [], []
    for op in wl.warmup(ctx):
        seconds, problem = attempt(op, ctx)
        warm_ops.append((op.name, seconds))
        if problem:  # shows again, timed
            warm_failures.append(f"{op.name}: {problem}")
    warmup_s = sum(s for _, s in warm_ops)
    setup_s = statistics.median(setup_passes) + warmup_s

    tracer = Tracer(spark, cores) if args.trace else None
    spans.tracer = tracer
    cached_after_warmup = tracer.rest.get("/storage/rdd") if tracer else []
    # A timed loop that ran while the hypervisor gave more than
    # STEAL_LIMIT of this guest's CPU time to other guests measured the
    # host, not the engine: run one more and keep the calmer of the
    # two. Every attempt's outputs are checked and its failures count.
    attempts = []
    for _ in range(2):
        first_round = attempts[-1]["next_round"] if attempts else 0
        attempts.append(timed_loop(wl, ctx, spans, tracer, args.seconds, first_round))
        if attempts[-1]["steal_share"] <= STEAL_LIMIT:
            break
    kept = min(attempts, key=lambda a: a["steal_share"])
    tally, calls, per_op = kept["tally"], kept["calls"], kept["per_op"]
    rss.sample()

    lat = tally.seconds()
    tail_p = wl.TAIL
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (stats.percentile(lat, 0.5) if lat else 0.0, "s"),
        "op_tail_s": (stats.percentile(lat, tail_p) if lat else 0.0, "s"),
        # closed loop, one client: ops per minute of engine time (the
        # loop's wall also holds output checks and, traced, the harvest)
        "ops_per_min": (60.0 * len(lat) / sum(lat) if lat else 0.0, "1/min"),
    }

    layer: dict[str, tuple[float, str]] = {}
    by_name: dict[str, dict] = {}
    if tracer is not None:
        layer = layer_metrics(wl, calls, per_op, session_starts, setup_totals, cached_after_warmup, rss.peak)
        for name in sorted({n for n, _ in per_op}):
            rows = [m for n, m in per_op if n == name]
            keys = sorted({k for m in rows for k in m})
            by_name[name] = {
                "n": len(rows),
                "mean": {k: statistics.fmean(m.get(k, 0.0) for m in rows) for k in keys},
                "exact_repeat": {
                    k: len({m.get(k, 0.0) for m in rows}) == 1 for k in EXACT_COUNTS
                },
            }

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "generator": GEN_VERSION, "host": host,
        "spark_confs": cfg.spark_confs(), "master": f"local[{cores}]",
        "generate_s": gen_s, "setup_passes_s": setup_passes, "session_start_s": session_starts,
        "warmup_s": warmup_s, "warmup_ops_s": warm_ops, "warmup_failures": warm_failures,
        "attempts": [
            {"steal_share": a["steal_share"], "rounds": a["next_round"] - a["first_round"],
             "loop_s": a["loop_s"], "latencies": a["tally"].latencies, "failures": a["tally"].failures}
            for a in attempts
        ],
        "kept_attempt": attempts.index(kept), "samples": len(lat),
        "tail_percentile": tail_p, "samples_beyond_tail": stats.samples_beyond(len(lat), tail_p),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "peak_rss_mb": rss.peak / 1024**2,
        "per_layer": {k: v for k, (v, _) in layer.items()},
        "per_op": by_name,
        "calls": calls,
    }
    if tracer is not None:
        artifact["spans"] = tracer.spans
        artifact["overhead"] = overhead(out_dir, args, e2e)
    t0 = time.perf_counter()
    stop_session(spark)
    artifact["stop_s"] = time.perf_counter() - t0
    wl.close()
    failures = [f for a in attempts for f in a["tally"].failures]
    attempted = sum(a["tally"].attempted for a in attempts)
    return {"failures": failures, "attempted": attempted, "e2e": e2e, "layer": layer, "artifact": artifact}


# Per-layer metrics of a traced run, with units, in report order.
PER_LAYER = {
    "session.start_s": "s", "process.peak_rss_mb": "MB",
    "engine.load_table_s": "s", "engine.cached_mb": "MB", "engine.execute_query_s": "s",
    "engine.to_pandas_s": "s", "engine.query_pandas_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.sink_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_wall_s": "s", "sched.driver_gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio",
    "exec.task_skew": "ratio", "exec.failed_tasks": "count",
    "exchange.write_mb": "MB", "exchange.read_mb": "MB", "exchange.fetch_wait_s": "s",
    "exchange.partitions": "count", "exchange.spill_mb": "MB",
    "join.out_rows": "count", "join.fanout": "ratio", "join.build_ms": "ms",
    "agg.build_ms": "ms", "sort.ms": "ms", "codegen.ms": "ms",
    "python.run_s": "s", "python.start_s": "s", "python.sent_mb": "MB", "python.returned_mb": "MB",
    "scan.files": "count", "scan.mb": "MB", "scan.rows": "count", "scan.ms": "ms",
    "storage.cached_mb": "MB", "storage.cached_rdds": "count",
    "table.read_s": "s", "table.read_tail_s": "s", "table.write_s": "s", "table.write_tail_s": "s",
    "table.append_s": "s", "table.merge_s": "s", "table.delete_s": "s", "table.compact_s": "s",
    "table.files_live": "count", "table.prune_ratio": "ratio", "table.write_amp": "ratio",
    "table.versions": "count", "table.bytes_per_live_byte": "ratio",
}


def layer_metrics(wl, calls, per_op, session_starts, setup_totals, cached, peak_rss) -> dict:
    """Per-layer numbers of a traced run. Spark-side figures are means
    per op; a harness call's figure is its mean per op over the ops
    that make that call; table latencies are medians and tails over
    the individual table calls. A layer the workload does not use
    reads 0."""
    from perfbench import stats
    from perfbench.trace import MB

    def mean(vals) -> float:
        vals = list(vals)
        return statistics.fmean(vals) if vals else 0.0

    def lat(names: tuple[str, ...], tail: bool = False) -> float:
        xs = [s for _, n, s in calls if n in names]
        return stats.percentile(xs, stats.tail_quantile(len(xs)) if tail else 0.5) if xs else 0.0

    v = {
        "session.start_s": statistics.median(session_starts),
        "process.peak_rss_mb": peak_rss / MB,
        "engine.load_table_s": setup_totals.get("load_table", 0.0),
        "engine.cached_mb": sum(r["memoryUsed"] + r["diskUsed"] for r in cached) / MB,
        "queries.build_jobs": mean(m.get("jobs.build", 0) for _, m in per_op if "call.build" in m),
    }
    for key, call in (
        ("engine.execute_query_s", "execute_query"), ("engine.to_pandas_s", "to_pandas"),
        ("engine.query_pandas_s", "query_pandas"), ("queries.build_s", "build"),
        ("queries.sink_s", "sink"),
    ):
        v[key] = mean(m[f"call.{call}"] for _, m in per_op if f"call.{call}" in m)
    for key in PER_LAYER:
        if key.split(".")[0] in ("sched", "exec", "exchange", "join", "agg", "sort", "codegen", "python", "scan"):
            v[key] = mean(m.get(key, 0.0) for _, m in per_op)
    last = per_op[-1][1] if per_op else {}
    v["storage.cached_mb"] = last.get("storage.cached_mb", 0.0)
    v["storage.cached_rdds"] = float(last.get("storage.cached_rdds", 0))

    writes = ("append", "merge", "delete")
    v.update({
        "table.read_s": lat(("read",)), "table.read_tail_s": lat(("read",), tail=True),
        "table.write_s": lat(writes), "table.write_tail_s": lat(writes, tail=True),
        "table.append_s": lat(("append",)), "table.merge_s": lat(("merge",)),
        "table.delete_s": lat(("delete",)), "table.compact_s": lat(("compact",)),
    })
    if hasattr(wl, "table_stats"):
        v.update(wl.table_stats())
        written = sum(m.get(f"rows_written.{w}", 0) for _, m in per_op for w in writes)
        named = sum(wl.USER_ROWS[n] for _, n, _ in calls if n in writes)
        v["table.write_amp"] = written / named if named else 0.0
    return {k: (float(v.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


def overhead(out_dir: str, args, e2e: dict) -> dict | str:
    """Traced end-to-end figures against the untraced run of the same
    workload and seed, when its artifact is present."""
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
    if not os.path.exists(path):
        return "no untraced artifact for this workload and seed; run --trace 0 first"
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    return {k: e2e[k][0] / base[k] for k in base if k in e2e and base[k]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gpu_olap_engine_spark", "__init__.py")):
        return _fail(f"no gpu_olap_engine_spark package under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    # Everything the run writes stays in the checkout; Python workers
    # import the engine from it.
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    host = host_facts()
    steal0, total0 = cpu_ticks()
    rss = RssSampler().start()
    try:
        res = run(args, work, out_dir, rss, host)
    finally:
        rss.stop()
        rss.wait_gone()
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    res["artifact"]["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)

    failures, art = res["failures"], res["artifact"]
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(art, f, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed} generator {art['generator']} host {json.dumps(art['host'])}")
    steals = ", ".join(f"{a['steal_share']:.1%}" for a in art["attempts"])
    print(f"samples {art['samples']} tail p{art['tail_percentile'] * 100:g} ({art['samples_beyond_tail']} beyond) "
          f"setup passes {[round(x, 2) for x in art['setup_passes_s']]} warm-up {art['warmup_s']:.2f}s "
          f"cpu steal {art['steal_share']:.1%} (timed loops: {steals}; kept #{art['kept_attempt'] + 1}) "
          f"peak rss {art['peak_rss_mb']:.0f} MB")
    print(f"fail_ratio {len(failures)}/{res['attempted']}")
    for n, problem in failures:
        print(f"FAILED {n}: {problem}")
    for k, (v, u) in res["e2e"].items():
        print(f"  {k:<28} {v:12.4f} {u}")
    if args.trace:
        for k, (v, u) in res["layer"].items():
            print(f"  {k:<28} {v:12.4f} {u}")
        for op, d in art["per_op"].items():
            brief = {k: round(d["mean"].get(k, 0.0), 4) for k in ("op_s", "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_gap_s", "exec.run_s")}
            print(f"  op {op:<26} n={d['n']} {brief}")
        print(f"  tracing overhead (traced / untraced): {art['overhead']}")
    metrics = res["layer"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
