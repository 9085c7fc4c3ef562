"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tiff_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  One process, one closed-loop
client, on ``local[N]`` with N = the CPUs this process may use.  The
run starts one Spark session, then sets up ``SETUP_PASSES`` times
(fixture, build, warm-up ops; each pass from a clean state) and
reports set-up time as the session start plus the median pass.  It
then runs ops back to back for ``--seconds`` and checks every op's
output against numpy.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables
spans, job groups and Spark's event log and prints the per-layer
metrics instead.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is
0 only when every op's output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from proctree import RssSampler, process_start_epoch, tree_cpu_s, tree_pids  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_PASSES = 3
DRIVER_MEMORY = "2g"
# op_tail_s percentile, the same for every workload: at the run length
# the time budget allows no workload gets enough ops for a higher one
# to keep 10 samples beyond it, so the highest steady one is fixed.
TAIL_PERCENTILE = 75


def _session_env(work: Path, trace: bool) -> None:
    """Everything the session needs, fixed before the JVM starts:
    CPU count, driver memory, no console progress bar, scratch dirs
    inside ``work``, and (traced run only) the event log."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(tmp),
        # Python workers import the engine from this checkout too
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # initial heap = max heap: no heap resizing between runs
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if trace:
        (work / "events").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = ["--driver-memory", DRIVER_MEMORY]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _import_engine():
    """Import the engine from this checkout, never from elsewhere."""
    sys.path.insert(0, str(ROOT))
    import ome_arrow_spark

    if Path(ome_arrow_spark.__file__).resolve().parent.parent != ROOT:
        raise ImportError(f"ome_arrow_spark not from {ROOT}")
    return ome_arrow_spark


def _shutdown() -> None:
    """Stop the Spark context and the JVM it runs in, if started, and
    wait for every child process to end."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
    _reap_leftovers()


def _reap_leftovers() -> None:
    """Terminate and wait for any child process still alive."""
    left = [p for p in tree_pids() if p != os.getpid()]
    for pid in left:
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline and any(
        p != os.getpid() for p in tree_pids()
    ):
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


def ambient_probe() -> dict[str, float]:
    """How fast this box is right now, independent of the engine: a
    fixed pure-Python loop (CPU) and a 64 MB numpy copy (memory
    bandwidth).  Printed beside every run so a slow run can be told
    apart from a slow program."""
    import numpy as np

    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    spin = time.perf_counter() - t
    a = np.ones(8 * 2**20)
    b = np.empty_like(a)
    t = time.perf_counter()
    for _ in range(4):
        np.copyto(b, a)
    bw = 4 * 2 * a.nbytes / (time.perf_counter() - t) / 1e9
    return {"spin_s": spin, "membw_gbps": bw}


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _layer_metrics(workload, seed, wl, tr, work, app_id, ops, passes,
                   window, probes) -> dict:
    """Parse the run's event log, join it to the spans, and keep the
    spans and per-layer figures under ``.bench_work/traces``."""
    import layers
    from spans import EventLog, find_event_log

    with open(ROOT / "BENCHMARK.json") as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    log = EventLog(find_event_log(str(work / "events"), app_id))
    vals = layers.compute(
        list(units), workload, wl, tr.spans, log, ops, passes, window, probes
    )
    out = ROOT / ".bench_work" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    tr.dump(str(out / f"{workload}-{seed}.spans.json"))
    with open(out / f"{workload}-{seed}.layers.json", "w") as f:
        json.dump({"passes": passes, "per_layer": vals}, f, indent=1)
    return {
        k: {"value": float(v), "unit": units[k]} for k, v in vals.items()
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = ROOT / ".bench_work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return _run(workload, seed, seconds, trace, work)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)


def _run(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    t_proc = process_start_epoch()
    _session_env(work, trace)
    _import_engine()

    import numpy as np

    from ome_arrow_spark.session import get_spark
    from spans import NullTracer, Tracer

    tr = Tracer() if trace else NullTracer()
    wl = WORKLOADS[workload]()
    attempted = failed = 0
    with tr.span("session.get_spark", op=-100):
        spark = get_spark(app_name=f"perfbench-{workload}")
    tr.attach(spark)
    start_s = time.time() - t_proc
    passes = []
    for p in range(SETUP_PASSES):
        t1 = time.time()
        with tr.span("bench.fixture", op=-100 - p):
            wl.fixture(np.random.default_rng(seed), str(work))
        t2 = time.time()
        with tr.span("bench.build", op=-100 - p):
            wl.build(spark, tr)
        t3 = time.time()
        for w in range(wl.warmup_ops):
            tr.op = -1000 * (p + 1) - w
            with tr.span("op"):
                ok = wl.op(spark, tr, w)
            if not ok:
                raise AssertionError(f"{workload}: warm-up op output mismatch")
        tr.op = None
        t4 = time.time()
        passes.append(
            {"setup_s": start_s + t4 - t1, "start_s": start_s,
             "fixture_s": t2 - t1, "build_s": t3 - t2,
             "create_s": getattr(wl, "create_s", 0.0), "warmup_s": t4 - t3}
        )

    amb_before = ambient_probe()
    lat = []
    op_spans = []
    rss = RssSampler().start()
    cpu0 = tree_cpu_s()
    w0 = time.perf_counter()
    i = 0
    while time.perf_counter() - w0 < seconds:
        tr.op = i
        attempted += 1
        s0 = time.perf_counter()
        try:
            with tr.span("op") as sp:
                ok = wl.op(spark, tr, wl.warmup_ops + i)
        except Exception as e:  # counted, reported, run marked incorrect
            print(f"op {i} failed: {e!r}", file=sys.stderr)
            ok = False
        lat.append(time.perf_counter() - s0)
        op_spans.append(sp)
        failed += not ok
        i += 1
    window = time.perf_counter() - w0
    cpu = tree_cpu_s() - cpu0
    peak = rss.stop()
    tr.op = None
    amb_after = ambient_probe()
    ambient = {
        k: statistics.mean([amb_before[k], amb_after[k]]) for k in amb_before
    }
    probes = wl.probes(spark, tr) if trace and hasattr(wl, "probes") else {}
    final_ok = wl.final_check(spark, tr) if hasattr(wl, "final_check") else True
    done = attempted - failed

    e2e = {
        "setup_s": (statistics.median(p["setup_s"] for p in passes), "s"),
        "ops_per_s": (done / window, "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (percentile(lat, TAIL_PERCENTILE), "s"),
        "cpu_s_per_op": (cpu / max(done, 1), "s"),
        "peak_rss_mb": (peak, "MB"),
    }
    print(
        f"# {workload} seed={seed} ops={attempted} failed={failed} "
        f"window={window:.3f}s p50 n={len(lat)} "
        f"tail=p{TAIL_PERCENTILE} "
        f"setup passes={[{k: round(v, 2) for k, v in p.items()} for p in passes]}"
    )
    print(f"# op latencies (s): {[round(x, 3) for x in lat]}")
    median_pass = sorted(passes, key=lambda p: p["setup_s"])[len(passes) // 2]
    print(f"# setup {json.dumps(median_pass)}")
    print(f"# ambient {json.dumps(ambient)}")
    if hasattr(wl, "summary"):
        print(f"# {wl.summary()}")
    app_id = spark.sparkContext.applicationId
    _shutdown()  # also flushes the event log
    if trace:
        metrics = _layer_metrics(
            workload, seed, wl, tr, work, app_id,
            [sp.op for sp in op_spans], passes, window, probes,
        )
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    return {
        "correct": failed == 0 and final_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    res = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
