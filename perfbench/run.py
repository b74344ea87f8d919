"""recsplit-spark benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

One driver thread submits one operation at a time to Spark ``local[4]``.
Inputs come from ``--seed`` and are cached before timing. Every result is
checked; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``, and any failed check
makes the exit code non-zero.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns the Spark
event log on, runs the untraced loop (its op wall is the reference for the
layer table and the tracing overhead), then the same loop with spans, the
floor jobs and the single-layer microbenches, and prints the per-layer
table and metrics.
All scratch files live under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
MIN_OPS = 3
#: untimed warm-up (ops, seconds of op time) before the loop: op walls keep
#: falling over the first few ops while the JVM compiles the hot paths
WARMUP_OPS, WARMUP_S = 2, 3.0
SETUP_REPS = 3
#: the loop stops starting ops after this many seconds of wall, so a slow
#: window still finishes within the 180 s a run may take
LOOP_DEADLINE_S = 90.0
#: grace before the JVM, then any other child, is killed at the end of a run
JVM_EXIT_S, CHILD_EXIT_S = 30.0, 10.0
PR_SET_CHILD_SUBREAPER = 36


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count for this process (Linux >= 4.0)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) process since the last reset."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker the JVM leaves behind is
    reparented here, so ``reap_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_jvm() -> None:
    """End the gateway JVM and wait for it. ``spark.stop()`` leaves it up
    until the Python process exits; it quits on EOF of its stdin."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # noqa: BLE001 — the JVM is ended below either way
        log(f"gateway shutdown: {type(e).__name__}: {e}")
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=JVM_EXIT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM still up {JVM_EXIT_S:.0f} s after its stdin closed; killing it")
        proc.kill()
        proc.wait()


def _child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # "pid (comm) state ppid ...": comm may hold spaces and parens
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(entry))
    return pids


def reap_children(grace_s: float = CHILD_EXIT_S) -> None:
    """Wait until this process has no child left (orphans adopted by
    ``adopt_orphans`` included); kill what is still alive after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            if killed:
                log(f"children {_child_pids()} did not end after SIGKILL")
                return
            log(f"killing children still alive after {grace_s:.0f} s: {_child_pids()}")
            for p in _child_pids():
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def stop_processes() -> None:
    """Stop every process the run started and wait for each: the JVM (and
    through it the Python workers), the multiprocessing resource tracker the
    microbenches start, and any child left."""
    try:
        stop_jvm()
    finally:
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
        reap_children()


def start_session(run_dir: str, event_log: str | None):
    """``session.get_spark`` at ``local[4]``, every scratch path under
    ``run_dir``, the package shipped and the Python workers warm."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    conf = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Djava.net.preferIPv6Addresses=false",
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if event_log:
        os.makedirs(event_log)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{event_log}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"

    from recsplit_spark.session import get_spark, ship_package

    spark = get_spark(app_name="recsplit-perfbench", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    spark.sparkContext.addPyFile(os.path.join(HERE, "workloads.py"))  # task bodies of the benchmark's jobs
    from workloads import warm_workers

    spark.range(0, 4 * CORES, numPartitions=CORES).mapInPandas(warm_workers, schema="n long").collect()
    return spark


def measure(wl, tracer, seconds: float, min_ops: int = MIN_OPS) -> dict:
    """Closed loop: op, then its check, until ``seconds`` of op time and
    ``min_ops`` checked ops."""
    from workloads import CheckFailed

    walls, op_spans, errors, rss = [], [], [], []
    attempted = failed = 0
    last = None
    stop_at = time.monotonic() + LOOP_DEADLINE_S
    # the first failed op ends the loop: the run is already wrong
    while (sum(walls) < seconds or len(walls) < min_ops) and not failed and time.monotonic() < stop_at:
        attempted += 1
        reset_peak_rss()
        with tracer.span("op") as sp:
            t0 = time.perf_counter()
            try:
                res = wl.op(tracer)
            except Exception as e:  # noqa: BLE001 — a raising op counts as failed
                failed += 1
                errors.append(f"op raised {type(e).__name__}: {e}")
                continue
            wall = time.perf_counter() - t0
        op_rss = peak_rss_mb()
        try:
            wl.check(res)
        except CheckFailed as e:
            failed += 1
            errors.append(f"check failed: {e}")
            continue
        except Exception as e:  # noqa: BLE001 — a result the check cannot read is wrong
            failed += 1
            errors.append(f"check raised {type(e).__name__}: {e}")
            continue
        walls.append(wall)
        rss.append(op_rss)
        op_spans.append(sp)
        last = res
    for e in errors:
        log(f"{wl.name}: {e}")
    return {"walls": walls, "rss": rss, "op_spans": op_spans, "attempted": attempted, "failed": failed,
            "last": last}


def run_workload(args, run_dir: str, tracer) -> dict:
    """Session, input generation (``SETUP_REPS`` times; the median counts),
    prep, warm-up ops, the timed loop (when traced: an untraced reference
    loop, the traced loop and the floor jobs). Stops the session before
    returning."""
    from spans import Tracer
    from workloads import SIZES, WORKLOADS

    t0 = time.perf_counter()
    event_log = os.path.join(run_dir, "eventlog") if tracer.enabled else None
    spark = start_session(run_dir, event_log)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, SIZES[args.sizes])
        gen = []
        for _ in range(SETUP_REPS):
            wl.release()
            t0 = time.perf_counter()
            wl.generate()
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        prep_s = statistics.median(gen) + time.perf_counter() - t0
        log(f"{wl.name}: session {session_s:.2f} s, generate " + ", ".join(f"{g:.2f}" for g in gen)
            + f" s, prepare {time.perf_counter() - t0:.2f} s")
        warm = measure(wl, Tracer(False), WARMUP_S, WARMUP_OPS)
        timed = args.seconds if not warm["failed"] else 0.0
        # traced: the untraced reference loop runs first, in the same process
        ref = measure(wl, Tracer(False), timed, 0 if warm["failed"] else MIN_OPS) if tracer.enabled else None
        m = measure(wl, tracer, timed, 0 if warm["failed"] else MIN_OPS)
        for r in (warm, ref or {"attempted": 0, "failed": 0}):
            m["attempted"] += r["attempted"]
            m["failed"] += r["failed"]
        m.update(session_s=session_s, prep_s=prep_s, items=wl.items,
                 space=wl.space_bits_per_item(m["last"]) if m["last"] is not None else float("nan"),
                 salt_rerolls=wl.salt_rerolls, wl=wl, ref_walls=ref["walls"] if ref else [])
        if tracer.enabled and m["last"] is not None:
            m["floors"] = wl.floors(m["last"])
        return m
    finally:
        try:
            spark.stop()
        finally:
            stop_jvm()


def compute_model_s(workload: str, wl, micro_m: dict) -> float:
    """In-task compute of one op, modelled from the ``_par4`` microbenches
    (per-core cost with every core busy) spread over the ``CORES`` cores."""
    p = f"_big_par{CORES}"
    if workload == "build":
        per_core = wl.items * micro_m["kernel.build_us_per_key" + p] * 1e-6
    elif workload == "lookup":
        per_core = wl.items * micro_m["evaluate.walk_ns_per_key" + p] * 1e-9
    else:
        per_window = sum(micro_m[f"sketches.{k}" + p] for k in
                         ("window_hash_ns_per_window", "hll_update_ns_per_elem", "cms_update_ns_per_elem"))
        per_doc = micro_m["sketches.kll_update_ns_per_elem" + p] + micro_m["sketches.hll_update_ns_per_elem" + p]
        per_core = (wl.items * per_window + wl.n_docs * per_doc) * 1e-9
    return per_core / CORES


def spark_per_op(tracer, op_spans, jobs: dict) -> dict:
    """Attach event-log jobs to the op spans they ran in; per-op medians."""
    from spans import covered

    rows = []
    for sp in op_spans:
        mine = [j for j in jobs.values() if j["end"] is not None and sp["start"] <= j["start"] <= sp["end"]]
        for j in mine:
            tracer.add("spark.job", sp["id"], j["start"], j["end"])
        rows.append({
            "jobs": len(mine),
            "job_s": covered([(j["start"], j["end"]) for j in mine], sp["start"], sp["end"]),
            "driver_self_s": tracer.self_time(sp["id"]),
            "codecs_s": sum(c["end"] - c["start"] for c in tracer.children(sp["id"]) if c["name"] == "codecs.from_bytes"),
            **{k: sum(j[k] for j in mine) for k in
               ("tasks", "failed", "run_s", "cpu_s", "gc_s", "shuffle_bytes", "py_in", "py_out")},
        })
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} | {
        "failed_total": sum(r["failed"] for r in rows)}


def traced(args, run_dir: str) -> int:
    import micro
    from spans import Tracer, read_event_log

    bw_before = micro.bandwidth_gbps()
    tracer = Tracer(True)
    m = run_workload(args, run_dir, tracer)
    bw_after = micro.bandwidth_gbps()
    report_probe(bw_before, bw_after)
    if not m["walls"] or not m["ref_walls"] or m["failed"]:
        emit(False, m["attempted"], m["failed"], {})
        return 1
    jobs = read_event_log(os.path.join(run_dir, "eventlog"))
    sp = spark_per_op(tracer, m["op_spans"], jobs)
    micro_m = micro.run_suites(args.seed)
    wl, fl = m["wl"], m["floors"]
    op_wall = statistics.median(m["walls"])
    ref_wall = statistics.median(m["ref_walls"])
    base = max(fl["jvm_floor_s"], fl["shuffle_floor_s"])
    layers = {
        "self.driver_s": sp["driver_self_s"],
        "self.codecs_s": sp["codecs_s"],
        "self.jvm_s": fl["jvm_floor_s"],
        "self.shuffle_s": max(0.0, fl["shuffle_floor_s"] - fl["jvm_floor_s"]) if fl["shuffle_floor_s"] else 0.0,
        "self.crossing_s": max(0.0, fl["crossing_floor_s"] - base),
        "self.compute_s": compute_model_s(args.workload, wl, micro_m),
    }
    layers["unattributed_s"] = ref_wall - sum(layers.values())
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.write(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"))

    print(f"\nper-layer self time of one {args.workload} op "
          f"(untraced op wall {ref_wall:.3f} s, traced {op_wall:.3f} s)")
    for name, v in layers.items():
        print(f"  {name:<20} {v:>9.3f} s  {100 * v / ref_wall:6.1f} %")
    metrics = {
        "session.start_s": (m["session_s"], "s"),
        "setup.prep_s": (m["prep_s"], "s"),
        "probe.bw_before_gbps": (bw_before, "GB/s"),
        "probe.bw_after_gbps": (bw_after, "GB/s"),
        "mphf.salt_rerolls": (m["salt_rerolls"], "count"),
        "floor.jvm_s": (fl["jvm_floor_s"], "s"),
        "floor.shuffle_s": (fl["shuffle_floor_s"], "s"),
        "floor.crossing_s": (fl["crossing_floor_s"], "s"),
        "floor.crossing_tasks": (fl["crossing_tasks"], "count"),
        "spark.jobs_per_op": (sp["jobs"], "count"),
        "spark.tasks_per_op": (sp["tasks"], "count"),
        "spark.task_failures": (sp["failed_total"], "count"),
        "spark.job_s_per_op": (sp["job_s"], "s"),
        "spark.executor_run_s_per_op": (sp["run_s"], "s"),
        "spark.executor_cpu_s_per_op": (sp["cpu_s"], "s"),
        "spark.gc_s_per_op": (sp["gc_s"], "s"),
        "spark.shuffle_bytes_per_op": (sp["shuffle_bytes"], "bytes"),
        "spark.python_bytes_in_per_op": (sp["py_in"], "bytes"),
        "spark.python_bytes_out_per_op": (sp["py_out"], "bytes"),
        **{k: (v, "s") for k, v in layers.items()},
        "trace.op_wall_s": (op_wall, "s"),
        "trace.untraced_op_wall_s": (ref_wall, "s"),
        "trace.overhead_pct": (100.0 * (op_wall / ref_wall - 1.0), "%"),
        "sketches.err_over_bound": (getattr(wl, "err_over_bound", 0.0), "ratio"),
        **{k: (v, micro_unit(k)) for k, v in micro_m.items()},
    }
    emit(True, m["attempted"], m["failed"], metrics)
    return 0


def micro_unit(name: str) -> str:
    for tag, unit in (("_ns_", "ns"), ("_us_", "us"), ("_ms", "ms"), ("_s", "s"), ("bytes", "bytes"),
                      ("bits", "bits")):
        if tag in name:
            return unit
    return "count"


def report_probe(before: float, after: float) -> None:
    """Host copy bandwidth around the workload; a window where it moved by
    more than a third is flagged, never dropped."""
    from micro import PAR

    note = "" if 0.67 <= after / before <= 1.5 else "  DEGRADED WINDOW: bandwidth moved >1/3 during the run"
    print(f"host bandwidth ({PAR} threads): before {before:.1f} GB/s, after {after:.1f} GB/s{note}", flush=True)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    for name, (value, unit) in metrics.items():
        print(f"{name:<48} {value:>16.6g} {unit}")
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "lookup", "profile"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sizes", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import recsplit_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the library under test from {ROOT}: {e}")
        return 2
    import micro
    from spans import Tracer

    # a SIGTERM unwinds through the finally below, which stops the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=WORK)
    try:
        if args.trace:
            return traced(args, run_dir)
        bw_before = micro.bandwidth_gbps()
        m = run_workload(args, run_dir, Tracer(False))
        bw_after = micro.bandwidth_gbps()
        report_probe(bw_before, bw_after)
        correct = m["failed"] == 0 and len(m["walls"]) > 0
        metrics = {}
        if m["walls"]:
            metrics = {
                "items_per_s": (m["items"] / statistics.median(m["walls"]), "items/s"),
                "setup_s": (m["session_s"] + m["prep_s"], "s"),
                "driver_peak_rss_mb": (statistics.median(m["rss"]), "MB"),
                "space_bits_per_item": (m["space"], "bits"),
            }
        log(f"{args.workload}: op walls " + ", ".join(f"{w:.3f}" for w in m["walls"]) + " s")
        emit(correct, m["attempted"], m["failed"], metrics)
        return 0 if correct else 1
    finally:
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
