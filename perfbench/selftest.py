"""Self-test of the benchmark itself, at tiny input sizes.

    python3 perfbench/selftest.py

1. Every workload runs untraced and exits 0 with exactly the end-to-end
   metric names and units of ``BENCHMARK.json``; one traced run prints
   exactly the per-layer names and units.
2. Negative cases: a corrupted descriptor byte (``build``, ``lookup``) and a
   damaged sketch state (``profile``) each make the command exit non-zero
   with ``"correct": false``.
3. In a directory holding only ``BENCHMARK.json`` and the benchmark's own
   files, the command exits non-zero without printing a result.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _cmd(workload: str, trace: int) -> list[str]:
    return [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
            "--seconds", "0.5", "--trace", str(trace), "--sizes", "tiny"]


def _expect_metrics(result: dict, section: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing, extra = sorted(set(want) - set(got)), sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        raise AssertionError(f"{section}: missing {missing}, unexpected {extra}, wrong units {wrong}")


def check_clean_runs() -> None:
    for w in WORKLOADS:
        p = subprocess.run(_cmd(w, 0), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert p.returncode == 0 and res["correct"] and res["failed"] == 0, f"{w}: clean run failed"
        _expect_metrics(res, "end_to_end")
        print(f"ok   {w}: clean run, end-to-end names and units")
    p = subprocess.run(_cmd("lookup", 1), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert p.returncode == 0 and res["correct"], "traced run failed"
    _expect_metrics(res, "per_layer")
    print("ok   lookup: traced run, per-layer names and units")


def _flip_byte(blob: bytes) -> bytes:
    i = len(blob) - len(blob) // 3  # inside the Rice stream
    return blob[:i] + bytes([blob[i] ^ 0x5A]) + blob[i + 1 :]


def check_negative_cases() -> None:
    """Each case wraps one workload's op so that its result is wrong, then
    runs the command in-process and requires a non-zero exit."""
    sys.path.insert(0, ROOT)
    import run
    import workloads as W
    from recsplit_spark import MPHFDescriptor

    def build_op(self, tracer, _op=W.Build.op):
        return MPHFDescriptor.from_bytes(_flip_byte(_op(self, tracer).to_bytes()))

    def lookup_prepare(self, _prep=W.Lookup.prepare):
        _prep(self)
        self.blob = _flip_byte(self.blob)

    def profile_op(self, tracer, _op=W.Profile.op):
        states = _op(self, tracer)
        states["ngram_hll"][::2] = 0  # half the registers lost
        return states

    cases = {
        "build": (W.Build, "op", build_op),
        "lookup": (W.Lookup, "prepare", lookup_prepare),
        "profile": (W.Profile, "op", profile_op),
    }
    for w, (cls, attr, fake) in cases.items():
        real = getattr(cls, attr)
        setattr(cls, attr, fake)
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                rc = run.main(_cmd(w, 0)[2:])
        finally:
            setattr(cls, attr, real)
        res = json.loads(out.getvalue().strip().splitlines()[-1])
        assert rc != 0 and not res["correct"] and res["failed"] > 0, f"{w}: corrupted result was accepted"
        print(f"ok   {w}: corrupted result fails the command (exit {rc}, {res['failed']} failed ops)")


def check_without_library() -> None:
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=180)
        assert p.returncode != 0 and '"correct"' not in p.stdout, "ran without the library"
        print(f"ok   bare directory: exit {p.returncode}, no result printed")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    check_without_library()
    check_clean_runs()
    check_negative_cases()
    print("selftest passed")
