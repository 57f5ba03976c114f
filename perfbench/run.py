"""Benchmark entry point.

    python3 perfbench/run.py --workload {queries,api_ingest} \\
        --seed N --seconds S --trace {0,1}

Primes the checkout once (`prime.py`: data, the package's caches and the
oracle answers), then starts `worker.py` as a fresh process in a pinned
environment with a private temporary directory, samples the resident
memory of its whole process tree (Python driver, JVM and Python
workers) while it runs, stops every process it left behind, removes the
temporary directory, and prints one JSON line: `correct`, `attempted`,
`failed` and the metrics named in BENCHMARK.json — the end-to-end ones
with `--trace 0`, the per-layer ones with `--trace 1`. A per-layer
metric a workload does not exercise reads 0.

Progress and diagnostics go to stderr; each run also appends a record,
host weather included, to `.perfbench/runs.jsonl`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from common import (
    BENCH_DIR,
    PRIME_FILE,
    ROOT,
    RUN_LOG,
    STATE,
    TRACE_DIR,
    dir_bytes,
    missing_files,
    pinned_env,
    source_fingerprint,
)

RUN_TIMEOUT_S = 170
PRIME_TIMEOUT_S = 700


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, session id) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            out[int(d)] = (int(fields[1]), int(fields[3]))
        except (OSError, IndexError, ValueError):
            pass
    return out


def _tree(root: int) -> list[int]:
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _sid) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo += children.get(pid, [])
    return out


def _pss(pid: int) -> int:
    """Proportional resident set size of `pid` in bytes: its resident
    pages, each shared page divided among the processes sharing it.
    Summed over a tree it counts every page once, where plain RSS
    counts the copy-on-write pages of forked children (Python workers,
    the JVM's short-lived helper processes) again for each child."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class TreeRss(threading.Thread):
    """Peak resident memory of a process tree (summed PSS), sampled
    every 100 ms, with the peak of each command name (java, python3,
    ...) for diagnosis."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self.by_comm: dict[str, int] = {}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            now: dict[str, int] = {}
            for p in _tree(self.pid):
                c = _comm(p)
                now[c] = now.get(c, 0) + _pss(p)
            self.peak = max(self.peak, sum(now.values()))
            for c, v in now.items():
                self.by_comm[c] = max(self.by_comm.get(c, 0), v)
            self.done.wait(0.1)


def _stop_session(sid: int) -> None:
    """Terminate, then kill, every process of session `sid`, and wait
    until none is left."""
    deadline = time.monotonic() + 20
    sig = signal.SIGTERM
    while True:
        left = [p for p, (_pp, s) in _proc_table().items() if s == sid]
        if not left:
            return
        if time.monotonic() > deadline - 10:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {left} survived SIGKILL")
        time.sleep(0.2)


def _run_child(cmd: list[str], env: dict, cwd: str, log: str, timeout: float, sample: bool):
    """Run `cmd` in its own session; returns (exit code, its TreeRss)."""
    with open(log, "ab") as out:
        launched = time.monotonic()
        proc = subprocess.Popen(
            cmd + ["--launched", repr(launched)] if sample else cmd,
            env=env, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        rss = TreeRss(proc.pid)
        if sample:
            rss.start()
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            rss.done.set()
            if sample:
                rss.join()
            _stop_session(proc.pid)
            proc.wait()
    return code, rss


def _tail(path: str, n: int = 40) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def prime(run_dir: str) -> None:
    fp = source_fingerprint()
    try:
        with open(PRIME_FILE) as f:
            if json.load(f)["fingerprint"] == fp:
                return
    except (OSError, ValueError, KeyError):
        pass
    print("perfbench: priming data, caches and oracle answers", file=sys.stderr)
    tmp = os.path.join(run_dir, "tmp")
    log = os.path.join(run_dir, "prime.log")
    code, _ = _run_child(
        [sys.executable, os.path.join(BENCH_DIR, "prime.py")],
        pinned_env(tmp), run_dir, log, PRIME_TIMEOUT_S, False,
    )
    if code != 0:
        sys.stderr.write(_tail(log))
        raise SystemExit(f"perfbench: priming failed (exit {code})")


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = missing_files()
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    os.makedirs(TRACE_DIR, exist_ok=True)
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        prime(run_dir)
        out = os.path.join(run_dir, "result.json")
        log = os.path.join(run_dir, "worker.log")
        code, rss = _run_child(
            [sys.executable, os.path.join(BENCH_DIR, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--run-dir", run_dir, "--out", out],
            pinned_env(tmp), run_dir, log, RUN_TIMEOUT_S, True,
        )
        tmp_left = dir_bytes(tmp)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(_tail(log))
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    measured = dict(result["metrics"])
    measured["peak_rss_mb"] = rss.peak / 2**20
    measured["tmp.bytes_left"] = tmp_left
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    record = {
        "time": time.time(), "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "samples": result["samples"],
        "weather": result["weather"], "failures": result["failures"],
        "peak_rss_mb_by_command": {c: v / 2**20 for c, v in rss.by_comm.items()},
        "metrics": {k: v["value"] for k, v in metrics.items()},
    }
    with open(RUN_LOG, "a") as f:
        f.write(json.dumps(record) + "\n")
    for why in result["failures"]:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    w = result["weather"]
    print(
        f"perfbench: {args.workload} seed={args.seed} samples={result['samples']} "
        f"steal_s={w['after']['steal_s'] - w['before']['steal_s']:.2f} "
        f"canary_s={w['before']['canary_s']:.3f}/{w['after']['canary_s']:.3f}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
