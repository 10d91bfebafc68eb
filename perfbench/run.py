"""Run a benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_egress --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root.  One run generates the workload's inputs
from ``--seed``, starts a fresh worker process that runs the workload
(``worker.py``), and prints every
metric named in ``BENCHMARK.json`` (end-to-end with ``--trace 0``,
per-layer with ``--trace 1``) by name and unit.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  A
detail file with every sample, calibration readings and input sizes is
written under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = tuple(gen.WORKLOADS)
RUN_LIMIT_S = 170  # the whole run, generation to result


class BenchError(RuntimeError):
    pass


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) for every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[int(entry)] = (int(fields[1]), fields[0])
    return out


def _stop_tree(root: int) -> None:
    """SIGKILL a worker and all its descendants (its JVM, and Spark's
    Python daemon, which puts itself in a process group of its own), then
    wait until none of them runs."""
    procs = _procs()
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(p for p, (ppid, _) in procs.items() if ppid == pid and p not in tree)
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while any(_procs().get(pid, (0, "Z"))[1] != "Z" for pid in tree):
        if time.monotonic() > deadline:
            raise BenchError(f"processes {sorted(tree)} survived SIGKILL")
        time.sleep(0.02)


def _die_with_parent() -> None:
    """Runs in the child before exec: SIGKILL it if this process dies, so
    an interrupted run leaves no worker (whose JVM then exits on its own
    when its stdin closes)."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


class Worker:
    """A ``worker.py`` process, timed from start to its ``READY`` line.

    The parent ends the worker by killing it and its descendants once it
    has said ``DONE``, so no run waits for a JVM to shut down; a traced
    worker stops its session itself first, to close the event log."""

    def __init__(self, args, work: str, deadline: float):
        self.log = os.path.join(work, "worker.log")
        self.result = os.path.join(work, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--result", self.result,
        ]
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Keep every file the JVMs write (temp dirs, perf counters) inside
        # the work dir.
        env = dict(
            os.environ,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        self.deadline = deadline
        with open(self.log, "ab") as log:
            t0 = time.perf_counter()
            self.proc = subprocess.Popen(
                cmd, stdout=subprocess.PIPE, stderr=log, env=env, cwd=ROOT,
                preexec_fn=_die_with_parent,
            )
        try:
            self.wait_for(b"READY")
        except BaseException:
            self.kill()
            raise
        self.setup_s = time.perf_counter() - t0

    def wait_for(self, word: bytes) -> None:
        """Read stdout until ``word``; raise if it never comes."""
        while True:
            left = self.deadline - time.monotonic()
            ready, _, _ = select.select([self.proc.stdout], [], [], max(left, 0))
            line = self.proc.stdout.readline() if ready else b""
            if line.strip() == word:
                return
            if not line:
                raise BenchError(
                    f"worker ended or timed out before {word.decode()}:\n"
                    + self.tail()
                )

    def kill(self) -> None:
        _stop_tree(self.proc.pid)
        self.proc.wait()
        self.proc.stdout.close()

    def tail(self, n: int = 30) -> str:
        with open(self.log, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def _tail(times: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, when
    there are enough samples for one, and the slowest sample."""
    xs = sorted(times)
    out = {"op_s_max": xs[-1], "warm_samples": len(xs)}
    if len(xs) >= 11:
        k = len(xs) - 11
        out.update(op_s_tail=xs[k], op_s_tail_percentile=100.0 * (k + 1) / len(xs))
    return out


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(args) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "pinecone_datasets_spark", "__init__.py")):
        raise BenchError("pinecone_datasets_spark is not in this checkout")
    bench = spec()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(
        OUT, "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        info, _ = gen.generate(args.workload, args.seed, work)
        gen_s = time.perf_counter() - t0
        worker = Worker(args, work, deadline)
        try:
            worker.wait_for(b"DONE")
        finally:
            worker.kill()
        with open(worker.result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    warm = [o for o in ops if o["warm"]]
    wall = [o["s"] for o in warm]
    failed = sum(o["err"] is not None for o in ops)
    # The cold first operation repeats too loosely across runs to carry a
    # bound of its own, so it is folded into set-up: time to a ready
    # session plus the first operation.  Operations are gated on the CPU
    # they cost, averaged over a fixed number of them from the cold one
    # on, not on wall time: see README.md, "Why operations are gated on
    # CPU seconds".
    metered = ops[: res["metered_ops"]]
    e2e = {
        "setup_s": worker.setup_s + ops[0]["s"],
        "op_cpu_s": sum(o["cpu_s"] for o in metered) / len(metered),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = res["layers"] if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input": info,
        "item": res["item"],
        "items_per_op": res["items_per_op"],
        "gen_s": gen_s,
        "session_setup_s": worker.setup_s,
        "cold_s": ops[0]["s"],
        "calib_s": res["calib_s"],
        "op_s_p50": statistics.median(wall),
        "items_per_s": res["items_per_op"] * len(wall) / sum(wall),
        "op_cpu_s_p50": statistics.median(o["cpu_s"] for o in warm),
        **_tail(wall),
        "error_rate": failed / len(ops),
        "errors": sorted({o["err"] for o in ops if o["err"]})[:5],
        "observed": res["observed"],
        "trace_detail": res["trace"],
        "end_to_end": e2e,
        "layers": res["layers"],
        "op_samples_s": [o["s"] for o in ops],
        "op_cpu_samples_s": [o["cpu_s"] for o in ops],
        "op_steal_samples_s": [o["steal_s"] for o in ops],
    }
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
        "detail": detail,
    }


def _save(detail: dict) -> str:
    d = os.path.join(OUT, "results", detail["workload"])
    os.makedirs(d, exist_ok=True)
    path = os.path.join(
        d, f"seed{detail['seed']}-trace{detail['trace']}-{time.time_ns()}.json"
    )
    with open(path, "w") as f:
        json.dump(detail, f, indent=1)
    return path


def _print_metrics(workload: str, metrics: dict) -> None:
    for name, m in metrics.items():
        print(f"{workload:14s} {name:36s} {m['value']:.6g} {m['unit']}")


def run_all(args) -> dict:
    """Every workload in its own process; the last line sums them."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            raise BenchError(f"workload {w} failed")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        _print_metrics(w, res["metrics"])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # A terminated run still removes its work dir (the finally clauses);
    # its workers die with it (see _die_with_parent).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        if args.seconds is None:
            args.seconds = spec()["run_seconds"]
        if args.workload == "all":
            out = run_all(args)
        else:
            out = run_one(args)
            d = out.pop("detail")
            _print_metrics(args.workload, out["metrics"])
            print(
                f"# not gated: op_s_p50 {d['op_s_p50']:.4g} s,"
                f" op_s_max {d['op_s_max']:.4g} s over {d['warm_samples']} warm ops,"
                f" items_per_s {d['items_per_s']:.4g} {d['item']}/s"
                f" ({d['items_per_op']} per op), error_rate {d['error_rate']:.3g},"
                f" cold_s {d['cold_s']:.4g} s, steal {sum(d['op_steal_samples_s']):.3g} s,"
                f" gen_s {d['gen_s']:.3g} s,"
                f" calib_s {d['calib_s'][0]:.3f}/{d['calib_s'][1]:.3f} s"
            )
            print(f"# detail {os.path.relpath(_save(d), ROOT)}")
    except (BenchError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
