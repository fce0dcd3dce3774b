"""dqc_spark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run from the root of a source checkout.  One run measures one workload
(see BENCHMARK.json): it starts a Spark driver in a child process
(``worker.py``) at ``local[nproc]`` with ``nproc`` shuffle partitions,
sets up three times, runs warm-up ops, then runs ops back to back for
``--seconds``, and checks every op's stored output against a reference
outside the timed region.  This process enforces a deadline on each op
(killing the child's processes when an op passes it, which counts the op
as failed), samples their memory and CPU time from /proc, and prints a
report followed by one JSON line:

  --trace 0  the end-to-end metrics of BENCHMARK.json
  --trace 1  the per-layer metrics of BENCHMARK.json, from ops that call
             each layer separately under spans, alternated with untraced
             ops so that the tracing overhead is measured in the same run

Scratch data, the child's log and the span file go to ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_CAP_S = 170          # a run ends by this time, killing a stalled op
MEM_SAMPLE_S = 0.05


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``.  A session, not a
    process group: the PySpark daemon moves its Python workers into a
    process group of their own."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def session_cpu_s(sid: int) -> float:
    """CPU seconds (user + system, including reaped children) consumed by
    the live processes of session ``sid``."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def session_resident_bytes(sid: int) -> int:
    """Resident memory of session ``sid``: the sum of each process's PSS,
    which splits pages shared between the forked Python workers instead
    of counting them once per worker."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def stop_session(proc: subprocess.Popen) -> None:
    """SIGKILL every process of the child's session (the child leads it)
    and wait until all of them ended."""
    end = time.monotonic() + 30
    while True:
        pids = session_pids(proc.pid)
        if not pids or time.monotonic() > end:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    proc.wait()


def source_stamp(root: str) -> str:
    """The git commit, or (outside a git checkout) a digest of the
    package sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    pkg = os.path.join(root, "dqc_spark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(name.encode() + f.read())
    return "sources-sha1:" + h.hexdigest()


def driver_mem() -> str:
    """Driver heap: 2 GiB, or a third of physical memory if smaller."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(2048, total_kb // 1024 // 3)}m"


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value): the highest percentile with at least ten samples
    above it, or None with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    i = n - 11
    return 100.0 * (i + 1) / n, s[i]


class Run:
    """Reads the child's events, enforces deadlines, tracks memory."""

    def __init__(self, proc: subprocess.Popen, fd: int, t_start: float):
        self.proc, self.fd, self.t_start = proc, fd, t_start
        self.events: list[dict] = []
        self.killed: dict | None = None
        self.op_peaks: dict[int, int] = {}   # op k -> peak resident bytes
        self._op: int | None = None
        self._done = threading.Event()

    def sample_memory(self) -> None:
        while not self._done.is_set():
            k = self._op
            if k is not None:
                self.op_peaks[k] = max(self.op_peaks.get(k, 0),
                                       session_resident_bytes(self.proc.pid))
            time.sleep(MEM_SAMPLE_S)

    def read(self) -> None:
        sampler = threading.Thread(target=self.sample_memory, daemon=True)
        sampler.start()
        buf = b""
        op = None            # the op_start event of the op in progress
        last_beat = None
        cap = self.t_start + RUN_CAP_S
        try:
            while True:
                due = cap if op is None else min(
                    cap, op["_t"] + op["deadline_s"])
                ready, _, _ = select.select(
                    [self.fd], [], [], max(0.0, due - time.monotonic()))
                if not ready:
                    self.killed = {
                        "op": op, "elapsed_s": time.monotonic() - (
                            op["_t"] if op else self.t_start),
                        "reason": (f"its {op['deadline_s']:.0f} s deadline"
                                   if op and due < cap else
                                   f"the run's {RUN_CAP_S} s limit"),
                        "cpu_s": session_cpu_s(self.proc.pid) - (
                            op["cpu_s"] if op else 0.0),
                        "driver_only_s": last_beat}
                    return
                chunk = os.read(self.fd, 1 << 16)
                if not chunk:
                    return
                buf += chunk
                *lines, buf = buf.split(b"\n")
                for line in lines:
                    ev = json.loads(line)
                    ev["_t"] = time.monotonic()
                    self.events.append(ev)
                    if ev["ev"] == "op_start":
                        op, last_beat, self._op = ev, None, ev["k"]
                        ev["cpu_s"] = session_cpu_s(self.proc.pid)
                    elif ev["ev"] == "op_end":
                        ev["cpu_s"] = session_cpu_s(self.proc.pid) - op["cpu_s"]
                        op = self._op = None
                    elif ev["ev"] == "beat":
                        last_beat = ev["driver_only_s"]
        finally:
            self._done.set()
            sampler.join()

    def of(self, kind: str) -> list[dict]:
        return [e for e in self.events if e["ev"] == kind]


def summarize(run: Run, bench: dict, trace: bool, stamps: dict) -> dict:
    """Print the report; return the result object."""
    ops = run.of("op_end")
    if run.killed and run.killed["op"] is not None:
        op = run.killed["op"]
        ops.append({"k": op["k"], "kind": op["kind"],
                    "wall_s": run.killed["elapsed_s"],
                    "cpu_s": run.killed["cpu_s"],
                    "error": f"killed at {run.killed['reason']}",
                    "stored_bytes": 0})
    result = (run.of("result") or [None])[0]
    checks = result["checks"] if result else {}
    for o in ops:
        mismatch = checks.get(str(o["k"]))
        if o["error"] is None and mismatch:
            o["error"] = f"reference check: {mismatch}"
    failed = [o for o in ops if o["error"] is not None]
    measured = [o for o in ops if o["kind"] == "op"]
    ok = [o for o in measured if o["error"] is None]
    prepared = (run.of("prepared") or [{}])[0]
    setup = (run.of("setup") or [{}])[0]
    correct = bool(result) and not any(checks.values())

    e2e = {}
    if setup:
        e2e["setup_s"] = statistics.median(setup["setup_s"])
    if measured and prepared:
        walls = [o["wall_s"] for o in measured]
        e2e["job_p50_s"] = statistics.median(walls)
        e2e["rows_per_s"] = prepared["input_rows"] / e2e["job_p50_s"]
        e2e["job_cpu_s"] = statistics.median(o["cpu_s"] for o in measured)
        peaks = [run.op_peaks[o["k"]] for o in measured
                 if o["k"] in run.op_peaks]
        if peaks:
            e2e["peak_rss_mb"] = statistics.median(peaks) / 2**20
    if ok and prepared:
        e2e["stored_bytes_per_input_byte"] = statistics.median(
            o["stored_bytes"] for o in ok) / prepared["input_bytes"]

    print(f"stamp: nproc={stamps['nproc']} load1_start={stamps['load_start']:.2f}"
          f" load1_end={os.getloadavg()[0]:.2f} source={stamps['source']}")
    phases = " ".join(f"{e['ev']}{'_' + e['phase'] if 'phase' in e else ''}"
                      f"@{e['_t'] - run.t_start:.1f}s" for e in run.events
                      if e["ev"] in ("setup", "prepared", "window", "result"))
    print(f"timeline: {phases}")
    if setup:
        print("setups: " + ", ".join(
            f"{t:.2f} s (session {u:.2f} s)"
            for t, u in zip(setup["setup_s"], setup["session_s"])))
    if prepared:
        print(f"input: {prepared['input_rows']} rows, "
              f"{prepared['input_bytes']} bytes")
    for o in ops:
        status = o["error"] or "ok"
        print(f"op {o['k']:>3} {o['kind']:<7} {o['wall_s']:8.3f} s  {status}")
    if not result:
        print("reference checks: not run (the worker was stopped)")
    print(f"ops: {len(measured)} measured, {len(failed)} of {len(ops)} "
          f"failed (failed_frac {len(failed) / max(1, len(ops)):.3f})")
    tail = tail_percentile([o["wall_s"] for o in measured])
    print("job_tail_s: " + (f"p{tail[0]:.0f} = {tail[1]:.4f} s"
                            if tail else f"n/a ({len(measured)} ops, needs 11)"))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    for name, value in e2e.items():
        print(f"{name}: {value:.6g} {units.get(name, '')}")

    if trace:
        layers = result["layers"] if result else {}
        if run.killed and run.killed["driver_only_s"] is not None:
            layers["spark.driver_only_s"] = run.killed["driver_only_s"]
        for name in sorted(layers):
            print(f"layer {name}: {layers[name]:.6g}")
        specs = bench["per_layer"]
    else:
        layers = e2e
        specs = bench["end_to_end"]
    if trace and result:
        # a count of work a workload never does is a true zero; a missing
        # time is a missing measurement
        for m in specs:
            if m["unit"] != "s":
                layers.setdefault(m["name"], 0)
    metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
               for m in specs if m["name"] in layers}
    return {"correct": correct, "attempted": len(ops),
            "failed": len(failed), "metrics": metrics}


def run_one(root: str, bench: dict, workload: str, seed: int,
            seconds: float, trace: int) -> dict | None:
    """One run of one workload: print its report, return its result
    (None when no op finished)."""
    t_start = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    stamps = {"nproc": nproc, "load_start": os.getloadavg()[0],
              "source": source_stamp(root)}

    work = os.path.join(root, ".bench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "DQC_DRIVER_MEM": driver_mem(),
        "SPARK_GRAFT_CPUS": str(nproc),
    })
    os.makedirs(env["TMPDIR"])
    r, w = os.pipe()
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(trace),
             "--work", work, "--nproc", str(nproc), "--events-fd", str(w)],
            pass_fds=(w,), stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, env=env, cwd=root,
            start_new_session=True)
    os.close(w)
    run = Run(proc, r, t_start)
    try:
        run.read()
    finally:
        stop_session(proc)
        os.close(r)
    if not run.of("op_end") and not (run.killed and run.killed["op"]):
        print(f"run.py: the worker ended or was stopped before any op "
              f"finished; see {os.path.relpath(work, root)}/worker.log",
              file=sys.stderr)
        return None
    out = summarize(run, bench, bool(trace), stamps)
    for name in os.listdir(work):
        if name not in ("worker.log", "trace.json"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"],
                    help="'all': each workload of BENCHMARK.json, untraced "
                         "and traced, with one combined JSON line")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # a terminated run still stops its child session (finally in run_one)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dqc_spark", "__init__.py")):
        print("run.py: no dqc_spark package here; run it from the root of "
              "a source checkout", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload != "all":
        out = run_one(root, bench, args.workload, args.seed, args.seconds,
                      args.trace)
        if out is None:
            return 1
        print(json.dumps(out))
        return 0
    results = {}
    for w in bench["workloads"]:
        for trace in (0, 1):
            print(f"== {w['name']} --trace {trace}")
            results[f"{w['name']} trace={trace}"] = run_one(
                root, bench, w["name"], args.seed, args.seconds, trace)
    print(json.dumps(results))
    return 0 if all(r and r["correct"] and not r["failed"]
                    for r in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
