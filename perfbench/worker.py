"""One benchmark run of one workload, in its own Spark driver process.

Started by ``run.py``, which owns the deadlines, samples memory and
prints the result.  This process reports what happens as JSON lines on
the pipe ``--events-fd``:

  setup     set-up times (session start + input generation, repeated)
  prepared  input size
  op_start  an op began, with its deadline
  beat      (traced runs) driver-only time of the op in progress
  op_end    an op finished: wall time, error, stored bytes, counters
  window    start/end of the measured window
  result    reference-check outcome per op, and per-layer metrics
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import threading
import time

from tracing import EngineCounters, Tracer, driver_only_s
from workloads import WORKLOADS, du

SETUPS = 3               # set-ups per run; the run reports their median
WARMUP_DEADLINE_S = 150  # warm-up ops: worker spawn, JIT, broadcasts
DEADLINE_FACTOR = 3      # later ops: this many times the first op's time
MIN_DEADLINE_S = 20
BEAT_S = 1.0


class Events:
    def __init__(self, fd: int) -> None:
        self._f = os.fdopen(fd, "w", buffering=1)
        self._lock = threading.Lock()

    def __call__(self, ev: str, **kw) -> None:
        with self._lock:
            self._f.write(json.dumps({"ev": ev, **kw}) + "\n")


def start_session(nproc: int, work: str):
    from dqc_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: otherwise the JVM's resident
            # size follows G1's heap sizing, which varied 0.9-1.5 GB
            # between runs of the same op
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:+AlwaysPreTouch "
                f"-Xms{os.environ['DQC_DRIVER_MEM']}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })


def layer_metrics(wl, rec: dict, spans: dict, extra: dict) -> dict:
    """Per-layer metrics of one traced op, named ``<module>.<metric>``."""
    busy = {n: s["busy_s"] for n, s in spans.items()}
    m = dict(rec["engine"])
    m.update(extra)
    if "scoring" in busy:
        m["scoring.busy_s"] = busy["scoring"]
        m["scoring.docs_per_s"] = wl.input_rows / busy["scoring"]
    if "annotate_noscrub" in busy:
        m["gates.self_s"] = busy["annotate_noscrub"] - busy["scoring"]
        m["scrub.self_s"] = busy["scrub"]
        m["annotate.busy_s"] = busy["annotate_noscrub"] + busy["scrub"]
    names = {
        "annotate": "annotate.busy_s", "write": "write.busy_s",
        "table_checks": "table_checks.busy_s",
        "dedup_signatures": "dedup.signatures_s",
        "dedup_exact": "dedup.exact_s", "dedup_lsh": "dedup.lsh_s",
        "dedup_jaccard": "dedup.jaccard_s",
        "components_keep_canonical": "components.keep_canonical_s",
        "sampling_quota": "sampling.quota_s",
        "sampling_pack": "sampling.pack_s",
        "snaptable_commit": "snaptable.commit_s",
        "audit_flush": "audit.flush_s", "suite_fused": "suite.fused_s",
        "checks_unique": "checks.unique_s",
        "curate_incremental": "resume.increment_s",
    }
    for span, metric in names.items():
        if span in busy:
            m[metric] = busy[span]
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--nproc", type=int, required=True)
    ap.add_argument("--events-fd", type=int, required=True)
    args = ap.parse_args()

    emit = Events(args.events_fd)
    wl = WORKLOADS[args.workload](args.work, args.seed)
    setup_s, session_s = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(args.nproc, args.work)
        t1 = time.perf_counter()
        wl.make_inputs(spark)
        session_s.append(t1 - t0)
        setup_s.append(time.perf_counter() - t0)
    emit("setup", setup_s=setup_s, session_s=session_s)
    wl.prepare(spark, traced=bool(args.trace))
    emit("prepared", input_rows=wl.input_rows, input_bytes=wl.input_bytes)

    tracer = Tracer()
    counters = EngineCounters(spark) if args.trace else None
    current: dict = {}
    records: list[dict] = []

    def beat() -> None:
        # lets run.py report the driver-only time of an op it has to kill
        while True:
            time.sleep(BEAT_S)
            op = dict(current)
            if op:
                now = int(time.time() * 1000)
                emit("beat", k=op["k"], driver_only_s=driver_only_s(
                    counters.stage_intervals(now), op["t0_ms"], now))

    if counters is not None:
        threading.Thread(target=beat, daemon=True).start()

    def run_op(kind: str, deadline_s: float) -> dict:
        k = len(records)
        shared = [wl.path(p) for p in wl.shared_state]
        before = sum(du(p) for p in shared)
        extra: dict = {}
        error = None
        emit("op_start", k=k, kind=kind, deadline_s=deadline_s)
        if counters is not None:
            counters.mark()
        t0_ms = int(time.time() * 1000)
        current.update(k=k, t0_ms=t0_ms)
        t0 = time.perf_counter()
        try:
            if kind == "traced":
                tracer.op = k
                extra = wl.traced_op(spark, k, tracer) or {}
            else:
                wl.op(spark, k)
        except Exception as e:  # an op that raises is a failed op
            error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        wall = time.perf_counter() - t0
        current.clear()
        rec = {"k": k, "kind": kind, "wall_s": wall, "error": error,
               "stored_bytes": du(wl.out(k))
               + sum(du(p) for p in shared) - before}
        if counters is not None:
            rec["engine"] = counters.since_mark(
                wall, t0_ms, int(time.time() * 1000))
        emit("op_end", **rec)
        rec["extra"] = extra
        records.append(rec)
        # every op starts from a collected heap, in both interpreters
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        return rec

    warm = [run_op("warmup", WARMUP_DEADLINE_S)
            for _ in range(wl.warmup_ops)]
    deadline = max(MIN_DEADLINE_S, DEADLINE_FACTOR * warm[0]["wall_s"])
    kinds = ["op", "traced"] if args.trace else ["op"]
    emit("window", phase="start")
    t_start = time.perf_counter()
    i = 0
    while i < len(kinds) or time.perf_counter() - t_start < args.seconds:
        run_op(kinds[i % len(kinds)], deadline)
        i += 1
    emit("window", phase="end")

    checks = {}
    for rec in records:
        if rec["error"] is None:
            try:
                checks[rec["k"]] = wl.check(spark, rec["k"])
            except Exception as e:
                checks[rec["k"]] = f"check raised {type(e).__name__}: {e}"

    layers: dict = {}
    traced = [r for r in records if r["kind"] == "traced"
              and r["error"] is None]
    if traced:
        per_op = [layer_metrics(wl, r, tracer.of_op(r["k"]), r["extra"])
                  for r in traced]
        layers = {name: statistics.median(m[name] for m in per_op)
                  for name in per_op[0]}
        layers["session.start_s"] = statistics.median(session_s)
        untraced = [r["wall_s"] for r in records if r["kind"] == "op"]
        layers["trace.overhead_s"] = (
            statistics.median(r["wall_s"] for r in traced)
            - statistics.median(untraced))
        tracer.dump(os.path.join(args.work, "trace.json"))
    emit("result", checks={str(k): v for k, v in checks.items()},
         layers=layers)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
