"""Run one workload in this process and write its measurements as JSON.

``perfbench/run.py`` starts this module with the environment it needs
(scratch directories inside the checkout, ``PYTHONPATH`` at the
repository root) and owns the process tree; run that, not this.

One run:

1. set up ``SETUP_REPS`` times: start a SparkSession on
   ``local[nproc]`` and ``io.cache_events``. The first rep also
   launches the JVM, so the median rep is taken;
2. the first pass: one full invocation of every entry in the fresh
   session. Everything else a user pays once per session lands here:
   replay chunk preparation, persisted-index and memo builds, code
   generation. ``setup_s`` is the median rep plus this pass, so work
   moved out of the timed passes into the session shows there. Its
   rows are what the oracle gate checks; with ``--trace 1`` it is
   traced, for ``stream.replay_prepare_s``;
3. timed passes until ``--seconds`` have passed and at least the
   workload's ``min_passes`` have run, each entry once per pass in a
   seeded order.
   A full invocation is ``_MANIFEST_CACHE.clear()``,
   ``queries()[name](spark, dir)`` and ``collect()``. With
   ``--trace 1`` the passes alternate untraced and traced, so the
   tracing overhead is measured in the same run;
4. the DuckDB oracle gate, then shutdown of Spark and its JVM.

``latency_p50_s`` is the geometric mean, over the workload's entries,
of each entry's median wall time in the timed passes: a workload's
entries differ in cost by up to 10x, and a median over all its
invocations would fall between two entries' costs. ``throughput_qps``
is the completed invocations per second of the median timed pass.
Medians, not means: the JVM is still compiling its hot paths for
several passes after the first, and the host's speed drifts, so one
timed pass is often slower than the rest.
"""

from __future__ import annotations

import argparse
import subprocess
import glob
import hashlib
import json
import os
import platform
import random
import statistics
import sys
import time

from perfbench import trace
from perfbench.oracle import Oracle
from perfbench.workloads import DATA_ROOT, ROWS_ONLY_AGAINST, SMOKE_SF, WORKLOADS

SETUP_REPS = 3
# a traced run times untraced, traced, untraced passes at least, so the
# tracing overhead is not confounded with the JIT still warming up
MIN_TRACED_RUN_PASSES = 3
FLOOR_REPS = 5


def _git_commit(root: str) -> str | None:
    head_path = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head_path):
        return None
    with open(head_path) as f:
        head = f.read().strip()
    if not head.startswith("ref: "):
        return head
    ref = head[5:]
    ref_path = os.path.join(root, ".git", ref)
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            return f.read().strip()
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    return None


def _source_digest(root: str) -> str:
    """sha256 over the engine's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    files = glob.glob(os.path.join(root, "flink_project_userbehavioranalysis_spark", "**", "*.py"), recursive=True)
    for path in sorted(files) + [os.path.join(root, "__spark_entry__.py")]:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user time
    return ticks[7], sum(ticks[:8])


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.root = os.getcwd()
        self.tmp_dir = os.environ["TMPDIR"]
        self.spark = None
        self.tracer = self.status = self.progress = None  # set by main()
        self.failures: list[dict] = []
        self.attempted = 0

    # -- set-up -----------------------------------------------------------
    def start_session(self):
        from flink_project_userbehavioranalysis_spark import get_spark

        run_dir = self.args.run_dir
        return get_spark(
            app_name="ubx-perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            streaming=True,
            extra_conf={
                "spark.driver.memory": "2g",
                # a heap of fixed size, all of it resident from the start:
                # a heap that grows on the JVM's own schedule made
                # peak_rss_mb swing 1.1-1.7 GB between runs, and a fixed
                # heap touched only as far as a run allocates, 2.1-3.0 GB
                "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(run_dir, "local"),
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            },
        )

    def setup_once(self) -> dict[str, float]:
        from flink_project_userbehavioranalysis_spark.io import cache_events

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        cache_events(self.spark, self.data_dir)
        t2 = time.perf_counter()
        return {"total": t2 - t0, "session": t1 - t0, "cache": t2 - t1}

    def job_floor(self) -> float:
        times = []
        for _ in range(FLOOR_REPS):
            t0 = time.perf_counter()
            self.spark.range(1).collect()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    # -- invocations ----------------------------------------------------------
    def invoke(self, name: str, traced: bool, tag: str, keep_rows: bool) -> dict | None:
        """One full invocation; ``None`` when it raised."""
        from flink_project_userbehavioranalysis_spark.operators.ingest import _MANIFEST_CACHE

        self.attempted += 1
        tr = self.tracer
        tr.active, tr.invocation = traced, tag
        if traced:
            self.status.drain()
            self.status.read()  # drop the jobs of untraced work before this invocation
            mark = len(self.progress.batches)
            since_ns = time.time_ns() - 5_000_000
            calls0 = tr.py4j_calls
        try:
            _MANIFEST_CACHE.clear()
            t0 = time.perf_counter()
            with tr.span(f"op.{name}", "op"):
                tr.counting = traced
                with tr.span("registry.construct", "registry"):
                    df = self.fns[name](self.spark, self.data_dir)
                tr.counting = False
                t1 = time.perf_counter()
                with tr.span("delivery.collect", "delivery"):
                    rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # a failing entry is counted, the loop goes on
            self.failures.append({"entry": name, "error": f"{type(e).__name__}: {e}"[:500]})
            print(f"FAILED {name}: {type(e).__name__}: {str(e)[:300]}", flush=True)
            return None
        finally:
            tr.counting = tr.active = False
        rec = {"entry": name, "inv": tag, "wall": t2 - t0, "construct": t1 - t0, "collect": t2 - t1, "rows": len(rows)}
        if keep_rows:
            rec["cols"] = df.columns
            rec["result"] = [tuple(r) for r in rows]
        if traced:
            self.status.drain()
            rec.update(self.status.read())
            rec["py4j"] = tr.py4j_calls - calls0
            rec["plan_ms"] = trace.plan_ms(df)
            rec["write_bytes"], rec["write_files"] = trace.written_since(self.tmp_dir, since_ns)
            rec["batches"] = self.progress.since(mark)
        return rec

    def run_pass(self, order: list[str], traced: bool, pass_no: int) -> tuple[float, list[dict]]:
        t0 = time.perf_counter()
        recs = [self.invoke(n, traced, f"{pass_no}:{n}", pass_no == 0) for n in order]
        wall = time.perf_counter() - t0
        each = " ".join(f"{r['entry']}={r['wall']:.2f}" for r in recs if r is not None)
        print(f"pass {pass_no} {'traced' if traced else 'untraced'}: {wall:.2f} s ({each})", flush=True)
        return wall, [r for r in recs if r is not None]

    # -- the run ----------------------------------------------------------------
    def main(self) -> dict:
        args = self.args
        work = os.path.join(self.root, ".perfbench")
        self.data_dir = os.path.join(DATA_ROOT, SMOKE_SF if args.smoke else self.wl.sf)

        import duckdb
        import pyspark

        import __spark_entry__ as entry_mod

        setups = [self.setup_once() for _ in range(SETUP_REPS)]
        print(f"setup reps (session, cache_events): {[(round(s['session'], 3), round(s['cache'], 3)) for s in setups]}", flush=True)
        self.tracer = trace.Tracer()
        if args.trace:
            # before queries(): the registry binds the functions it wraps
            self.tracer.install(self.spark.sparkContext._gateway._gateway_client)
        self.fns = entry_mod.queries()
        if args.trace:
            self.status = trace.StatusReader(self.spark)
            self.progress = trace.ProgressLog()
            self.spark.streams.addListener(self.progress.listener())
            cached = trace.cached_mb(self.spark)

        rng = random.Random(args.seed)
        entries = list(self.wl.entries)
        floor_before = self.job_floor()
        ticks_before = _cpu_ticks()

        rng.shuffle(entries)
        first_wall, first = self.run_pass(entries, bool(args.trace), 0)
        # start the timed passes from a collected heap, not from the
        # warm-up pass's garbage
        self.spark.sparkContext._jvm.System.gc()
        measured: list[tuple[bool, float, list[dict]]] = []
        t_start = time.perf_counter()
        pass_no = 1
        while True:
            traced = bool(args.trace) and pass_no % 2 == 0
            rng.shuffle(entries)
            wall, recs = self.run_pass(entries, traced, pass_no)
            measured.append((traced, wall, recs))
            pass_no += 1
            least = max(self.wl.min_passes, MIN_TRACED_RUN_PASSES if args.trace else 0)
            if time.perf_counter() - t_start >= args.seconds and len(measured) >= least:
                break
        ticks_after = _cpu_ticks()
        floor_after = self.job_floor()
        open(os.path.join(args.run_dir, "measured"), "w").close()

        oracle_results = self.check(first, entry_mod.oracle_sql())
        mismatches = sum(1 for v in oracle_results.values() if v != "ok")
        failed = len(self.failures) + mismatches

        self.tracer.uninstall()
        out = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "attempted": self.attempted,
            "failed": failed,
            "correct": failed == 0,
            "failures": self.failures,
            "oracle": oracle_results,
            "host": {
                "nproc": self.nproc,
                "spark": pyspark.__version__,
                "python": platform.python_version(),
                "duckdb": duckdb.__version__,
                "git_commit": _git_commit(self.root),
                "source_sha256": _source_digest(self.root),
                "job_floor_before_s": floor_before,
                "job_floor_after_s": floor_after,
                # share of CPU time the hypervisor gave to other guests
                # while the passes ran: drift between sets shows here
                "steal_share": (ticks_after[0] - ticks_before[0]) / max(ticks_after[1] - ticks_before[1], 1),
                "inputs": os.path.relpath(self.data_dir, self.root),
            },
        }
        untraced = [m for m in measured if not m[0]]
        if args.trace:
            out["per_layer"] = self.per_layer(setups, first_wall, cached, measured, (floor_before, floor_after))
            self.write_trace(work, first + [r for _, _, recs in measured for r in recs])
        else:
            walls: dict[str, list[float]] = {}
            for _, _, recs in untraced:
                for r in recs:
                    walls.setdefault(r["entry"], []).append(r["wall"])
            n_ok = sum(len(w) for w in walls.values())
            out["end_to_end"] = {
                "setup_s": statistics.median(s["total"] for s in setups) + first_wall,
                "latency_p50_s": (
                    statistics.geometric_mean(statistics.median(w) for w in walls.values()) if walls else 0.0
                ),
                # the median pass: one pass stalled by the host does not move it
                "throughput_qps": statistics.median(len(recs) / w for _, w, recs in untraced),
            }
            out["samples"] = n_ok
        return out

    def check(self, first: list[dict], osql: dict[str, str]) -> dict[str, str]:
        oracle = Oracle(self.data_dir, os.path.join(self.root, ".perfbench", "oracle"), self.nproc)
        os.makedirs(oracle.cache_dir, exist_ok=True)
        results = {}
        done = {r["entry"] for r in first}
        try:
            for rec in first:
                name = rec["entry"]
                rows_only = name in ROWS_ONLY_AGAINST
                sql = osql[ROWS_ONLY_AGAINST.get(name, name)]
                try:
                    why = oracle.check(rec["cols"], rec["result"], sql, rows_only=rows_only)
                except Exception as e:  # an oracle that cannot run is a failed check
                    why = f"oracle error {type(e).__name__}: {e}"[:300]
                results[name] = why or "ok"
                if why:
                    print(f"MISMATCH {name}: {why}", flush=True)
        finally:
            oracle.close()
        for name in self.wl.entries:
            if name not in done:
                results[name] = "not checked: first invocation failed"
        return results

    def write_trace(self, work: str, recs: list[dict]) -> None:
        """Spans (name, layer, start, end, parent, invocation) and per-invocation counters, as JSON."""
        trace_dir = os.path.join(work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{self.args.workload}-s{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.tracer.spans,
                    "invocations": [{k: v for k, v in r.items() if k != "result"} for r in recs],
                },
                f,
            )
        print(f"trace written to {os.path.relpath(path, self.root)}", flush=True)

    def per_layer(self, setups, first_wall, cached, measured, floors) -> dict[str, float]:
        traced = [r for t, _, recs in measured if t for r in recs]
        prepare = sum(
            s["end"] - s["start"]
            for s in self.tracer.spans
            if s["name"] == "stream.events_stream" and s["inv"].startswith("0:") and "end" in s
        )
        n = max(len(traced), 1)
        tot = lambda key: sum(r[key] for r in traced)  # noqa: E731
        wall = tot("wall")
        selfs = self.tracer.self_times({r["inv"] for r in traced})
        streams = [r for r in traced if r["batches"]]
        batches = [b for r in streams for b in r["batches"]]
        ns = max(len(streams), 1)
        trig = [b["trigger_ms"] / 1000 for b in batches]
        tw = sum(w for t, w, _ in measured if t) / max(sum(len(x) for t, _, x in measured if t), 1)
        uw = sum(w for t, w, _ in measured if not t) / max(sum(len(x) for t, _, x in measured if not t), 1)
        m = {
            "session.start_s": statistics.median(s["session"] for s in setups),
            "session.first_pass_s": first_wall,
            "io.cache_events_s": statistics.median(s["cache"] for s in setups),
            "io.cached_mb": cached,
            "io.self_s": selfs.get("io", 0.0) / n,
            "registry.construct_s": tot("construct") / n,
            "registry.py4j_calls": tot("py4j") / n,
            "registry.plan_ms": tot("plan_ms") / n,
            "registry.self_s": selfs.get("registry", 0.0) / n,
            "delivery.collect_s": tot("collect") / n,
            "delivery.rows": tot("rows") / n,
            "exec.jobs": tot("jobs") / n,
            "exec.stages": tot("stages") / n,
            "exec.tasks": tot("tasks") / n,
            "exec.task_s": tot("task_ms") / 1000 / n,
            "exec.cpu_s": tot("cpu_ns") / 1e9 / n,
            "exec.gc_s": tot("gc_ms") / 1000 / n,
            "exec.cpu_util": tot("task_ms") / 1000 / (wall * self.nproc) if wall else 0.0,
            "exec.shuffle_read_mb": tot("shuffle_read_bytes") / 1e6 / n,
            "exec.shuffle_write_mb": tot("shuffle_write_bytes") / 1e6 / n,
            "exec.spill_mb": tot("spill_bytes") / 1e6 / n,
            "exec.input_mb": tot("input_bytes") / 1e6 / n,
            "exec.failed_tasks": tot("failed_tasks") / n,
            "exec.job_floor_s": statistics.median(floors),
            "stream.replay_prepare_s": prepare,
            "stream.batches": len(batches) / ns,
            "stream.microbatch_p50_s": trace.pct(trig, 0.5),
            "stream.microbatch_p90_s": trace.pct(trig, 0.9),
            "stream.events_per_s": (
                sum(b["input_rows"] for b in batches) / sum(r["wall"] for r in streams) if streams else 0.0
            ),
            "stream.addbatch_share": (
                sum(b["addbatch_ms"] for b in batches) / sum(b["trigger_ms"] for b in batches)
                if batches and sum(b["trigger_ms"] for b in batches) else 0.0
            ),
            "stream.state_rows": sum(max(b["state_rows"] for b in r["batches"]) for r in streams) / ns,
            "stream.state_mb": sum(max(b["state_bytes"] for b in r["batches"]) for r in streams) / 1e6 / ns,
            "stream.state_commit_ms": sum(b["commit_ms"] for b in batches) / ns,
            "stream.dropped_rows": sum(b["dropped_rows"] for b in batches) / ns,
            "stream.self_s": selfs.get("stream", 0.0) / n,
            "write.mb": tot("write_bytes") / 1e6 / n,
            "write.files": tot("write_files") / n,
            "write.self_s": selfs.get("write", 0.0) / n,
            "trace.overhead_s": tw - uw,
            "trace.overhead_share": (tw - uw) / uw if uw else 0.0,
        }
        for wl in WORKLOADS.values():
            for name in wl.entries:
                walls = [r["wall"] for r in traced if r["entry"] == name]
                m[f"op.{name}.p50_s"] = statistics.median(walls) if walls else 0.0
        return m

    def close(self):
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--run-dir", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    run = Run(args)
    try:
        result = run.main()
    finally:
        run.close()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
