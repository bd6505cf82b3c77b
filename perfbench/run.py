"""ubx benchmark: run one workload, check it against the oracles, print its metrics.

    python3 perfbench/run.py --workload batch_sf01 --seed 1 --seconds 12 --trace 0

Run it from the repository root. Workloads and metrics are listed in
``BENCHMARK.json``; the workloads themselves in ``perfbench/workloads.py``.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run of the same workload. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit). The line before it is the host
record: core count, Spark, Python and DuckDB versions, the commit, the
trivial-job floor before and after the workload, and the input
directory. The inputs are the repo's test tables copied under
``perfbench/data/``; the seed sets the order of the entries in each pass.

Everything the run writes stays under ``.perfbench/`` in the checkout:
cached oracle results and the spans of traced runs
(``traces/<workload>-s<seed>.json``) persist there, and the
run's own scratch (the engine's ``ubx-*`` directories, Spark's local
and JVM temp dirs) is removed when the run ends. Every process of the
run (the runner, its JVM and the JVM's Python worker daemons, which
make their own process groups) has ended when this exits.

``peak_rss_mb`` is the peak, up to the end of the last timed pass, of
the memory resident in that process tree, summed as proportional set
size so that pages shared by forked workers count once, and held over
two polls ``POLL_S`` apart. The JVM heap has a fixed size, so the
metric moves with memory outside the heap: the Python driver and
workers, and the JVM's native memory (RocksDB state, metaspace,
buffers). Heap pressure shows as ``exec.gc_s`` instead.

What each per-layer metric should move:

- ``session.*``, ``io.cache_events_s``, ``io.cached_mb`` -> ``setup_s``.
- ``registry.*`` (construct, py4j calls, planning) -> ``latency_p50_s`` and
  ``throughput_qps`` on batch_sf01.
- ``delivery.*`` -> ``latency_p50_s`` on batch_sf01 (large results).
- ``exec.*``: job, stage and task counts -> ``latency_p50_s`` on
  batch_sf01; CPU, shuffle and spill -> ``throughput_qps``;
  ``exec.failed_tasks`` -> failed invocations. ``exec.job_floor_s``
  tracks host drift.
- ``stream.*`` -> ``throughput_qps`` and ``latency_p50_s`` on
  stream_replay, through ``pv_hourly_stream``; ``stream.replay_prepare_s``
  -> ``setup_s``.
- ``write.*`` -> ``throughput_qps`` on stream_replay, nothing on batch_sf01.
- ``op.<entry>.p50_s`` says which entry moved its workload.

Every per-layer metric is printed on every workload. One that does not
apply to the workload reads 0, which means "not applicable": the
``stream.*`` metrics and the stream entries' ``op.*`` on batch_sf01,
the batch entries' ``op.*`` on stream_replay. Per-layer values are
means per invocation over the traced passes; a run times untraced and
traced passes alternately, so a short run has one traced pass and each
``op.*`` value is then a single invocation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

TIMEOUT_S = 170  # the run is killed past this, so the command ends within 180 s
POLL_S = 0.5


def _metric_specs(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _procs() -> dict[int, tuple[int, str]]:
    """{pid: (parent pid, start time)} of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid ... starttime is the 20th
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(name)] = (int(fields[1]), fields[19])
    return out


def _tree(root: int, procs: dict[int, tuple[int, str]]) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in tree:
            tree.add(pid)
            todo.extend(children.get(pid, []))
    return tree


def _pss_bytes(pids) -> int:
    """Proportional set size summed over ``pids``: pages that forked
    Python workers share with their daemon count once, not per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def _stop_all(seen: dict[int, str]) -> None:
    """SIGTERM, then SIGKILL, every process of the run still alive; wait until none is.

    ``seen`` maps pid to start time, so a recycled pid is never signalled."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [pid for pid, (_, st) in _procs().items() if seen.get(pid) == st]
        if not alive:
            return
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            procs = _procs()
            if not any(seen.get(pid) == procs[pid][1] for pid in alive if pid in procs):
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true", help="run on the sf0.001 tables (the benchmark's own tests)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "flink_project_userbehavioranalysis_spark"))
    ):
        print("run from the repository root: __spark_entry__.py and the engine package are missing", file=sys.stderr)
        return 2
    specs = _metric_specs(root)[args.trace]

    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "jvm", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    out_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update(
        TMPDIR=dirs["tmp"],  # the engine's ubx-* scratch and replay dirs land here
        SPARK_LOCAL_DIRS=dirs["local"],
        PYTHONPATH=root,  # Python workers import the engine from the checkout
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['jvm']}",
    )
    cmd = [
        sys.executable, "-m", "perfbench.runner",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--out", out_path,
    ] + (["--smoke"] if args.smoke else [])

    marker = os.path.join(run_dir, "measured")  # the runner creates it after its last timed pass
    peak = last = 0
    seen: dict[int, str] = {}
    proc = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True, stdin=subprocess.DEVNULL)
    try:
        deadline = time.monotonic() + TIMEOUT_S
        while proc.poll() is None:
            procs = _procs()
            tree = _tree(proc.pid, procs)
            seen.update((pid, procs[pid][1]) for pid in tree)
            if not os.path.exists(marker):
                # a level held over two polls: a child spawned by vfork
                # shares the JVM's memory until it execs, and would
                # count that memory twice for an instant
                now = _pss_bytes(tree)
                peak, last = max(peak, min(now, last)), now
            if time.monotonic() > deadline:
                print(f"timed out after {TIMEOUT_S} s", file=sys.stderr)
                break
            time.sleep(POLL_S)
    finally:
        _stop_all(seen)
        proc.wait()
    try:
        if proc.returncode != 0 or not os.path.exists(out_path):
            print(f"workload run failed (exit {proc.returncode})", file=sys.stderr)
            return proc.returncode or 1
        with open(out_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    values = res["per_layer"] if args.trace else dict(res["end_to_end"], peak_rss_mb=peak / 1e6)
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in specs.items()}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"failed_ratio {res['failed'] / res['attempted']:.6g} 1")
    for f in res["failures"]:
        print(f"failed invocation {f['entry']}: {f['error']}")
    for name, verdict in sorted(res["oracle"].items()):
        if verdict != "ok":
            print(f"oracle mismatch {name}: {verdict}")
    print("host " + json.dumps(res["host"], sort_keys=True))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
