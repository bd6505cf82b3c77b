"""The benchmark's workloads: which registered entries run, on what input.

Each workload is a closed loop with one client: the next invocation
starts when the previous one has returned its rows. Inputs are the
repo's test tables (TESTDATA.md) at one scale factor, copied byte for
byte under ``perfbench/data/`` so that a run reads only its checkout;
only the tables the entries read are copied. The seed sets the order
of the entries within each pass, not the data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass(frozen=True)
class Workload:
    entries: tuple[str, ...]
    sf: str  # the scale factor's directory under DATA_ROOT
    min_passes: int = 2  # timed passes per run, at least


WORKLOADS = {
    # The reference's own analyses at sf0.1, the scale bench.py uses.
    # An invocation is 0.3-1.5 s, of which driver-side construction is
    # 20-35%, so the registry, planning and scheduling layers do most of
    # the work.
    "batch_sf01": Workload(
        entries=(
            "hot_items_topn", "pv_hourly", "uv_hourly", "uv_approx",
            "count_by_channel_behavior", "blacklist", "consec_fail",
            "order_timeout", "interval_join", "tpch_q1ish",
            "hot_pages_topn", "session_paths_topk",
        ),
        sf="sf0.1",
    ),
    # The reference's streaming mode: sf0.01 events replayed as
    # file-source micro-batches (4 chunks plus a sentinel) through the
    # windowed update-mode twin, plus the maintained PV view
    # (partitioned table writes). Per-micro-batch overhead, state-store
    # commits and writes dominate, not data size. A pass is short
    # (5-7 s), so a run times four: two passes span too little of the
    # host's slow and fast phases, and the first timed pass is often
    # 10-25% slower than the later ones, which the medians leave out.
    "stream_replay": Workload(
        entries=("pv_hourly_stream", "mv_pv_hourly_maintain"),
        sf="sf0.01",
        min_passes=4,
    ),
}

# A smoke pass (the benchmark's own tests) runs a workload on sf0.001.
SMOKE_SF = "sf0.001"

# uv_approx is a sketch entry, registered rows-only: its row count must
# equal that of uv_hourly's oracle, which groups the same view events
# by the same hourly windows.
ROWS_ONLY_AGAINST = {"uv_approx": "uv_hourly"}
