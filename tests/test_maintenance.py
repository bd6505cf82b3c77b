"""Maintenance-tier audits: incremental MV refresh must touch ONLY the
delta partitions (and be idempotent on re-ingest), and compaction must
hit its file-count target while preserving content exactly.

The value-level contract (maintained view ≡ full recompute; compacted
aggregate ≡ raw-table oracle) is auto-covered by the registry oracle
test; these tests pin the FILE-level mechanics the oracle can't see.
"""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from flink_project_userbehavioranalysis_spark import layout
from flink_project_userbehavioranalysis_spark.io import load_events
from flink_project_userbehavioranalysis_spark.operators import maintenance as mt
from flink_project_userbehavioranalysis_spark.session import ARTIFACTS


def _part_files(path: str) -> dict[str, set[str]]:
    """Partition dir → set of parquet file names (the identity of the
    physical layout; an untouched partition keeps identical names)."""
    out: dict[str, set[str]] = {}
    for d in glob.glob(os.path.join(path, "dt=*")):
        out[os.path.basename(d)] = {
            os.path.basename(f) for f in glob.glob(os.path.join(d, "*.parquet"))
        }
    return out


def test_refresh_touches_only_delta_partitions(spark, sf_dir, tmp_path):
    ev = load_events(spark, sf_dir)
    maxd = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    hist = ev.filter(F.to_date("ts") < F.lit(maxd))
    delta = ev.filter(F.to_date("ts") >= F.lit(maxd))
    path = str(tmp_path / "mv")

    mt.build_mv(mt._hourly_pv(hist), path)
    before = _part_files(path)
    assert len(before) > 1, "fixture needs multiple history days"

    mt.refresh_mv(spark, mt._hourly_pv(delta), path)
    after = _part_files(path)
    delta_dt = f"dt={maxd}"
    assert delta_dt in after and delta_dt not in before
    # every history partition: same directory, same file names — the
    # refresh never rewrote them (dynamic overwrite, not truncate)
    for d, files in before.items():
        assert after[d] == files, f"history partition {d} was rewritten"

    # idempotent re-ingest: replaying the same delta swaps the same
    # partition (content equal), never appends duplicates
    rows1 = spark.read.schema(mt._MV_SCHEMA).parquet(path).count()
    mt.refresh_mv(spark, mt._hourly_pv(delta), path)
    rows2 = spark.read.schema(mt._MV_SCHEMA).parquet(path).count()
    assert rows1 == rows2


def test_compact_hits_file_target_and_preserves_content(spark, sf_dir, tmp_path):
    ev = load_events(spark, sf_dir).select("user_id", "item_id", "event_type", "ts")
    frag, comp = str(tmp_path / "frag"), str(tmp_path / "comp")
    ev.repartition(64).write.mode("overwrite").parquet(frag)

    stats = layout.compact_small_files(spark, frag, comp, target_bytes=64 << 20)
    assert stats["files_before"] == 64
    assert stats["files_after"] == stats["n_out"] < 8
    # content-exact: multiset equality in both directions
    a, b = spark.read.parquet(frag), spark.read.parquet(comp)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compact_with_sort_cols_restores_clustering(spark, sf_dir, tmp_path):
    ev = load_events(spark, sf_dir).select("user_id", "item_id", "ts")
    frag, comp = str(tmp_path / "frag"), str(tmp_path / "comp")
    ev.repartition(32).write.mode("overwrite").parquet(frag)
    layout.compact_small_files(
        spark, frag, comp, target_bytes=1 << 20, sort_cols=["user_id"]
    )
    files = sorted(glob.glob(os.path.join(comp, "*.parquet")))
    if len(files) < 2:
        return  # too little data to check disjointness at this SF
    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                if col.path_in_schema == "user_id" and col.statistics:
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # range-partitioned rewrite ⇒ per-file user_id ranges are
    # non-overlapping (boundary value may be shared across adjacent
    # files: range partitioning splits AT a key, not between keys)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges


def test_erase_users_roundtrip(spark, sf_dir):
    """The scrubbed store contains ZERO blocklisted-user rows, keeps
    every other row, and the audit column accounts for every erased
    row (oracle hash-match is auto-covered)."""
    import pyspark.sql.functions as F

    from flink_project_userbehavioranalysis_spark.io import load_events
    from flink_project_userbehavioranalysis_spark.operators import maintenance as M

    df = M.erase_users_roundtrip(spark, sf_dir)
    rows = df.collect()
    assert rows
    ev = load_events(spark, sf_dir)
    n_total = ev.count()
    n_blocked = ev.filter(F.col("user_id") % 101 == 0).count()
    assert n_blocked > 0, "modulus must erase a non-trivial set at this SF"
    assert sum(r["n"] for r in rows) == n_total - n_blocked
    assert sum(r["n_erased"] for r in rows) == n_blocked
    # the written store itself (not just the aggregate) is clean
    path = ARTIFACTS.scratch_dir(spark, "erase", sf_dir)
    back = spark.read.parquet(path)
    assert back.filter(F.col("user_id") % 101 == 0).count() == 0
    assert back.count() == n_total - n_blocked


def test_erase_users_total_over_null_user(spark, sf_dir, tmp_path):
    """Totality over a nullable user_id (r7 review finding): a NULL
    user is on no erasure list, so it must be KEPT by the rewrite and
    absent from the audit — the bare %-predicate would silently delete
    it from the store without a trace. Oracle-matched on the crafted
    nullable corpus."""
    import shutil

    import pyspark.sql.functions as F

    from flink_project_userbehavioranalysis_spark.io import TABLES
    from flink_project_userbehavioranalysis_spark.operators import maintenance as M
    from tests.oracle import assert_matches_oracle

    d = tmp_path / "sf_nulluser"
    d.mkdir()
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    nulled = ev.limit(3).withColumn("user_id", F.lit(None).cast("long"))
    # single FILE (not a Spark part-dir): DuckDB's read_parquet in the
    # oracle harness points at the bare path
    staging = str(tmp_path / "events_staging")
    ev.unionByName(nulled).coalesce(1).write.parquet(staging)
    import glob as _glob

    part = _glob.glob(f"{staging}/part-*.parquet")[0]
    shutil.copy(part, str(d / "events.parquet"))

    df = M.erase_users_roundtrip(spark, str(d))
    assert_matches_oracle(df, M.erase_users_oracle_sql(), str(d))
    back = spark.read.parquet(ARTIFACTS.scratch_dir(spark, "erase", str(d)))
    assert back.filter(F.col("user_id").isNull()).count() == 3  # kept
    assert back.filter(F.col("user_id") % 101 == 0).count() == 0  # erased


def _scd2_store(spark, tmp_path, rows):
    """Write a crafted SCD2 store (contract cols + merge meta) and
    return its path. rows: (user, tier, vfrom, vto, n_days, last_day)."""
    path = str(tmp_path / "scd2_store")
    (
        spark.createDataFrame(
            rows,
            "user_id long, tier long, valid_from string, valid_to string,"
            " n_days long, last_day string",
        )
        .withColumn("ub", mt._scd2_bucket(4))
        .write.mode("overwrite")
        .partitionBy("ub")
        .parquet(path)
    )
    return path


def test_apply_scd2_delta_merge_cases(spark, tmp_path):
    """One delta exercises every MERGE branch at once: extension (same
    tier), close+open (tier change), brand-new user insert, untouched
    user pass-through, and closed-row immutability."""
    path = _scd2_store(
        spark,
        tmp_path,
        [
            (1, 0, "2024-01-01", "2024-01-03", 2, "2024-01-02"),  # closed: immutable
            (1, 1, "2024-01-03", None, 1, "2024-01-03"),  # current: will extend
            (2, 2, "2024-01-01", None, 3, "2024-01-03"),  # current: tier change
            (3, 0, "2024-01-02", None, 1, "2024-01-02"),  # untouched by delta
        ],
    )
    delta = spark.createDataFrame(
        [(1, "2024-01-05", 1), (2, "2024-01-05", 0), (9, "2024-01-05", 2)],
        "user_id long, d string, new_tier long",
    )
    mt.apply_scd2_delta(spark, delta, path, buckets=4)
    back = sorted(
        tuple(r)
        for r in spark.read.schema(mt._SCD2_SCHEMA)
        .parquet(path)
        .select(*mt._SCD2_COLS)
        .collect()
    )
    assert back == sorted(
        [
            (1, 0, "2024-01-01", "2024-01-03", 2, "2024-01-02"),
            (1, 1, "2024-01-03", None, 2, "2024-01-05"),  # extended
            (2, 2, "2024-01-01", "2024-01-05", 3, "2024-01-03"),  # closed
            (2, 0, "2024-01-05", None, 1, "2024-01-05"),  # opened
            (3, 0, "2024-01-02", None, 1, "2024-01-02"),  # untouched
            (9, 2, "2024-01-05", None, 1, "2024-01-05"),  # inserted
        ]
    )


def test_apply_scd2_delta_idempotent(spark, tmp_path):
    """Replaying the same day's delta must be a byte-for-byte no-op
    (the last_day >= d guard): apply x2 == apply x1."""
    path = _scd2_store(
        spark, tmp_path, [(1, 1, "2024-01-03", None, 1, "2024-01-03")]
    )
    delta = spark.createDataFrame(
        [(1, "2024-01-05", 1)], "user_id long, d string, new_tier long"
    )
    mt.apply_scd2_delta(spark, delta, path, buckets=4)
    once = sorted(
        tuple(r)
        for r in spark.read.schema(mt._SCD2_SCHEMA).parquet(path).collect()
    )
    mt.apply_scd2_delta(spark, delta, path, buckets=4)
    twice = sorted(
        tuple(r)
        for r in spark.read.schema(mt._SCD2_SCHEMA).parquet(path).collect()
    )
    assert once == twice
    assert once[0][:6] == (1, 1, "2024-01-03", None, 2, "2024-01-05")


def test_apply_scd2_delta_prunes_untouched_buckets(spark, tmp_path):
    """The MERGE must rewrite ONLY the bucket directories the delta
    touches — the cost-proportional-to-delta contract: untouched
    buckets keep their original files byte-for-byte."""
    path = _scd2_store(
        spark,
        tmp_path,
        [
            (4, 0, "2024-01-01", None, 1, "2024-01-01"),  # ub 0
            (5, 1, "2024-01-01", None, 1, "2024-01-01"),  # ub 1
        ],
    )
    sig_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/ub=*/part-*.parquet")
    }
    delta = spark.createDataFrame(
        [(4, "2024-01-05", 0)], "user_id long, d string, new_tier long"
    )
    mt.apply_scd2_delta(spark, delta, path, buckets=4)
    ub1 = [f for f in sig_before if "/ub=1/" in f]
    assert ub1, "expected an ub=1 partition file"
    for f in ub1:  # untouched bucket: same files, untouched mtimes
        assert os.path.exists(f) and os.path.getmtime(f) == sig_before[f]


def test_user_tier_scd2_maintain_equals_rebuild(spark, sf_dir):
    """Maintained == rebuilt: the registered MERGE lifecycle must
    reproduce the batch SCD2 build row-for-row (its driver oracle)."""
    from flink_project_userbehavioranalysis_spark.operators import relational as R

    got = sorted(
        tuple(r) for r in mt.user_tier_scd2_maintain(spark, sf_dir).collect()
    )
    want = sorted(tuple(r) for r in R.user_tier_scd2(spark, sf_dir).collect())
    assert got == want


def test_cdc_apply_oracle_and_tombstones(spark, sf_dir):
    """CDC apply: incremental (base + delta compaction, then merge)
    must equal one LWW pass over the whole feed (the oracle), and no
    key whose final op is a DELETE may appear."""
    from tests.oracle import assert_matches_oracle

    df = mt.cdc_apply(spark, sf_dir)
    assert_matches_oracle(df, mt.CDC_APPLY_SQL, sf_dir)
    assert df.count() > 0


def test_cdc_apply_delete_reinsert_across_boundary(spark, sf_dir, tmp_path):
    """Tombstone retention: a key deleted in history must reappear if
    the delta upserts it, and stay gone if the delta's last op is the
    delete — crafted feed with the split day in the middle."""
    import shutil

    from flink_project_userbehavioranalysis_spark.io import TABLES

    d = tmp_path / "sf"
    d.mkdir()
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    rows = [
        # user 1: upsert day1, DELETE day1, re-upsert day2 (delta) -> alive
        (1, "2024-01-01 01:00:00", 1, "view", 1.0, '{"k": 1}'),
        (2, "2024-01-01 02:00:00", 1, "error", 2.0, '{"k": 1}'),
        (3, "2024-01-02 01:00:00", 1, "view", 3.0, '{"k": 1}'),
        # user 2: upsert day1, DELETE day2 (delta) -> gone
        (4, "2024-01-01 01:00:00", 2, "view", 4.0, '{"k": 2}'),
        (5, "2024-01-02 01:00:00", 2, "error", 5.0, '{"k": 2}'),
        # user 3: only history upserts -> alive with history value
        (6, "2024-01-01 03:00:00", 3, "click", 6.0, '{"k": 3}'),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        str(tmp_path / "staging")
    )
    import glob as _glob

    part = _glob.glob(f"{tmp_path}/staging/part-*.parquet")[0]
    shutil.copy(part, str(d / "events.parquet"))
    got = {r["user_id"]: (r["last_value"], r["n_changes"])
           for r in mt.cdc_apply(spark, str(d)).collect()}
    assert got == {1: (3.0, 3), 3: (6.0, 1)}


def test_export_shards_roundtrip(spark, sf_dir):
    """The manifest hash-matches the oracle AND the physical layout is
    the hive-partitioned shard tree a training loader expects — one
    shard=N directory per planned bucket, every doc routed by the
    closed-form md5 plan."""
    import glob
    import os

    from flink_project_userbehavioranalysis_spark.operators import maintenance as MT
    from tests.oracle import assert_matches_oracle

    df = MT.export_shards_roundtrip(spark, sf_dir, buckets=8)
    assert_matches_oracle(df, MT.export_shards_oracle_sql(buckets=8), sf_dir)
    out = ARTIFACTS.scratch_dir(spark, "shards", sf_dir)
    dirs = {os.path.basename(p) for p in glob.glob(os.path.join(out, "shard=*"))}
    assert dirs == {f"shard={k}" for k in range(8)}
    n_docs = df.agg({"n_docs": "sum"}).collect()[0][0]
    assert n_docs == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
