"""SparkSession construction for the engine.

Every config here exists for a reason that survives the jump from
local[32] to a 1000-executor cluster:

- ``nanosAsLong``: early testdata generations stored events.ts as
  TIMESTAMP(NANOS), which Spark's vectorized parquet reader rejects by
  default; the flag reads those nanos as BIGINT (a no-op for the newer
  timestamp[us] generation). io.normalize_events adapts to whichever
  the scan yields.
- ``session.timeZone=UTC``: all event time is epoch-based; UTC on both
  Spark and the DuckDB oracle removes a whole class of off-by-tz bugs.
- AQE on: runtime coalescing of small shuffle partitions and skew-join
  splitting — the knob that keeps a fixed shuffle-partition count sane
  across scale factors.
- shuffle partitions default to the local core count; on a real cluster
  this is overridden (cores × executors × 2-3) or left to AQE's
  coalescing with a high initial value.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections import OrderedDict
from collections.abc import Callable, Mapping

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "ubx-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``streaming=True`` additionally switches the state store to RocksDB
    (bounded executor memory at scale; the HDFS-backed default keeps all
    state on-heap, which dies first at 100 TB).
    """
    par = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{par}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.default.parallelism", str(par))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if streaming:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _app_id(spark: SparkSession) -> str:
    """The Spark application id, read over py4j once per SparkContext.
    Keying on it rather than ``id(spark)`` matters: CPython can recycle
    an id() after a stopped session is collected, which would hand back
    artifacts bound to a dead JVM; a new SparkContext object (a cold
    JVM) carries a new id, so every artifact is rebuilt."""
    sc = spark.sparkContext
    app = getattr(sc, "_ubx_app_id", None)
    if app is None:
        app = sc._ubx_app_id = sc.applicationId
    return app


class ArtifactStore:
    """The session's artifacts: persisted indexes, replay chunks,
    cached scans, broadcasts and checkpointed manifests, built once per
    Spark application and reused for the rest of it.

    One key decides identity, scratch location and lifetime:
    ``(applicationId, abspath(sf_dir), kind, sorted params)``. The
    scratch directory an artifact is written to is derived from that
    same key, so two parameter sets can never share one directory.
    Entries are kept in access order; a ``get`` given ``max_entries``
    evicts that kind's least recently used entries beyond the bound and
    hands each to ``release``."""

    def __init__(self) -> None:
        self._entries: OrderedDict[tuple, object] = OrderedDict()

    @staticmethod
    def _key(spark: SparkSession, kind: str, sf_dir: str, params: dict | None) -> tuple:
        params = tuple(sorted((params or {}).items()))
        return (_app_id(spark), os.path.abspath(sf_dir), kind, params)

    @staticmethod
    def _path(key: tuple) -> str:
        app, sf_dir, kind, params = key
        h = hashlib.md5(repr((sf_dir, params)).encode()).hexdigest()[:10]
        return os.path.join(tempfile.gettempdir(), f"ubx-{app}-{kind}-{h}")

    def scratch_dir(
        self, spark: SparkSession, kind: str, sf_dir: str, params: dict | None = None
    ) -> str:
        """The artifact's scratch directory, created if missing. Repeat
        invocations in one session REUSE (and overwrite) it instead of
        mkdtemp-leaking a copy per call."""
        path = self._path(self._key(spark, kind, sf_dir, params))
        os.makedirs(path, exist_ok=True)
        return path

    def get(
        self,
        spark: SparkSession,
        kind: str,
        sf_dir: str,
        params: dict | None,
        build: Callable[[str], object],
        max_entries: int | None = None,
        release: Callable[[object], None] | None = None,
    ) -> object:
        """The memoized artifact; on a miss ``build(scratch_path)``
        makes it (the path is not created — builds that write make it)."""
        key = self._key(spark, kind, sf_dir, params)
        if key in self._entries:
            self._entries.move_to_end(key)
            return self._entries[key]
        value = self._entries[key] = build(self._path(key))
        if max_entries is not None:
            same = [k for k in self._entries if k[2] == kind]
            for k in same[: len(same) - max_entries]:
                evicted = self._entries.pop(k)
                if release is not None:
                    release(evicted)
        return value

    def peek(self, spark: SparkSession, kind: str, sf_dir: str, params: dict | None = None):
        """The artifact if it was built in this session, else None."""
        return self._entries.get(self._key(spark, kind, sf_dir, params))

    def pop(self, spark: SparkSession, kind: str, sf_dir: str, params: dict | None = None):
        return self._entries.pop(self._key(spark, kind, sf_dir, params), None)

    def view(self, kind: str) -> "KindView":
        return KindView(self, kind)


class KindView(Mapping):
    """Live read view of one kind's entries; ``clear()`` drops them from
    the store without releasing anything (a bench's per-run reset)."""

    def __init__(self, store: ArtifactStore, kind: str) -> None:
        self._store, self._kind = store, kind

    def _keys(self) -> list[tuple]:
        return [k for k in self._store._entries if k[2] == self._kind]

    def __getitem__(self, key: tuple) -> object:
        if key[2] != self._kind:
            raise KeyError(key)
        return self._store._entries[key]

    def __iter__(self):
        return iter(self._keys())

    def __len__(self) -> int:
        return len(self._keys())

    def clear(self) -> None:
        for k in self._keys():
            del self._store._entries[k]


#: The process's store: one live SparkContext per process, and every
#: key carries its application id.
ARTIFACTS = ArtifactStore()
