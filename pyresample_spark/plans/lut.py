"""Neighbour-info LUT precompute + persistence (SURVEY.md §4, M5).

Reference parity: BaseResampler.precompute caching keyed by geometry
hash (resampler.py:69-88), bilinear zarr LUT save/load
(bilinear/xarr.py:198-219), JSON slice cache (_caching.py:21-113).

Spark-first: the "neighbour info" IS a DataFrame
(tgt_id, src_id, dist_m[, nn_rank]) — the materialized join result.
Caching = ``persist()`` within a session and a BUCKETED external table
across sessions, keyed by (source geometry hash, target geometry hash,
radius, k). Reusing the LUT across channels/datasets is the reference's
main performance lever ("can increase performance greatly",
docs/concepts/resampling.rst:98-101): at 100 TB, one expensive spatial
join amortizes over every subsequent gather, which becomes a plain
equi-join on src_id.

Storage layout (VERDICT r4 item 2): the LUT is written hash-bucketed by
``tgt_id`` (``bucketBy().sortBy().saveAsTable()`` — Spark only supports
bucketed writes through the table API, not bare parquet paths). The
bucket count is the writing session's ``spark.sql.shuffle.partitions``,
read at ``save()`` time, and the rows are repartitioned on the bucket
column first, so each bucket is exactly one file
(``sources/bucketed.py write_bucketed``). The bucketed scan reports
``HashPartitioning(tgt_id, n)``, so every apply-side
``groupBy("tgt_id")`` / ``tgt_id`` equi-join over the loaded LUT
co-locates WITHOUT a shuffle — on a 1000-executor cluster the
per-channel apply is a local scan + broadcast join + partial-free agg,
one task per bucket. A LUT small enough to broadcast is broadcast
instead, which turns the bucketed scan off, so empty buckets cost no
tasks. A ``.meta.json`` sidecar records the bucket spec so a NEW
session (or a rebuilt catalog) can re-register the external table over
the same files with ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` and
recover the shuffle-free layout, whatever bucket count the cache was
written with; with no sidecar (pre-r5 caches) loads fall back to a
plain parquet read.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import socket
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession

from pyresample_spark.sources.bucketed import write_bucketed

# Writer-lock bounds (VERDICT r5 item 4 / ADVICE r6). A live writer
# heartbeats its lock (touches mtime every LOCK_HEARTBEAT_S), so a lock
# whose mtime is older than LOCK_STALE_S means "no heartbeat for 10
# minutes" — presumed crashed — not merely "materialization is slow".
# Waiters therefore never time out on a live, progressing writer.
LOCK_STALE_S = 600.0
LOCK_POLL_S = 0.25
LOCK_HEARTBEAT_S = 25.0
# absolute ceiling on honoring a heartbeat-dead lock whose same-host
# pid still exists (e.g. a SIGSTOPped writer): break past this
LOCK_HARD_STALE_S = 3600.0


class LutCache:
    """Bucketed-table-backed cache of precomputed join LUTs."""

    def __init__(self, base_dir: str | None = None,
                 bucket_col: str = "tgt_id"):
        # None: the deployment's PYRESAMPLE_SPARK_LUT_DIR, else a
        # per-host temp dir
        self.base_dir = (
            base_dir
            or os.environ.get("PYRESAMPLE_SPARK_LUT_DIR")
            or os.path.join(tempfile.gettempdir(), "pyresample_spark_luts")
        )
        self.bucket_col = bucket_col

    def key(self, src_hash: str, tgt_hash: str, radius_m: float, k) -> str:
        payload = f"{src_hash}|{tgt_hash}|{radius_m!r}|{k!r}"
        return hashlib.sha1(payload.encode()).hexdigest()[:20]

    def path(self, key: str) -> str:
        return os.path.join(self.base_dir, f"lut_{key}.parquet")

    def _meta_path(self, key: str) -> str:
        return os.path.join(self.base_dir, f"lut_{key}.meta.json")

    def _table(self, key: str) -> str:
        # table names are session-catalog-global: include the cache dir
        # in the name so two caches with the same geometry key (e.g.
        # pytest tmp dirs) never alias each other's files
        d = hashlib.sha1(
            os.path.abspath(self.base_dir).encode()
        ).hexdigest()[:8]
        return f"lut_{key}_{d}"

    def _lock_path(self, key: str) -> str:
        return os.path.join(self.base_dir, f"lut_{key}.lock")

    def _lock_owner_alive(self, lock: str) -> bool:
        """True if the lock's recorded owner is a live process ON THIS
        HOST. Cross-host owners (shared filesystem) are unknowable from
        here — report NOT-alive so the mtime heartbeat ALONE decides
        (a live remote writer keeps its mtime fresh; reporting remote
        owners alive would make their crashed locks unbreakable and
        wedge every waiter forever)."""
        try:
            with open(lock) as f:
                pid_s, host, _ = f.read().split("@", 2)
        except (OSError, ValueError):
            return False  # unreadable/legacy lock: fall back to mtime
        if host != socket.gethostname():
            return False
        try:
            os.kill(int(pid_s), 0)
            return True
        except (OSError, ValueError):
            return False

    def _break_stale_lock(self, key: str, lock: str) -> None:
        """Unlink an abandoned lock and clean up the crashed writer's
        partial output so it reads as a miss, never as truncated data
        (ADVICE r6): if the sidecar was never published, the parquet
        dir under the key is mid-write garbage — delete it."""
        try:
            os.unlink(lock)
        except OSError:
            pass
        if not os.path.exists(self._meta_path(key)):
            p = self.path(key)
            if os.path.isdir(p) and not os.path.exists(
                os.path.join(p, "_SUCCESS")
            ):
                shutil.rmtree(p, ignore_errors=True)

    def load(self, spark: SparkSession, key: str) -> DataFrame | None:
        if os.path.exists(self._lock_path(key)):
            # a writer (possibly another session sharing this cache
            # dir) is materializing this key: the parquet dir may be
            # partial, so report a miss — get_or_compute's save() will
            # queue on the lock and load the finished result instead
            return None
        p = self.path(key)
        if not os.path.exists(p):
            return None
        mp = self._meta_path(key)
        if not os.path.exists(mp):
            # pre-bucketing cache layout — but only if the write
            # COMMITTED (_SUCCESS present). A first-time writer killed
            # hard mid-write (lock later broken as stale, meta never
            # written) leaves a partial parquet dir here; serving it
            # would return silently truncated neighbour info (ADVICE
            # r6). No marker → miss, caller recomputes.
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                return spark.read.parquet(p)
            return None
        with open(mp) as f:
            meta = json.load(f)
        name = self._table(key)
        # IF NOT EXISTS: two threads of one session may race the
        # tableExists probe; the registration is idempotent (same DDL
        # over the same files) so first-wins is correct
        cols = ", ".join(
            f"`{c}` {t}" for c, t in meta["schema"]
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({meta['bucket_col']}) "
            f"SORTED BY ({meta['bucket_col']}) "
            f"INTO {meta['num_buckets']} BUCKETS "
            f"LOCATION '{p}'"
        )
        return spark.table(name)

    def _await_writer(self, spark: SparkSession, key: str):
        """Another writer holds the lock for ``key``: poll until it
        releases (or its lock goes stale and is broken), then load the
        finished LUT. Returns ``None`` if the writer vanished without
        publishing (crashed mid-write: lock gone, no complete data) —
        the caller takes over and writes its own result."""
        lock = self._lock_path(key)
        while os.path.exists(lock):
            try:
                age = time.time() - os.path.getmtime(lock)
            except OSError:
                break  # released between exists() and getmtime()
            # The writer heartbeats mtime every LOCK_HEARTBEAT_S, so a
            # genuinely old mtime means no heartbeat — but double-check
            # pid liveness (same-host) before breaking: a paused/
            # clock-skewed but living writer must not have its output
            # clobbered by a concurrent overwrite (ADVICE r6).
            if age > LOCK_STALE_S and not self._lock_owner_alive(lock):
                self._break_stale_lock(key, lock)
                break
            # Hard backstop: a SIGSTOPped same-host writer keeps a live
            # pid with a dead heartbeat and would otherwise wedge every
            # waiter forever — past the hard limit, break regardless.
            if age > LOCK_HARD_STALE_S:
                self._break_stale_lock(key, lock)
                break
            # No overall deadline below the backstop: as long as the
            # heartbeat advances, the writer is alive and progressing —
            # waiting is correct even past LOCK_STALE_S wall-clock
            # (large bucketed LUTs legitimately take longer than 10
            # minutes to materialize).
            time.sleep(LOCK_POLL_S)
        return self.load(spark, key)

    def save(self, lut: DataFrame, key: str) -> DataFrame:
        """Materialize + publish the LUT for ``key``.

        Concurrency semantics (VERDICT r5 item 4): a POSIX
        O_CREAT|O_EXCL lockfile serializes writers of the same key
        across sessions sharing a cache dir. The loser of the race
        does NOT rewrite — it waits for the winner and loads its
        result. The ``.meta.json`` sidecar is written LAST, after the
        parquet + table commit, so any reader that sees the sidecar
        sees complete data; readers never take the lock (load()
        treats a locked key as a miss). Locks older than
        ``LOCK_STALE_S`` are presumed crashed and broken."""
        p = self.path(key)
        os.makedirs(self.base_dir, exist_ok=True)
        spark = lut.sparkSession
        lock = self._lock_path(key)
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            waited = self._await_writer(spark, key)
            if waited is not None:
                return waited
            # the concurrent writer crashed without publishing — take
            # over: retry the lock and write our own result
            return self.save(lut, key)
        stop_beat = threading.Event()

        def _heartbeat():
            # Touch the lock's mtime while the materialization runs so
            # waiters see "alive": staleness means no-heartbeat, not
            # slow-write (ADVICE r6). Daemon thread: a hard kill stops
            # the heartbeat too, which is exactly the stale signal.
            while not stop_beat.wait(LOCK_HEARTBEAT_S):
                try:
                    os.utime(lock, None)
                except OSError:
                    return  # lock vanished (broken externally): stop

        beat = threading.Thread(target=_heartbeat, daemon=True)
        try:
            os.write(
                fd,
                f"{os.getpid()}@{socket.gethostname()}@{time.time()}"
                .encode(),
            )
            os.close(fd)
            beat.start()
            name = self._table(key)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            n = write_bucketed(lut, name, [self.bucket_col], path=p)
            with open(self._meta_path(key), "w") as f:
                json.dump(
                    {
                        "bucket_col": self.bucket_col,
                        "num_buckets": n,
                        "schema": [
                            (fld.name, fld.dataType.simpleString())
                            for fld in lut.schema.fields
                        ],
                    },
                    f,
                )
            return spark.table(name)
        finally:
            stop_beat.set()
            if beat.is_alive():
                beat.join(timeout=5.0)
            try:
                os.unlink(lock)
            except OSError:
                pass

    def get_or_compute(
        self,
        spark: SparkSession,
        src_hash: str,
        tgt_hash: str,
        radius_m: float,
        k,
        compute,
    ) -> DataFrame:
        key = self.key(src_hash, tgt_hash, radius_m, k)
        cached = self.load(spark, key)
        if cached is not None:
            return cached
        return self.save(compute(), key)
