"""Fingerprint-keyed Parquet memoization — the reference's core value prop.

Capability parity with the reference's caching chain: every dataset
transform is memoized under ``hash(input_fingerprint, pipe_fingerprint)``
(``warp_pipes/core/pipe.py:223-243``), and model vector caches are keyed by
``hash(model, output_key, dataset fingerprint)`` (``predict.py:212-221``,
``caching.py:144-157``). HF datasets gives the reference this for free;
Spark has no content-addressed cross-session cache, so this module is the
custom piece: a driver-side manager mapping fingerprints to Parquet paths.

Completeness: the reference validates its zarr store by scanning for
all-zero chunks (``caching.py:237-260``); Parquet writes are atomic at the
job level (output committer), so existence of ``_SUCCESS`` is the
completeness check — no data scan needed.
"""

from __future__ import annotations

import json
import logging
import os
import time
from typing import Callable, Optional

logger = logging.getLogger(__name__)

from pyspark.sql import DataFrame, SparkSession

from warp_pipes_spark.core.fingerprint import (
    combine_fingerprints,
    fingerprint_dataframe,
    fingerprint_path,
)
from warp_pipes_spark.core.pipe import Pipe


# (app_id, artifact path, _SUCCESS mtime_ns) -> loaded DataFrame. A warm
# indexed query re-opens the same handful of artifact directories every
# time it is constructed (postings + seed + stats per BM25 engine, say
# 3-4 spark.read.parquet calls at ~100 ms of driver/py4j each); the
# DataFrame returned by read.parquet is an immutable plan over the file
# listing taken at read time, so reusing the object for the same
# (published) artifact is exact. The mtime key invalidates on republish
# (store() renames a fresh staging dir into place -> new mtime), and
# clear_all_artifact_caches() drops the memo wholesale. This memoizes
# PLANS, never results: every artifact is still built from the parquet
# inputs inside the run that uses it.
_load_memo: dict = {}

# (cache_dir, fingerprint) -> [DataFrame, Thread] for write-behind
# publishes still in flight. Between store_async() returning and the
# background rename landing, the entry is not yet on disk — a
# same-session reader (the next query over a fresh LSH table or IVF
# list) would MISS, silently rebuild the artifact it was supposed to
# reuse, and race a duplicate staging write. Serving the live
# (persisted) plan from this registry is exact: it is the very
# DataFrame being published.
_inflight: dict = {}


def _wait_inflight_publishes(timeout: float = 60.0) -> None:
    """Join every in-flight write-behind publish thread (bounded)."""
    for entry in list(_inflight.values()):
        th = entry[1]
        if th is not None:
            try:
                th.join(timeout)
            except Exception:
                pass


def clear_all_artifact_caches() -> None:
    """Wipe EVERY on-disk engine artifact cache (index postings, vector
    codebooks, shingle tables, results cache) so the next run rebuilds
    everything from its parquet inputs.

    Measurement honesty: the index-once-query-many caches are a real
    production design (an index outliving one driver is the point), but a
    TIMED bench/soak run must not inherit a previous invocation's
    artifacts — ``bench.py`` and the soak harness call this first so every
    timed invocation is cold-start self-contained: index builds are paid
    inside the run they benefit."""
    import glob
    import shutil
    import tempfile

    # a publish landing AFTER the wipe would resurrect its artifact into
    # the "cold" cache — drain the write-behind queue first
    _wait_inflight_publishes()
    _inflight.clear()
    _load_memo.clear()
    for d in glob.glob(
        os.path.join(tempfile.gettempdir(), "warp_pipes_spark_*")
    ):
        shutil.rmtree(d, ignore_errors=True)
    for env in (
        "WPS_RESULTS_CACHE_DIR",
        "WPS_TRIGRAM_CACHE_DIR",
        "WPS_PHRASE_CACHE_DIR",
        "WPS_BOOL_CACHE_DIR",
    ):
        d = os.environ.get(env)
        if d:
            shutil.rmtree(d, ignore_errors=True)


def _write_local(df: DataFrame, staging: str) -> bool:
    """Write a driver-local frame (an Arrow-backed ``LocalRelation``, e.g.
    a collected top-k results table) into ``staging`` with pyarrow: its
    rows are already on the driver, so a Spark write would only ship them
    to a task and back (one job). Leaves what a Spark write leaves — one
    Parquet part file plus ``_SUCCESS`` — and reloads with the same Spark
    types. Returns False, for the Spark writer to take over, when ``df``
    is distributed or has a column type Python rows cannot carry exactly
    (``io.arrow_exact``)."""
    from warp_pipes_spark.io import arrow_exact, rows_to_arrow

    if not df.isLocal() or not arrow_exact(df.schema):
        return False
    import pyarrow.parquet as pq

    table = rows_to_arrow(df.collect(), df.schema)
    os.makedirs(staging)
    pq.write_table(table, os.path.join(staging, "part-00000.parquet"))
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    return True


class CacheManager:
    """Content-addressed Parquet cache: ``cache_dir/<fingerprint>/``.

    ``store`` is ATOMIC at the directory level: the dataset is written to a
    private staging dir and published with one ``os.rename``, so a
    concurrent reader either sees the complete published artifact (with
    ``_SUCCESS``) or nothing — never a half-written cache entry. If two
    writers race, the loser keeps the winner's (content-identical)
    artifact and discards its own staging dir."""

    def __init__(self, cache_dir: str):
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def path_for(self, fingerprint: str) -> str:
        return os.path.join(self.cache_dir, fingerprint)

    def exists(self, fingerprint: str) -> bool:
        if (self.cache_dir, fingerprint) in _inflight:
            return True
        return os.path.exists(os.path.join(self.path_for(fingerprint), "_SUCCESS"))

    def load(self, spark: SparkSession, fingerprint: str) -> DataFrame:
        entry = _inflight.get((self.cache_dir, fingerprint))
        if entry is not None:
            return entry[0]
        path = self.path_for(fingerprint)
        key = self._memo_key(spark, path)
        if key is not None:
            hit = _load_memo.get(key)
            if hit is not None:
                return hit
        df = spark.read.parquet(path)
        if key is not None:
            _load_memo[key] = df
        return df

    @staticmethod
    def _memo_key(spark: SparkSession, path: str):
        try:
            mtime = os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
            return (spark.sparkContext.applicationId, path, mtime)
        except Exception:  # unpublished artifact / Connect: no memo
            return None

    def update_meta(self, fingerprint: str, extra: dict) -> None:
        """Merge scalar fields into a published artifact's sidecar meta.
        Used to lazily memoize index-intrinsic statistics (e.g. total
        posting count) computed by the first query batch, so every later
        batch skips that probe job. Last-writer-wins on the tiny JSON is
        safe: all writers compute the same values from the same artifact."""
        path = os.path.join(self.path_for(fingerprint), "_wps_meta.json")
        try:
            meta = self.read_meta(fingerprint)
            meta.update(extra)
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, path)
        except OSError:
            pass

    def read_meta(self, fingerprint: str) -> dict:
        """Driver-side sidecar metadata written by ``store`` — scalar
        index statistics live here so warm query paths read a tiny local
        JSON instead of running a Spark probe job."""
        try:
            with open(
                os.path.join(self.path_for(fingerprint), "_wps_meta.json")
            ) as f:
                return json.load(f)
        except Exception:
            return {}

    def store(self, df: DataFrame, fingerprint: str, meta: Optional[dict] = None) -> DataFrame:
        """Publish ``df`` under ``fingerprint`` and return the published
        content: the loaded artifact, or — for a driver-local frame,
        written with pyarrow (`_write_local`) — ``df`` itself, which
        already holds the stored rows (reading it back would cost a
        schema-inference job)."""
        import shutil
        import uuid

        path = self.path_for(fingerprint)
        staging = f"{path}.staging-{uuid.uuid4().hex}"
        local = _write_local(df, staging)
        if not local:
            df.write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, "_wps_meta.json"), "w") as f:
            json.dump({"fingerprint": fingerprint, "written_at": time.time(), **(meta or {})}, f)
        try:
            os.rename(staging, path)  # atomic publish
        except OSError:
            # a concurrent writer published first: same fingerprint = same
            # content — use theirs, drop ours
            shutil.rmtree(staging, ignore_errors=True)
        return df if local else self.load(df.sparkSession, fingerprint)

    def store_async(
        self,
        df: DataFrame,
        fingerprint: str,
        meta: Optional[dict] = None,
        release: bool = True,
    ) -> DataFrame:
        """Write-behind publish: kick the Parquet write to a background
        thread and return ``df`` itself immediately, so the FIRST query
        over a freshly built artifact (LSH tables, IVF lists) is served
        from the in-memory plan while the artifact publishes concurrently
        — later sessions ``load`` it. The atomic staging-dir rename makes
        racing writers (including a second cold caller in this session)
        safe: one publishes, the others discard content-identical staging
        dirs. Falls back to a synchronous ``store`` if the Spark thread
        machinery is unavailable. Publish failures don't fail the query
        (the cache is a memo, not the result — the next cold call simply
        rebuilds) but ARE logged at warning level so a persistently
        failing publish (full disk, bad permissions) is visible instead
        of silently retraining every session.

        ``df`` is persisted before the fork so the background write and
        the foreground query share one materialization of the plan —
        without this an expensive plan (e.g. a PQ encode UDF over the
        whole corpus) executes at least twice, competing for the same
        executors. The persist is released once the publish completes.
        ``release`` is accepted for existing callers and has no effect."""

        we_persisted = False
        try:
            lvl = df.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                df.persist()
                we_persisted = True
        except Exception:
            pass

        inflight_key = (self.cache_dir, fingerprint)
        inflight_entry = [df, None]

        def _publish():
            try:
                self.store(df, fingerprint, meta)
            except Exception:
                logger.warning(
                    "write-behind cache publish failed for %s (artifact will "
                    "be rebuilt next session)",
                    fingerprint,
                    exc_info=True,
                )
            finally:
                _inflight.pop(inflight_key, None)
                if we_persisted:
                    try:
                        df.unpersist(blocking=False)
                    except Exception:
                        pass

        try:
            from pyspark import InheritableThread

            # registered BEFORE start so a reader never sees a gap; the
            # publish thread pops this same (mutated-in-place) entry
            _inflight[inflight_key] = inflight_entry
            t = InheritableThread(target=_publish, daemon=True)
            t.start()
            inflight_entry[1] = t
        except Exception:
            # sync fallback: _publish never runs, so release the persist
            # here — otherwise every fallback call leaks a cached plan
            _inflight.pop(inflight_key, None)
            if we_persisted:
                try:
                    df.unpersist(blocking=False)
                except Exception:
                    pass
            return self.store(df, fingerprint, meta)
        return df

    def get_or_compute(
        self,
        spark: SparkSession,
        fingerprint: str,
        compute: Callable[[], DataFrame],
        meta: Optional[dict] = None,
    ) -> DataFrame:
        if self.exists(fingerprint):
            return self.load(spark, fingerprint)
        return self.store(compute(), fingerprint, meta)

    # staging dirs younger than this may belong to a LIVE writer (it
    # publishes via a single rename only once the write completes); both
    # retention paths leave them alone and reclaim older leftovers
    STAGING_GRACE_SECONDS = 900.0

    def _scan_entries(self, staging_horizon: float):
        """Shared retention walk: sweeps abandoned staging dirs older
        than ``staging_horizon`` and yields (written_at, name, path) for
        every published entry. Returns (entries, swept_names)."""
        import shutil

        now = time.time()
        entries, swept = [], []
        for name in sorted(os.listdir(self.cache_dir)):
            path = os.path.join(self.cache_dir, name)
            if not os.path.isdir(path):
                continue
            if ".staging-" in name:
                if now - os.path.getmtime(path) > staging_horizon:
                    shutil.rmtree(path, ignore_errors=True)
                    swept.append(name)
                continue
            try:
                with open(os.path.join(path, "_wps_meta.json")) as f:
                    written = json.load(f).get("written_at", 0)
            except (OSError, ValueError):
                written = os.path.getmtime(path)
            entries.append((written, name, path))
        return entries, swept

    def vacuum(self, max_age_seconds: float) -> list:
        """Delete published entries whose ``written_at`` is older than
        ``max_age_seconds`` (content-addressed caches never go stale, but
        superseded fingerprints — old corpus snapshots, retired configs —
        accumulate forever without retention). Also sweeps orphaned
        staging dirs from crashed writers (same age horizon). Returns the
        deleted entry names."""
        import shutil

        now = time.time()
        entries, deleted = self._scan_entries(staging_horizon=max_age_seconds)
        for written, name, path in entries:
            if now - written > max_age_seconds:
                shutil.rmtree(path, ignore_errors=True)
                deleted.append(name)
        return sorted(deleted)

    def vacuum_bytes(self, max_total_bytes: int) -> list:
        """Size-based retention: delete the OLDEST published entries
        (by ``written_at``) until the cache's total on-disk size fits
        within ``max_total_bytes``. Complements the age-based ``vacuum``
        for deployments whose artifact cache lives on a bounded volume:
        age alone can't stop a hot cache from filling the disk. Abandoned
        staging dirs (past ``STAGING_GRACE_SECONDS``) are swept first.
        Returns the deleted entry names, oldest first."""
        import shutil

        def _dir_bytes(path: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            return total

        entries, deleted = self._scan_entries(
            staging_horizon=self.STAGING_GRACE_SECONDS
        )
        sized = [(w, name, path, _dir_bytes(path)) for w, name, path in entries]
        total = sum(size for _, _, _, size in sized)
        for written, name, path, size in sorted(sized):
            if total <= max_total_bytes:
                break
            shutil.rmtree(path, ignore_errors=True)
            deleted.append(name)
            total -= size
        return deleted


class CachedPipe(Pipe):
    """Wrap any pipe with fingerprint memoization: the output of
    ``pipe(df)`` is written once under ``hash(input_fp, pipe_fp)`` and
    served from Parquet afterwards — idempotent re-runs hit the cache
    (mirrors ``Pipe._call_dataset``'s new_fingerprint machinery).

    ``input_fingerprint``: pass the source snapshot fingerprint
    (``fingerprint_path(dir)``) when known; defaults to
    ``fingerprint_dataframe`` (canonicalized plan + source file stats —
    cross-session stable for file-backed inputs)."""

    def __init__(self, pipe: Pipe, manager: CacheManager, input_fingerprint: Optional[str] = None, **kwargs):
        super().__init__(**kwargs)
        self.pipe = pipe
        self.manager = manager
        self.input_fingerprint = input_fingerprint

    _no_fingerprint = ("manager",)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        input_fp = self.input_fingerprint or fingerprint_dataframe(df)
        fp = combine_fingerprints(input_fp, self.pipe.fingerprint)
        return self.manager.get_or_compute(
            df.sparkSession,
            fp,
            lambda: self.pipe.transform(df, **kwargs),
            meta={"pipe": type(self.pipe).__name__},
        )

    def to_json_struct(self) -> dict:
        return {"__pipe__": "CachedPipe", "pipe": self.pipe.to_json_struct()}
