"""Snapshot table store — Iceberg-style atomic commits + time travel on
plain Parquet, used for checkpointed frontier/seen/edges state.

Each crawl iteration is one commit on a directory of parquet files with a
JSON manifest:

    <base>/<table>/data/iter=<k>/ part-*.parquet      (one commit per iter)
    <base>/<table>/_manifest.json                      (atomic rename)

A manifest names each commit's data directory relative to its table
directory, so a moved or copied checkpoint directory reads its own files.
Manifests written with absolute paths still read (``os.path.join`` keeps
an absolute entry as it is).

Commit protocol: write data dir -> write manifest.tmp -> os.replace()
(atomic on POSIX). A killed run leaves either the old manifest (commit
invisible -> iteration re-runs deterministically) or the new one (commit
visible -> iteration skipped on resume). ``commit_wave`` writes one
iteration of several tables concurrently and publishes the resume-key
table's manifest last. Combined with a fully
deterministic data plane (no wall clock, no RNG — SURVEY §4.2) resume is
bit-identical.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


class SnapshotStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _tdir(self, table: str) -> str:
        return os.path.join(self.base, table)

    def _data_path(self, table: str, commit: dict) -> str:
        return os.path.join(self._tdir(table), commit["path"])

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_manifest.json")

    def manifest(self, table: str) -> dict:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return {"commits": []}
        with open(path) as f:
            return json.load(f)

    def last_iteration(self, table: str) -> int | None:
        commits = self.manifest(table)["commits"]
        return max((c["iter"] for c in commits), default=None)

    def _committed(self, table: str, iteration: int) -> bool:
        return any(c["iter"] == iteration
                   for c in self.manifest(table)["commits"])

    def _write_data(self, df: DataFrame, table: str, iteration: int) -> str:
        data_dir = os.path.join(self._tdir(table), "data", f"iter={iteration}")
        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)  # torn write from a killed run
        df.write.mode("overwrite").parquet(data_dir)
        return data_dir

    def _publish(self, table: str, iteration: int, data_dir: str) -> None:
        m = self.manifest(table)
        path = os.path.relpath(data_dir, self._tdir(table))
        m["commits"].append({"iter": iteration, "path": path, "meta": {}})
        tmp = self._manifest_path(table) + ".tmp"
        os.makedirs(self._tdir(table), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path(table))

    def commit_wave(self, parts: dict[str, DataFrame], iteration: int) -> None:
        """Atomically append one iteration's rows of several tables as new
        snapshots: every data directory is written concurrently (one Spark
        job each, sharing the cluster), then the manifests are published
        in ``parts`` order. A table that already has a commit for the
        iteration is skipped (resume re-ran the iteration).

        The LAST part is the resume key (the crawl's frontier): it is
        published only when every part was written, so the parts before
        it are durable before ``resume()`` can key off it. A failed write
        still publishes the other finished parts, then re-raises.
        """
        todo = {t: df for t, df in parts.items()
                if not self._committed(t, iteration)}
        if not todo:
            return
        # the writers inherit the calling thread's job group and tags (the
        # per-wave trace groups). Without pinned threads
        # (PYSPARK_PIN_THREAD=false) the helper returns the session
        # itself: there is no thread-local state to carry over.
        inherit = inheritable_thread_target(self.spark)
        write = inherit(self._write_data) if callable(inherit) else self._write_data
        with ThreadPoolExecutor(max_workers=len(todo)) as pool:
            futures = {t: pool.submit(write, df, t, iteration)
                       for t, df in todo.items()}
        errors = [f.exception() for f in futures.values() if f.exception()]
        key = list(parts)[-1]
        for t, f in futures.items():
            if f.exception() is None and (t != key or not errors):
                self._publish(t, iteration, f.result())
        if errors:
            raise errors[0]

    def read(self, table: str, upto: int | None = None) -> DataFrame | None:
        """Read the union of committed snapshots (optionally time-traveled
        to iteration <= upto). None if no commits."""
        commits = self.manifest(table)["commits"]
        if upto is not None:
            commits = [c for c in commits if c["iter"] <= upto]
        if not commits:
            return None
        paths = [self._data_path(table, c)
                 for c in sorted(commits, key=lambda c: c["iter"])]
        return self.spark.read.parquet(*paths)

    def read_iteration(self, table: str, iteration: int,
                       schema: str | None = None) -> DataFrame | None:
        """One iteration's snapshot. A known ``schema`` skips the parquet
        footer read (schema inference costs a Spark job)."""
        commits = [c for c in self.manifest(table)["commits"] if c["iter"] == iteration]
        if not commits:
            return None
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._data_path(table, commits[0]))

