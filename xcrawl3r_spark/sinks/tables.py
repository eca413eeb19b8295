"""Snapshot store — all-or-nothing wave commits + time travel on plain
Parquet, used for a checkpointed crawl's wave frames.

Each crawl wave is one commit of several tables under one manifest:

    <base>/<table>/iter=<k>/ part-*.parquet    (one directory per table per wave)
    <base>/waves/_manifest.json                 (atomic rename)

The manifest lists the committed waves, ``{"iter": k, "tables": {table:
path}}``, each path relative to ``<base>``, so a moved or copied
checkpoint directory reads its own files (an absolute entry still reads:
``os.path.join`` keeps it as it is).

Commit protocol: write every table of the wave concurrently -> write
manifest.tmp -> os.replace() (atomic on POSIX). A failed write or a
killed run leaves the old manifest: nothing of the wave is visible, the
wave re-runs deterministically and overwrites its torn directories.
Combined with a fully deterministic data plane (no wall clock, no RNG —
SURVEY §4.2) resume is bit-identical.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


class SnapshotStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.base, "waves", "_manifest.json")

    def waves(self) -> list[dict]:
        """The committed waves' manifest entries. A directory in the old
        per-table layout (a ``_manifest.json`` per table, no wave
        manifest) raises ``ValueError``: it has no reader."""
        path = self._manifest_path()
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)["commits"]
        old = sorted(t for t in os.listdir(self.base) if os.path.exists(
            os.path.join(self.base, t, "_manifest.json")))
        if old:
            raise ValueError(
                f"{self.base} is a checkpoint in the old per-table layout "
                f"(a _manifest.json per table: {', '.join(old)}; no "
                "waves/_manifest.json); it cannot be resumed — start a "
                "new checkpoint_dir")
        return []

    def last_iteration(self) -> int | None:
        return max((w["iter"] for w in self.waves()), default=None)

    def _write(self, df: DataFrame, table: str, iteration: int) -> str:
        path = os.path.join(table, f"iter={iteration}")
        # overwrite: a torn directory of a failed or killed commit
        df.write.mode("overwrite").parquet(os.path.join(self.base, path))
        return path

    def commit_wave(self, tables: dict[str, DataFrame], iteration: int) -> None:
        """Commit one wave's tables: every data directory is written
        concurrently (one Spark job each, sharing the cluster), then one
        manifest entry names them all. If any write fails nothing of the
        wave is published and the first error is re-raised. A wave that
        is already committed is skipped (resume re-ran it)."""
        waves = self.waves()
        if any(w["iter"] == iteration for w in waves):
            return
        # the writers inherit the calling thread's job group and tags (the
        # per-wave trace groups). Without pinned threads
        # (PYSPARK_PIN_THREAD=false) the helper returns the session
        # itself: there is no thread-local state to carry over.
        inherit = inheritable_thread_target(self.spark)
        write = inherit(self._write) if callable(inherit) else self._write
        with ThreadPoolExecutor(max_workers=len(tables)) as pool:
            futures = {t: pool.submit(write, df, t, iteration)
                       for t, df in tables.items()}
        for f in futures.values():
            if f.exception() is not None:
                raise f.exception()
        waves.append({"iter": iteration,
                      "tables": {t: f.result() for t, f in futures.items()}})
        path = self._manifest_path()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump({"commits": waves}, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)

    def read(self, table: str, iteration: int | None = None) -> DataFrame | None:
        """The union of a table's committed snapshots, or one wave's
        (``iteration``). None if no committed wave holds the table."""
        paths = [os.path.join(self.base, w["tables"][table])
                 for w in sorted(self.waves(), key=lambda w: w["iter"])
                 if table in w["tables"]
                 and iteration in (None, w["iter"])]
        return self.spark.read.parquet(*paths) if paths else None
