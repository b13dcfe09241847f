"""Epoch-atomic snapshot store (checkpoint/resume).

The north rule requires the frontier to be resumable from the last
committed checkpoint epoch with per-partition lineage + counters.  On a
production cluster this is an Iceberg catalog (one snapshot per epoch,
MERGE for the frontier, appends for results/metrics); the Iceberg
runtime jars are not in this sandbox, so this module implements the
same commit protocol over parquet:

- every table of epoch *k* is written under ``<warehouse>/<table>/epoch=<k>/``
- the epoch becomes visible only when ``<warehouse>/_snapshots/<k>.json``
  appears — written via tmp-file + atomic ``os.replace`` — listing every
  table path, its row count, and the engine counters for the epoch
  (the manifest is the lineage record; killing the run between writes
  leaves a partial epoch that resume ignores)
- resume = ``last_epoch()`` -> read the tables named by that manifest.

This is strictly stronger than the reference, which loses queue state
on crash and rebuilds only what sqlite held (``scheduler.py:264-281``).
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class SnapshotStore:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(os.path.join(warehouse, "_snapshots"), exist_ok=True)

    # -- paths -------------------------------------------------------------
    def table_path(self, name: str, epoch: int) -> str:
        return os.path.join(self.warehouse, name, f"epoch={epoch}")

    def _manifest_path(self, epoch: int) -> str:
        return os.path.join(self.warehouse, "_snapshots", f"{epoch}.json")

    # -- commit ------------------------------------------------------------
    def write_epoch(
        self,
        epoch: int,
        tables: dict[str, DataFrame],
        counters: dict | None = None,
        engine_state_fn=None,
    ) -> dict:
        """Write all epoch tables, then atomically publish the manifest.

        ``engine_state_fn``, if given, is called with the written
        ``manifest['tables']`` dict (so it can see this epoch's row
        counts — e.g. the pending size that decides on_finished) and its
        return value becomes the manifest's ``engine_state``: small
        driver-side scheduler state (pause streaks, lifecycle flags)
        recorded at the END of the epoch, so resume is exact."""
        manifest: dict = {
            "epoch": epoch,
            "tables": {},
            "counters": counters or {},
            "engine_state": {},
        }

        def _write_one(item):
            name, df = item
            path = self.table_path(name, epoch)
            if os.path.exists(path):
                shutil.rmtree(path)
            # Row count rides the write job via Observation — no extra
            # Spark job, no driver-side footer walk afterwards.
            obs = Observation(f"rows:{name}:{epoch}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(path)
            return name, {"path": path, "rows": int(obs.get["n"])}

        # One write = one Spark job whose commit tail (task-file renames,
        # _SUCCESS) is driver-serial; overlapping the tables' jobs hides
        # that tail.  Threads only submit jobs — the executor pool is
        # still the one scheduler — so this is safe at any table count.
        with ThreadPoolExecutor(max_workers=4) as ex:
            for name, entry in ex.map(_write_one, tables.items()):
                manifest["tables"][name] = entry
        if engine_state_fn is not None:
            manifest["engine_state"] = engine_state_fn(manifest["tables"])
        tmp = self._manifest_path(epoch) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(epoch))
        return manifest

    # -- resume ------------------------------------------------------------
    def last_epoch(self) -> int | None:
        snaps = []
        for fn in os.listdir(os.path.join(self.warehouse, "_snapshots")):
            if fn.endswith(".json"):
                try:
                    snaps.append(int(fn[:-5]))
                except ValueError:
                    pass
        return max(snaps) if snaps else None

    def manifest(self, epoch: int) -> dict:
        with open(self._manifest_path(epoch)) as f:
            return json.load(f)

    def read(self, name: str, epoch: int) -> DataFrame:
        return self.spark.read.parquet(self.table_path(name, epoch))

    def read_all_epochs(self, name: str) -> DataFrame:
        """Union of a table across all committed epochs (results/metrics)."""
        base = os.path.join(self.warehouse, name)
        last = self.last_epoch()
        committed = set()
        if last is not None:
            for e in range(last + 1):
                mp = self._manifest_path(e)
                if os.path.exists(mp):
                    m = self.manifest(e)
                    if name in m["tables"]:
                        committed.add(m["tables"][name]["path"])
        if not committed:
            raise FileNotFoundError(f"no committed epochs for table {name} under {base}")
        return self.spark.read.parquet(*sorted(committed))
