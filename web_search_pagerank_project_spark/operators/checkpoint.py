"""Durable per-iteration state with lineage + metrics, for resumability.

north_rule requirement: "resumable from checkpoint with per-partition lineage
+ metrics". Layout (plain Parquet — Iceberg-ready, the table layout maps 1:1
onto an Iceberg table partitioned by ``iter``):

    <dir>/state/iter=K/part-*.parquet     the iterate (id, rank)  [or labels]
    <dir>/state/iter=K/_SUCCESS           commit marker (atomicity gate)
    <dir>/meta/iter=K.json                lineage record:
        {iteration, parent_iteration, residual, alpha, wall_ms,
         num_partitions, partition_rows: {pid: rows}, committed_at_iter}

Resume picks the max K whose _SUCCESS exists and whose meta record parses;
a torn write (no _SUCCESS, or no parsable meta record) is ignored, so
kill-at-any-point restarts cleanly from the last committed iteration
(tested in tests/test_checkpoint_resume.py).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class IterationCheckpointer:
    base_dir: str

    def _state_dir(self, iteration: int) -> str:
        return os.path.join(self.base_dir, "state", f"iter={iteration}")

    def _meta_path(self, iteration: int) -> str:
        return os.path.join(self.base_dir, "meta", f"iter={iteration}.json")

    def write(self, state: DataFrame, iteration: int, meta: dict | None = None) -> None:
        sd = self._state_dir(iteration)
        state.write.mode("overwrite").parquet(sd)
        # per-partition lineage: rows per output partition of the state write
        part_rows = {
            str(r["pid"]): r["rows"]
            for r in state.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(F.count("*").alias("rows"))
            .collect()
        }
        record = {
            "iteration": iteration,
            "parent_iteration": self._latest_committed(exclude=iteration),
            "num_partitions": len(part_rows),
            "partition_rows": part_rows,
            **(meta or {}),
        }
        os.makedirs(os.path.dirname(self._meta_path(iteration)), exist_ok=True)
        tmp = self._meta_path(iteration) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, self._meta_path(iteration))

    def _latest_committed(self, exclude: int | None = None) -> int | None:
        state_root = os.path.join(self.base_dir, "state")
        if not os.path.isdir(state_root):
            return None
        best = None
        for name in os.listdir(state_root):
            if not name.startswith("iter="):
                continue
            k = int(name.split("=", 1)[1])
            if exclude is not None and k == exclude:
                continue
            if (best is None or k > best) and self._committed(k):
                best = k
        return best

    def _committed(self, iteration: int) -> bool:
        """The parquet commit marker AND the lineage record: ``write`` lands
        the record last, so a failure in between leaves state no one may
        resume from or name as a parent."""
        if not os.path.exists(os.path.join(self._state_dir(iteration), "_SUCCESS")):
            return False
        try:
            with open(self._meta_path(iteration)) as f:
                json.load(f)
        except (OSError, ValueError):
            return False
        return True

    def resume(self, spark: SparkSession) -> tuple[DataFrame, int] | None:
        """Return (state_df_with_column_x, iteration) of the latest committed
        checkpoint, or None if none exist."""
        k = self._latest_committed()
        if k is None:
            return None
        df = spark.read.parquet(self._state_dir(k))
        if "rank" in df.columns:
            df = df.withColumnRenamed("rank", "x")
        return df, k

    def lineage(self) -> list[dict]:
        meta_root = os.path.join(self.base_dir, "meta")
        if not os.path.isdir(meta_root):
            return []
        out = []
        for name in sorted(os.listdir(meta_root)):
            if name.endswith(".json"):
                with open(os.path.join(meta_root, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda r: r["iteration"])
