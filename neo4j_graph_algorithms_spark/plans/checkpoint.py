"""Checkpointed iteration state tables with per-iteration metrics.

Iterative DataFrame algorithms grow their logical plan every superstep;
without truncation the plan (and task deserialization cost) explodes.
``CheckpointManager`` snapshots the state DataFrame every ``interval``
iterations — either cheaply in memory (``localCheckpoint``) or durably as
parquet under ``checkpoint_dir`` — and records a metrics row per
iteration (wall time, convergence delta, caller-supplied counters).

Durable mode makes runs crash-resumable: ``resume()`` returns the latest
committed (iteration, state) so a restarted driver continues where the
last run stopped. Commit protocol: write parquet to
``state_it{N}`` then atomically append the metrics line — a state dir
without a metrics line is ignored on resume (half-written = uncommitted).

The reference has nothing comparable — its graph cache dies with the JVM
(algo/.../LoadGraphProc.java:51-115 is an in-memory map).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

__all__ = ["CheckpointManager"]


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        interval: int = 5,
        algorithm: str = "generic",
    ) -> None:
        self.spark = spark
        self.dir = checkpoint_dir
        self.interval = max(1, interval)
        self.algorithm = algorithm
        self.metrics: list[dict[str, Any]] = []
        self._persisted: list[DataFrame] = []
        self._t0 = time.time()
        if self.dir:
            os.makedirs(self.dir, exist_ok=True)

    # -- metrics ---------------------------------------------------------
    @property
    def _metrics_path(self) -> str:
        return os.path.join(self.dir, "metrics.jsonl") if self.dir else ""

    def record(self, iteration: int, **extra: Any) -> dict[str, Any]:
        row: dict[str, Any] = {
            "algorithm": self.algorithm,
            "iteration": iteration,
            "wall_s": round(time.time() - self._t0, 4),
            **extra,
        }
        self.metrics.append(row)
        return row

    def _commit_metrics(self, row: dict[str, Any]) -> None:
        if not self.dir:
            return
        with open(self._metrics_path, "a") as f:
            f.write(json.dumps(row) + "\n")
            f.flush()
            os.fsync(f.fileno())

    # -- state snapshots -------------------------------------------------
    def maybe_checkpoint(
        self,
        state: DataFrame,
        iteration: int,
        action=None,
        **extra: Any,
    ) -> tuple[DataFrame, dict[str, Any]]:
        """Persist this iteration's state; truncate lineage on the interval.

        ``action(state) -> dict`` is the superstep's own materializing
        action (convergence agg / changed-count); running it against the
        freshly-persisted state populates the cache as a side effect, so
        the loop costs exactly ONE job per iteration (plus the parquet
        write on durable-checkpoint iterations). Without an action a
        bare ``count()`` materializes. The previous iteration's cache is
        dropped afterwards.
        """
        is_ckpt = iteration % self.interval == 0
        ck: str | None = None
        if is_ckpt and self.dir:
            path = os.path.join(self.dir, f"state_it{iteration:05d}")
            state.write.mode("overwrite").parquet(path)
            state = self.spark.read.parquet(path)
            ck = path
        else:
            # Lineage MUST be truncated every materialization: iterative
            # plans nest a join+agg layer per superstep and Catalyst's
            # analysis/AQE cost on a 20-layer self-referencing plan blows
            # the driver heap long before the data does. Lazy local
            # checkpoint = same one job as a persist (the action below
            # materializes it) but the stored partitions become the new
            # plan root. Durable parquet (above) replaces it on the
            # interval for crash-resume.
            state = state.localCheckpoint(eager=False)
            ck = "local" if is_ckpt else None
        if action is not None:
            info: dict[str, Any] = action(state)
        else:
            info = {}
            if ck is None or ck == "local":
                state.count()  # materialize (parquet write already did)
        row = self.record(iteration, **({"checkpoint": ck} if ck else {}),
                          **info, **extra)
        if ck and ck != "local":
            self._commit_metrics(row)
        for old in self._persisted:
            old.unpersist()
        self._persisted = [state]
        return state, info

    def resume(self) -> tuple[int, DataFrame] | None:
        """Latest committed (iteration, state) from a durable dir, if any."""
        if not self.dir or not os.path.exists(self._metrics_path):
            return None
        latest: tuple[int, str] | None = None
        with open(self._metrics_path) as f:
            for line in f:
                try:
                    row = json.loads(line)
                except json.JSONDecodeError:
                    continue
                ck = row.get("checkpoint")
                if ck and ck != "local" and os.path.exists(ck):
                    latest = (int(row["iteration"]), ck)
        if latest is None:
            return None
        it, path = latest
        return it, self.spark.read.parquet(path)

    def close(self) -> None:
        for old in self._persisted:
            old.unpersist()
        self._persisted = []
