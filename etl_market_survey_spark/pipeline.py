"""Stage-DAG orchestration with checkpoint memoization (SURVEY §3/§4).

The reference coordinates its scripts through marker files
(``.script_successfully_applied``) and ``force`` flags — a make-style
memoized DAG (measurements.py:213,244; *_vs_bias_voltage orchestrators).
Here: a ``Pipeline`` of named stages; each stage's output is a Parquet
checkpoint + a marker file; a completed stage is skipped unless
``force``. Within a stage everything stays one lazy Spark plan —
checkpoints exist only at user-visible stage boundaries (SURVEY §3's
"where the DAG lives" guidance).

The marker is JSON and holds the schema the stage wrote, so a checkpoint
is read back with that schema and Spark runs no job to infer it from the
Parquet footers. A marker without a schema does not count as done: the
stage re-runs, which is always correct.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MARKER = ".stage_successfully_applied"


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]  # (spark, inputs: dict[str, DataFrame]) -> DataFrame
    deps: Sequence[str] = field(default_factory=tuple)


class Pipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.stages: dict[str, Stage] = {}

    def stage(self, name: str, deps: Sequence[str] = ()):
        def deco(fn):
            self.stages[name] = Stage(name, fn, tuple(deps))
            return fn

        return deco

    # -- marker protocol ----------------------------------------------------

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _schema(self, name: str) -> StructType | None:
        """The schema recorded in ``name``'s marker; None without one."""
        try:
            with open(os.path.join(self._dir(name), MARKER)) as f:
                schema = json.load(f).get("schema")
        except (OSError, ValueError):
            return None
        return StructType.fromJson(schema) if schema else None

    def is_done(self, name: str) -> bool:
        return self._schema(name) is not None and os.path.exists(
            os.path.join(self._dir(name), "_SUCCESS")
        )

    def output(self, name: str) -> DataFrame:
        return self.spark.read.schema(self._schema(name)).parquet(self._dir(name))

    # -- execution ----------------------------------------------------------

    def run(self, name: str, force: bool = False) -> DataFrame:
        """Run ``name`` (and transitively its deps), memoized via markers."""
        stage = self.stages[name]
        if self.is_done(name) and not force:
            return self.output(name)
        inputs = {dep: self.run(dep, force=False) for dep in stage.deps}
        df = stage.fn(self.spark, inputs)
        out = self._dir(name)
        df.write.mode("overwrite").parquet(out)
        with open(os.path.join(out, MARKER), "w") as f:
            json.dump(
                {"stage": name, "completed_at": time.time(), "schema": df.schema.jsonValue()},
                f,
            )
        return self.output(name)
