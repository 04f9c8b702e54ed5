"""Producer sink: append-only output table of per-graph documents — the
batch analog of publishing each processed model to a downstream topic.

Reference analog: ``src/genegraph/sink/event.clj:78-98`` — the
transformer serializes each event's model to JSON-LD and produces it to
an output topic, recording produce metadata. Here the "topic" is an
append-only parquet table partitioned by commit (at cluster scale: an
Iceberg append, or ``df.write.format("kafka")``).

Idempotence: each produce lands under ``commit=N``; replaying a commit
overwrites its directory rather than double-appending (the same
batch-dir contract the streaming sink uses).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class OutputTopic:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _commits(self) -> list[int]:
        return sorted(
            int(d.split("=")[1]) for d in os.listdir(self.path) if d.startswith("commit=")
        )

    def produce(self, docs: DataFrame, commit: int | None = None) -> int:
        """Append one batch of (graph, doc) records as ``commit=N``.
        Re-producing the same commit id overwrites (idempotent replay)."""
        if commit is None:
            existing = self._commits()
            commit = (existing[-1] + 1) if existing else 0
        docs.write.mode("overwrite").parquet(os.path.join(self.path, f"commit={commit}"))
        return commit

    def read(self) -> DataFrame:
        """All produced records with their commit id (empty typed frame
        before the first produce — a topic with no messages, not an
        error)."""
        if not self._commits():
            return self.spark.createDataFrame([], "graph string, doc string, commit int")
        return self.spark.read.option("basePath", self.path).parquet(
            os.path.join(self.path, "commit=*")
        )

    def latest(self) -> DataFrame:
        """Latest produced doc per graph (consumers see last-write-wins,
        like a compacted topic)."""
        from pyspark.sql import Window

        w = Window.partitionBy("graph").orderBy(F.desc("commit"))
        return (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
        )
