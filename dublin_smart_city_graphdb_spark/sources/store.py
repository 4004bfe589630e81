"""Parquet-backed quad store (SURVEY.md §1.4/§1.5).

Layout = ``partitionBy("p")``: the Spark-native analogue of the reference's
predicate-lists index (``init-graphdb.sh:61-65``) — per-predicate scans become
partition-pruned directory reads, so every bound-predicate triple pattern
touches only its own files. ``g`` is carried as a data column (context index
analogue); graph-scoped scans get row-group pruning via parquet min/max on a
low-cardinality column. Per-predicate row counts are collected at write time
for the BGP join-order heuristic (SURVEY §4.1), together with the snapshot's
``wkt_escape_free`` flag (``snapshot_stats``).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from dublin_smart_city_graphdb_spark.model.schema import QUAD_SCHEMA


def snapshot_stats(quads: DataFrame) -> tuple[dict[str, int], bool]:
    """Per-predicate row counts and the ``wkt_escape_free`` flag of a
    quads snapshot, in one aggregate. The flag is True when no term text
    (``s``, ``p``, ``o_lex``, ``g``) matches ``WKT_ESCAPE_SHAPE``, so no
    variable bound by a triple pattern over the snapshot can need the
    geo predicates' DE-9IM escape (sparql/extensions._sf_predicate)."""
    from dublin_smart_city_graphdb_spark.sparql.extensions import (
        WKT_ESCAPE_SHAPE,
    )

    shaped = F.lit(False)
    for c in ("s", "p", "o_lex", "g"):
        shaped = shaped | F.coalesce(
            F.col(c).rlike(WKT_ESCAPE_SHAPE), F.lit(False)
        )
    rows = quads.groupBy("p").agg(
        F.count(F.lit(1)).alias("n"), F.bool_or(shaped).alias("shaped")
    ).collect()
    return {r["p"]: r["n"] for r in rows}, not any(r["shaped"] for r in rows)


class QuadStore:
    """``bucket_subjects=N`` additionally buckets (and sorts) by ``s`` via a
    catalog table: subject-grouped operators — the star-compacted BGP
    aggregate, subject-key joins — then read a pre-hashed distribution and
    plan with ZERO exchanges. The 100 TB layout is partitionBy(p) ×
    bucketBy(s): predicate pruning picks the files, bucketing removes the
    shuffle."""

    def __init__(self, spark: SparkSession, path: str, bucket_subjects: int = 0):
        self.spark = spark
        self.path = path
        self.bucket_subjects = bucket_subjects
        # catalog identifier for the bucketed table (bucket metadata lives
        # in the metastore, not the parquet files)
        self._table = "quads_" + "".join(
            c if c.isalnum() else "_" for c in path
        ).strip("_")[-64:]

    @property
    def _stats_path(self) -> str:
        return os.path.join(self.path, "_predicate_stats.json")

    def write(self, quads: DataFrame, mode: str = "append") -> None:
        if mode == "overwrite" and not self.bucket_subjects and self.exists():
            # The overwritten plan usually READS this store (inference
            # re-materialization, SPARQL UPDATE rewrites): a direct
            # overwrite deletes the source files at job start and the job
            # dies with FAILED_READ_FILE. Write aside, then swap with two
            # renames — same crash-safe pattern as compact(); the source
            # files stay in place until the rewrite job has finished.
            import shutil

            tmp = self.path + ".rewriting"
            quads.write.mode("overwrite").partitionBy("p").parquet(tmp)
            old = self.path + ".old"
            os.rename(self.path, old)
            os.rename(tmp, self.path)
            shutil.rmtree(old)
            # drop any cached file listing for the swapped path
            self.spark.catalog.refreshByPath(self.path)
        elif self.bucket_subjects:
            if mode == "overwrite" and self.exists():
                # saveAsTable(overwrite) drops the table's files before the
                # job runs — detach a self-reading plan from them first
                quads = quads.localCheckpoint(eager=True)
            (
                quads.write.mode(mode)
                .partitionBy("p")
                .bucketBy(self.bucket_subjects, "s")
                .sortBy("s")
                .option("path", os.path.join(self.path, "data"))
                .format("parquet")
                .saveAsTable(self._table)
            )
        else:
            quads.write.mode(mode).partitionBy("p").parquet(self.path)
        self._refresh_stats()

    def read(self) -> DataFrame:
        if self.bucket_subjects:
            df = self.spark.table(self._table)
        else:
            df = self.spark.read.schema(QUAD_SCHEMA).parquet(self.path)
        # partitionBy moves `p` to the end; restore canonical column order
        return df.select(*[f.name for f in QUAD_SCHEMA.fields])

    def _refresh_stats(self) -> None:
        # explicit schema, like read(): an emptied store (CLEAR/DELETE of
        # every statement writes zero part files) has nothing to infer
        # from, and stats MUST still land — a missing stats file reads as
        # "0 rows for every predicate" downstream, which is only sound
        # when the store is actually empty
        src = (
            self.spark.table(self._table)
            if self.bucket_subjects
            else self.spark.read.schema(QUAD_SCHEMA).parquet(self.path)
        )
        counts, escape_free = snapshot_stats(src)
        with open(self._stats_path, "w") as f:
            json.dump({"counts": counts, "wkt_escape_free": escape_free}, f)

    def stats(self) -> tuple[dict[str, int], bool]:
        """``snapshot_stats`` as of the last write. A file of the older
        format (the bare counts map) carries no flag and reads as
        "escape possible"; no file reads as an empty store."""
        try:
            with open(self._stats_path) as f:
                d = json.load(f)
        except FileNotFoundError:
            return {}, False
        if isinstance(d.get("counts"), dict):
            return d["counts"], bool(d.get("wkt_escape_free"))
        return d, False

    def predicate_stats(self) -> dict[str, int]:
        return self.stats()[0]

    def compact(self, target_rows_per_file: int = 2_000_000) -> int:
        """Rewrite the store so each predicate partition holds
        ``ceil(rows/target)`` right-sized files instead of one small file
        per historical append — incremental ingest (S6 statements appends,
        streaming triple feeds) otherwise accretes a small-file problem
        that kills scan parallelism setup at scale.

        Files per predicate are sized from the write-time predicate stats;
        rows spread across a predicate's files by subject hash so bucketed
        readers of the future files stay balanced. The rewrite lands in a
        side directory and swaps in with two renames (crash before the
        second rename leaves the original store intact). Bucketed-table
        stores don't need this (each write produces exactly the bucket
        file set). Returns the number of files after compaction."""
        if self.bucket_subjects:
            raise ValueError("bucketed stores are already file-aligned")
        stats = self.predicate_stats() or {
            r["p"]: r["n"]
            for r in self.spark.read.schema(QUAD_SCHEMA).parquet(self.path)
            .groupBy("p").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        n_files = {
            p: max(1, -(-n // target_rows_per_file)) for p, n in stats.items()
        }
        files_expr = F.create_map(
            *[F.lit(x) for kv in n_files.items() for x in kv]
        )
        df = self.read().withColumn(
            "_fg", F.pmod(F.hash("s"), files_expr[F.col("p")])
        )
        tmp = self.path + ".compacting"
        (
            df.repartition(F.col("p"), F.col("_fg"))
            .drop("_fg")
            .write.mode("overwrite")
            .partitionBy("p")
            .parquet(tmp)
        )
        old = self.path + ".old"
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        import shutil

        # stats file lived inside the old directory — regenerate
        self._refresh_stats()
        shutil.rmtree(old)
        return sum(
            1
            for root, _, names in os.walk(self.path)
            for f in names
            if f.endswith(".parquet")
        )

    def exists(self) -> bool:
        if self.bucket_subjects:
            return self.spark.catalog.tableExists(self._table)
        return os.path.isdir(self.path) and any(
            e.startswith("p=") or e.endswith(".parquet")
            for e in os.listdir(self.path)
        )
