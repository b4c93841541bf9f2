"""Checkpoint manifest + exact resume (SURVEY.md §2.1 S6, §7.2 step 6).

The 10^12-row job is chunked by `bucket = pmod(hash(doc_id), n_buckets)` —
the same bucketing an Iceberg `bucket(N, doc_id)` partition spec gives. Each
bucket is processed and written independently (overwrite-by-partition =
idempotent), then a manifest row (bucket, status, metrics, lineage) is
appended. Resume = anti-join of all buckets against `status='done'` manifest
rows — only missing buckets are recomputed, and rewriting a bucket's output
directory is idempotent, so a crash between data write and manifest commit
re-does exactly that bucket (the parquet stand-in for an Iceberg transaction).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import MANIFEST_SCHEMA


def arrow_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """A small driver-side frame built from an Arrow table. The table goes
    to the JVM as one batch, so the frame has one partition (none when
    empty) and writing it starts no Python worker; a Python list would be
    parallelized into defaultParallelism Python tasks, each with a fixed
    CPU cost, mostly to write nothing."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


def manifest_path(output_path: str) -> str:
    return os.path.join(output_path, "_manifest")


def read_manifest(spark: SparkSession, output_path: str) -> DataFrame:
    p = manifest_path(output_path)
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(p)
    except Exception:
        return arrow_frame(spark, [], MANIFEST_SCHEMA)


def completed_buckets(spark: SparkSession, output_path: str) -> set[int]:
    m = read_manifest(spark, output_path)
    return {
        r["bucket"]
        for r in m.filter(F.col("status") == "done").select("bucket").collect()
    }


def pending_buckets(
    spark: SparkSession, output_path: str, n_buckets: int
) -> list[int]:
    """All buckets minus completed ones. Expressed as a left_anti join so the
    same code shape works when the bucket list is itself a table at scale
    (SURVEY.md §2.8: the resume anti-join)."""
    all_b = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    done = read_manifest(spark, output_path).filter(
        F.col("status") == "done"
    ).select("bucket")
    rows = all_b.join(done, "bucket", "left_anti").collect()
    return sorted(r["bucket"] for r in rows)


def commit_bucket(
    spark: SparkSession,
    output_path: str,
    bucket: int,
    n_docs: int,
    n_spans: int,
    n_quarantined: int,
    wall_sec: float,
    input_path: str,
    run_id: str,
    config: dict,
) -> None:
    from . import __version__

    row = [
        (
            int(bucket),
            "done",
            int(n_docs),
            int(n_spans),
            int(n_quarantined),
            float(wall_sec),
            input_path,
            __version__,
            run_id,
            str(config["mode"]),
            int(config["n_buckets"]),
            int(config["max_spans"]),
        )
    ]
    arrow_frame(spark, row, MANIFEST_SCHEMA).write.mode("append").parquet(
        manifest_path(output_path)
    )


def check_compatible(
    spark: SparkSession, output_path: str, config: dict
) -> None:
    """Resume guard: every committed 'done' row must match the current job
    shape (mode / n_buckets / max_spans / input_path). A mismatch means the
    output directory holds a DIFFERENT job's buckets — resuming would skip
    'done' buckets computed under other semantics and silently mix outputs.
    """
    m = read_manifest(spark, output_path).filter(F.col("status") == "done")
    rows = (
        m.select("mode", "n_buckets", "max_spans", "input_path")
        .distinct()
        .collect()
    )
    for r in rows:
        got = (r["mode"], r["n_buckets"], r["max_spans"], r["input_path"])
        want = (
            config["mode"],
            int(config["n_buckets"]),
            int(config["max_spans"]),
            config["input_path"],
        )
        if got != want:
            raise ValueError(
                "resume=True but the committed manifest was produced by an "
                f"incompatible job: committed {got}, requested {want}. "
                "Run with resume=False to recompute from scratch."
            )


def reset(spark: SparkSession, output_path: str) -> None:
    """Clear the manifest (full-recompute entry point): overwrite with an
    empty dataset so stale 'done' rows can't shadow the new run."""
    arrow_frame(spark, [], MANIFEST_SCHEMA).write.mode("overwrite").parquet(
        manifest_path(output_path)
    )


def new_run_id() -> str:
    return f"run-{int(time.time() * 1000):x}"
