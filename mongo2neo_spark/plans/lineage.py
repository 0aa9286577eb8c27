"""Per-partition lineage + extraction metrics (S3/J5/A5, SURVEY.md §2.1,
§2.3, §2.4) — the resume contract: "checkpoints per-partition lineage and
extraction metrics so any stage resumes idempotently" (BASELINE.json).

Lineage is an append-only table.  A stage partition (a conversation
bucket for extraction; the whole stage for the global linking/CC/
materialize stages) is *done* when a lineage row exists for its
(stage, partition_key); resume anti-joins the work list against the
recorded keys and recomputes only the remainder.

A resumable run reads lineage ONCE, at its start (``completed_keys``
returns every stage's keys; a fresh directory costs no Spark job), and
each ``record`` call appends exactly one part file built on the driver.

Checksums are order-insensitive content hashes — sum(xxhash64(row)) —
so a resumed run can be diffed against a fresh run bit-for-bit.
At design scale (10^12 turns → ~10^6-10^7 tasks/stage) lineage is
per-partition, never per-row: the lineage table stays tiny relative to
the data (SURVEY.md §6).
"""

from __future__ import annotations

import time
from typing import Dict, Optional, Sequence, Set

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LINEAGE
from ..sources.io import hadoop_path

STAGE_KEY = "__stage__"  # partition_key for single-partition (global) stages


def checksum_expr(cols: Sequence[str]) -> F.Column:
    """Order-insensitive, duplicate-SENSITIVE content checksum aggregate.

    sum of per-row xxhash64 widened to decimal(38,0): commutative (so
    partitioning/order can't change it), and — unlike bit_xor, where a
    row duplicated an even number of times cancels out — every extra
    copy of a row shifts the value.  decimal(38) headroom means no ANSI
    overflow until ~10^19 rows.
    """
    return F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)"))


def checksum_col(df: DataFrame) -> F.Column:
    """checksum_expr over all of ``df``'s columns, stringified."""
    return checksum_expr(df.columns).cast("string")


def lineage_path(out_dir: str) -> str:
    return f"{out_dir}/lineage"


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop FileSystem (any FS
    URI) on the driver: no Spark job, no exception on a fresh dir."""
    fs, p = hadoop_path(spark, path)
    return fs.exists(p)


def read_lineage(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    path = lineage_path(out_dir)
    if not _exists(spark, path):
        return None
    return spark.read.schema(LINEAGE).parquet(path)


def completed_keys(spark: SparkSession, out_dir: str) -> Dict[str, Set[str]]:
    """{stage: partition keys already recorded} across all runs, from ONE
    read of the lineage table — idempotent re-runs skip work done by any
    previous run.  Callers read it once at the start of a run: a stage's
    keys only grow through that same stage's own ``record``, which runs
    after the stage has checked them."""
    lin = read_lineage(spark, out_dir)
    if lin is None:
        return {}
    done: Dict[str, Set[str]] = {}
    for r in lin.select("stage", "partition_key").distinct().collect():
        done.setdefault(r.stage, set()).add(r.partition_key)
    return done


def record(
    spark: SparkSession,
    out_dir: str,
    stage: str,
    entries: Sequence[tuple],
    run_id: str,
) -> None:
    """entries: (partition_key, input_rows, output_rows, checksum, wall_ms).

    The rows are built on the driver as a pandas frame and shipped as an
    Arrow local relation — no Python RDD, so no Python worker — and
    appended as ONE part file.  ``ts`` is the driver's UTC clock, a
    value rather than a per-run literal in the plan, so the write's
    generated code is reused across runs."""
    if not entries:
        return
    import pandas as pd

    now = pd.Timestamp.now(tz="UTC")
    pdf = pd.DataFrame(
        [
            (stage, str(k), int(i), int(o), str(c), int(w), run_id, now)
            for (k, i, o, c, w) in entries
        ],
        columns=LINEAGE.fieldNames(),
    )
    df = spark.createDataFrame(pdf, LINEAGE)
    df.coalesce(1).write.mode("append").parquet(lineage_path(out_dir))


def observe_bucket_metrics(df: DataFrame, buckets: Sequence[int],
                           cols: Sequence[str], bucket_col: str = "bucket"):
    """Attach per-bucket (count, checksum) metrics to ``df`` via
    ``observe()`` — collected as a side effect of the NEXT action (the
    stage's own write), so lineage costs zero extra scans.

    Returns (Observation, observed_df); after the action,
    ``obs.get[f"n_{b}"]`` / ``obs.get[f"c_{b}"]`` hold bucket ``b``'s
    row count and checksum.
    """
    from pyspark.sql import Observation

    # hash each row ONCE into a hidden column — referencing the xxhash64
    # expression inside every per-bucket conditional aggregate would
    # recompute it |buckets| times per row (no CSE across agg buffers)
    hcol = "_lineage_h"
    df = df.withColumn(
        hcol, F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    )
    b_col = F.col(bucket_col)
    aggs = []
    for b in buckets:
        aggs.append(F.count(F.when(b_col == b, 1)).alias(f"n_{b}"))
        aggs.append(F.sum(F.when(b_col == b, F.col(hcol))).alias(f"c_{b}"))
    obs = Observation(f"lineage_{buckets[0]}_{buckets[-1]}")
    return obs, df.observe(obs, *aggs).drop(hcol)


def observe_table_metrics(df: DataFrame):
    """Whole-table (count, checksum) metrics via ``observe()``; returns
    (Observation, observed_df) — read ``obs.get["n"]`` / ``obs.get["c"]``
    after the next action on ``df``."""
    from pyspark.sql import Observation

    obs = Observation("lineage_table")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        checksum_expr(df.columns).alias("c"),
    )
    return obs, out


def stage_metrics(df: DataFrame, key_col: str) -> DataFrame:
    """A5: per-partition-key output metrics for lineage recording."""
    return df.groupBy(F.col(key_col).cast("string").alias("partition_key")).agg(
        F.count("*").alias("output_rows"),
        checksum_col(df).alias("checksum"),
    )


class StageTimer:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False
