"""Checkpointed extraction job: bucketed writes, per-bucket lineage,
exactly-once resume.

North-rule mechanics (BASELINE.json): the 10^12-turn job must survive
partial failure. Design:

* Input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` — all
  turns of a conversation land in one bucket, so per-bucket output is
  self-contained and idempotently re-writable.
* Within a processing group, rows are salted with
  ``pmod(xxhash64(conv_id, turn_idx), salt)`` before the UDF stage so a
  mega-conversation can't serialize one task (explicit skew handling).
* A JSON checkpoint manifest records bucket → {status, rows, errors,
  checksum}. Re-running skips ``done`` buckets; failed/missing buckets
  are recomputed and their directories overwritten (dynamic partition
  overwrite ⇒ idempotent, Iceberg-snapshot-equivalent in plain parquet).
* Lineage: per-bucket row count, error count and an order-insensitive
  content checksum (XOR-fold of per-row xxhash64(conv_id, turn_idx,
  text)), written into the manifest and recomputed by the audit.

On a real cluster the same structure maps onto Iceberg: bucket(conv_id)
partition transform + snapshot-isolated overwrite of failed partitions.
"""
from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_articles

MANIFEST_NAME = "_manifest.json"


def bucket_col(conv_col, n_buckets: int):
    return F.pmod(F.xxhash64(conv_col), F.lit(n_buckets)).cast("int")


def salt_col(conv_col, turn_col, n_salts: int):
    return F.pmod(F.xxhash64(conv_col, turn_col), F.lit(n_salts)).cast("int")


class ExtractionJob:
    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        n_buckets: int = 64,
        buckets_per_commit: int = 16,
        n_salts: int = 8,
    ):
        self.spark = spark
        self.output_dir = output_dir
        self.n_buckets = n_buckets
        self.buckets_per_commit = buckets_per_commit
        self.n_salts = n_salts
        self.manifest_path = os.path.join(output_dir, MANIFEST_NAME)

    # -- manifest ---------------------------------------------------
    def load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"n_buckets": self.n_buckets, "buckets": {}}

    def _save_manifest(self, manifest: dict) -> None:
        os.makedirs(self.output_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.output_dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic commit

    # -- run --------------------------------------------------------
    def run(self, transcripts: DataFrame, fail_injector=None,
            cache_input: bool = False) -> dict:
        """Process all not-yet-done buckets; returns the manifest.

        fail_injector(bucket_group) -> None | raise — test hook used by
        the resume test to simulate a mid-job crash.

        cache_input: persist the bucketed input across commit groups —
        right for bench-scale reruns. At real scale the input table is
        stored WITH a bucket column (Iceberg bucket(conv_id) partition
        transform), so each commit group's filter is partition pruning
        on the scan instead of recompute-and-filter.
        """
        manifest = self.load_manifest()
        done = {
            int(b)
            for b, info in manifest["buckets"].items()
            if info.get("status") == "done"
        }
        todo = [b for b in range(self.n_buckets) if b not in done]
        if not todo:
            return manifest

        with_bucket = transcripts.withColumn(
            "bucket", bucket_col(F.col("conv_id"), self.n_buckets)
        )
        if cache_input:
            with_bucket = with_bucket.persist()

        for start in range(0, len(todo), self.buckets_per_commit):
            group = todo[start : start + self.buckets_per_commit]
            if fail_injector is not None:
                fail_injector(group)
            part = with_bucket.filter(F.col("bucket").isin(group))
            # salt to spread skewed conversations across tasks before
            # the Python UDF stage
            salted = part.withColumn(
                "salt", salt_col(F.col("conv_id"), F.col("turn_idx"), self.n_salts)
            ).repartition(
                self.spark.sparkContext.defaultParallelism, "bucket", "salt"
            )
            extracted = extract_articles(
                salted, keep_cols=("bucket", "conv_id", "turn_idx", "role", "tool", "ts")
            )
            # stable (conv_id, turn_idx) ordering within each output file
            extracted = extracted.sortWithinPartitions("conv_id", "turn_idx")

            for b in group:
                self._clean_bucket_dir(b)
            (
                extracted.write.partitionBy("bucket")
                .mode("append")
                .parquet(self.output_dir)
            )

            stats = self._bucket_stats(group)
            for b in group:
                manifest["buckets"][str(b)] = stats.get(
                    b, {"status": "done", "rows": 0, "errors": 0, "checksum": 0}
                )
            self._save_manifest(manifest)
        if cache_input:
            with_bucket.unpersist()
        return manifest

    def _clean_bucket_dir(self, bucket: int) -> None:
        d = os.path.join(self.output_dir, f"bucket={bucket}")
        if os.path.isdir(d):
            shutil.rmtree(d)  # idempotent overwrite of a failed partition

    def _bucket_stats(self, group) -> dict:
        # read ONLY this commit group's bucket dirs: scanning the whole
        # output root per group would re-list every earlier bucket —
        # O(groups²) listing amplification over a long job. basePath
        # keeps the bucket partition column; buckets that wrote zero
        # rows have no dir and fall back to the caller's default entry.
        paths = [
            p
            for b in group
            if os.path.isdir(p := os.path.join(self.output_dir, f"bucket={b}"))
        ]
        if not paths:
            return {}
        out = self.spark.read.option("basePath", self.output_dir).parquet(*paths)
        return {
            b: {"status": "done", "rows": rows, "errors": errors, "checksum": checksum}
            for b, (rows, errors, checksum) in _bucket_lineage(out).items()
        }


def _bucket_lineage(out: DataFrame) -> dict:
    """bucket → (rows, errors, checksum) of written output rows; the
    manifest records it and the audit recomputes it."""
    rows = (
        out.groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.sum(
                F.when(~F.col("status").eqNullSafe("ok"), 1).otherwise(0)
            ).alias("errors"),
            # XOR-fold: order-insensitive, overflow-free content hash
            F.bit_xor(
                F.xxhash64(
                    F.col("conv_id"),
                    F.col("turn_idx"),
                    F.coalesce(F.col("text"), F.lit("")),
                )
            ).alias("checksum"),
        )
        .collect()
    )
    return {
        r["bucket"]: (r["rows"], int(r["errors"] or 0), int(r["checksum"] or 0))
        for r in rows
    }


def read_output(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(output_dir)


def audit_output(spark: SparkSession, output_dir: str) -> dict:
    """Lineage audit: recompute per-bucket (rows, errors, checksum) from
    the written output and compare against the checkpoint manifest.
    Returns {'ok': bool, 'mismatches': [...]} — the integrity check a
    10^12-turn run would execute before promoting a snapshot."""
    with open(os.path.join(output_dir, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    actual_by_bucket = _bucket_lineage(spark.read.parquet(output_dir))
    mismatches = []
    for b, info in manifest["buckets"].items():
        if info.get("status") != "done":
            continue
        got = actual_by_bucket.get(int(b), (0, 0, 0))
        want = (info["rows"], info["errors"], info["checksum"])
        if got != want and not (info["rows"] == 0 and got == (0, 0, 0)):
            mismatches.append({"bucket": int(b), "manifest": want, "actual": got})
    return {"ok": not mismatches, "mismatches": mismatches}
