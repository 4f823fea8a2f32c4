"""Per-partition lineage + idempotent resumable writes (north_rule).

The reference's analog is checkpoint/resume of training runs
(``mmocr/apis/train.py:157-160``) and the error-tolerant scan
(``mmocr/datasets/base_dataset.py:128-149``). Here:

* ``lineage_rows(df)`` — one row per Spark partition:
  (partition_id, doc_count, byte_count, checksum). checksum is an
  order-insensitive XOR-fold of xxhash64(url, text) so it's stable under
  intra-partition reordering.
* ``write_with_lineage`` — writes data partitioned by a deterministic
  bucket column + a _lineage/ manifest per bucket. Every pending bucket
  is committed by one pass: one dynamic-overwrite parquet write of all of
  them, one ``groupBy(_bucket)`` stats job over the files just committed,
  then one atomic manifest per bucket. A resumed job calls
  ``completed_buckets`` and writes only the buckets without a manifest
  (idempotent overwrite-by-partition — the parquet-manifest emulation of
  Iceberg snapshot commit; with Iceberg jars present the same API maps to
  format("iceberg") + snapshot metadata).
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, functions as F

BUCKET_COL = "_bucket"


def with_bucket(df: DataFrame, key_col: str = "url",
                n_buckets: int = 64) -> DataFrame:
    """Deterministic bucket id from the document key — the unit of commit
    and resume. Bucketing by hash(url) also co-locates snapshots of the
    same url for downstream dedup."""
    return df.withColumn(BUCKET_COL,
                         F.pmod(F.xxhash64(key_col), F.lit(n_buckets))
                          .cast("int"))


def _stats(key_col: str, payload_col: str) -> list[Column]:
    """doc_count, byte_count, checksum. The bit_xor fold of row hashes is
    commutative → stable under reordering; any dropped/duplicated/mutated
    row flips the checksum."""
    return [F.count("*").alias("doc_count"),
            F.sum(F.octet_length(payload_col)).alias("byte_count"),
            F.bit_xor(F.xxhash64(key_col, payload_col)).alias("checksum")]


def lineage_rows(df: DataFrame, key_col: str = "url",
                 payload_col: str = "text") -> DataFrame:
    """(partition_id, doc_count, byte_count, checksum) per partition."""
    return (df.withColumn("_pid", F.spark_partition_id())
              .groupBy(F.col("_pid").alias("partition_id"))
              .agg(*_stats(key_col, payload_col)))


def completed_buckets(out_dir: str) -> set[int]:
    """Buckets whose manifest was committed by a previous (partial) run."""
    mdir = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for name in os.listdir(mdir):
        if name.startswith("bucket=") and name.endswith(".json"):
            done.add(int(name[len("bucket="):-len(".json")]))
    return done


def write_with_lineage(df: DataFrame, out_dir: str, key_col: str = "url",
                       payload_col: str = "text", n_buckets: int = 16,
                       resume: bool = True) -> dict:
    """Idempotent bucket-partitioned write with per-bucket lineage commit.

    Returns {written: [...], skipped: [...]}. All pending buckets (every
    bucket, or on resume those without a manifest) commit in one pass:
    one ``partitionBy(_bucket)`` parquet write with dynamic partition
    overwrite, which leaves committed buckets' files untouched; one
    ``groupBy(_bucket)`` stats job over the files just written, so each
    manifest checksums the bytes on disk; then per bucket its manifest
    (doc_count, byte_count, checksum; 0s for an empty bucket), committed
    LAST by an atomic rename. A bucket without a manifest is uncommitted
    and rewritten on resume. The input is scanned once, so it is not
    cached. This is the directory-manifest emulation of an Iceberg
    snapshot commit (SURVEY.md §7.3.3)."""
    done = completed_buckets(out_dir) if resume else set()
    todo = sorted(set(range(n_buckets)) - done)
    mdir = os.path.join(out_dir, "_lineage")
    os.makedirs(mdir, exist_ok=True)
    if not todo:
        return {"written": [], "skipped": sorted(done)}
    for bucket in todo:
        # uncommit first; an empty bucket writes no directory, so nothing
        # else would replace the rows an earlier run left in it
        Path(mdir, f"bucket={bucket}.json").unlink(missing_ok=True)
        shutil.rmtree(os.path.join(out_dir, f"{BUCKET_COL}={bucket}"),
                      ignore_errors=True)
    b = with_bucket(df, key_col, n_buckets).filter(
        F.col(BUCKET_COL).isin(todo))
    (b.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BUCKET_COL)
      .parquet(out_dir))
    stats = {r[0]: r[1:] for r in
             df.sparkSession.read.schema(b.schema).parquet(out_dir)
               .filter(F.col(BUCKET_COL).isin(todo))
               .groupBy(BUCKET_COL).agg(*_stats(key_col, payload_col))
               .collect()}
    for bucket in todo:
        doc_count, byte_count, checksum = stats.get(bucket, (0, 0, 0))
        manifest = {"bucket": bucket, "doc_count": doc_count,
                    "byte_count": byte_count or 0, "checksum": checksum}
        tmp = os.path.join(mdir, f".bucket={bucket}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(mdir, f"bucket={bucket}.json"))
    return {"written": todo, "skipped": sorted(done)}


def read_lineage_manifests(out_dir: str) -> list[dict]:
    mdir = os.path.join(out_dir, "_lineage")
    out = []
    for b in sorted(completed_buckets(out_dir)):
        with open(os.path.join(mdir, f"bucket={b}.json")) as f:
            out.append(json.load(f))
    return out
