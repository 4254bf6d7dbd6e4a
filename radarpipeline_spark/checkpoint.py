"""Checkpointed, resumable feature runs with per-partition lineage.

Spark batch has no mid-job resume, and the reference has no notion of
restart at all (a crash re-runs everything — its writer just overwrites,
reference: radarpipeline/io/writer.py:35-52).  This module implements
the north_rule contract: a run is split into entity-hash *buckets*;
each bucket commits independently (parquet dir + manifest line with
row/byte metrics and lineage); a restart skips committed buckets and
produces byte-identical final output.

Correctness requirement: the feature builder must be *entity-pure* —
every output row of entity e depends only on input rows of entity e.
All engine features (sessionize / lag-lead / rolling / as-of) are
per-conversation, so hash-bucketing conv_id preserves results exactly.

Commit protocol (idempotent, crash-safe), per bucket:
  1. write bucket output to ``<out>/_tmp_<run>/bucket=<i>``
  2. atomically rename into ``<out>/bucket=<i>``
  3. append the manifest line (fsync'd, under a lock shared by the run)
A crash between 2 and 3 re-runs the bucket into the same path
(overwrite) — rename-over is still atomic, output unchanged.

Buckets run concurrently.  The driver builds each bucket's plan on the
calling thread, in bucket order, and hands it to a thread pool (one
worker per default-parallelism slot) that runs steps 1-3, so plan
construction overlaps execution and the buckets' small jobs fill idle
cores.  Each bucket still commits on its own, so a crash loses at most
the buckets in flight, and manifest lines may land out of bucket
order.  Under Spark's default FIFO scheduler the earliest-submitted
job claims free task slots first and later buckets only take slots it
leaves idle, so the head bucket commits no later than it would alone.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


def bucket_of(entity_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(entity_col)), F.lit(n_buckets)).cast("int")


@dataclass
class BucketResult:
    bucket: int
    rows_out: int
    bytes_out: int
    seconds: float


class CheckpointedFeatureRun:
    """Drive a feature computation bucket-by-bucket with resume.

    Parameters
    ----------
    output_dir: final output root; one parquet dir per bucket.
    n_buckets: work granularity (more buckets = finer resume, more jobs).
    entity_col: hash key; all features must be pure per this key.
    """

    def __init__(
        self,
        output_dir: str,
        n_buckets: int = 16,
        entity_col: str = "conv_id",
    ) -> None:
        self.output_dir = output_dir
        self.n_buckets = n_buckets
        self.entity_col = entity_col
        self.manifest_path = os.path.join(output_dir, "manifest.jsonl")
        self._manifest_lock = threading.Lock()

    # ------------------------------------------------------------ manifest

    def completed_buckets(self) -> dict[int, dict]:
        done: dict[int, dict] = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        # torn trailing write from a crash mid-append:
                        # the bucket never committed — treat as absent
                        # (it will be recomputed; rename-over is safe)
                        continue
                    if rec.get("status") == "committed":
                        done[rec["bucket"]] = rec
        return done

    def _append_manifest(self, rec: dict) -> None:
        os.makedirs(self.output_dir, exist_ok=True)
        # buckets commit from several threads: repair + append is one step
        with self._manifest_lock:
            # a crash can leave a torn line without its newline; terminate
            # it first so this record starts on a fresh line
            if os.path.exists(self.manifest_path):
                with open(self.manifest_path, "rb+") as f:
                    f.seek(0, os.SEEK_END)
                    if f.tell() > 0:
                        f.seek(-1, os.SEEK_END)
                        if f.read(1) != b"\n":
                            f.write(b"\n")
            with open(self.manifest_path, "a") as f:
                f.write(json.dumps(rec) + "\n")
                f.flush()
                os.fsync(f.fileno())

    # ---------------------------------------------------------------- run

    def run(
        self,
        spark: SparkSession,
        build: Callable[[DataFrame], DataFrame],
        source: DataFrame,
        input_lineage: str = "",
        max_buckets: int | None = None,
    ) -> list[BucketResult]:
        """Compute ``build(source filtered to bucket i)`` for every
        not-yet-committed bucket.  ``max_buckets`` limits how many
        buckets this invocation processes (used by the kill/resume test;
        also a natural budget knob for preemptible clusters).

        ``build`` runs on the calling thread, once per bucket in bucket
        order; each bucket's write → rename → count → manifest append
        runs on a pool of ``min(buckets, defaultParallelism)`` threads
        that carry the caller's job group, description and tags.
        Results come back in bucket order.  A bucket's ``seconds`` (in
        its result and manifest line) is its own write-to-commit time
        on its worker: plan building and time queued for a worker are
        excluded.

        If a bucket fails, no further bucket is built or submitted,
        queued buckets are dropped, in-flight ones settle (and stay
        committed), and the first failure in bucket order is re-raised.
        """
        run_id = uuid.uuid4().hex[:12]
        done = self.completed_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        if max_buckets is not None:
            todo = todo[:max_buckets]
        if not todo:
            return []
        src = source.withColumn("__bucket", bucket_of(self.entity_col, self.n_buckets))
        tmp_root = os.path.join(self.output_dir, f"_tmp_{run_id}")
        manifest = {
            "status": "committed",
            "run_id": run_id,
            "n_buckets": self.n_buckets,
            "entity_col": self.entity_col,
            "input_lineage": input_lineage,
        }
        feature_hash = None
        pool = ThreadPoolExecutor(
            max_workers=min(len(todo), spark.sparkContext.defaultParallelism)
        )
        futures = []
        try:
            for b in todo:
                if any(f.done() and f.exception() for f in futures):
                    break
                out = build(src.filter(F.col("__bucket") == b).drop("__bucket"))
                if feature_hash is None:
                    feature_hash = hash_schema(out)
                # wrap per bucket: the wrapper hands its one copy of the
                # caller's local properties to whichever thread runs it,
                # and SQL executions write their id into that copy
                commit = inheritable_thread_target(spark)(self._commit_bucket)
                rec = dict(manifest, bucket=b, feature_schema_hash=feature_hash)
                futures.append(pool.submit(commit, spark, out, tmp_root, rec))
            wait(futures, return_when=FIRST_EXCEPTION)
        finally:
            pool.shutdown(cancel_futures=True)
            shutil.rmtree(tmp_root, ignore_errors=True)
        # the pool's queue is FIFO, so every dropped (cancelled) bucket
        # sorts after every bucket that ran: the first non-result in
        # bucket order is a real failure
        return [f.result() for f in futures]

    def _commit_bucket(
        self, spark: SparkSession, out: DataFrame, tmp_root: str, rec: dict
    ) -> BucketResult:
        t0 = time.perf_counter()
        b = rec["bucket"]
        tmp = os.path.join(tmp_root, f"bucket={b}")
        final = os.path.join(self.output_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.replace(tmp, final)
        rows = spark.read.parquet(final).count()
        size = dir_bytes(final)
        dt = time.perf_counter() - t0
        self._append_manifest(
            {
                **rec,
                "rows_out": rows,
                "bytes_out": size,
                "seconds": round(dt, 3),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        return BucketResult(b, rows, size, dt)

    def is_complete(self) -> bool:
        return len(self.completed_buckets()) == self.n_buckets

    def read_output(self, spark: SparkSession) -> DataFrame:
        if not self.is_complete():
            missing = set(range(self.n_buckets)) - set(self.completed_buckets())
            raise RuntimeError(f"run incomplete; missing buckets {sorted(missing)}")
        return spark.read.parquet(os.path.join(self.output_dir, "bucket=*"))


def hash_schema(df: DataFrame) -> str:
    import hashlib

    sig = ";".join(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields)
    return hashlib.sha256(sig.encode()).hexdigest()[:16]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def input_lineage_of(paths: list[str]) -> str:
    """Cheap input snapshot id: hash of (path, size, mtime) triples."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted(paths):
        for root, _, files in os.walk(p) if os.path.isdir(p) else [(p, None, [])]:
            for fn in sorted(files):
                fp = os.path.join(root, fn)
                st = os.stat(fp)
                h.update(f"{fp}|{st.st_size}|{int(st.st_mtime)}".encode())
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{p}|{st.st_size}|{int(st.st_mtime)}".encode())
    return h.hexdigest()[:16]
