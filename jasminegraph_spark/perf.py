"""Performance/SLA bookkeeping — the reference's perfdb equivalent.

The reference records per-(graph, command, partition_count) latencies in a
SQLite perfdb and uses them for SLA-aware admission (ddl/perfdb.sql;
CypherQueryExecutor.cpp:164-189,366-376; JobScheduler.cpp:79-105 can
reject high-priority jobs whose SLA cannot be met). Here the same records
live in a parquet directory and the admission check is a simple estimate
lookup — scheduling itself belongs to Spark/YARN/K8s.

The ledger is written from the driver with pyarrow, like the reference's
one-row SQLite insert: `record` writes its row to a hidden
`.part-<uuid>.parquet.tmp` inside the ledger directory and renames it to
`part-<uuid>.parquet`, so each record is atomic and a crash mid-record
leaves nothing visible (Spark and pyarrow both skip `.`/`_`-prefixed
files). No Spark job runs behind a record. Reads go through Spark with the
declared schema (`history()`), so an SLA check pays no schema-inference
job. Part files written by Spark's parquet writer carry the same columns
and stay readable and compactable.

Ledger paths are LOCAL-FILESYSTEM by design (the writer, the part-file
counting in `record` and the atomic renames use os.* APIs): a ledger on
HDFS/S3 would need the Hadoop FileSystem API instead — a documented seam,
not a silent fallback. Compaction is crash-safe: the compacted ledger is
written to a sibling temp directory and swapped in by rename, with the
previous directory recoverable until the swap completes.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

#: the ledger's one schema: the Arrow writer uses it as is, Spark reads
#: with its converted twin (no inference job per read)
_SCHEMA = pa.schema(
    [
        ("name", pa.string()),
        ("command", pa.string()),
        ("partitions", pa.int32()),
        ("seconds", pa.float64()),
        ("ts", pa.float64()),
    ]
)
_SPARK_SCHEMA = from_arrow_schema(_SCHEMA)


def _write_part(table: pa.Table, directory: str) -> None:
    """Write `table` as one new part file in `directory`: a hidden temp
    file first, then a rename, so readers see the whole file or none."""
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


@dataclass
class PerfCatalog:
    spark: SparkSession
    path: str

    #: per-(name, command) history cap — `compact()` keeps the newest
    #: KEEP_LAST records for each key so the ledger read in `estimate`
    #: stays bounded no matter how many distinct per-query fingerprints
    #: (`cypher:<md5-8>`) a long session accumulates.
    KEEP_LAST: int = 32
    #: auto-compact when the parquet directory holds more than this many
    #: appended part files (each `record` call writes exactly one).
    COMPACT_EVERY: int = 256

    def record(self, name: str, command: str, partitions: int, seconds: float) -> None:
        self._recover()
        os.makedirs(self.path, exist_ok=True)
        row = pa.Table.from_pydict(
            {
                "name": [name],
                "command": [command],
                "partitions": [int(partitions)],
                "seconds": [float(seconds)],
                "ts": [time.time()],
            },
            schema=_SCHEMA,
        )
        _write_part(row, self.path)
        n_parts = sum(1 for f in os.listdir(self.path) if f.endswith(".parquet"))
        if n_parts > self.COMPACT_EVERY:
            self.compact()

    def _recover(self) -> None:
        """Finish an interrupted compact(): if a crash landed between the
        two renames, the live ledger sits at <path>.compact-old — move it
        back before any read or append touches <path>."""
        old = self.path.rstrip("/") + ".compact-old"
        if not os.path.exists(self.path) and os.path.exists(old):
            os.rename(old, self.path)

    def compact(self, keep_last: int | None = None) -> int:
        """Rewrite the ledger keeping only the newest `keep_last` records
        per (name, command) key. Bounds both the on-disk size and the
        full-table scan `estimate` performs — mirrors the reference
        perfdb's bounded `sla_performance` history (ddl/perfdb.sql keeps a
        rolling window per sla_category). Returns the retained row count.
        """
        self._recover()
        if not os.path.exists(self.path):
            return 0
        keep = keep_last if keep_last is not None else self.KEEP_LAST
        # the ledger is small by construction after the cap: read it on
        # the driver (dataset discovery skips `.`/`_`-prefixed files, so
        # in-flight record temps and Spark's _SUCCESS/.crc are ignored)
        table = pq.read_table(self.path, schema=_SCHEMA).sort_by([("ts", "descending")])
        seen: Counter = Counter()
        kept = []
        for i, key in enumerate(zip(table["name"].to_pylist(), table["command"].to_pylist())):
            seen[key] += 1
            if seen[key] <= keep:
                kept.append(i)
        # crash-safe swap: never overwrite the live ledger in place (a
        # crash mid-write would lose the whole history). Write beside it,
        # then two renames; _recover() heals a crash landing between them.
        tmp = self.path.rstrip("/") + ".compact-tmp"
        old = self.path.rstrip("/") + ".compact-old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        os.makedirs(tmp)
        _write_part(table.take(pa.array(kept, pa.int64())), tmp)
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)
        return len(kept)

    @contextmanager
    def timed(self, name: str, command: str, partitions: int = 0):
        t0 = time.perf_counter()
        yield
        self.record(name, command, partitions, time.perf_counter() - t0)

    def history(self) -> DataFrame:
        self._recover()
        return self.spark.read.schema(_SPARK_SCHEMA).parquet(self.path)

    def estimate(self, name: str, command: str) -> float | None:
        """Median observed latency for (name, command) — the calibration
        value the reference's SLA admission compares against."""
        self._recover()
        if not os.path.exists(self.path):
            return None
        rows = (
            self.history()
            .filter((F.col("name") == name) & (F.col("command") == command))
            .agg(F.expr("percentile_approx(seconds, 0.5)").alias("p50"))
            .collect()
        )
        return rows[0]["p50"] if rows and rows[0]["p50"] is not None else None

    def estimate_family(self, name: str, family: str) -> float | None:
        """Median latency across a whole command FAMILY — the rollup the
        reference's perfdb exposes via `sla_category` aggregation
        (ddl/perfdb.sql). With r8's per-query fingerprint keying
        (`cypher:<md5-8>`), per-key `estimate` drives admission while
        this rollup answers family-level introspection ("how slow is
        cypher on this graph overall?"). Matches both the bare family
        name and any `family:<fingerprint>` key."""
        self._recover()
        if not os.path.exists(self.path):
            return None
        rows = (
            self.history()
            .filter(
                (F.col("name") == name)
                & (
                    (F.col("command") == family)
                    | F.col("command").startswith(family + ":")
                )
            )
            .agg(F.expr("percentile_approx(seconds, 0.5)").alias("p50"))
            .collect()
        )
        return rows[0]["p50"] if rows and rows[0]["p50"] is not None else None

    def admits(self, name: str, command: str, sla_seconds: float) -> bool:
        """SLA admission: accept when unknown or estimated within the SLA
        (JobScheduler.cpp:79-93 semantics, minus the rejection queue)."""
        est = self.estimate(name, command)
        return est is None or est <= sla_seconds
