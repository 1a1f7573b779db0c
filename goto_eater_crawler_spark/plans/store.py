"""Pluggable round-state stores for the crawl engine (T6).

The north rule's deployment target keeps crawl state (frontier,
seen-set deltas, bloom blocks, records, fetch log) in Iceberg tables
with per-round atomic commits. This module makes that seam concrete:
:class:`TableStore` is the protocol the crawl loop writes through, and
three implementations cover the deployment spectrum:

- :class:`MemoryStore` — localCheckpoint-backed, test/bench mode (no
  durable state; the round loop's lineage cut only).
- :class:`ParquetManifestStore` — parquet dirs under
  ``rounds/round=NNNN/<name>`` with a ``manifest.json`` written LAST
  as the atomic commit mark (written to a temp file, fsynced and
  renamed into place: a crashed round leaves no manifest and is
  invisible to resume). This is the sandbox stand-in whose commit
  discipline mirrors Iceberg's snapshot-commit-last protocol.
- :class:`IcebergStore` — one partitioned table per state name
  (``<prefix>_<name>``, partitioned by ``round``) written via
  ``overwritePartitions``, plus a ``<prefix>_manifest`` table whose
  appended row IS the commit mark (Iceberg appends are atomic
  snapshot commits). Dual-mode (round 3): with a configured connector
  catalog it uses the DataFrameWriterV2 path (Iceberg in prod; jars
  absent in this sandbox); against ``spark_catalog.*`` it runs the
  SAME store logic over v1 managed tables, with overwritePartitions
  swapped for its exact semantic equivalent (dynamic-mode INSERT
  OVERWRITE) — so crawl + retry-overwrite + resume through catalog
  tables execute under test (tests/test_resume_retry.py).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class TableStore(Protocol):
    """What the crawl loop needs from round-state storage."""

    #: durable across processes (enables resume / flat re-reads)
    persistent: bool

    def write(self, df: DataFrame, round_no: int, name: str) -> DataFrame:
        """Persist one round's table; return a lineage-free reader."""
        ...

    def read(self, round_no: int, name: str, schema: T.StructType) -> DataFrame:
        ...

    def read_many(
        self, rounds: list[int], name: str, schema: T.StructType
    ) -> DataFrame:
        """ONE flat scan over many rounds (no union folding)."""
        ...

    def commit_round(self, round_no: int, info: dict) -> None:
        """Atomic commit mark, written LAST."""
        ...

    def committed_rounds(self) -> list[int]:
        ...

    def round_info(self, round_no: int) -> dict:
        ...

    def compact(self, name: str, schema: T.StructType, transform=None) -> int:
        """Table maintenance: fold every committed round's ``name``
        delta into the latest committed round, optionally through
        ``transform`` (DataFrame -> DataFrame); returns the number of
        rounds folded."""
        ...


class MemoryStore:
    persistent = False

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def write(self, df: DataFrame, round_no: int, name: str) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def read(self, round_no, name, schema):  # pragma: no cover - unused
        raise NotImplementedError("MemoryStore holds no durable state")

    def read_many(self, rounds, name, schema):  # pragma: no cover - unused
        raise NotImplementedError("MemoryStore holds no durable state")

    def commit_round(self, round_no: int, info: dict) -> None:
        pass

    def committed_rounds(self) -> list[int]:
        return []

    def round_info(self, round_no: int) -> dict:  # pragma: no cover
        raise NotImplementedError("MemoryStore holds no durable state")

    def compact(self, name, schema, transform=None):  # pragma: no cover
        raise NotImplementedError("MemoryStore holds no durable state")


class ParquetManifestStore:
    persistent = True

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir

    def _dir(self, round_no: int, name: str = "") -> str:
        return os.path.join(self.base, "rounds", f"round={round_no:04d}", name)

    def write(self, df: DataFrame, round_no: int, name: str) -> DataFrame:
        path = self._dir(round_no, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def read(self, round_no, name, schema):
        return self.spark.read.schema(schema).parquet(self._dir(round_no, name))

    def read_many(self, rounds, name, schema):
        paths = [
            p
            for r in rounds
            if os.path.exists(p := self._dir(r, name))
        ]
        return self.spark.read.schema(schema).parquet(*paths)

    def commit_round(self, round_no: int, info: dict) -> None:
        # temp file + fsync + rename: committed_rounds() treats "file
        # exists" as committed, so manifest.json must never be visible
        # half-written (os.replace is atomic within one directory)
        base = self._dir(round_no)
        os.makedirs(base, exist_ok=True)
        tmp = os.path.join(base, "_manifest.json.tmp")
        try:
            with open(tmp, "w") as f:
                json.dump(info, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(base, "manifest.json"))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def committed_rounds(self) -> list[int]:
        rounds_dir = os.path.join(self.base, "rounds")
        if not os.path.isdir(rounds_dir):
            return []
        out = []
        for d in sorted(os.listdir(rounds_dir)):
            if os.path.exists(os.path.join(rounds_dir, d, "manifest.json")):
                out.append(int(d.split("=")[1]))
        return out

    def round_info(self, round_no: int) -> dict:
        with open(os.path.join(self._dir(round_no), "manifest.json")) as f:
            return json.load(f)

    def compact(self, name, schema, transform=None) -> int:
        """Table maintenance: rewrite all committed per-round ``name``
        deltas into ONE delta under the latest committed round — the
        parquet-store analogue of Iceberg's ``rewrite_data_files``.
        After 10^4 rounds a 10^10-row seen set is 10^4 small deltas;
        resume's multi-path scan pays per-file open cost and the
        cluster pays listing latency, so periodic compaction keeps the
        file count O(1) while ``read_many`` output stays row-identical.

        Crash-safety: the compacted file lands in a staging dir first
        and replaces the latest round's delta by rename; older rounds'
        deltas are deleted only after the swap. A crash between swap
        and deletes leaves duplicate rows visible — harmless for a
        SEEN SET (set semantics downstream) and healed by re-running
        compaction. A crash before the swap leaves state untouched.

        ``transform`` (optional, DataFrame -> DataFrame) is applied to
        the union before the rewrite — the hook CrawlEngine.retract
        uses to drop retracted rows from EVERY committed delta in one
        pass (a filter over the union-of-deltas model needs a rewrite;
        per-delta tombstones would leak into read_many).

        Returns the number of rounds whose deltas were folded in.
        """
        rounds = self.committed_rounds()
        if not rounds or (len(rounds) < 2 and transform is None):
            return 0
        last = rounds[-1]
        union = self.read_many(rounds, name, schema)
        if transform is not None:
            # staging write reads the original paths, so no self-read:
            # the swap happens only after the transformed rewrite lands
            union = transform(union)
        staging = self._dir(last, f"_{name}_compacting")
        union.write.mode("overwrite").parquet(staging)
        final = self._dir(last, name)
        backup = self._dir(last, f"_{name}_old")
        if os.path.exists(final):
            os.rename(final, backup)
        os.rename(staging, final)
        folded = 0
        for r in rounds[:-1]:
            d = self._dir(r, name)
            if os.path.exists(d):
                shutil.rmtree(d)
                folded += 1
        if os.path.exists(backup):
            shutil.rmtree(backup)
        return folded + 1


class IcebergStore:
    """Iceberg-backed round state. Table layout:

    - ``<prefix>_<name>`` (frontier / seen_delta / blocks / records /
      fetch_log / new_rows): the state columns + ``round int``,
      ``PARTITIONED BY (round)``; each round lands via
      ``overwritePartitions`` so retried rounds replace, never
      duplicate.
    - ``<prefix>_manifest(round int, info string)``: append-only; a
      round is committed iff its manifest row exists (Iceberg appends
      are atomic snapshot commits, so the manifest append is the
      commit mark exactly like manifest.json in the parquet store).
    """

    persistent = True

    def __init__(self, spark: SparkSession, prefix: str):
        self.spark = spark
        self.prefix = prefix  # e.g. "my_catalog.crawl.prod"
        catalog = prefix.split(".")[0]
        # v2 mode: a configured connector catalog (Iceberg in prod).
        # v1 mode: the session catalog — ``overwritePartitions`` is
        # replaced by its exact semantic equivalent for v1 tables,
        # INSERT OVERWRITE with dynamic partition overwrite; every
        # other line (table naming, round partitioning, manifest
        # commit protocol, reads, resume) is shared, so the store's
        # logic executes under test even without iceberg jars.
        self.v2 = bool(spark.conf.get(f"spark.sql.catalog.{catalog}", None))
        if not self.v2 and catalog != "spark_catalog":
            raise RuntimeError(
                f"IcebergStore needs an Iceberg catalog named {catalog!r} "
                "(spark.sql.catalog.* config + iceberg-spark-runtime jars); "
                "not configured on this session — use ParquetManifestStore "
                "or a spark_catalog.* prefix (v1 session-catalog mode)."
            )
        if not self.v2:
            # INSERT OVERWRITE must be partition-scoped like
            # overwritePartitions; the default static mode truncates
            # the whole table. Session-wide (not per-write conf
            # toggles, which would race the crawl loop's concurrent
            # materialization threads) — and therefore VISIBLE TO
            # EVERY OTHER WRITER on this session for its lifetime
            # (documented at get_spark, ADVICE r3 #4): an unrelated
            # static full-table INSERT OVERWRITE elsewhere must pin
            # .option("partitionOverwriteMode", "static") per-write.
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def _table(self, name: str) -> str:
        return f"{self.prefix}_{name}"

    def write(self, df: DataFrame, round_no: int, name: str) -> DataFrame:
        t = self._table(name)
        out = df.withColumn("round", F.lit(round_no))
        if not self.spark.catalog.tableExists(t):
            if self.v2:
                out.writeTo(t).partitionedBy("round").create()
            else:
                out.write.partitionBy("round").saveAsTable(t)
        elif self.v2:
            # Iceberg: replace exactly the partitions present in `out`
            # (a retried round overwrites itself, never duplicates)
            out.writeTo(t).overwritePartitions()
        else:
            # v1 equivalent of overwritePartitions: dynamic-mode
            # INSERT OVERWRITE touches only the partitions in `out`
            # (mode set session-wide in __init__ — a per-write conf
            # toggle races with the crawl loop's concurrent
            # materialization threads). insertInto is POSITIONAL:
            # align to the table's column order first (v2's writeTo
            # resolves by name; this keeps the two paths equivalent).
            out.select(*self.spark.read.table(t).columns).write.mode(
                "overwrite"
            ).insertInto(t)
        return (
            self.spark.read.table(t)
            .filter(F.col("round") == round_no)
            .drop("round")
        )

    def read(self, round_no, name, schema):
        return (
            self.spark.read.table(self._table(name))
            .filter(F.col("round") == round_no)
            .drop("round")
        )

    def read_many(self, rounds, name, schema):
        return (
            self.spark.read.table(self._table(name))
            .filter(F.col("round").isin(list(rounds)))
            .drop("round")
        )

    def commit_round(self, round_no: int, info: dict) -> None:
        t = self._table("manifest")
        row = self.spark.createDataFrame(
            [(round_no, json.dumps(info))], "round int, info string"
        )
        if not self.spark.catalog.tableExists(t):
            if self.v2:
                row.writeTo(t).create()
            else:
                row.write.saveAsTable(t)
        elif self.v2:
            row.writeTo(t).append()  # atomic Iceberg snapshot commit
        else:
            row.write.mode("append").saveAsTable(t)

    def committed_rounds(self) -> list[int]:
        t = self._table("manifest")
        if not self.spark.catalog.tableExists(t):
            return []
        return [
            r["round"]
            for r in self.spark.read.table(t).select("round").distinct()
            .orderBy("round").collect()
        ]

    def round_info(self, round_no: int) -> dict:
        # a retried round may have appended its manifest row more than
        # once; pick deterministically (max of the identical-or-retry
        # payloads) rather than relying on collect() order
        t = self._table("manifest")
        rows = (
            self.spark.read.table(t)
            .filter(F.col("round") == round_no)
            .agg(F.max("info").alias("info"))
            .collect()
        )
        return json.loads(rows[0]["info"])

    def compact(self, name, schema, transform=None) -> int:
        """Catalog-table twin of :meth:`ParquetManifestStore.compact`:
        rewrite every committed round's ``name`` partition into the
        latest round's partition in ONE table overwrite. On real
        Iceberg (v2) the overwrite is a single atomic snapshot commit —
        the crash-safety comes from the table format, not from rename
        choreography. In v1 session-catalog test mode the same logic
        runs as a materialize-then-overwrite (non-atomic; test-mode
        limitation, documented — production compaction belongs on the
        v2 path or Iceberg's own rewrite_data_files procedure).

        Returns the number of rounds folded. No concurrent writers
        (maintenance-window op, same precondition as the parquet twin).
        """
        rounds = self.committed_rounds()
        if not rounds or (len(rounds) < 2 and transform is None):
            return 0
        last = rounds[-1]
        t = self._table(name)
        folded = self.spark.read.table(t).drop("round")
        if transform is not None:  # retraction hook — see the parquet twin
            folded = transform(folded)
        folded = folded.withColumn("round", F.lit(last))
        if self.v2:
            folded.writeTo(t).overwrite(F.lit(True))
        else:
            # break the self-read before overwriting the source table
            folded = folded.localCheckpoint(eager=True)
            folded.write.mode("overwrite").partitionBy("round").saveAsTable(t)
        return len(rounds)


def make_store(spark: SparkSession, checkpoint_dir: str | None) -> TableStore:
    """checkpoint_dir semantics: None -> MemoryStore;
    ``iceberg:<catalog.db.prefix>`` -> IcebergStore; else parquet."""
    if not checkpoint_dir:
        return MemoryStore(spark)
    if checkpoint_dir.startswith("iceberg:"):
        return IcebergStore(spark, checkpoint_dir[len("iceberg:"):])
    return ParquetManifestStore(spark, checkpoint_dir)
