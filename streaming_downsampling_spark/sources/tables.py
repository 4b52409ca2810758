"""Snapshot warehouse: Iceberg-essential semantics over plain parquet.

The north rule calls for Iceberg tables (atomic commits, snapshot resume,
idempotent MERGE).  The Iceberg Spark runtime jar cannot be fetched in this
offline environment, so this module provides the same *semantics* behind a
thin, swappable layer (SURVEY.md §7.2 M0 fallback):

* data lives in immutable directories ``<warehouse>/<table>/data/<name>/``
  (parquet files); a snapshot is a *manifest* mapping partition key → the
  list of data dirs that hold that partition's current rows,
* ``metadata.json`` is swapped atomically (write-temp + ``os.replace``) and
  carries the snapshot lineage (id, parent, operation, row count, manifest);
  the row count (``rows``) is what the operation wrote, summed from the
  footers of the parquet files it just wrote — no read-back job,
* like Iceberg's ``metadata.json``, each snapshot also records the table
  ``schema`` (``StructType.jsonValue()``) and its ``partition_by`` column
  (``None`` when unpartitioned or mixed).  Reads pass that schema to the
  parquet reader, so no footer-scan job runs to infer it.  ``append`` and
  ``merge_upsert`` union it by name with the batch's (new columns are
  appended and read as NULL from older files) and reject a column whose
  type changes; ``overwrite`` records its frame's schema,
* MERGE and compaction rewrites hash-partition rows on the partition value
  before ``partitionBy`` (Iceberg's ``hash`` write distribution), so each
  touched partition gets one file instead of one per input split;
  ``overwrite`` and ``append`` write their frame as it is split, one writer
  per split, because the extra shuffle slows a bulk write of few partitions,
* one layout rule: an unpartitioned table is the single partition ``*``
  and a table with no snapshot is an empty manifest.  A MERGE or
  ``compact`` is partition-scoped only when its ``partition_by`` names the
  column the manifest records, and rewrites every partition otherwise; a
  commit that leaves dirs of another layout in the manifest records
  ``partition_by`` ``None`` (mixed).  Every operation writes through
  ``_write`` and commits through ``_commit``,
* readers always resolve the *current* snapshot → readers never see partial
  writes (the Iceberg atomic-commit property),
* ``append`` commits ONLY the new batch's files — O(batch) I/O, the old
  manifest entries are reused by reference,
* ``append_rows`` commits rows the driver already holds (the lineage and
  metrics tables) as one parquet file written by pyarrow: the same
  ``append`` snapshot, but no Spark job (PyIceberg's Arrow ``append``),
* ``merge_upsert`` is an idempotent MERGE keyed on arbitrary columns;
  with ``partition_by`` it rewrites ONLY the partitions the batch touches
  (real Iceberg MERGE behavior) — per-micro-batch cost is O(touched
  partitions), not O(table), which is what keeps a long-running stream's
  total write I/O linear instead of quadratic,
* time travel: ``read(snapshot_id=...)``; retention:
  ``expire_snapshots`` deletes data dirs no kept snapshot references.

On a real cluster you'd swap this for ``df.writeTo("cat.db.t")`` with the
Iceberg catalog; every call site goes through this module only.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

UNPARTITIONED = "*"


def _parquet_rows(path: str) -> int:
    """Rows in the parquet files directly under ``path``, summed from their
    footers — no Spark job.  Skips what Spark's file index skips: names
    starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` checksums)."""
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _union_schema(old: StructType, new: StructType) -> StructType:
    """``old`` with the columns of ``new`` it lacks appended, matched by
    name; existing columns keep their position.  A column whose type
    differs raises ``ValueError``, at commit rather than at a later read."""
    have = {f.name: f.dataType.simpleString() for f in old}
    for f in new:
        t = f.dataType.simpleString()
        if have.get(f.name, t) != t:
            raise ValueError(
                f"column {f.name!r} cannot change type from {have[f.name]} to {t}"
            )
    return StructType([*old, *(f for f in new if f.name not in have)])


def _scoped(entry: dict, partition_by: str | None) -> bool:
    """The layout rule: a MERGE or ``compact`` rewrites only some
    partitions when ``partition_by`` is the column ``entry`` records, and
    every partition otherwise."""
    return partition_by is not None and entry["partition_by"] == partition_by


def _clustered(df: DataFrame, partition_by: str | None) -> DataFrame:
    """``df`` hash-partitioned on its partition value, so ``partitionBy``
    writes one file per value instead of one per input split (Iceberg's
    ``hash`` write distribution).  AQE coalesces the small shuffle
    partitions; unpartitioned frames pass through."""
    if partition_by is None:
        return df
    return df.repartition(F.col(partition_by).cast("string"))


def _anti_join_null_safe(old: DataFrame, batch_keys: DataFrame, on: list[str]) -> DataFrame:
    """``left_anti`` on ``on`` with NULL-SAFE equality (``<=>``).

    A plain column-list anti-join uses SQL equality, under which NULL never
    matches NULL — so a current row whose merge key (or partition value) is
    NULL would survive every MERGE and the replayed batch row would commit a
    duplicate, breaking the idempotent exactly-once contract.  Null-safe
    equality treats NULL as a value (Spark's ``dropDuplicates`` convention),
    which is the semantics replay-idempotence needs (round-4 ADVICE class:
    partition-representation misses skipping the anti-join)."""
    b = batch_keys
    for c in on:
        b = b.withColumnRenamed(c, f"__mk_{c}")
    cond = None
    for c in on:
        e = old[c].eqNullSafe(b[f"__mk_{c}"])
        cond = e if cond is None else cond & e
    return old.join(b, cond, "left_anti")


class Warehouse:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def _meta_path(self, table: str) -> str:
        return os.path.join(self.root, table, "metadata.json")

    def _load_meta(self, table: str) -> dict:
        p = self._meta_path(table)
        if not os.path.exists(p):
            return {"current": None, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _commit_meta(self, table: str, meta: dict) -> None:
        p = self._meta_path(table)
        tmp = p + ".tmp"
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, p)  # atomic on POSIX

    def snapshots(self, table: str) -> list[dict]:
        return self._load_meta(table)["snapshots"]

    def current_snapshot(self, table: str) -> int | None:
        return self._load_meta(table)["current"]

    def _snapshot_entry(self, meta: dict, snapshot_id: int | None) -> dict:
        snap = meta["current"] if snapshot_id is None else snapshot_id
        for s in meta["snapshots"]:
            if s["id"] == snap:
                return s
        raise FileNotFoundError(f"snapshot {snap} not found")

    # -- io ------------------------------------------------------------------
    def _data_dir(self, table: str, name: str) -> str:
        return os.path.join(self.root, table, "data", name)

    def _dirs(self, table: str, entry: dict, keys) -> list[str]:
        """Data dirs of ``entry``'s partitions whose key is in ``keys``, in
        key order."""
        return [
            self._data_dir(table, d)
            for p, ds in sorted(entry["parts"].items())
            if p in keys
            for d in ds
        ]

    def exists(self, table: str) -> bool:
        return self._load_meta(table)["current"] is not None

    def read(
        self,
        table: str,
        snapshot_id: int | None = None,
        partitions: list[str] | None = None,
    ) -> DataFrame:
        """Read a snapshot; ``partitions`` restricts the scan to the named
        partition keys (manifest-level partition pruning)."""
        meta = self._load_meta(table)
        if meta["current"] is None:
            raise FileNotFoundError(f"table {table!r} has no snapshot")
        entry = self._snapshot_entry(meta, snapshot_id)
        dirs = self._dirs(table, entry, entry["parts"] if partitions is None else partitions)
        if not dirs:
            raise FileNotFoundError(
                f"no data for table {table!r} partitions {partitions!r}"
            )
        return self._scan(dirs, entry)

    def _scan(self, dirs: list[str], entry: dict) -> DataFrame:
        """Parquet read of ``dirs`` under ``entry``'s recorded schema: dirs
        written before a column was added lack it and read it as NULL
        (Iceberg add-column semantics)."""
        return self.spark.read.schema(StructType.fromJson(entry["schema"])).parquet(*dirs)

    # -- the one write and the one commit ----------------------------------
    def _current(self, table: str) -> tuple[dict, dict, int]:
        """``(meta, entry, next snapshot id)`` for a commit onto ``table``'s
        current snapshot.  A table with no snapshot reads as an empty
        manifest without a layout, so a first MERGE collects nothing."""
        meta = self._load_meta(table)
        if meta["current"] is None:
            empty = {"parts": {}, "schema": StructType().jsonValue(), "partition_by": None}
            return meta, empty, 1
        return meta, self._snapshot_entry(meta, None), meta["current"] + 1

    def _write(
        self, table: str, snap: int, df: DataFrame | pa.Table, partition_by: str | None
    ) -> tuple[dict, int]:
        """Write snapshot ``snap``'s new data: ``(manifest parts, rows)``,
        the rows summed from the footers of the files just written — no
        read-back job.

        Unpartitioned, ``df`` is one dir ``d<snap>-0`` under ``*``; a pyarrow
        ``Table`` (rows the driver holds) is written there as one parquet
        file, without a Spark job.

        Partitioned, every touched partition value is written in ONE Spark
        job: ``partitionBy`` on a duplicated string key (``__part``) fans
        the batch into one immutable subdir per value while the original
        partition column stays in the data files (schema-stable reads); the
        manifest is built from the written directories, so no driver-side
        ``collect()`` of values and no per-value job.  A backfill touching
        1,000 days is one job, not 1,000 sequential jobs (round-2 verdict
        finding).

        Every task writes its own file into each partition it holds rows
        of.  A MERGE's input is the old files' splits plus the batch's
        partitions, so its callers pass a ``_clustered`` frame, which gives
        one file per partition value."""
        from urllib.parse import unquote

        if partition_by is None:
            name = f"d{snap}-0"
            out = self._data_dir(table, name)
            if isinstance(df, pa.Table):
                # what Spark's mode("overwrite") does to a dir a failed commit left
                shutil.rmtree(out, ignore_errors=True)
                os.makedirs(out)
                pq.write_table(df, os.path.join(out, "part-00000.parquet"))
            else:
                df.write.mode("overwrite").parquet(out)
            return {UNPARTITIONED: [name]}, _parquet_rows(out)
        base = f"d{snap}"
        out = self._data_dir(table, base)
        parted = df.withColumn("__part", F.col(partition_by).cast("string"))
        parted.write.mode("overwrite").partitionBy("__part").parquet(out)
        parts = {}
        rows = 0
        for d in sorted(os.listdir(out)):
            if not d.startswith("__part="):
                continue
            v = unquote(d[len("__part=") :])
            if v == "__HIVE_DEFAULT_PARTITION__":
                v = "None"
            parts[v] = [f"{base}/{d}"]
            rows += _parquet_rows(os.path.join(out, d))
        return parts, rows

    def _commit(
        self,
        table: str,
        op: str,
        meta: dict,
        entry: dict,
        snap: int,
        touched,
        new_parts: dict,
        rows: int,
        schema: dict,
        partition_by: str | None,
    ) -> int:
        """Commit snapshot ``snap`` onto ``entry``: its manifest is
        ``entry``'s partitions minus the ``touched`` keys, plus ``new_parts``
        (a key kept and written gets both lists).  It records table
        ``schema`` (``StructType.jsonValue()``) and ``partition_by`` when
        the layout is unchanged or every old partition was touched, and
        ``None`` (mixed) otherwise, which the next MERGE or ``compact``
        rewrites whole."""
        parts = {p: list(ds) for p, ds in entry["parts"].items() if p not in touched}
        for p, ds in new_parts.items():
            parts.setdefault(p, []).extend(ds)
        if entry["partition_by"] != partition_by and not set(entry["parts"]) <= set(touched):
            partition_by = None
        meta["snapshots"].append(
            {
                "id": snap,
                "parent": meta["current"],
                "op": op,
                "rows": rows,
                "parts": parts,
                "schema": schema,
                "partition_by": partition_by,
                "committed_at": time.time(),
            }
        )
        meta["current"] = snap
        self._commit_meta(table, meta)
        return snap

    # -- operations ------------------------------------------------------------
    def overwrite(self, table: str, df: DataFrame, partition_by: str | None = None) -> int:
        """Write a new snapshot containing exactly ``df``."""
        meta, entry, snap = self._current(table)
        new_parts, rows = self._write(table, snap, df, partition_by)
        return self._commit(
            table, "overwrite", meta, entry, snap, entry["parts"], new_parts, rows,
            df.schema.jsonValue(), partition_by,
        )

    def append(
        self, table: str, df: DataFrame, partition_by: str | None = None
    ) -> int:
        """Append-only commit: writes the batch's files, reuses every
        existing manifest entry by reference — O(batch) I/O."""
        meta, entry, snap = self._current(table)
        schema = _union_schema(StructType.fromJson(entry["schema"]), df.schema)
        new_parts, rows = self._write(table, snap, df, partition_by)
        return self._commit(
            table, "append", meta, entry, snap, (), new_parts, rows,
            schema.jsonValue(), partition_by,
        )

    def append_rows(self, table: str, rows: list[tuple], schema: StructType) -> int:
        """``append(table, df)`` of ``rows`` held on the driver, without a
        Spark job: pyarrow writes them as one parquet file, and the snapshot
        is the unpartitioned ``append`` Spark's write would commit
        (``partition_by`` ``None``).  A column whose type differs from the
        table's raises ``ValueError`` before anything is written."""
        arrow = to_arrow_schema(schema)
        data = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)],
            schema=arrow,
        )
        meta, entry, snap = self._current(table)
        schema = _union_schema(StructType.fromJson(entry["schema"]), schema)
        new_parts, n = self._write(table, snap, data, None)
        return self._commit(
            table, "append", meta, entry, snap, (), new_parts, n, schema.jsonValue(), None
        )

    def merge_upsert(
        self,
        table: str,
        df: DataFrame,
        keys: list[str],
        partition_by: str | None = None,
    ) -> int:
        """Idempotent MERGE: new rows replace current rows with equal keys.

        Equivalent to ``MERGE INTO t USING s ON <keys> WHEN MATCHED THEN
        UPDATE * WHEN NOT MATCHED THEN INSERT *`` — replaying the same source
        batch is a no-op on the final state, which is what makes streaming
        restarts exactly-once at the table level.

        With ``partition_by`` (a column of ``df``) equal to the recorded
        one, only the partitions present in the batch are read + rewritten;
        all other partitions' manifest entries carry over untouched.
        Otherwise (unpartitioned, a mixed manifest, another column) the
        whole table is rewritten under ``partition_by``.  Every rewritten
        partition gets one file (``_clustered``).
        """
        meta, entry, snap = self._current(table)
        # before any write: a type change fails here, not at a later read
        schema = _union_schema(StructType.fromJson(entry["schema"]), df.schema)
        scoped = _scoped(entry, partition_by)
        touched, on = set(entry["parts"]), keys
        try:
            if scoped:
                df = df.persist()
                # ONE job for the whole batch: read every touched partition's
                # current dirs together, anti-join on (keys + partition value)
                # — identical per-partition MERGE semantics to a per-value
                # loop, since a key match only ever replaces rows within the
                # same partition value — then write keep ∪ batch with a
                # single partitionBy commit.  The touched-value set is
                # resolved with one small distinct() collect (partition
                # VALUES, not data); all data I/O is one read + one write.
                # The values are collected through Spark's OWN
                # cast-to-string — the exact representation `_write` puts in
                # the manifest via partition directory names — because
                # Python's str() disagrees with it for booleans ('True' vs
                # 'true') and sci-notation floats, and a representation miss
                # here would skip the anti-join and commit duplicate keys
                # (round-3 ADVICE finding).  NULL *and* the empty string both
                # land in __HIVE_DEFAULT_PARTITION__ (manifest key 'None'),
                # so both map to it here — '' kept as-is would miss the
                # manifest key, skip the anti-join for that partition, and
                # commit duplicate keys (round-4 ADVICE finding, same
                # failure class).
                touched = {
                    "None" if r[0] is None or r[0] == "" else r[0]
                    for r in df.select(
                        F.col(partition_by).cast("string")
                    ).distinct().collect()
                }
                on = list(dict.fromkeys([*keys, partition_by]))
            old_dirs = self._dirs(table, entry, touched)
            merged = df
            if old_dirs:
                old = self._scan(old_dirs, entry)
                keep = _anti_join_null_safe(old, df.select(*on).distinct(), on)
                # allowMissingColumns: a batch carrying a NEW column (or
                # missing a legacy one) merges cleanly — the Iceberg
                # add-column path
                merged = keep.unionByName(df, allowMissingColumns=True)
            merged = _clustered(merged, partition_by)
            new_parts, rows = self._write(table, snap, merged, partition_by)
        finally:
            if scoped:
                df.unpersist()
        return self._commit(
            table, "merge", meta, entry, snap, touched, new_parts, rows,
            schema.jsonValue(), partition_by,
        )

    def compact(self, table: str, partition_by: str | None = None) -> int:
        """Rewrite the current snapshot into ONE data dir per partition
        (Iceberg's ``rewrite_data_files`` maintenance action): every append
        adds a dir per touched partition, so a long-running stream
        accumulates read fan-out and manifest growth; compaction restores
        O(#partitions) dirs in one partitionBy job.  A normal snapshot
        commit — time travel still reaches the pre-compaction layout until
        ``expire_snapshots`` reclaims it.

        Like ``rewrite_data_files`` with ``min-input-files`` = 2, only
        partitions holding more than one dir are rewritten; the others carry
        over by reference, as in ``append``, and a table with none launches
        no Spark job.  ``rows`` is then the footer count of the carried dirs
        plus the rows written.  The whole table is rewritten instead unless
        ``partition_by`` is the recorded column (so always when it is
        unpartitioned or its manifest is mixed).  Each rewritten partition
        gets one file (``_clustered``)."""
        meta, entry, snap = self._current(table)
        if meta["current"] is None:
            raise FileNotFoundError(f"table {table!r} has no snapshot")
        scoped = _scoped(entry, partition_by)
        touched = {p for p, ds in entry["parts"].items() if len(ds) > 1 or not scoped}
        carried = self._dirs(table, entry, entry["parts"].keys() - touched)
        rows = sum(map(_parquet_rows, carried))
        new_parts = {}
        if touched:
            frame = _clustered(self._scan(self._dirs(table, entry, touched), entry), partition_by)
            new_parts, written = self._write(table, snap, frame, partition_by)
            rows += written
        return self._commit(
            table, "compact", meta, entry, snap, touched, new_parts, rows,
            entry["schema"], partition_by,
        )

    def partition_keys(self, table: str, snapshot_id: int | None = None) -> list[str]:
        """Partition keys of a snapshot's manifest (sorted)."""
        meta = self._load_meta(table)
        return sorted(self._snapshot_entry(meta, snapshot_id)["parts"])

    def expire_partitions(self, table: str, before: str) -> int:
        """Retention policy: drop every partition with key < ``before``
        (string compare — day keys are ISO dates, so lexicographic ==
        chronological).  A pure metadata commit, O(#partitions): no data is
        read or rewritten (the Iceberg ``DELETE WHERE`` fast path on a
        partition predicate); the dropped dirs are reclaimed later by
        ``expire_snapshots`` once no kept snapshot references them.
        """
        meta, entry, snap = self._current(table)
        if meta["current"] is None:
            raise FileNotFoundError(f"table {table!r} has no snapshot")
        expired = {p for p in entry["parts"] if p != UNPARTITIONED and p < before}
        return self._commit(
            table, "expire_partitions", meta, entry, snap, expired, {}, 0,
            entry["schema"], entry["partition_by"],
        )

    def expire_snapshots(self, table: str, keep_last: int = 2) -> list[int]:
        """Retention: drop all but the newest ``keep_last`` snapshots and
        delete every data dir no kept snapshot references (the Iceberg
        ``expire_snapshots`` maintenance action)."""
        meta = self._load_meta(table)
        snaps = meta["snapshots"]
        kept, dropped = snaps[-keep_last:] if keep_last else [], snaps[:-keep_last] if keep_last else snaps
        kept = [s for s in kept] or [self._snapshot_entry(meta, None)]
        live = {
            d for s in kept for ds in s["parts"].values() for d in ds
        }
        dropped_ids = []
        for s in dropped:
            if s["id"] == meta["current"]:
                continue
            for ds in s["parts"].values():
                for d in ds:
                    if d not in live:
                        path = self._data_dir(table, d)
                        if os.path.exists(path):
                            shutil.rmtree(path)
            dropped_ids.append(s["id"])
        meta["snapshots"] = [s for s in snaps if s["id"] not in dropped_ids]
        self._commit_meta(table, meta)
        return dropped_ids
