"""Snapshot-commit transaction log: a minimal lakehouse table format.

The reference's sinks are real storage engines — ClickHouse
ReplacingMergeTree upserts (exporter/clickhousestsexporter/
exporter_resources.go:141-144) and Kafka topics with tombstone deletes
(exporter/stskafkaexporter/exporter.go:257-269) — and the blueprint
targets Iceberg `MERGE INTO` / snapshot commits (SURVEY §2.1). This
container ships no JVM table-format runtime, so this module implements
the essential mechanism itself, following the published Delta/Iceberg
design (Armbrust et al., "Delta Lake: High-Performance ACID Table
Storage over Cloud Object Stores", VLDB 2020): an ordered log of
atomic commit files is the single source of truth; data files are
immutable and only ever *referenced* by the log.

Layout (everything under one table root):

    <root>/_txlog/00000000000000000001.json   ordered commit files
    <root>/<part>=<val>/.../<uuid>-part-*.parquet   immutable data files

Commit file: {"op", "meta", "schema", "add": [relpaths], "remove":
[relpaths]}. The live file set is the log replay: fold add/remove in
version order. The table schema lives in the log too: the replay folds
the commit schemas into their union (fields in first-seen order, a field
added by a later commit appended), which is additive schema evolution —
a column added later reads as NULL for older files. Readers load
exactly the live files with that schema (hive-style partition columns
recovered via basePath), so they NEVER see in-flight writes — snapshot
isolation without locks — and never open a data file just to learn the
schema.

Guarantees (and how):
- **Atomic commit**: the commit file is staged to a temp name and
  claimed with os.link(tmp, final) — POSIX link(2) fails with EEXIST
  if the version is taken, so exactly one writer wins a version;
  losers re-read the log and retry (optimistic concurrency).
- **Write-audit-publish**: `stage()` writes data files into the table
  WITHOUT a commit; the staged frame is readable by the writer (it
  knows the file list) for auditing, and `publish()` makes it visible
  to everyone else. A crash before publish leaves invisible files,
  reclaimed by `vacuum()` — no recovery dance, no aside directories.
- **One layout per table**: every live file sits under the same hive
  partition columns, so a read is one basePath scan. A write whose
  partition columns differ from the live files' raises before it
  stages anything; only an overwrite that replaces every live file may
  change the layout.
- **MERGE**: `merge_upsert()` rewrites only the `_bucket` partitions
  its keys touch and commits {remove old bucket files, add new} in ONE
  commit — the dynamic-partition-overwrite MERGE INTO shape. Readers
  replaying the log pre-commit see the old buckets, post-commit the
  new — never a mix. A merged table holds `_bucket=` files only, and a
  merge conflicts with any commit since its read that changed a file
  in a bucket it rewrites (every bucket, if it read an empty table).
- **Rollback**: `rollback(version)` appends a commit removing exactly
  the files `version` added — a metadata-only undo (the write-audit-
  publish heal for runs that committed data but crashed before the
  lineage manifest recorded them).

At 100 TB the log lists file names, not data — the same driver-side
scale as Delta/Iceberg metadata. Like Delta's _last_checkpoint, every
CHECKPOINT_EVERY-th commit also writes a checkpoint of the replayed
state (live file set + union schema), so snapshot() replays only the commits
after the newest checkpoint — O(1) in table age instead of O(commits),
which is what keeps a long-lived sink (one commit per run, thousands of
runs) readable without a full log scan. Checkpoints are derived data:
losing one only costs a longer replay.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG_DIR = "_txlog"
_VERSION_DIGITS = 20
CHECKPOINT_EVERY = 16


class CommitConflict(RuntimeError):
    """Another writer claimed the commit version first, or committed a
    change to a file this commit removes after this commit read it."""


def _union_schema(table: str | None, commit: str | None) -> str | None:
    """Fold one commit's schema json into the table schema json: the
    fields the table lacks are appended, in the commit's order. Spark's
    own `StructType.json()` form, so an unchanged schema folds by string
    compare."""
    if table is None or commit is None or commit == table:
        return table or commit
    fields = json.loads(table)["fields"]
    names = {f["name"] for f in fields}
    added = [f for f in json.loads(commit)["fields"] if f["name"] not in names]
    if not added:
        return table
    return json.dumps(
        {"fields": fields + added, "type": "struct"},
        separators=(",", ":"), sort_keys=True,
    )


def _hive_columns(rel: str) -> tuple[str, ...]:
    """Hive partition column names along a file's relative path."""
    return tuple(
        seg.split("=", 1)[0] for seg in rel.split(os.sep)[:-1] if "=" in seg
    )


class PendingCommit:
    """Staged-but-unpublished data files (the write-audit half of WAP)."""

    def __init__(self, table: "TxLogTable", op: str, files: list[str],
                 schema_json: str, meta: dict | None):
        self.table = table
        self.op = op
        self.files = files
        self.schema_json = schema_json
        self.meta = meta or {}

    def read(self, spark: SparkSession) -> DataFrame:
        """Audit view: exactly this staged write's rows (plus partition
        columns), visible only to the holder of this object."""
        return self.table._read_files(spark, self.files, self.schema_json)

    def publish(self, remove: list[str] | None = None,
                read_version: int | None = None,
                dirs: list[str] | None = None) -> int:
        """Make the staged files visible atomically; returns the commit
        version. `remove` additionally drops live files (overwrite /
        merge shapes); `read_version` is the snapshot they were read at
        and `dirs` the partition dirs this write rewrites (see
        TxLogTable._commit)."""
        return self.table._commit(
            self.op, add=self.files, remove=remove or [],
            schema_json=self.schema_json, meta=self.meta,
            read_version=read_version, dirs=dirs,
        )


class TxLogTable:
    def __init__(self, root: str):
        self.root = root

    # ---- log plumbing -------------------------------------------------

    def _log_dir(self) -> str:
        return os.path.join(self.root, _LOG_DIR)

    def _commit_path(self, version: int) -> str:
        return os.path.join(self._log_dir(), f"{version:0{_VERSION_DIGITS}d}.json")

    def versions(self) -> list[int]:
        d = self._log_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[:-5]) for f in os.listdir(d)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def _tip(self) -> int:
        """The newest commit version; 0 for a table with no commit."""
        return (self.versions() or [0])[-1]

    def commits(self) -> list[dict]:
        """All commit records in version order (each with a `version` key)."""
        out = []
        for v in self.versions():
            with open(self._commit_path(v)) as f:
                rec = json.load(f)
            rec["version"] = v
            out.append(rec)
        return out

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(
            self._log_dir(), f"{version:0{_VERSION_DIGITS}d}.checkpoint.json"
        )

    def _checkpoint_versions(self) -> list[int]:
        d = self._log_dir()
        if not os.path.isdir(d):
            return []
        suffix = ".checkpoint.json"
        return sorted(
            int(f[: -len(suffix)]) for f in os.listdir(d)
            if f.endswith(suffix) and f[: -len(suffix)].isdigit()
        )

    def _maybe_write_checkpoint(self, version: int) -> None:
        """Every CHECKPOINT_EVERY commits, persist the replayed state so
        later snapshots replay O(1) commits (Delta _last_checkpoint
        shape). Derived data: tmp+rename is plenty — a torn/lost
        checkpoint only costs a longer replay."""
        if version % CHECKPOINT_EVERY != 0:
            return
        live, schema = self._replay(at_version=version)
        tmp = os.path.join(self._log_dir(), f"_ckpt_tmp_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            # "union_schema", not "schema": checkpoints that hold only the
            # latest commit's schema lack the key and fall back to a replay
            json.dump({"live": live, "union_schema": schema}, f)
        os.replace(tmp, self._checkpoint_path(version))

    def _replay(self, at_version: int | None = None) -> tuple[list[str], str | None]:
        """Full log replay from version 1 (no checkpoint shortcut)."""
        live: dict[str, None] = {}
        schema = None
        for rec in self.commits():
            if at_version is not None and rec["version"] > at_version:
                break
            for p in rec.get("remove", []):
                live.pop(p, None)
            for p in rec.get("add", []):
                live[p] = None
            schema = _union_schema(schema, rec.get("schema"))
        return list(live), schema

    def snapshot(self, at_version: int | None = None) -> tuple[list[str], str | None]:
        """(live relpaths in first-added order, union schema json),
        starting from the newest usable checkpoint and replaying only the
        commits after it. `at_version` gives time travel."""
        base = [
            v for v in self._checkpoint_versions()
            if at_version is None or v <= at_version
        ]
        if not base:
            return self._replay(at_version)
        start = base[-1]
        try:
            with open(self._checkpoint_path(start)) as f:
                ckpt = json.load(f)
            live: dict[str, None] = dict.fromkeys(ckpt["live"])
            schema = ckpt["union_schema"]
        except (OSError, ValueError, KeyError):
            return self._replay(at_version)  # torn checkpoint: full replay
        for v in self.versions():
            if v <= start or (at_version is not None and v > at_version):
                continue
            with open(self._commit_path(v)) as f:
                rec = json.load(f)
            for p in rec.get("remove", []):
                live.pop(p, None)
            for p in rec.get("add", []):
                live[p] = None
            schema = _union_schema(schema, rec.get("schema"))
        return list(live), schema

    def _commit(self, op: str, add: list[str], remove: list[str],
                schema_json: str | None, meta: dict,
                read_version: int | None = None, retries: int = 20,
                dirs: list[str] | None = None) -> int:
        """Claim the next version for {add, remove}. A commit that removes
        files passes the `read_version` its remove set was computed at:
        before each claim it is re-validated against every commit since,
        and CommitConflict is raised if one of them removed or added a
        file of the remove set, or any file under one of the partition
        `dirs` (relpath prefixes) the commit rewrites — rebasing onto that
        tip would publish a rewrite of rows that are no longer live, or
        miss rows that are (a lost update)."""
        rec = {
            "op": op,
            "ts": time.time(),
            "add": add,
            "remove": remove,
            "schema": schema_json,
            "meta": meta,
        }
        os.makedirs(self._log_dir(), exist_ok=True)
        tmp = os.path.join(self._log_dir(), f"_tmp_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            for _ in range(retries):
                version = self._tip() + 1
                if read_version is not None:
                    self._validate(read_version, version, remove, dirs or [])
                try:
                    os.link(tmp, self._commit_path(version))  # atomic claim
                    self._maybe_write_checkpoint(version)
                    return version
                except FileExistsError:
                    continue  # lost the race — rebase on the new tip
            raise CommitConflict(
                f"could not claim a commit version after {retries} attempts"
            )
        finally:
            os.unlink(tmp)

    def _validate(self, read_version: int, version: int, remove: list[str],
                  dirs: list[str]) -> None:
        """Raise CommitConflict if a commit in (read_version, version)
        removed or added a file of `remove` or a file under `dirs`."""
        doomed = set(remove)
        prefixes = tuple(dirs)
        if not (doomed or prefixes) or version <= read_version + 1:
            return
        for v in self.versions():
            if not read_version < v < version:
                continue
            with open(self._commit_path(v)) as f:
                rec = json.load(f)
            hit = [
                p for p in rec.get("remove", []) + rec.get("add", [])
                if p in doomed or p.startswith(prefixes)
            ]
            if hit:
                raise CommitConflict(
                    f"commit {v} ({rec.get('op')}) changed {len(hit)} file(s) "
                    f"this commit rewrites, read at version {read_version}"
                )

    # ---- write paths --------------------------------------------------

    def stage(self, df: DataFrame, partition_by: list[str] | None = None,
              op: str = "append", meta: dict | None = None,
              compression: str | None = None,
              partition_dir: str | None = None) -> PendingCommit:
        """Write data files into the table WITHOUT publishing them.

        Spark writes to a scratch dir; files are then renamed, once, into
        `partition_dir` (a hive partition path such as 'version=7';
        default the table root) under their `partition_by` dirs, with a
        unique prefix (immutable, collision-free). Rename is metadata-only
        on the same filesystem — no data copy.

        Raises ValueError, before anything is written, if the table's
        live files use other hive partition columns; an `overwrite`
        replaces every live file and may change the layout."""
        layout = _hive_columns(os.path.join(partition_dir or "", "_")) + tuple(
            partition_by or ()
        )
        if op != "overwrite":
            live = self.snapshot()[0]
            if live and _hive_columns(live[0]) != layout:
                raise ValueError(
                    f"{self.root}: a write partitioned by {list(layout)} into a "
                    f"table laid out by {list(_hive_columns(live[0]))}"
                )
        scratch = os.path.join(self.root, f"_stage_{uuid.uuid4().hex[:12]}")
        w = df.write.mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(scratch)

        prefix = uuid.uuid4().hex[:12]
        files: list[str] = []
        for dirpath, _dirs, names in os.walk(scratch):
            rel_dir = os.path.join(partition_dir or "", os.path.relpath(dirpath, scratch))
            for name in names:
                if not name.endswith(".parquet"):
                    continue  # _SUCCESS / .crc markers stay behind
                rel = os.path.normpath(os.path.join(rel_dir, f"{prefix}-{name}"))
                dest = os.path.join(self.root, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(os.path.join(dirpath, name), dest)
                files.append(rel)
        import shutil as _shutil

        _shutil.rmtree(scratch, ignore_errors=True)
        return PendingCommit(self, op, sorted(files), df.schema.json(), meta)

    def append(self, df: DataFrame, partition_by: list[str] | None = None,
               meta: dict | None = None, compression: str | None = None) -> int:
        return self.stage(
            df, partition_by, op="append", meta=meta, compression=compression
        ).publish()

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None,
                  meta: dict | None = None) -> int:
        base = self._tip()
        live, _ = self.snapshot(base)
        return self.stage(df, partition_by, op="overwrite", meta=meta).publish(
            remove=live, read_version=base
        )

    def overwrite_partition(self, df: DataFrame, partition_dir: str,
                            meta: dict | None = None) -> int:
        """Replace exactly the live files under one hive partition dir
        (e.g. 'version=7') — idempotent re-apply of a versioned write."""
        pref = partition_dir.rstrip("/") + os.sep
        base = self._tip()
        live, _ = self.snapshot(base)
        doomed = [p for p in live if p.startswith(pref)]
        staged = self.stage(df, op="overwrite_partition", meta=meta,
                            partition_dir=partition_dir)
        return staged.publish(remove=doomed, read_version=base)

    def rollback(self, version: int, meta: dict | None = None) -> int:
        """Append a commit that EXACTLY inverts `version`: its added
        files are removed and its removed files are restored — a
        metadata-only undo (the write-audit-publish heal). Complete for
        appends (nothing to restore) AND for merges/overwrites, provided
        (a) the inverted commit's removed files have not been vacuumed
        (the vacuum retention contract) and (b) no LATER commit has
        touched the same files — i.e. roll back only the table tip, the
        only shape the run-heal ever needs."""
        base = self._tip()
        target = next((r for r in self.commits() if r["version"] == version), None)
        if target is None:
            raise ValueError(f"no commit {version}")
        restore = [
            p for p in target.get("remove", [])
            if os.path.exists(os.path.join(self.root, p))
        ]
        if restore != target.get("remove", []):
            raise RuntimeError(
                f"rollback({version}): some files it removed were vacuumed — "
                "the commit is no longer invertible"
            )
        return self._commit(
            "rollback", add=restore, remove=target.get("add", []),
            schema_json=None, meta={**(meta or {}), "rolled_back": version},
            read_version=base,
        )

    # ---- read paths ---------------------------------------------------

    def _read_files(self, spark: SparkSession, files: list[str],
                    schema_json: str | None) -> DataFrame:
        if not files:
            if schema_json is None:
                raise FileNotFoundError(f"empty txlog table {self.root}")
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
        # One scan: every file shares the table's hive layout (see stage),
        # and basePath recovers its partition columns from dir names. The
        # log schema is the union of every commit's, so a column added by
        # a later append reads as null for older files, with no footer
        # inference job; a log with no schema infers one (mergeSchema).
        reader = spark.read.option("basePath", self.root)
        if schema_json is None:
            reader = reader.option("mergeSchema", "true")
        else:
            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*[os.path.join(self.root, p) for p in files])

    def read(self, spark: SparkSession, at_version: int | None = None) -> DataFrame:
        files, schema = self.snapshot(at_version)
        return self._read_files(spark, files, schema)

    def exists(self) -> bool:
        files, schema = self.snapshot()
        return bool(files) or schema is not None

    # ---- merge + maintenance -----------------------------------------

    def _merge_generic(self, df: DataFrame, keys: list[str], combine,
                       n_buckets: int, op: str, meta: dict | None) -> int:
        """Shared MERGE machinery: bucket the incoming rows, read ONLY
        the live files of touched `_bucket` partitions (partition-pruned
        scan), resolve each key's output row with `combine(merged,
        value_cols) -> latest`, and publish {remove touched files, add
        rewritten} as ONE atomic commit, which conflicts with any commit
        since the read that changed a touched bucket. Untouched buckets'
        files are never rewritten (byte-identical). A table with live
        files outside `_bucket=` dirs raises ValueError (see stage).
        Returns the post-merge table row count — observed on the rewrite
        plus parquet FOOTER counts of untouched files (no extra scan
        job)."""
        spark = df.sparkSession
        bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
            "int"
        )
        new = df.withColumn("_bucket", bucket).withColumn("_gen", F.lit(1))

        base = self._tip()
        live, schema = self.snapshot(base)
        if live:
            # bounded driver-side collect: <= n_buckets values
            touched = sorted(
                r["_bucket"] for r in new.select("_bucket").distinct().collect()
            )
            dirs = [f"_bucket={b}{os.sep}" for b in touched]
        else:
            dirs = ["_bucket="]  # an empty read: every bucket is touched
        doomed = [p for p in live if p.startswith(tuple(dirs))]
        merged = (
            self._read_files(spark, doomed, schema)
            .withColumn("_gen", F.lit(0))
            .unionByName(new)
            if doomed
            else new
        )

        value_cols = [c for c in merged.columns if c not in ("_gen",)]
        latest = combine(merged, value_cols)
        from pyspark.sql import Observation

        obs = Observation(f"merge_{uuid.uuid4().hex[:8]}")
        staged = self.stage(
            latest.observe(obs, F.count(F.lit(1)).alias("n")),
            partition_by=["_bucket"],
            op=op,
            meta=meta,
        )
        staged.publish(remove=doomed, read_version=base, dirs=dirs)
        rewritten = int(obs.get["n"] or 0)
        gone = set(doomed)
        untouched = [p for p in live if p not in gone]
        if not untouched:
            return rewritten
        return rewritten + sum(
            self._parquet_rows(os.path.join(self.root, p)) for p in untouched
        )

    def merge_upsert(self, df: DataFrame, keys: list[str],
                     order_col: str | None = None, n_buckets: int = 16,
                     meta: dict | None = None) -> int:
        """Last-writer-wins MERGE INTO keyed `keys` (the ClickHouse
        ReplacingMergeTree / Iceberg MERGE analog, K4): the winner per
        key is a max_by(struct) HASH AGGREGATE over (generation,
        order_col) — no row_number window, no per-key sort shuffle.
        Returns the post-merge table row count (no extra scan job)."""

        def combine(merged: DataFrame, value_cols: list[str]) -> DataFrame:
            order = [F.col("_gen")] + ([F.col(order_col)] if order_col else [])
            winner = merged.groupBy(*keys).agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in value_cols]), F.struct(*order)
                ).alias("_w")
            )
            return winner.select(*[F.col(f"_w.{c}").alias(c) for c in value_cols])

        return self._merge_generic(df, keys, combine, n_buckets, "merge", meta)

    def merge_aggregate(self, df: DataFrame, keys: list[str],
                        sum_cols: list[str], n_buckets: int = 16,
                        meta: dict | None = None) -> int:
        """ADDITIVE merge keyed `keys`: incoming partial aggregates SUM
        into the existing rows (new keys insert) — the incremental-rollup
        MERGE the flagship's (host, window) telemetry needs at 100 TB:
        each run merges only ITS partials instead of recomputing the
        rollup from the whole log table. Every non-key column must be a
        sum column (the rollup shape); one partial-mergeable hash
        aggregate per touched bucket. NOT idempotent per batch by
        construction — callers tag the commit (meta run_id) and the
        run-heal rolls it back if the run never reached the manifest."""
        extra = [c for c in df.columns if c not in keys and c not in sum_cols]
        if extra:
            raise ValueError(
                f"merge_aggregate: non-key non-sum columns {extra} — every "
                "carried column must be additive"
            )

        def combine(merged: DataFrame, value_cols: list[str]) -> DataFrame:
            aggs = [F.sum(c).alias(c) for c in sum_cols]
            # _bucket is constant per key group (it hashes the keys)
            aggs.append(F.first("_bucket").alias("_bucket"))
            return merged.groupBy(*keys).agg(*aggs)

        return self._merge_generic(
            df, keys, combine, n_buckets, "merge_aggregate", meta
        )

    @staticmethod
    def _parquet_rows(path: str) -> int:
        """Footer-only row count (no data scan) via pyarrow metadata."""
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows

    def compact(self, spark: SparkSession, target_file_bytes: int = 128 << 20,
                min_files: int = 2) -> int:
        """OPTIMIZE / rewrite_data_files: bin-pack small live files per
        hive partition directory into ~target_file_bytes files — the
        maintenance op that keeps a streaming-append sink (one commit per
        micro-batch => many tiny files) scannable. Per partition with
        >= min_files live files: read exactly those files, coalesce
        (no shuffle — file-scan partitions combine in place) toward the
        target size, stage rewrites, and publish ONE atomic commit
        {add rewritten, remove originals} covering every compacted
        partition. Rows are byte-equal; untouched partitions' files are
        never rewritten; pre-compaction snapshots stay time-travelable;
        vacuum reclaims the originals. Returns the number of files
        removed."""
        import math

        base = self._tip()
        live, schema = self.snapshot(base)
        fields = StructType.fromJson(json.loads(schema)).fields if live else []
        by_dir: dict[str, list[str]] = {}
        for rel in live:
            by_dir.setdefault(os.path.dirname(rel), []).append(rel)

        all_add: list[str] = []
        all_remove: list[str] = []
        for part_dir, rels in sorted(by_dir.items()):
            if len(rels) < min_files:
                continue
            paths = [os.path.join(self.root, r) for r in rels]
            total = sum(os.path.getsize(p) for p in paths)
            n_out = max(1, math.ceil(total / target_file_bytes))
            if n_out >= len(rels):
                continue  # already at or below the target layout
            # the log's data schema, not one file's footer: a column that
            # only later files carry must survive the rewrite
            hive = set(_hive_columns(rels[0]))
            data_schema = StructType([f for f in fields if f.name not in hive])
            df = spark.read.schema(data_schema).parquet(*paths).coalesce(n_out)
            staged = self.stage(df, op="compact", partition_dir=part_dir)
            all_add.extend(staged.files)
            all_remove.extend(rels)
        if not all_remove:
            return 0
        self._commit(
            "compact", add=all_add, remove=all_remove, schema_json=None,
            meta={"compacted_partitions": len({os.path.dirname(r) for r in all_remove})},
            read_version=base,
        )
        return len(all_remove)

    def vacuum(self, retain_seconds: float = 0.0) -> list[str]:
        """Delete data files invisible to the CURRENT snapshot and older
        than `retain_seconds` (crashed stages, superseded merge/overwrite
        files, rolled-back commits). Never touches the log itself.

        Safety: retain_seconds must exceed (a) the longest plausible
        stage-to-publish window of any live writer (a staged-but-not-yet-
        published file is invisible and would be eaten by vacuum(0)) and
        (b) the oldest snapshot version any reader still holds (time
        travel past a vacuumed file fails). retain_seconds=0 is only for
        single-writer quiesced maintenance — the same contract as
        Delta's VACUUM RETAIN 0 HOURS warning."""
        live = set(self.snapshot()[0])
        now = time.time()
        removed = []
        for dirpath, _dirs, names in os.walk(self.root):
            if _LOG_DIR in dirpath.split(os.sep):
                continue
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.root)
                if rel in live:
                    continue
                if now - os.path.getmtime(full) >= retain_seconds:
                    os.unlink(full)
                    removed.append(rel)
        # prune now-empty partition dirs (cosmetic)
        for dirpath, dirs, names in os.walk(self.root, topdown=False):
            if dirpath != self.root and not dirs and not names:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        return removed
