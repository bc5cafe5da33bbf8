"""Minimal transaction-logged parquet table — Delta-protocol-shaped.

The reference persists its lake tables as Delta with idempotent writes
(``data_processing/batch_processing/batch_process_Bronze_to_Silver.py:317``,
``.mode("ignore")``); delta-spark is not installable in this container
(re-verified every round), so ``sources/readers.py`` falls back to plain
parquet. This module closes the SEMANTIC gap instead of the dependency
gap: an ordered JSON commit log over immutable parquet data files, giving

- **atomic commits** — a commit is one ``O_CREAT|O_EXCL`` file create of
  ``_txlog/<version>.json``; readers either see the whole commit or none
  of it, and two concurrent writers racing for the same version lose
  deterministically (optimistic concurrency, same as Delta's protocol);
- **write modes** — ``append`` / ``overwrite`` / ``ignore`` (the
  reference's mode: first write wins, later writes are no-ops) /
  ``error``;
- **snapshot-isolated reads** — a read resolves the live file set from
  the log, never from directory listing, so concurrent appends can't
  tear a scan;
- **time travel** — ``read(spark, version=N)`` reconstructs any
  historical snapshot.

Scale notes (the reason Delta exists at 100 TB, reproduced here): the
reader lists ONE small log directory and then opens exactly the data
files named by the manifest — no O(files) object-store LIST per query;
data files are immutable, so caches/replicas never invalidate; an
``overwrite`` is a logical pointer swap, leaving old files in place for
readers pinned to older versions (``vacuum`` reclaims groups outside
the retention window, Delta-style). The log grows O(commits), so like
Delta the table CHECKPOINTS it: every ``checkpoint_interval`` commits a
``<version>.checkpoint.json`` snapshot of the folded state (live file
set + per-app txn watermarks) is written and ``_last_checkpoint``
atomically repointed; reads seed from the newest checkpoint at or below
their target version and fold only the commits after it, so a
1000-commit table resolves its snapshot from O(interval) log reads, not
O(commits) (pinned by tests/test_txlog_incremental.py).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class TxTable:
    """A transaction-logged parquet table rooted at ``path``.

    Layout::

        path/
          _txlog/00000000000000000001.json   # {"mode": ..., "add": [files]}
          part-<uuid>/...parquet             # immutable data file groups
    """

    def __init__(self, path: str, checkpoint_interval: int = 20):
        self.path = path
        self.log_dir = os.path.join(path, "_txlog")
        # every N commits, fold the log into a checkpoint file (Delta's
        # `_last_checkpoint` protocol); 0/None disables.
        self.checkpoint_interval = checkpoint_interval

    # -- log plumbing -------------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and not f.endswith(".checkpoint.json")
            and f != "_last_checkpoint"
        )

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _read_commit(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:020d}.json")) as f:
            return json.load(f)

    # -- checkpoints (Delta `_last_checkpoint` protocol) ---------------------

    def _checkpoint_versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.log_dir)
            if f.endswith(".checkpoint.json")
        )

    def _read_checkpoint(self, version: int) -> dict:
        path = os.path.join(self.log_dir, f"{version:020d}.checkpoint.json")
        with open(path) as f:
            return json.load(f)

    def _latest_checkpoint_at_or_below(
        self, as_of: int | None, ceiling: int | None = None
    ) -> int | None:
        """Newest checkpoint usable for a read as of ``as_of``. The
        ``_last_checkpoint`` pointer is the fast path (one read instead
        of a directory list); the list is the fallback for time travel
        below the pointer and for a crash that lost the pointer write."""
        pointer = os.path.join(self.log_dir, "_last_checkpoint")
        if as_of is None and ceiling is None and os.path.exists(pointer):
            try:
                with open(pointer) as f:
                    v = json.load(f)["version"]
                if os.path.exists(
                    os.path.join(self.log_dir, f"{v:020d}.checkpoint.json")
                ):
                    return v
            except (ValueError, KeyError, OSError):
                pass  # torn/missing pointer -> fall back to listing
        usable = [
            v for v in self._checkpoint_versions()
            if (as_of is None or v <= as_of)
            and (ceiling is None or v <= ceiling)
        ]
        return usable[-1] if usable else None

    def _write_checkpoint(self, version: int) -> None:
        """Fold the log through ``version`` into a checkpoint file, then
        atomically repoint ``_last_checkpoint``. Both steps are
        crash-safe: a lost checkpoint file just means the fold stays
        linear until the next interval; a lost pointer is recovered by
        directory listing."""
        # seed only from checkpoints STRICTLY below `version`: when
        # commit_idempotent regenerates checkpoint v after annotating the
        # commit record, seeding from the stale checkpoint v itself would
        # skip the annotated commit and drop its txn watermark.
        state = {
            "version": version,
            "live": self._fold_live(as_of=version, ckpt_ceiling=version - 1),
            "txn": self._fold_txn(as_of=version, ckpt_ceiling=version - 1),
        }
        path = os.path.join(self.log_dir, f"{version:020d}.checkpoint.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, path)
        pointer = os.path.join(self.log_dir, "_last_checkpoint")
        tmp = pointer + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, pointer)

    def _maybe_checkpoint(self, version: int) -> None:
        if self.checkpoint_interval and version > 0 and (
            version % self.checkpoint_interval == 0
        ):
            self._write_checkpoint(version)

    def _fold_txn(
        self, as_of: int, ckpt_ceiling: int | None = None
    ) -> dict[str, int]:
        """Per-app txn watermarks through ``as_of``, seeded from the
        newest checkpoint below it."""
        ckpt_v = self._latest_checkpoint_at_or_below(as_of, ceiling=ckpt_ceiling)
        txn: dict[str, int] = {}
        start = -1
        if ckpt_v is not None:
            ckpt = self._read_checkpoint(ckpt_v)
            txn = dict(ckpt.get("txn", {}))
            start = ckpt_v
        for v in self._versions():
            if v <= start or v > as_of:
                continue
            t = self._read_commit(v).get("txn")
            if t:
                prev = txn.get(t["app_id"])
                txn[t["app_id"]] = (
                    t["version"] if prev is None else max(prev, t["version"])
                )
        return txn

    def _fold_live(
        self,
        as_of: int | None = None,
        use_checkpoint: bool = True,
        ckpt_ceiling: int | None = None,
    ) -> list[str]:
        """Fold the log into the live file set: ``overwrite`` resets,
        ``append`` extends. Seeded from the newest checkpoint at or
        below ``as_of`` so the fold reads O(checkpoint_interval)
        commits, not O(commits)."""
        live: list[str] = []
        start = -1
        if use_checkpoint:
            ckpt_v = self._latest_checkpoint_at_or_below(as_of, ceiling=ckpt_ceiling)
            if ckpt_v is not None:
                live = list(self._read_checkpoint(ckpt_v)["live"])
                start = ckpt_v
        for v in self._versions():
            if v <= start:
                continue
            if as_of is not None and v > as_of:
                break
            commit = self._read_commit(v)
            if commit["mode"] == "overwrite":
                live = list(commit["add"])
            else:
                live.extend(commit["add"])
        return live

    def _live_files(self, as_of: int | None = None) -> list[str]:
        return self._fold_live(as_of=as_of, use_checkpoint=True)

    # -- writes -------------------------------------------------------------

    def commit(self, df: DataFrame, mode: str = "append") -> int | None:
        """Write ``df`` as a new immutable file group, then publish it
        with one atomic log-file create. Returns the committed version,
        or None for a skipped ``ignore`` write.

        ``ignore`` short-circuits BEFORE writing data (the reference's
        idempotent-load semantics: if the table exists, the load already
        happened). The data write lands in an unreferenced directory
        until the log create succeeds, so a crash mid-write leaves
        garbage files but never a torn table."""
        if mode not in ("append", "overwrite", "ignore", "error"):
            raise ValueError(f"unknown mode: {mode}")
        existing = self.latest_version()
        if mode == "ignore" and existing is not None:
            return None
        if mode == "error" and existing is not None:
            raise FileExistsError(f"TxTable at {self.path} already has commits")

        group = f"part-{uuid.uuid4().hex}"
        data_path = os.path.join(self.path, group)
        df.write.mode("error").parquet(data_path)

        os.makedirs(self.log_dir, exist_ok=True)
        version = (existing if existing is not None else -1) + 1
        record = {
            "mode": "overwrite" if mode == "overwrite" else "append",
            "add": [group],
            # schema rides in the log (Delta's metaData action): an EMPTY
            # commit writes zero parquet part files, so a schema-less read
            # of it could not even infer column names
            # (driver_sim --perturb-empty find)
            "schema": df.schema.json(),
        }
        # O_EXCL create = the atomic commit point; a concurrent writer
        # that claimed this version first makes this raise (caller may
        # re-resolve and retry — optimistic concurrency).
        fd = os.open(
            os.path.join(self.log_dir, f"{version:020d}.json"),
            os.O_CREAT | os.O_EXCL | os.O_WRONLY,
        )
        with os.fdopen(fd, "w") as f:
            json.dump(record, f)
        self._maybe_checkpoint(version)
        return version

    # -- reads --------------------------------------------------------------

    def _schema_as_of(self, as_of: int | None = None) -> str | None:
        """Newest logged schema at or below ``as_of`` (Delta's metaData
        resolution). Commit records are tiny and never deleted (vacuum
        reclaims data groups, not log entries), so walking down from the
        snapshot version is O(1) in practice — the newest commit carries
        it. None for pre-schema logs (reads fall back to inference)."""
        for v in reversed(self._versions()):
            if as_of is not None and v > as_of:
                continue
            s = self._read_commit(v).get("schema")
            if s:
                return s
        return None

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read as of ``version`` (default: latest). The file
        set comes from the log — concurrent commits after the fold
        cannot affect this scan. The scan schema comes from the log too,
        so a snapshot whose commits wrote zero part files (a legally
        EMPTY batch) still reads back as an empty, well-typed frame."""
        files = self._live_files(as_of=version)
        if not files:
            raise FileNotFoundError(f"TxTable at {self.path} is empty")
        reader = spark.read
        schema_json = self._schema_as_of(as_of=version)
        if schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*[os.path.join(self.path, g) for g in files])

    def history(self) -> list[dict]:
        """Commit history (newest last): version, mode, file groups."""
        return [
            {"version": v, **self._read_commit(v)} for v in self._versions()
        ]

    def commit_idempotent(
        self, df: DataFrame, app_id: str, txn_version: int, mode: str = "append"
    ) -> int | None:
        """Transactionally idempotent commit — Delta's ``txnAppId`` /
        ``txnVersion`` pattern, the piece that makes ``foreachBatch``
        sinks exactly-once: the commit record carries (app_id,
        txn_version), and a commit whose version is ≤ the highest
        already recorded for that app is SKIPPED (returns None). A
        replayed micro-batch (restart re-delivering epoch N after a
        crash between sink write and checkpoint advance) therefore
        lands exactly once; pass the ``foreachBatch`` ``epoch_id`` as
        ``txn_version``."""
        latest = self.last_txn_version(app_id)
        if latest is not None and txn_version <= latest:
            return None
        v = self.commit(df, mode)
        if v is None:
            return None
        # annotate the just-published commit record with the txn marker;
        # the log file is the commit point and already exists, so this
        # rewrite is metadata-only and single-writer (we hold version v)
        path = os.path.join(self.log_dir, f"{v:020d}.json")
        record = self._read_commit(v)
        record["txn"] = {"app_id": app_id, "version": txn_version}
        with open(path, "w") as f:
            json.dump(record, f)
        # regenerate any checkpoint commit() just wrote at v: it folded
        # the pre-annotation record, so its txn map would miss this marker
        self._maybe_checkpoint(v)
        return v

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed ``txn_version`` for ``app_id`` (None if the
        app never committed)."""
        latest = self.latest_version()
        if latest is None:
            return None
        return self._fold_txn(as_of=latest).get(app_id)

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """Delete data-file groups unreferenced by the live sets of the
        last ``retain_last`` versions (Delta ``VACUUM``). Returns the
        removed group names. Time travel to versions older than the
        retained window stops working — the same contract as Delta's
        retention period; immutable groups still referenced by ANY
        retained version are kept, so concurrent readers of retained
        snapshots are never broken. Also collects orphans (data written
        by a crashed, never-published commit)."""
        import shutil

        referenced: set[str] = set()
        for v in self._versions()[-retain_last:]:
            referenced.update(self._live_files(as_of=v))
        removed = []
        for g in os.listdir(self.path):
            if g.startswith("part-") and g not in referenced:
                shutil.rmtree(os.path.join(self.path, g))
                removed.append(g)
        return sorted(removed)

    def optimize(
        self,
        spark: SparkSession,
        sort_by: list[str] | None = None,
        num_files: int = 1,
    ) -> int:
        """OPTIMIZE: rewrite the current snapshot's (possibly many,
        small) file groups into ``num_files`` compacted files —
        optionally ``sortWithinPartitions`` on ``sort_by`` so min/max
        footer stats prune reads (bin-packing + clustering, the Delta
        OPTIMIZE / ZORDER verb for this table format). Data is
        byte-identical to the pre-OPTIMIZE snapshot (it commits as an
        ``overwrite`` of the same rows); old file groups stay
        addressable for time travel until ``vacuum``."""
        current = self.read(spark)
        compacted = current.repartition(num_files)
        if sort_by:
            compacted = compacted.sortWithinPartitions(*sort_by)
        return self.commit(compacted, mode="overwrite")

    def merge_upsert(
        self,
        source: DataFrame,
        keys: list[str],
        delete_col: str | None = None,
    ) -> int:
        """Delta ``MERGE INTO`` semantics against the latest snapshot:
        a source row UPDATES the target row with its key (whole-row
        replace), INSERTS if the key is absent, and DELETES it when
        ``delete_col`` (a boolean column on the source, dropped from the
        output) is true. Commits the merged state as a new ``overwrite``
        version — old snapshots stay time-travelable, exactly like
        Delta's MERGE producing a new table version.

        Plan shape: one anti join (target keys surviving untouched) +
        one filter + union — no full-outer row matching, because the
        update rule is whole-row replace (the common CDC-apply case).
        At scale both sides shuffle on ``keys`` once; with the target
        bucketed on keys the anti join is exchange-free."""
        from pyspark.sql import functions as F

        spark = source.sparkSession
        target = self.read(spark)
        survivors = target.join(source.select(*keys), keys, "left_anti")
        incoming = source
        if delete_col is not None:
            # Only an explicit TRUE deletes: a NULL flag (e.g. computed
            # from a NULL key) must not silently drop the row — a bare
            # ~NULL filter did exactly that (r10 --perturb-fk-ids find,
            # seed 233). NULL-keyed rows themselves follow MERGE-ON
            # semantics: they match nothing, so the target's NULL row
            # survives and the source's NULL row inserts.
            incoming = incoming.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        merged = survivors.unionByName(incoming)
        return self.commit(merged, "overwrite")

