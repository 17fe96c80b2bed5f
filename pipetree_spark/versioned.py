"""Versioned tables: snapshot log + time travel over parquet artifacts.

The content-addressed cache (cache.py) answers "is this exact stage
output already materialized?"; this module answers the orthogonal
production question: "what did the table look like at version N, and
can I get back there?" — the reproducibility contract a training-data
pipeline needs (pin the corpus version a run trained on; roll back a
bad ingest in O(1)) without a lakehouse dependency.

Design — a minimal manifest log, Delta-style in spirit, parquet-pure in
implementation:

- data lives in immutable snapshot dirs ``<root>/<name>/snap-<uuid>/``
  (parquet; written once, never mutated or rewritten),
- each commit writes ``_versions/<n>.json`` listing the snapshot dirs
  that ARE the table at version n (append = previous list + one new
  dir; overwrite = one new dir; rollback = the old version's list,
  re-committed — no data copied),
- a read at version n is ``spark.read.parquet(*dirs)`` — Spark scans
  the union of the listed dirs in parallel; nothing is merged
  driver-side,
- the commit point is the atomic PROMOTION of a fully-written temp
  manifest to the version file; a concurrent commit to the same
  version loses the promotion race and raises ``CommitConflict``
  (optimistic concurrency, retry-at-caller — the same contract
  Delta's log gives).

Scale notes: manifests are O(commits) JSON files of directory paths —
metadata, never data; append and rollback never rewrite rows, so a
100 TB table appends in the cost of the new rows only; ``vacuum``
deletes snapshot dirs unreachable from the retained version horizon
(the only operation that destroys data, and it refuses to touch
anything a retained version still references).

Manifest I/O routes through the Hadoop FileSystem API (the cache.py
pattern), so ``file:``-scheme and ``s3a://`` roots run the same code
as bare local paths. Commit atomicity is scheme-aware:

- roots RESOLVING to the local filesystem (``file:`` scheme, or a
  bare path when ``fs.defaultFS`` is local): the temp manifest is
  promoted with ``os.link`` — create-EXCLUSIVE at the kernel level, so
  of two racing writers exactly one wins and the loser ALWAYS gets
  ``CommitConflict`` (a bare ``os.rename`` would silently replace the
  winner's manifest — the lost-commit bug this replaces);
- remote schemes: exists-check + Hadoop ``rename`` (atomic and
  dst-failing on HDFS). True object stores (s3a) lack atomic
  rename-if-absent; there, as for Delta-on-S3 without a coordinating
  LogStore, the contract is single-writer-per-table.

Reference note: the reference (pipetree/pipetree — /root/reference is
empty, SURVEY §0) versions artifacts implicitly via content hashes;
an explicit linear history with time travel is north-star surface
[SURVEY §2.0 tag E].
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from pipetree_spark.jvm import hadoop_fs


class CommitConflict(RuntimeError):
    """Another writer committed this version first — reread and retry."""


def _local_path(fs, jpath) -> str | None:
    """The OS path when the RESOLVED filesystem is the local one, else
    None. Resolution goes through Hadoop (``fs`` is what the path's
    scheme — or ``fs.defaultFS`` for bare paths — actually binds to),
    so a bare path on a cluster whose defaultFS is HDFS correctly takes
    the Hadoop branch instead of silently committing manifests to the
    driver's local disk; ``file://host/path`` URIs also resolve through
    ``toUri().getPath()`` instead of string surgery."""
    if fs.getUri().getScheme() != "file":
        return None
    return jpath.toUri().getPath()


class VersionedTable:
    def __init__(self, root: str, name: str, spark: SparkSession | None = None):
        self.dir = root.rstrip("/") + "/" + name
        self.log_dir = self.dir + "/_versions"
        self._spark = spark

    # -- Hadoop FS plumbing (file:// and s3a:// roots, same code) --------
    def _fs(self, path: str):
        spark = self._spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "VersionedTable manifest I/O needs a SparkSession "
                "(pass spark= or create one first)"
            )
        return hadoop_fs(spark, path)

    def _read_text(self, path: str) -> str:
        fs, jpath = self._fs(path)
        stream = fs.open(jpath)
        try:
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    def _write_text(self, path: str, text: str) -> None:
        fs, jpath = self._fs(path)
        out = fs.create(jpath, False)  # create-exclusive: no clobber
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    # -- log plumbing ----------------------------------------------------
    def _version_file(self, n: int) -> str:
        return f"{self.log_dir}/{n:06d}.json"

    def versions(self) -> list[int]:
        fs, jlog = self._fs(self.log_dir)
        if not fs.exists(jlog):
            return []
        out = []
        for status in fs.listStatus(jlog):
            name = status.getPath().getName()
            if name.endswith(".json") and ".tmp-" not in name:
                out.append(int(name.split(".")[0]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, n: int) -> dict:
        return json.loads(self._read_text(self._version_file(n)))

    def _commit(self, dirs: list[str], action: str) -> int:
        """Atomically commit a new version whose content is ``dirs``.
        The temp manifest is written in full, then PROMOTED to the
        version file in one atomic step; losing the promotion race to a
        concurrent writer raises CommitConflict (see module docstring
        for the per-scheme atomicity contract)."""
        fs, jlog = self._fs(self.log_dir)
        fs.mkdirs(jlog)
        latest = self.latest_version()
        n = 0 if latest is None else latest + 1
        target = self._version_file(n)
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        payload = json.dumps({"version": n, "action": action, "dirs": dirs})
        _, jtarget_probe = self._fs(target)
        local = _local_path(fs, jtarget_probe)
        if local is not None:
            # kernel-level create-exclusive: link fails iff target exists
            _, jtmp_probe = self._fs(tmp)
            local_tmp = _local_path(fs, jtmp_probe)
            with open(local_tmp, "w") as fh:
                fh.write(payload)
            try:
                os.link(local_tmp, local)
            except FileExistsError:
                raise CommitConflict(f"version {n} already committed") from None
            finally:
                os.unlink(local_tmp)
            return n
        self._write_text(tmp, payload)
        _, jtarget = self._fs(target)
        _, jtmp = self._fs(tmp)
        if fs.exists(jtarget) or not fs.rename(jtmp, jtarget):
            fs.delete(jtmp, False)
            raise CommitConflict(f"version {n} already committed")
        return n

    # -- public API ------------------------------------------------------
    def write(self, df: DataFrame, mode: str = "append") -> int:
        """Materialize ``df`` as a new immutable snapshot dir and commit
        version latest+1: ``append`` keeps prior dirs, ``overwrite``
        replaces the dir list. Returns the committed version."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        snap = f"{self.dir}/snap-{uuid.uuid4().hex[:12]}"
        df.write.parquet(snap)
        latest = self.latest_version()
        prior = self._manifest(latest)["dirs"] if (latest is not None and mode == "append") else []
        return self._commit(prior + [snap], mode)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Time-travel read: the table as of ``version`` (default
        latest). The union of snapshot dirs is scanned by Spark in one
        parallel read — no driver-side merging."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no version {version!r} in {self.log_dir}")
        fs, jfile = self._fs(self._version_file(v))
        if not fs.exists(jfile):
            raise FileNotFoundError(f"no version {version!r} in {self.log_dir}")
        dirs = self._manifest(v)["dirs"]
        if not dirs:
            raise FileNotFoundError(f"version {v} is empty")
        return spark.read.parquet(*dirs)

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int,
        keys: list[str],
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two versions: ``(keys..., status)``
        with status added / removed / changed — time-travel reads of
        both versions piped through ops.relational.snapshot_diff, with
        the row content hash built from ``compare_cols`` (default: all
        non-key columns, stringified; pick exact-typed columns
        explicitly when doubles are present, as their stringification
        is engine- but not version-stable here so the default is fine
        WITHIN one engine). Unchanged keys never materialize — the
        feed is delta-sized, which is the point at 100 TB: consumers
        sync from version N to M by reading the feed, not the table.
        """
        from pyspark.sql import functions as F

        from pipetree_spark.ops.relational import snapshot_diff

        old_df = self.read(spark, from_version)
        new_df = self.read(spark, to_version)
        cols = compare_cols or [c for c in old_df.columns if c not in keys]
        # Validate against BOTH snapshots: a column dropped between
        # from_version and to_version passes the old-side check but then
        # dies inside withColumn on new_df with an opaque
        # AnalysisException — name the offending version instead.
        for ver, df in ((from_version, old_df), (to_version, new_df)):
            missing = [c for c in keys + cols if c not in df.columns]
            if missing:
                raise ValueError(f"columns absent from version {ver}: {missing}")
        rh = F.md5(
            F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x01")) for c in cols]
            )
        )
        return snapshot_diff(
            old_df.withColumn("__rh", rh), new_df.withColumn("__rh", rh), keys, "__rh"
        )

    def rollback(self, version: int) -> int:
        """Commit a NEW version whose content is ``version``'s dir list —
        O(1) revert, history preserved (a rollback is itself an
        auditable commit, not an erasure)."""
        dirs = self._manifest(version)["dirs"]
        return self._commit(dirs, f"rollback:{version}")

    def history(self) -> list[dict]:
        return [self._manifest(n) for n in self.versions()]

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """Delete snapshot dirs unreachable from the last ``retain_last``
        versions. Time travel to vacuumed versions stops working — this
        is the one destructive operation, and it never touches a dir a
        retained version references. Returns the deleted dirs."""
        vs = self.versions()
        keep = {
            d.rstrip("/").rsplit("/", 1)[-1]
            for n in vs[-retain_last:]
            for d in self._manifest(n)["dirs"]
        }
        fs, jdir = self._fs(self.dir)
        deleted = []
        for status in fs.listStatus(jdir):
            entry = status.getPath().getName()
            if entry.startswith("snap-") and entry not in keep:
                fs.delete(status.getPath(), True)
                deleted.append(f"{self.dir}/{entry}")
        return deleted
