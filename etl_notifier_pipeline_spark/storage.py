"""Versioned parquet table store with atomic overwrite (SURVEY §7 M2 risk 1).

Plain parquet has no ACID: an in-place overwrite that fails mid-write
corrupts the table. The reference leans on Postgres transactions
(``process-pipeline.py:36-64``); without Delta, the engine gets
atomicity from the classic versioned-directory + pointer-file swap:

    <root>/<table>/v=<n>/part-*.parquet
    <root>/<table>/_CURRENT        # contains "v=<n>"

- writers write the full new version directory, then atomically
  replace ``_CURRENT`` (os.replace is atomic on POSIX) — readers
  resolving through the pointer never observe a partial write;
- single-writer-per-table discipline is assumed (documented divergence
  from the reference's race-prone MAX+1 versioning, SURVEY §4 O7);
  on a real deployment this maps to one Delta/Iceberg commit, which
  this class is the minimal stand-in for.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a version after this write began.

    The reference gets this for free from Postgres transactions
    (``process-pipeline.py:124-127`` commit/rollback); the pointer-swap
    store defends with a commit-time compare-and-swap: every write
    captures the version it was based on, and the commit fails (leaving
    the pointer — and therefore every reader — on the committed
    version) if any other writer advanced it in between. The loser's
    staged files are removed; retrying re-reads the new current version
    (optimistic concurrency, the same contract as a Delta/Iceberg
    commit conflict).
    """


class _CommitLock:
    """Per-table commit mutex via ``flock`` on a persistent lock file —
    makes the check-pointer-then-swap sequence atomic against other
    local writers (the class's contract is same-host; a multi-host
    deployment maps commits onto Delta/Iceberg, whose log IS the lock).

    Why flock and not the earlier O_CREAT|O_EXCL + stale-mtime-break
    protocol: a kernel advisory lock is released automatically when
    the holder dies, so there is no staleness heuristic at all — and
    the heuristic was the bug. Breaking a lock by ``unlink`` after a
    stat is a TOCTOU race twice over: two waiters can both judge the
    same lock stale and both "succeed" (the second unlink removes the
    FIRST breaker's freshly-created lock, letting a third writer in
    alongside it), and a breaker can unlink a live lock created
    between its stat and its unlink. The lock file is deliberately
    NEVER unlinked: every process always flocks the same inode, which
    is what makes the protocol race-free. ``stale_s`` survives as the
    acquisition-timeout scale so callers' expectations about bounded
    waiting hold."""

    def __init__(self, path: str, stale_s: float = 30.0) -> None:
        self.path = path
        self.stale_s = stale_s
        self._fd: int | None = None

    def __enter__(self) -> "_CommitLock":
        import fcntl

        deadline = time.monotonic() + self.stale_s + 5.0
        self._fd = os.open(self.path, os.O_CREAT | os.O_WRONLY)
        while True:
            try:
                fcntl.flock(self._fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return self
            except OSError:
                if time.monotonic() > deadline:
                    os.close(self._fd)
                    self._fd = None
                    raise TimeoutError(
                        f"commit lock held too long: {self.path}"
                    )
                time.sleep(0.05)

    def __exit__(self, *exc) -> None:
        import fcntl

        if self._fd is not None:
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None


class TableStore:
    def __init__(
        self, spark: SparkSession, root: str, retain_versions: int = 2
    ) -> None:
        # retain_versions = the time-travel horizon (same contract as
        # BucketedTableStore): every retained version stays readable
        # via read(table, version=n) and diffable via change feeds.
        self.spark = spark
        self.root = root
        self.retain_versions = max(1, retain_versions)
        os.makedirs(root, exist_ok=True)

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._dir(table), "_CURRENT")

    def exists(self, table: str) -> bool:
        return os.path.exists(self._pointer(table))

    def current_version(self, table: str) -> int | None:
        if not self.exists(table):
            return None
        with open(self._pointer(table)) as f:
            return int(f.read().strip().removeprefix("v="))

    def path(self, table: str) -> str:
        v = self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"no such table: {table}")
        return os.path.join(self._dir(table), f"v={v}")

    def _manifest(self, table: str, v: int) -> list[str]:
        """Version dirs whose files version ``v`` references (``#``
        lines are flags, not dirs). A version with no manifest file
        (pre-manifest layout) is self-contained."""
        p = os.path.join(self._dir(table), f"v={v}", "_manifest.txt")
        if os.path.exists(p):
            with open(p) as f:
                return [x for x in f.read().split() if not x.startswith("#")]
        return [f"v={v}"]

    def _manifest_flags(self, table: str, v: int) -> set[str]:
        p = os.path.join(self._dir(table), f"v={v}", "_manifest.txt")
        if os.path.exists(p):
            with open(p) as f:
                return {x for x in f.read().split() if x.startswith("#")}
        return set()

    def read(self, table: str, version: int | None = None) -> DataFrame:
        """Read the current version, or — time travel — any version
        still on disk (the vacuum keeps the last 2 plus whatever their
        manifests reference; on Delta/Iceberg this maps to VERSION AS
        OF). Version numbers come from the overwrite/append return
        value or ``current_version``."""
        v = self.current_version(table) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no such table: {table}")
        if not os.path.isdir(os.path.join(self._dir(table), f"v={v}")):
            raise FileNotFoundError(
                f"{table} has no version {v} on disk (vacuumed or never written)"
            )
        dirs = [os.path.join(self._dir(table), d) for d in self._manifest(table, v)]
        reader = self.spark.read
        if "#mergeSchema" in self._manifest_flags(table, v):
            # Only schema-evolved versions pay the footer-merge scan;
            # un-evolved tables keep the single-footer fast path.
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*dirs)

    def _stage(self, table: str, df: DataFrame) -> str:
        """Write ``df`` into a private staging dir. Staged files are
        invisible to readers (the pointer and every manifest name only
        ``v=`` dirs) and are promoted — or discarded — at commit."""
        os.makedirs(self._dir(table), exist_ok=True)
        staging = tempfile.mkdtemp(dir=self._dir(table), prefix=".staging-")
        df.write.mode("overwrite").parquet(staging)
        return staging

    def _commit(self, table: str, v: int, manifest: list[str], staging: str) -> None:
        """Promote ``staging`` to ``v=<v>`` and swap the pointer —
        under the per-table commit lock, with a version CAS: if any
        other writer advanced the pointer past ``v-1`` since this write
        began, the staged files are discarded and the commit fails
        without touching the pointer (readers keep the committed
        version; the caller retries against the new current). A crash
        at ANY point before the final pointer swap leaves the pointer —
        and therefore every reader — on the old consistent version;
        replaying the write succeeds (an orphan ``v=<v>`` dir from the
        crashed attempt is swept here, under the lock, where it is
        provably unreferenced)."""
        with _CommitLock(os.path.join(self._dir(table), "_COMMIT_LOCK")):
            if (self.current_version(table) or 0) != v - 1:
                shutil.rmtree(staging, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"{table!r}: version advanced to "
                    f"{self.current_version(table)} while writing v={v} "
                    f"(expected {v - 1}); staged write discarded"
                )
            target = os.path.join(self._dir(table), f"v={v}")
            if os.path.isdir(target):
                # orphan from a writer that crashed after staging but
                # before the pointer swap — never referenced, safe to drop
                shutil.rmtree(target)
            os.replace(staging, target)
            mpath = os.path.join(target, "_manifest.txt")
            with open(mpath, "w") as f:
                f.write("\n".join(manifest))
            _harvest_zone_maps(target)
            self._write_stats_agg(table, v, manifest, target)
            tmp = self._pointer(table) + ".tmp"
            with open(tmp, "w") as f:
                f.write(f"v={v}")
            os.replace(tmp, self._pointer(table))
            self._vacuum(table, keep=self.retain_versions)

    def overwrite(self, table: str, df: DataFrame) -> int:
        """Write a complete new version, then atomically swap the
        pointer. Readers either see the old version or the new one."""
        v = (self.current_version(table) or 0) + 1
        staging = self._stage(table, df)
        self._commit(table, v, [f"v={v}"], staging)
        return v

    def append(self, table: str, df: DataFrame, merge_schema: bool = False) -> int:
        """File-level append: write ONLY the new rows' files into the
        next version dir; the new manifest references the prior
        version's files plus the new dir. Appending N rows to an M-row
        table writes O(N) bytes, not O(M+N) — at 100 TB ledger scale
        append-as-rewrite was the control plane's biggest cost (r01).
        The pointer swap keeps the same all-or-nothing property; on
        Delta/Iceberg this maps to a plain transactional append.

        ``merge_schema=True`` is Delta's ``mergeSchema`` append: the
        incoming batch may ADD columns (older rows read back NULL
        there) or omit existing ones (new rows read back NULL); the
        version carries a manifest flag so only evolved tables pay the
        parquet footer-merge read. Without it, column drift fails fast
        (multi-dir parquet reads would otherwise resolve columns
        permissively and yield silent NULLs)."""
        cur = self.current_version(table)
        if cur is None:
            return self.overwrite(table, df)
        existing = set(self.read(table).columns)
        evolved = set(df.columns) != existing
        if evolved and not merge_schema:
            raise ValueError(
                f"append to {table!r}: columns {sorted(set(df.columns))} "
                f"do not match table columns {sorted(existing)} "
                "(pass merge_schema=True to evolve)"
            )
        v = cur + 1
        staging = self._stage(table, df)
        manifest = [*self._manifest(table, cur), f"v={v}"]
        if evolved or "#mergeSchema" in self._manifest_flags(table, cur):
            manifest = ["#mergeSchema", *manifest]
        self._commit(table, v, manifest, staging)
        return v

    def versions(self, table: str) -> list[int]:
        """Versions still fully readable (their own dir plus every
        manifest-referenced dir survive on disk), ascending — the
        time-travel/change-feed horizon. Clamped to the committed
        ``_CURRENT`` pointer: a writer that crashed after staging but
        before the pointer swap leaves an orphan v-dir above the
        pointer, which was never committed (``_commit``'s sweep will
        delete it) and must not surface as a readable version —
        otherwise ``change_feed``'s default ``to_version`` would diff
        a phantom commit."""
        d = self._dir(table)
        if not os.path.isdir(d):
            return []
        cur = self.current_version(table)
        if cur is None:
            return []
        on_disk = {n for n in os.listdir(d) if n.startswith("v=")}
        out = []
        for name in sorted(on_disk, key=lambda s: int(s.removeprefix("v="))):
            v = int(name.removeprefix("v="))
            if v <= cur and set(self._manifest(table, v)) <= on_disk:
                out.append(v)
        return out

    def restore(self, table: str, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF`` / Iceberg
        rollback as a METADATA-ONLY commit: the new version's manifest
        is ``version``'s manifest verbatim (flags included), so zero
        data bytes move — version dirs are immutable after commit, and
        the restore simply re-references them. The rollback is itself
        a commit: the mis-written versions it undoes stay
        time-travelable (and ``change_feed``-diffable, surfacing the
        restore's deletes/updates) until retention vacuums them, which
        is exactly Delta's RESTORE contract. O(1) whatever the table
        size."""
        if version not in self.versions(table):
            raise FileNotFoundError(
                f"{table!r} version {version} not restorable "
                f"(retained: {self.versions(table)})"
            )
        manifest = [
            *sorted(self._manifest_flags(table, version)),
            *self._manifest(table, version),
        ]
        os.makedirs(self._dir(table), exist_ok=True)
        staging = tempfile.mkdtemp(dir=self._dir(table), prefix=".staging-")
        new_v = (self.current_version(table) or 0) + 1
        self._commit(table, new_v, manifest, staging)
        return new_v

    def appended_dirs(self, table: str, v: int) -> list[str] | None:
        """If commit ``v`` was a PURE APPEND of version ``v-1`` (its
        manifest is the prior manifest plus new dirs, same schema
        flags), return the new dirs' absolute paths — the commit's
        change rows are exactly those dirs' rows as inserts, readable
        in O(new bytes). Returns None for overwrites/evolved commits
        (``change_feed`` falls back to snapshot_diff). Mirrors how
        Delta CDF serves insert-only commits from the added data files
        without writing change files.

        Conservatively returns None whenever either version carries
        ``#mergeSchema``: under schema evolution the added dirs alone
        need not contain every column of the merged v snapshot (an
        evolved append may OMIT a pre-existing column), so reading
        only the new dirs would fail or mis-shape the insert rows —
        only the mergeSchema-aware full read (snapshot_diff path) is
        guaranteed correct (r7 advice #1)."""
        if v <= 0:
            return None
        try:
            prev = [d for d in self._manifest(table, v - 1) if not d.startswith("#")]
            cur = [d for d in self._manifest(table, v) if not d.startswith("#")]
            prev_flags = self._manifest_flags(table, v - 1)
            cur_flags = self._manifest_flags(table, v)
        except FileNotFoundError:
            return None
        if "#mergeSchema" in prev_flags or "#mergeSchema" in cur_flags:
            return None
        if prev_flags != cur_flags or not set(prev) <= set(cur):
            return None
        new = [d for d in cur if d not in set(prev)]
        if not new:
            return None
        return [os.path.join(self._dir(table), d) for d in new]

    def _write_stats_agg(
        self, table: str, v: int, manifest: list[str], target: str
    ) -> None:
        """Fold every referenced dir's per-file stats (plus the full
        file listing) into ONE manifest-level object,
        ``v=<v>/_stats_agg.json`` — committed with the version, so
        planning a data-skipping scan costs a single object read
        instead of O(dirs) sidecar opens + O(dirs) listings. This is
        the Delta/Iceberg manifest design: on object storage, listing
        cost grows with file count but a reader of the aggregated
        object pays one GET however many files the version holds
        (r6 verdict ask #5). Files without stats are listed with null
        so the plan never needs a directory listing to be complete."""
        agg: dict[str, dict | None] = {}
        for d in manifest:
            if d.startswith("#"):
                continue  # manifest flag lines (#mergeSchema), not dirs
            dpath = target if d == f"v={v}" else os.path.join(self._dir(table), d)
            spath = os.path.join(dpath, _STATS_NAME)
            stats: dict = {}
            if os.path.exists(spath):
                with open(spath) as f:
                    stats = json.load(f)
            for name in sorted(os.listdir(dpath)):
                if name.endswith(".parquet"):
                    agg[f"{d}/{name}"] = stats.get(name)
        with open(os.path.join(target, _STATS_AGG_NAME), "w") as f:
            json.dump(agg, f)

    def _version_files(self, table: str, v: int) -> list[tuple[str, dict | None]]:
        """Every parquet file version ``v`` references, paired with its
        zone-map stats (None when the file's version dir predates stats
        or footer harvesting was unavailable — such files are always
        scanned, never pruned). Fast path: the manifest-level
        ``_stats_agg.json`` answers both the file list and the stats in
        ONE read; versions predating it fall back to per-dir sidecars
        (O(dirs) reads + listings), with identical results (pinned in
        tests)."""
        apath = os.path.join(self._dir(table), f"v={v}", _STATS_AGG_NAME)
        if os.path.exists(apath):
            with open(apath) as f:
                agg = json.load(f)
            base = self._dir(table)
            return [
                (os.path.join(base, rel), st)
                for rel, st in sorted(agg.items())
            ]
        out: list[tuple[str, dict | None]] = []
        for d in self._manifest(table, v):
            dpath = os.path.join(self._dir(table), d)
            spath = os.path.join(dpath, _STATS_NAME)
            stats: dict = {}
            if os.path.exists(spath):
                with open(spath) as f:
                    stats = json.load(f)
            for name in sorted(os.listdir(dpath)):
                if name.endswith(".parquet"):
                    out.append((os.path.join(dpath, name), stats.get(name)))
        return out

    def pruned_files(
        self,
        table: str,
        predicates: list[tuple],
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """File list after zone-map pruning, plus the unpruned total —
        the observable data-skipping ratio (`(kept, total)`); the
        engine's analog of Delta's `numFilesSkipped` metric."""
        v = self.current_version(table) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no such table: {table}")
        files = self._version_files(table, v)
        kept = [p for p, st in files if _file_may_match(st, predicates)]
        return kept, len(files)

    def read_where(
        self,
        table: str,
        predicates: list[tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping scan: rows satisfying the conjunction of
        ``predicates`` (``(col, op, value)`` with op in
        ``< <= > >= =`` or ``("col", "between", (lo, hi))``), opening
        ONLY the files whose zone maps admit a match. The same
        min/max-vs-predicate test Delta/Iceberg run against their
        transaction-log stats, applied to the store's per-file footer
        harvest — on a 100 TB table clustered by the predicate column
        (see ``optimize_layout``) a narrow range touches a handful of
        files instead of every byte. Pruning is conservative: files
        without stats (pre-stats versions, exotic types) are scanned,
        and the predicate is still applied to every surviving row, so
        the result is identical to ``read().where(...)`` by
        construction. All listed ops reject NULLs (SQL comparison
        semantics), which is what makes min/max pruning sound — a file
        of only NULLs in the predicate column can never contribute.
        Float/double columns may hold NaN (which Spark orders above
        every value but parquet footers exclude from min/max), so they
        prune only in the NaN-sound directions — see
        ``_file_may_match``."""
        kept, _total = self.pruned_files(table, predicates, version)
        cond = _predicates_to_column(predicates)
        if not kept:
            empty = self.read(table, version=version).where(F.lit(False))
            return empty
        v = self.current_version(table) if version is None else version
        reader = self.spark.read
        if "#mergeSchema" in self._manifest_flags(table, v):
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*kept)
        # Schema-evolved tables: files predating an added column carry
        # no stats for it (kept conservatively), but if every file that
        # CONTAINS the column was pruned away, the kept files' merged
        # schema lacks the predicate column and where() would fail to
        # resolve where read().where() returns rows with NULLs filtered
        # out. Fall back to the full snapshot read in that case — same
        # answer, pruning just didn't apply.
        if any(c not in df.columns for c, _op, _v in predicates):
            df = self.read(table, version=version)
        return df.where(cond) if cond is not None else df

    def stats_aggregate(
        self, table: str, cols: list[str], version: int | None = None
    ) -> DataFrame:
        """Metadata-only aggregate: ``n_rows`` plus ``min_<c>`` /
        ``max_<c>`` for each requested column, answered purely from
        the stats sidecar — zero files opened, zero Spark jobs (the
        Delta/Iceberg SELECT COUNT(*)/MIN/MAX log-only fast path). The
        fold is exact because footer row counts are exact and footer
        min/max ignore NULLs exactly like SQL MIN/MAX. Transparently
        falls back to a real scan when any referenced file predates
        stats or lacks min/max for a requested column (all-NULL row
        groups, exotic types), and for float/double columns (footer
        max excludes NaN; SQL MAX returns NaN when present) — the
        answer is identical either way, only the cost differs."""
        v = self.current_version(table) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no such table: {table}")
        files = self._version_files(table, v)
        n_rows = 0
        lo: dict[str, object] = {}
        hi: dict[str, object] = {}
        complete = bool(files)
        for _p, st in files:
            meta = (st or {}).get("#meta")
            if not st or not meta:
                complete = False
                break
            n_rows += int(meta["rows"])
            for c in cols:
                cs = st.get(c)
                # float/double: footer max excludes NaN but SQL MAX
                # returns NaN when one is present — the sidecar cannot
                # answer exactly, so fall back to a real scan
                if not cs or cs.get("float"):
                    complete = False
                    break
                fmn, fmx = _stat_dec(cs["min"]), _stat_dec(cs["max"])
                lo[c] = fmn if c not in lo or fmn < lo[c] else lo[c]
                hi[c] = fmx if c not in hi or fmx > hi[c] else hi[c]
            if not complete:
                break
        base = self.read(table, version=version)
        exprs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            exprs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
        if not complete:
            return base.agg(*exprs)  # fallback: one real scan
        schema = base.select(
            F.lit(0).cast("long").alias("n_rows"),
            *[
                e
                for c in cols
                for e in (
                    F.col(c).alias(f"min_{c}"),
                    F.col(c).alias(f"max_{c}"),
                )
            ],
        ).schema
        row = [n_rows]
        for c in cols:
            row += [lo[c], hi[c]]
        return self.spark.createDataFrame([tuple(row)], schema)

    def optimize_layout(
        self,
        table: str,
        cluster_by: str | list[str],
        n_files: int = 8,
        zorder: bool = False,
    ) -> int:
        """OPTIMIZE-style clustering rewrite: range-repartition the
        current version on ``cluster_by`` and sort within partitions,
        so each output file owns a (near-)disjoint slice of the
        clustering key's domain — the layout that turns zone maps from
        bookkeeping into skipping. Multi-column lists cluster
        lexicographically by default (selective on the LEADING column
        only); ``zorder=True`` clusters on a bit-interleaved Z-order
        key instead (Delta's OPTIMIZE ZORDER BY), which keeps every
        listed column's per-file range narrow simultaneously — a box
        predicate on ANY subset of the columns then prunes files. The
        key is built JVM-side (min/max scale to 16-bit lattice cells +
        static shift/or interleave tree, whole-stage codegen) and
        dropped before the write; only the layout changes. Returns the
        new version; readers see old-or-new atomically like any
        overwrite."""
        cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        df = self.read(table)
        if zorder and len(cols) > 1:
            z = _zorder_column(df, cols)
            clustered = (
                df.withColumn("__z", z)
                .repartitionByRange(n_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            clustered = df.repartitionByRange(
                n_files, *[F.col(c) for c in cols]
            ).sortWithinPartitions(*cols)
        return self.overwrite(table, clustered)

    def _vacuum(self, table: str, keep: int) -> None:
        """Delete version dirs neither recent nor referenced by any of
        the last ``keep`` versions' manifests (readers resolving an
        older pointer get a grace window, as before)."""
        v = self.current_version(table)
        referenced: set[str] = set()
        for recent in range(max(1, v - keep + 1), v + 1):
            if os.path.isdir(os.path.join(self._dir(table), f"v={recent}")):
                referenced.update(self._manifest(table, recent))
        for name in os.listdir(self._dir(table)):
            if name.startswith("v=") and name not in referenced:
                n = int(name.removeprefix("v="))
                if n <= v - keep:
                    shutil.rmtree(os.path.join(self._dir(table), name), ignore_errors=True)
            elif name.startswith(".staging-"):
                _sweep_stale_staging(os.path.join(self._dir(table), name))


_STATS_NAME = "_stats.json"
_STATS_AGG_NAME = "_stats_agg.json"


def _stat_enc(v):
    """JSON-encode a footer min/max with a type tag so decode restores
    the comparable Python value. Unknown types (binary, nested) return
    None — the column simply gets no zone map."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        # normalize tz-aware stats (parquet isAdjustedToUTC=true) to
        # UTC-naive so they compare with naive predicate values — the
        # engine's session timezone is pinned to UTC, so naive == UTC
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return {"__type": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__type": "date", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"__type": "dec", "v": str(v)}
    return None


def _stat_dec(v):
    if isinstance(v, dict):
        t = v.get("__type")
        if t == "ts":
            ts = datetime.datetime.fromisoformat(v["v"])
            if ts.tzinfo is not None:  # sidecar written pre-normalization
                ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return ts
        if t == "date":
            return datetime.date.fromisoformat(v["v"])
        if t == "dec":
            return decimal.Decimal(v["v"])
    return v


def _harvest_zone_maps(target: str) -> None:
    """Per-file column min/max harvested from the parquet footers the
    write just produced — Delta-style data-skipping stats at zero extra
    scan cost (the writer already computed row-group statistics; this
    only reads footers, never data pages). Written as ``_stats.json``
    inside the version dir BEFORE the pointer swap, so any committed
    version either has complete stats or (import/IO failure) none —
    readers treat a missing file as "scan everything", keeping stats a
    pure optimization. On a real deployment this map lives in the
    Delta/Iceberg log; the per-version sidecar is the same contract
    without the log."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return
    stats: dict[str, dict] = {}
    for name in sorted(os.listdir(target)):
        if not name.endswith(".parquet"):
            continue
        try:
            md = pq.ParquetFile(os.path.join(target, name)).metadata
        except Exception:
            continue
        # "#meta" is a reserved sidecar entry ("#" keeps it clear of
        # parquet column names): exact per-file row count, the currency
        # of metadata-only COUNT(*) (see TableStore.stats_aggregate)
        cols: dict[str, dict] = {"#meta": {"rows": md.num_rows}}
        for j in range(md.num_columns):
            col = md.schema.column(j)
            if "." in col.path:
                continue  # nested leaf: no single top-level range
            mins, maxs, nulls = [], [], 0
            for i in range(md.num_row_groups):
                # .min/.max can raise for physical types pyarrow can't
                # decode stats for (e.g. wide FIXED_LEN_BYTE_ARRAY
                # decimals) — stats are a pure optimization, so treat
                # that column as "no stats" rather than failing commit
                try:
                    st = md.row_group(i).column(j).statistics
                    if st is None or not st.has_min_max:
                        mins = []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                    nulls += st.null_count or 0
                except Exception:
                    mins = []
                    break
            if mins:
                lo, hi = _stat_enc(min(mins)), _stat_enc(max(maxs))
                if isinstance(lo, float) and (lo != lo or hi != hi):
                    continue  # writer folded NaN into the stats: unusable
                if lo is not None and hi is not None:
                    entry = {"min": lo, "max": hi, "nulls": nulls}
                    # Parquet float/double footer min/max EXCLUDE NaN,
                    # but Spark SQL orders NaN above every value — so a
                    # file whose non-NaN max fails ('x','>',v) may still
                    # hold NaN rows that satisfy it. The footer cannot
                    # say whether NaN is present, so flag the column and
                    # let _file_may_match/stats_aggregate restrict
                    # themselves to the NaN-sound directions (the same
                    # reason Delta restricts skipping on NaN columns).
                    if col.physical_type in ("FLOAT", "DOUBLE"):
                        entry["float"] = True
                    cols[col.path] = entry
        stats[name] = cols
    with open(os.path.join(target, _STATS_NAME), "w") as f:
        json.dump(stats, f)


def _zorder_column(df: DataFrame, cols: list[str], bits: int | None = None):
    """Bit-interleaved Z-order key over ``cols`` as one codegen-able
    Column: each column is min/max-scaled onto a ``bits``-wide integer
    lattice (one tiny driver-side agg for the 2k boundary scalars —
    Delta samples range boundaries for the same purpose), then the
    lattice coordinates are interleaved bit-by-bit with a static
    shift/or tree, so Hilbert-adjacent rows land near each other in
    ONE sort dimension. ``bits`` defaults to the most that fit a
    signed 64-bit key (16 for ≤3 columns). Nulls and non-numeric
    casts quantize to cell 0 (clustered together, never lost)."""
    k = len(cols)
    if bits is None:
        bits = min(16, 62 // k)
    mx_cell = (1 << bits) - 1
    row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx{i}") for i, c in enumerate(cols)],
    ).head()
    cells = []
    for i, c in enumerate(cols):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        if mn is None or mx is None or mx == mn:
            cells.append(F.lit(0).cast("long"))
            continue
        scaled = (F.col(c).cast("double") - F.lit(float(mn))) * F.lit(
            mx_cell / (mx - mn)
        )
        cell = F.least(
            F.lit(mx_cell).cast("long"),
            F.greatest(F.lit(0).cast("long"), scaled.cast("long")),
        )
        cells.append(F.coalesce(cell, F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, cell in enumerate(cells):
            bit = F.shiftright(cell, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return z


def _file_may_match(stats: dict | None, predicates: list[tuple]) -> bool:
    """Can any row of a file with these zone maps satisfy the
    conjunction? Conservative in every uncertain direction: no stats,
    no map for the column, or incomparable types all answer yes."""
    if not stats:
        return True
    for col, op, val in predicates:
        cs = stats.get(col)
        if not cs:
            continue
        lo, hi = _stat_dec(cs["min"]), _stat_dec(cs["max"])
        if cs.get("float"):
            # NaN-capable column: footer min/max exclude NaN while
            # Spark orders NaN above everything. Rows satisfying '<',
            # '<=', '=' (non-NaN literal) or 'between (a, non-NaN b)'
            # are necessarily non-NaN (NaN <= b and NaN = v are both
            # false), so those ops prune exactly as usual; '>' / '>='
            # could be satisfied by an unrecorded NaN row — never
            # prune on them. NaN literals defeat pruning entirely
            # (x < NaN matches every non-NaN row; x = NaN matches
            # NaN rows the stats can't see).
            def _is_nan(x):
                return isinstance(x, float) and x != x

            vals = list(val) if op == "between" else [val]
            if any(_is_nan(x) for x in vals) or op in (">", ">="):
                continue
        try:
            if op == "<=" and not lo <= val:
                return False
            if op == "<" and not lo < val:
                return False
            if op == ">=" and not hi >= val:
                return False
            if op == ">" and not hi > val:
                return False
            if op == "=" and not (lo <= val <= hi):
                return False
            if op == "between" and not (hi >= val[0] and lo <= val[1]):
                return False
        except TypeError:
            continue
    return True


def _predicates_to_column(predicates: list[tuple]):
    cond = None
    for col, op, val in predicates:
        c = F.col(col)
        if op == "between":
            e = c.between(F.lit(val[0]), F.lit(val[1]))
        elif op == "<=":
            e = c <= F.lit(val)
        elif op == "<":
            e = c < F.lit(val)
        elif op == ">=":
            e = c >= F.lit(val)
        elif op == ">":
            e = c > F.lit(val)
        elif op == "=":
            e = c == F.lit(val)
        else:
            raise ValueError(f"unsupported predicate op: {op!r}")
        cond = e if cond is None else (cond & e)
    return cond


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable — the
    schema Spark reports for parquet it reads back."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _sweep_stale_staging(path: str, stale_s: float = 300.0) -> None:
    """Drop staging dirs abandoned by crashed writers. Staged files are
    never referenced by a pointer or manifest, so this is always safe;
    the age guard just avoids racing a live writer's in-flight stage."""
    try:
        if time.time() - os.path.getmtime(path) > stale_s:
            shutil.rmtree(path, ignore_errors=True)
    except OSError:
        pass


class BucketedTableStore:
    """Key-hash-bucketed TableStore: incremental keyed mutations.

    The plain ``TableStore`` rewrites the whole table per mutation —
    semantically fine, O(table) I/O per approved event at 100 TB. The
    reference's Postgres applies upserts incrementally
    (``process-pipeline.py:193-196``); Delta/Iceberg would close the
    gap with MERGE. Without either in the container, this backend gets
    the same I/O bound from deterministic hash bucketing:

        <root>/<table>/v=<n>/schema/            # 0-row schema anchor
        <root>/<table>/v=<n>/data/__bucket=<k>/part-*.parquet
        <root>/<table>/v=<n>/_manifest.json
        <root>/<table>/_CURRENT                 # "v=<n>"

    with the manifest

        {"schema": "v=<n>/schema",
         "data_schema": <StructType JSON>,       # the read schema
         "bucket_keys": ["k", ...],              # hashed columns, in order
         "n_buckets": 64,
         "buckets": {"<k>": ["v=<m>/data/__bucket=<k>", ...]},
         "deltas": {"<k>": [...]}}               # merge-on-read only

    Reads pass ``data_schema`` to the parquet reader, so building a
    read launches no footer-inference job. ``bucket_keys`` and
    ``n_buckets`` record how the data was bucketed: writes that keep
    some buckets (append, keyed mutations, compaction) hash new rows
    the same way, and keyed reads and mutations refuse to prune when
    the declared keys differ from the recorded ones.

    Every row lives in bucket ``xxhash64(key cols) % n_buckets``. A
    keyed mutation hashes the incoming keys, reads ONLY the affected
    buckets' files (path-level pruning — the other buckets' bytes are
    never opened), applies the same insert/upsert/delete plans the
    full-rewrite path uses, and writes ONLY those buckets into the new
    version dir; the manifest carries unaffected buckets' entries
    forward. Upserting N rows into an M-row table reads+writes
    O(M · min(N, B)/B) bytes, not O(M). The ``_CURRENT`` pointer swap
    keeps the same all-or-nothing atomicity as ``TableStore``; on
    Delta/Iceberg this maps to MERGE with partition pruning.

    ``keys`` declares each table's bucketing columns (the pipeline's
    primary-key registry); tables without declared keys bucket by all
    columns (append/read work; keyed mutations require declared keys).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: dict[str, list[str]] | None = None,
        n_buckets: int = 64,
        retain_versions: int = 2,
        capture_cdc: bool = False,
        auto_compact_deltas: int | None = None,
    ) -> None:
        self.spark = spark
        self.root = root
        self.keys = dict(keys or {})
        self.n_buckets = n_buckets
        # Delta-stack policy (Delta's optimized-write/auto-compaction
        # analog): after a merge_on_read commit, if any bucket has
        # accumulated more than this many delta dirs, compact() runs
        # automatically — bounding read amplification without the
        # caller scheduling maintenance. None = manual compaction.
        self.auto_compact_deltas = auto_compact_deltas
        # Version of the most recent POLICY-triggered compaction (set
        # by apply_keyed_mutation when auto_compact_deltas fires, None
        # otherwise) — the mutation's own version is always the return
        # value, so CDC/feed consumers never mistake a layout rewrite
        # for the data commit they asked about.
        self.last_auto_compact_version: int | None = None
        # How many trailing versions survive vacuum: the time-travel
        # horizon. Every retained version is readable via
        # ``read(table, version=n)`` (snapshot isolation: a version dir
        # is immutable once the pointer moves past it).
        self.retain_versions = max(1, retain_versions)
        # capture_cdc=True is Delta's enableChangeDataFeed: every
        # keyed mutation ALSO writes its change rows (snapshot_diff
        # schema) into the version dir at commit time, so
        # change_feed() reads O(changes) per commit instead of
        # re-deriving the diff from two O(table) snapshot scans. The
        # capture itself costs O(affected buckets) at write time —
        # bounded by work the mutation already does.
        self.capture_cdc = capture_cdc
        os.makedirs(root, exist_ok=True)

    # -- layout helpers ------------------------------------------------------

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._dir(table), "_CURRENT")

    def exists(self, table: str) -> bool:
        return os.path.exists(self._pointer(table))

    def current_version(self, table: str) -> int | None:
        if not self.exists(table):
            return None
        with open(self._pointer(table)) as f:
            return int(f.read().strip().removeprefix("v="))

    def _manifest(self, table: str, v: int) -> dict:
        """{"schema": reldir, "buckets": {"<k>": [reldir, ...]}}."""
        import json

        with open(os.path.join(self._dir(table), f"v={v}", "_manifest.json")) as f:
            return json.load(f)

    @staticmethod
    def _bucket_col(bucketing: tuple[list[str], int]):
        cols, n = bucketing
        return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")

    def _bucketing(
        self, table: str, m: dict | None, df: DataFrame
    ) -> tuple[list[str], int]:
        """``(columns, n_buckets)`` to hash ``df``'s rows by: what the
        manifest ``m`` records for the data already written, else the
        declared keys (all columns when none are declared) and this
        store's bucket count."""
        if m is not None and "bucket_keys" in m:
            return list(m["bucket_keys"]), int(m["n_buckets"])
        return list(self.keys.get(table) or df.columns), self.n_buckets

    def _keyed_bucketing(self, table: str, m: dict) -> tuple[list[str], int]:
        """The manifest's bucketing, checked against the declared keys.
        Pruning by keys the data was not bucketed by would open the
        wrong buckets: a keyed read would miss rows, and a keyed
        mutation would duplicate or drop them."""
        declared = list(self.keys.get(table) or [])
        recorded = m.get("bucket_keys")
        if recorded is None or list(recorded) != declared:
            raise ValueError(
                f"{table!r}: declared bucket keys {declared} differ from the "
                f"keys its data was bucketed by ({recorded}; None = not "
                f"recorded). Overwrite the table to re-bucket it."
            )
        return declared, int(m["n_buckets"])

    def _write_version(
        self, table: str, df: DataFrame, carry: dict[str, list[str]] | None,
        affected: set[int] | None, cdc_df: DataFrame | None = None,
        delta_df: DataFrame | None = None,
        carry_deltas: dict[str, list[str]] | None = None,
        manifest_extra: dict | None = None,
        cdc_from_staged=None,
        base_version: int | None = None,
        bucketing: tuple[list[str], int] | None = None,
    ) -> int:
        """Write ``df``'s rows bucket-partitioned into the next version
        dir and commit a manifest that is ``carry`` (prior entries for
        unaffected buckets) plus the freshly written buckets. ``affected
        = None`` means a full rewrite (no carried entries). ``cdc_df``
        (change rows for THIS commit) is staged alongside the data, so
        the CDC sidecar commits atomically with the version it
        describes — a version either has its complete change set or
        none (readers fall back to snapshot_diff).
        ``cdc_from_staged`` is the non-double-evaluation alternative:
        a callback invoked AFTER ``df`` is staged, with a reader over
        the staged parquet — the sidecar it returns diffs exactly the
        bytes being committed, so data and feed cannot disagree even
        when the mutation plan has order_by ties (r7 advice #4)
        without pinning an O(affected-buckets) checkpoint in memory.
        ``manifest_extra``
        merges extra marker keys into the manifest (e.g. compact()'s
        ``"compaction": true``, which lets change_feed skip the commit
        as a zero-change layout rewrite).

        Merge-on-read extensions: ``delta_df`` (rows with the
        ``__mor_deleted``/``__mor_seq`` helper columns) is staged
        bucket-partitioned under ``delta/`` and its dirs appended to
        the manifest's per-bucket delta lists; ``carry_deltas`` are the
        prior version's delta entries, carried forward for buckets NOT
        rewritten this commit (a base-rewriting commit reads the merged
        view, so the affected buckets' deltas are folded in and their
        entries dropped).

        ``base_version`` is the version ``df`` and ``carry`` were read
        from; the commit's CAS fails unless it is still current. Left
        None, the base is whatever is current when staging starts.
        ``bucketing`` (columns, n) must be the carried entries'
        bucketing; a full rewrite defaults to the declared keys."""
        if base_version is None:
            base_version = self.current_version(table) or 0
        v = base_version + 1
        vrel = f"v={v}"
        if bucketing is None:
            bucketing = self._bucketing(table, None, df)
        staging = self._bstage(
            table, df.withColumn("__bucket", self._bucket_col(bucketing))
        )
        if cdc_from_staged is not None:
            try:
                staged = self.spark.read.parquet(
                    os.path.join(staging, "data")
                )
                staged = staged.select(
                    *[c for c in staged.columns if c != "__bucket"]
                )
            except Exception:
                # zero staged rows -> no partition dirs to infer from;
                # the schema anchor gives the empty typed frame
                staged = self.spark.read.parquet(
                    os.path.join(staging, "schema")
                )
            cdc_df = cdc_from_staged(staged)
        if cdc_df is not None:
            cdc_df.write.mode("overwrite").parquet(
                os.path.join(staging, "cdc")
            )
        if delta_df is not None:
            (
                delta_df.withColumn("__bucket", self._bucket_col(bucketing))
                .write.partitionBy("__bucket")
                .mode("overwrite")
                .parquet(os.path.join(staging, "delta"))
            )
        buckets: dict[str, list[str]] = {}
        for k, dirs in (carry or {}).items():
            if affected is None or int(k) not in affected:
                buckets[k] = dirs
        data_dir = os.path.join(staging, "data")
        if os.path.isdir(data_dir):
            for name in os.listdir(data_dir):
                if name.startswith("__bucket="):
                    k = name.removeprefix("__bucket=")
                    buckets[k] = [f"{vrel}/data/{name}"]
        deltas: dict[str, list[str]] = {}
        for k, dirs in (carry_deltas or {}).items():
            if affected is None or int(k) not in affected:
                deltas[k] = list(dirs)
        ddir = os.path.join(staging, "delta")
        if os.path.isdir(ddir):
            for name in os.listdir(ddir):
                if name.startswith("__bucket="):
                    k = name.removeprefix("__bucket=")
                    deltas.setdefault(k, []).append(f"{vrel}/delta/{name}")
        manifest = self._new_manifest(vrel, df, bucketing, buckets)
        if deltas:
            manifest["deltas"] = deltas
        if manifest_extra:
            manifest.update(manifest_extra)
        self._bcommit(table, v, manifest, staging)
        return v

    @staticmethod
    def _new_manifest(
        vrel: str, df: DataFrame, bucketing: tuple[list[str], int],
        buckets: dict[str, list[str]],
    ) -> dict:
        """Manifest of a commit that staged ``df`` (its schema is the
        one the anchor holds) hashed by ``bucketing``. Parquet reads
        every column back nullable, so the recorded schema is too."""
        return {
            "schema": f"{vrel}/schema",
            "data_schema": _as_nullable(df.schema).jsonValue(),
            "bucket_keys": list(bucketing[0]),
            "n_buckets": bucketing[1],
            "buckets": buckets,
        }

    def _bstage(self, table: str, df: DataFrame) -> str:
        """Write schema anchor + bucket-partitioned data into a private
        staging dir (promoted or discarded at commit, as TableStore).
        Rows go to the bucket in ``df``'s ``__bucket`` column if it has
        one, else to the bucket of the declared keys."""
        if "__bucket" not in df.columns:
            df = df.withColumn(
                "__bucket", self._bucket_col(self._bucketing(table, None, df))
            )
        os.makedirs(self._dir(table), exist_ok=True)
        staging = tempfile.mkdtemp(dir=self._dir(table), prefix=".staging-")
        df.drop("__bucket").limit(0).write.mode("overwrite").parquet(
            os.path.join(staging, "schema")
        )
        (
            df.write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(os.path.join(staging, "data"))
        )
        return staging

    def _bcommit(self, table: str, v: int, manifest: dict, staging: str) -> None:
        """Same commit protocol as ``TableStore._commit``: per-table
        lock, version CAS (fail — discarding the stage — if another
        writer advanced the pointer since this write began), orphan
        sweep, rename, atomic pointer swap. A crash at any point before
        the final swap leaves readers on the old consistent version and
        a replay of the write succeeds."""
        import json

        with _CommitLock(os.path.join(self._dir(table), "_COMMIT_LOCK")):
            if (self.current_version(table) or 0) != v - 1:
                shutil.rmtree(staging, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"{table!r}: version advanced to "
                    f"{self.current_version(table)} while writing v={v} "
                    f"(expected {v - 1}); staged write discarded"
                )
            vdir = os.path.join(self._dir(table), f"v={v}")
            if os.path.isdir(vdir):
                shutil.rmtree(vdir)
            os.replace(staging, vdir)
            with open(os.path.join(vdir, "_manifest.json"), "w") as f:
                json.dump(manifest, f)
            tmp = self._pointer(table) + ".tmp"
            with open(tmp, "w") as f:
                f.write(f"v={v}")
            os.replace(tmp, self._pointer(table))
            self._vacuum(table, keep=self.retain_versions)

    # -- TableStore surface --------------------------------------------------

    def _resolve(self, table: str, version: int | None) -> dict:
        """Manifest of ``version`` (None = current), which must be
        retained."""
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"no such table: {table}")
        if version is not None and version not in self.versions(table):
            raise FileNotFoundError(
                f"{table!r} version {version} not retained "
                f"(retained: {self.versions(table)})"
            )
        return self._manifest(table, v)

    def _scan(
        self, table: str, m: dict, bucket_ids: set[int] | None
    ) -> DataFrame:
        """Rows of manifest ``m``, restricted to ``bucket_ids`` (None =
        every bucket). Building the frame runs no Spark job when the
        manifest records the schema."""
        paths = [os.path.join(self._dir(table), m["schema"])]
        for k, dirs in m["buckets"].items():
            if bucket_ids is None or int(k) in bucket_ids:
                paths.extend(os.path.join(self._dir(table), d) for d in dirs)
        reader = self.spark.read
        if "data_schema" in m:
            reader = reader.schema(T.StructType.fromJson(m["data_schema"]))
        base = reader.parquet(*paths)
        delta_paths = [
            os.path.join(self._dir(table), d)
            for k, dirs in m.get("deltas", {}).items()
            if bucket_ids is None or int(k) in bucket_ids
            for d in dirs
        ]
        if not delta_paths:
            return base
        if not self.keys.get(table):
            raise ValueError(
                f"{table!r}: manifest carries merge-on-read deltas but no "
                f"bucket keys are declared — reconciliation (and append's "
                f"delta-shadow check) need the key columns. Re-declare "
                f"keys for the table (r9 advice #3)."
            )
        return self._reconcile_deltas(
            base, self.spark.read.parquet(*delta_paths), self.keys[table]
        )

    def _reconcile_deltas(
        self, base: DataFrame, delta: DataFrame, keys: list[str]
    ) -> DataFrame:
        """Merge-on-read reconciliation (Delta deletion-vectors /
        Iceberg equality-deletes semantics): a delta row SHADOWS every
        base row with the same key; among delta rows for one key the
        highest ``__mor_seq`` (= commit version) wins; a winning
        tombstone (``__mor_deleted``) removes the key. One window over
        the delta (O(deltas), never the table) plus one anti-join whose
        build side is the delta key set — AQE broadcasts it while the
        accumulated deltas stay small, which is exactly the regime
        merge-on-read is for (compaction folds them in before they
        aren't)."""
        from pyspark.sql import Window as W

        w = W.partitionBy(*keys).orderBy(F.col("__mor_seq").desc())
        live = (
            delta.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (~F.col("__mor_deleted")))
            .select(*base.columns)
        )
        shadowed = delta.select(*keys).dropDuplicates(list(keys))
        return base.join(shadowed, list(keys), "left_anti").unionByName(live)

    def versions(self, table: str) -> list[int]:
        """Retained (time-travel-readable) versions, oldest first. A
        version is readable while its dir survives vacuum — the last
        ``retain_versions`` commits (Delta/Iceberg snapshot listing).
        Clamped to the committed ``_CURRENT`` pointer so a crashed
        writer's orphan v-dir (staged + manifest written, pointer
        never swapped) is never surfaced as readable."""
        if not os.path.isdir(self._dir(table)):
            return []
        cur = self.current_version(table)
        if cur is None:
            return []
        out = []
        for name in os.listdir(self._dir(table)):
            if not (
                name.startswith("v=")
                and os.path.exists(
                    os.path.join(self._dir(table), name, "_manifest.json")
                )
            ):
                continue
            # a version is readable only if its full file closure
            # survived vacuum (an old dir can outlive its closure when
            # a newer manifest carries forward just some of its data)
            v = int(name.removeprefix("v="))
            if v > cur:
                continue  # orphan above the pointer: never committed
            m = self._manifest(table, v)
            refs = [m["schema"]] + [d for dirs in m["buckets"].values() for d in dirs]
            refs += [d for dirs in m.get("deltas", {}).values() for d in dirs]
            if all(os.path.exists(os.path.join(self._dir(table), d)) for d in refs):
                out.append(v)
        return sorted(out)

    def read(self, table: str, version: int | None = None) -> DataFrame:
        """Current snapshot, or a retained historical ``version``
        (time travel). Version dirs are immutable after the pointer
        swap, so a reader holding version N sees a consistent snapshot
        regardless of concurrent mutations (snapshot isolation)."""
        return self._scan(table, self._resolve(table, version), None)

    def read_keyed(
        self, table: str, key_df: DataFrame, version: int | None = None
    ) -> DataFrame:
        """Point/selective read by primary key: hash the requested keys
        with the table's bucketing function, open ONLY the owning
        buckets' files, and semi-join the requested keys within them —
        the read-side twin of ``apply_keyed_mutation``'s write-side
        pruning. Looking up k keys costs O(table · min(k, B)/B) bytes
        (hash-index point-read semantics from plain parquet); the
        reference got this from a Postgres PK btree, Delta/Iceberg from
        MERGE-style partition pruning. ``key_df`` carries exactly the
        declared key columns; the bucket-id collect is
        key-count-sized, never table-sized."""
        keys = self.keys.get(table)
        if not keys:
            raise ValueError(
                f"read_keyed({table!r}): no declared bucket keys"
            )
        m = self._resolve(table, version)
        bucketing = self._keyed_bucketing(table, m)
        # One bucket id per requested key, collected without a distinct
        # (a shuffle, so two jobs): the probe is broadcast below, so the
        # key set is driver-sized anyway.
        ids = {
            r["b"]
            for r in key_df.select(self._bucket_col(bucketing).alias("b")).collect()
        }
        probe = key_df.select(*keys).distinct()
        part = self._scan(table, m, ids)
        return part.join(F.broadcast(probe), list(keys), "left_semi")

    def overwrite(self, table: str, df: DataFrame) -> int:
        return self._write_version(table, df, carry=None, affected=None)

    def append(self, table: str, df: DataFrame) -> int:
        """File-level append: new rows' buckets gain an extra dir in
        the manifest (O(new bytes) written); existing entries carry
        forward untouched. Buckets accumulate dirs until a keyed
        mutation or overwrite compacts them.

        Appends must add NEW keys only when merge-on-read deltas are
        pending: a carried delta/tombstone SHADOWS every base row for
        its key, so an appended row whose key has a pending delta
        would be invisible to ``read()`` and silently dropped by
        ``compact()`` — and the ``appended_dirs`` fast-path change
        feed would still report it as an insert, disagreeing with
        ``read()``. That contract is ENFORCED here, not assumed: when
        the manifest carries deltas, the incoming keys are semi-joined
        against the accumulated delta key set (O(deltas + batch),
        the merge-on-read small regime) and any overlap raises —
        callers route key collisions through
        ``apply_keyed_mutation(op="update")`` instead."""
        if not self.exists(table):
            return self.overwrite(table, df)
        v = self.current_version(table)
        m = self._manifest(table, v)
        existing = set(self._scan(table, m, None).columns)
        if set(df.columns) != existing:
            raise ValueError(
                f"append to {table!r}: columns {sorted(set(df.columns))} "
                f"do not match table columns {sorted(existing)}"
            )
        if m.get("deltas"):
            # Deltas only exist via apply_keyed_mutation, which
            # requires declared bucket keys — and those are the columns
            # reconciliation shadows by. If the registry lost them, the
            # shadow check below would silently skip (or check the
            # wrong columns), letting an appended row vanish behind a
            # carried delta; refuse instead (r9 advice #3).
            keys = self.keys.get(table)
            if not keys:
                raise ValueError(
                    f"append to {table!r}: manifest carries merge-on-read "
                    f"deltas but no bucket keys are declared for the table "
                    f"— cannot verify appended keys don't collide with "
                    f"pending delta keys. Declare keys or compact() first."
                )
            delta_paths = [
                os.path.join(self._dir(table), d)
                for dirs in m["deltas"].values()
                for d in dirs
            ]
            if keys and delta_paths:
                shadowing = (
                    self.spark.read.parquet(*delta_paths)
                    .select(*keys)
                    .dropDuplicates(list(keys))
                )
                clash = (
                    df.select(*keys)
                    .join(shadowing, list(keys), "left_semi")
                    .limit(1)
                    .count()
                )
                if clash:
                    raise ValueError(
                        f"append to {table!r}: incoming keys overlap "
                        f"pending merge-on-read delta keys — the delta "
                        f"would shadow the appended rows. Use "
                        f"apply_keyed_mutation(op='update') for "
                        f"existing keys, or compact() first."
                    )
        new_v = (v or 0) + 1
        vrel = f"v={new_v}"
        # new rows hash the way the carried buckets were written
        bucketing = self._bucketing(table, m, df)
        staging = self._bstage(
            table, df.withColumn("__bucket", self._bucket_col(bucketing))
        )
        buckets = {k: list(dirs) for k, dirs in m["buckets"].items()}
        data_dir = os.path.join(staging, "data")
        if os.path.isdir(data_dir):
            for name in os.listdir(data_dir):
                if name.startswith("__bucket="):
                    k = name.removeprefix("__bucket=")
                    buckets.setdefault(k, []).append(f"{vrel}/data/{name}")
        manifest = self._new_manifest(vrel, df, bucketing, buckets)
        if m.get("deltas"):
            # enforced above: appended keys are disjoint from delta
            # keys, so carried deltas cannot shadow the new rows
            manifest["deltas"] = {
                k: list(dirs) for k, dirs in m["deltas"].items()
            }
        self._bcommit(table, new_v, manifest, staging)
        return new_v

    # -- the incremental path ------------------------------------------------

    def apply_keyed_mutation(
        self,
        table: str,
        incoming: DataFrame,
        keys: list[str],
        order_by: list[str],
        op: str,
        strategy: str = "copy_on_write",
    ) -> int:
        """Apply insert/update/delete touching ONLY the buckets the
        incoming keys hash into. ``incoming`` may carry ``__``-prefixed
        helper columns (event/file order); data columns are the rest.
        Identical winners to the full-rewrite path: the same
        insert_if_absent/upsert/delete_by_keys plans run, just against
        the affected-bucket subset (valid because any target row
        sharing a key hashes to an affected bucket).

        ``strategy`` picks the write amplification tradeoff (the Delta
        deletion-vector / Iceberg merge-on-read dichotomy):

        - ``copy_on_write`` (default): rewrite the affected buckets.
          Reads stay pure base scans, but a SCATTERED key batch (1% of
          keys spread over every bucket) rewrites ~the whole table —
          O(table·min(N,B)/B) per commit, the measured 46-77 s/commit
          wall at 60 M rows (LAKEHOUSE_BENCH r7).
        - ``merge_on_read``: commit ONLY the change itself — upserted
          rows and key tombstones tagged with the commit sequence —
          stacked per bucket in the manifest's ``deltas`` lists.
          Writes are O(batch) regardless of key spread or table size;
          reads reconcile via ``_reconcile_deltas`` (delta shadows
          base, newest seq wins, tombstone deletes) until
          ``compact()`` folds the deltas into the base. Same winners
          as copy_on_write (pinned in tests/test_bucketed_store.py).
        """
        from pyspark.sql import functions as F

        from etl_notifier_pipeline_spark.operators.mutations import (
            delete_by_keys,
            insert_if_absent,
            upsert,
        )

        if self.keys.get(table) is None:
            raise ValueError(
                f"apply_keyed_mutation needs declared bucket keys for {table!r}"
            )
        if strategy not in ("copy_on_write", "merge_on_read"):
            raise ValueError(f"unknown strategy {strategy!r}")
        # per-mutation signal: set again below iff the auto-compact
        # policy fires for THIS commit
        self.last_auto_compact_version = None
        data_cols = [c for c in incoming.columns if not c.startswith("__")]
        if not self.exists(table):
            self._write_version(
                table, incoming.select(*data_cols).limit(0),
                carry=None, affected=None,
            )
        # Pin the base once: the affected buckets' read, the carried
        # manifest and the commit's CAS all use version v0, so a commit
        # landing in between fails this one (ConcurrentWriteError)
        # instead of having its rows in the affected buckets erased.
        v0 = self.current_version(table)
        m = self._manifest(table, v0)
        bucketing = self._keyed_bucketing(table, m)
        affected = {
            r["b"]
            for r in incoming.select(
                self._bucket_col(bucketing).alias("b")
            ).distinct().collect()
        }
        if strategy == "merge_on_read":
            v = self._apply_mutation_mor(
                table, incoming, keys, order_by, op, affected, v0, m, bucketing
            )
            # Always return the MUTATION commit's version — callers
            # locate its CDC sidecar (cdc_dir(table, v)) or bound a
            # feed at it, and a marker-skipped follow-up compaction is
            # the wrong answer for both (r9 advice #2). The policy-
            # triggered compaction, when it fires, is exposed as
            # ``last_auto_compact_version``.
            if self.auto_compact_deltas is not None:
                m = self._manifest(table, v)
                if any(
                    len(dirs) > self.auto_compact_deltas
                    for dirs in m.get("deltas", {}).values()
                ):
                    # Auto-compaction racing ANOTHER writer (r12 ask
                    # #2): the fold stages outside the commit lock, so
                    # a concurrent mutation can advance the pointer
                    # first and the fold's CAS loses. That is the
                    # CORRECT outcome — the mutation's data must win;
                    # the fold is best-effort maintenance that re-trips
                    # on the next commit (the delta stack is still over
                    # policy). Propagating the loss would fail a
                    # mutation that already committed, so the loser
                    # degrades to "no compaction this commit".
                    try:
                        self.last_auto_compact_version = self.compact(table)
                    except ConcurrentWriteError:
                        self.last_auto_compact_version = None
            return v
        current = self._scan(table, m, affected)
        if op == "insert":
            result = insert_if_absent(current, incoming, keys, order_by)
        elif op == "update":
            result = upsert(current, incoming, keys, order_by)
        elif op == "delete":
            result = delete_by_keys(current, incoming.select(*keys), keys)
        else:
            raise ValueError(f"unknown operation {op!r}")
        cdc_fn = None
        if self.capture_cdc:
            from etl_notifier_pipeline_spark.operators.mutations import (
                snapshot_diff,
            )

            # The staged data files and the CDC sidecar must describe
            # the SAME evaluation of `result`: with order_by ties, two
            # executions could pick different winners — committing
            # data that disagrees with its own change feed (r7 advice
            # #4). r8 pinned one evaluation with localCheckpoint, but
            # checkpointing an O(affected buckets) CoW result pins
            # ~the whole table in executor memory on scattered-key
            # commits (measured: 60-80 s/commit -> 180 s + GC-locker
            # thrash at 60 M rows). Instead the sidecar is now derived
            # FROM THE STAGED FILES — _write_version stages `result`
            # first, then calls this back with a reader over the
            # staged parquet, so the feed diffs exactly the bytes
            # being committed: consistency by construction, zero
            # double-evaluation, zero pinned memory. Change rows can
            # only involve the batch's keys: diff the key-matched
            # slices — O(batch + matched rows), never O(table).
            batch_keys = incoming.select(*keys).distinct()
            old_matched = current.join(batch_keys, list(keys), "left_semi")

            def cdc_fn(staged: DataFrame) -> DataFrame:
                return snapshot_diff(
                    old_matched,
                    staged.join(batch_keys, list(keys), "left_semi"),
                    keys,
                )

        # a copy-on-write commit reads the MERGED view of the affected
        # buckets, so their delta entries are folded into the rewritten
        # base; other buckets' deltas carry forward
        return self._write_version(
            table, result, carry=m["buckets"], affected=affected,
            cdc_from_staged=cdc_fn, carry_deltas=m.get("deltas"),
            base_version=v0, bucketing=bucketing,
        )

    def _apply_mutation_mor(
        self,
        table: str,
        incoming: DataFrame,
        keys: list[str],
        order_by: list[str],
        op: str,
        affected: set[int],
        v0: int,
        m: dict,
        bucketing: tuple[list[str], int],
    ) -> int:
        """Merge-on-read write path, based on version ``v0`` (manifest
        ``m``, bucketed by ``bucketing``): stage O(batch) delta rows — the
        mutation's winners plus tombstones — and commit a manifest that
        carries EVERY base bucket forward untouched. The delta rows are
        exactly the reconciliation inputs: ``__mor_seq`` = this commit's
        version (newest shadows older), ``__mor_deleted`` marks key
        tombstones. ``insert`` needs the live key set of the affected
        buckets (a key-columns-only pruned read — column pruning keeps
        it narrow); ``update``/``delete`` write blind, which is the
        whole point at scattered-key scale. CDC capture diffs the
        key-matched old slice against the delta applied to it — the
        same slice semantics as copy_on_write, derived from the single
        checkpointed delta so data and feed cannot disagree."""
        from etl_notifier_pipeline_spark.operators.mutations import (
            _pick_per_key,
            snapshot_diff,
        )

        # Read-side reconciliation (_reconcile_deltas) shadows by the
        # DECLARED bucket keys; a delta written under different key
        # columns would be reconciled wrongly and append()'s shadow
        # check would probe the wrong columns (r9 advice #3).
        # Compare as SETS — joins are order-insensitive, so a caller
        # passing the same columns in a different order was always
        # valid — and use .get so an undeclared table raises the
        # intended diagnostic, not a bare KeyError.
        declared = self.keys.get(table)
        if len(set(keys)) != len(list(keys)):
            # set() comparison alone would let ['a','a','b'] pass for
            # declared ['a','b'] and flow duplicated columns into the
            # reconciliation joins.
            raise ValueError(
                f"merge_on_read mutation keys {list(keys)} contain duplicate "
                f"column names"
            )
        if declared is None or set(keys) != set(declared):
            raise ValueError(
                f"merge_on_read mutation keys {sorted(keys)} must equal the "
                f"declared bucket keys "
                f"{sorted(declared) if declared else None} for "
                f"{table!r} — reconciliation shadows by the declared keys"
            )
        # delta rows carry the BASE table's full column set (a delete
        # batch brings only keys — its tombstones get typed NULLs)
        base_schema = self._scan(table, m, None).schema
        data_cols = [f.name for f in base_schema.fields]
        v_next = v0 + 1
        if op == "update":
            winners = _pick_per_key(incoming, keys, order_by, keep="last")
            delta = winners.select(*data_cols).withColumn(
                "__mor_deleted", F.lit(False)
            )
        elif op == "delete":
            ks = incoming.select(*keys).dropDuplicates(list(keys))
            delta = ks.select(
                *[
                    F.col(f.name)
                    if f.name in keys
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in base_schema.fields
                ],
            ).withColumn("__mor_deleted", F.lit(True))
        elif op == "insert":
            first = _pick_per_key(incoming, keys, order_by, keep="first")
            live_keys = (
                self._scan(table, m, affected)
                .select(*keys)
                .dropDuplicates(list(keys))
            )
            delta = (
                first.select(*data_cols)
                .join(live_keys, list(keys), "left_anti")
                .withColumn("__mor_deleted", F.lit(False))
            )
        else:
            raise ValueError(f"unknown operation {op!r}")
        delta = delta.withColumn(
            "__mor_seq", F.lit(v_next).cast("long")
        ).localCheckpoint(eager=True)
        cdc_df = None
        if self.capture_cdc:
            batch_keys = incoming.select(*keys).distinct()
            old_matched = self._scan(table, m, affected).join(
                batch_keys, list(keys), "left_semi"
            )
            # the new key-matched slice IS the delta applied to the old
            # one — identical to read-side reconciliation on the slice
            new_matched = old_matched.join(
                delta.select(*keys), list(keys), "left_anti"
            ).unionByName(
                delta.filter(~F.col("__mor_deleted")).select(*data_cols)
            )
            cdc_df = snapshot_diff(old_matched, new_matched, keys)
        return self._write_version(
            table,
            self._scan(table, m, None).select(*data_cols).limit(0),
            carry=m["buckets"],
            affected=set(),
            cdc_df=cdc_df,
            delta_df=delta,
            carry_deltas=m.get("deltas"),
            base_version=v0,
            bucketing=bucketing,
        )

    def cdc_dir(self, table: str, v: int) -> str | None:
        """Path of commit ``v``'s write-time CDC sidecar, or None when
        the commit predates capture / wasn't a keyed mutation — the
        signal for ``change_feed`` to fall back to snapshot_diff."""
        p = os.path.join(self._dir(table), f"v={v}", "cdc")
        if os.path.isdir(p) and os.path.exists(os.path.join(p, "_SUCCESS")):
            return p
        return None

    def restore(self, table: str, version: int) -> int:
        """Metadata-only rollback, the bucketed twin of
        ``TableStore.restore``: commit a new version whose manifest
        (schema anchor + per-bucket dir lists) is ``version``'s
        verbatim. Zero data movement; undone versions stay
        time-travelable until vacuumed.

        Commit-NATURE markers (``"compaction"``) are stripped from the
        copy: they describe what the ORIGINAL commit did, not this one.
        A restore targeting a compact() head (the common case once
        ``auto_compact_deltas`` makes every head a compaction version)
        DOES change data relative to the current head, so carrying the
        marker would make ``change_feed``'s is_compaction skip emit
        zero rows for a data-changing rollback (r9 advice #1)."""
        import copy

        if version not in self.versions(table):
            raise FileNotFoundError(
                f"{table!r} version {version} not restorable "
                f"(retained: {self.versions(table)})"
            )
        manifest = copy.deepcopy(self._manifest(table, version))
        manifest.pop("compaction", None)
        os.makedirs(self._dir(table), exist_ok=True)
        staging = tempfile.mkdtemp(dir=self._dir(table), prefix=".staging-")
        new_v = (self.current_version(table) or 0) + 1
        self._bcommit(table, new_v, manifest, staging)
        return new_v

    def appended_dirs(self, table: str, v: int) -> list[str] | None:
        """Pure-append detection, the bucketed twin of
        ``TableStore.appended_dirs``: commit ``v`` kept every prior
        bucket dir and only ADDED dirs -> those dirs' rows are the
        commit's inserts, readable in O(new bytes)."""
        if v <= 0:
            return None
        try:
            mp = self._manifest(table, v - 1)
            mc = self._manifest(table, v)
        except FileNotFoundError:
            return None
        if mp.get("deltas", {}) != mc.get("deltas", {}):
            # a merge-on-read commit: its rows are updates/deletes, not
            # inserts — never the append fast path
            return None
        prev, cur = mp["buckets"], mc["buckets"]
        new: list[str] = []
        for k, dirs in prev.items():
            cd = cur.get(k, [])
            if not set(dirs) <= set(cd):
                return None  # a prior dir was dropped: not an append
        for k, dirs in cur.items():
            for d in dirs:
                if d not in set(prev.get(k, [])):
                    new.append(d)
        if not new:
            return None
        return [os.path.join(self._dir(table), d) for d in new]

    def compact(self, table: str, max_dirs_per_bucket: int = 1) -> int | None:
        """Compact buckets whose manifest references more than
        ``max_dirs_per_bucket`` dirs (append stacking) OR that carry
        merge-on-read deltas into one base dir each, leaving
        already-compact buckets' entries untouched — the maintenance
        pass a long-lived table needs so reads stay O(buckets) file
        listings and the delta reconciliation cost returns to zero.
        Returns the new version, or None if nothing needed compacting."""
        v = self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"no such table: {table}")
        m = self._manifest(table, v)
        fragmented = {
            int(k) for k, dirs in m["buckets"].items()
            if len(dirs) > max_dirs_per_bucket
        }
        # a bucket with stacked deltas reads through _reconcile_deltas;
        # folding it writes the merged rows as plain base and drops the
        # delta entries (affected-bucket clearing in _write_version)
        fragmented |= {int(k) for k in m.get("deltas", {})}
        if not fragmented:
            return None
        rows = self._scan(table, m, fragmented)
        return self._write_version(
            table, rows, carry=m["buckets"], affected=fragmented,
            carry_deltas=m.get("deltas"),
            base_version=v, bucketing=self._bucketing(table, m, rows),
            # marker: this commit changes LAYOUT, not data — change
            # feeds skip it instead of paying an empty snapshot_diff
            manifest_extra={"compaction": True},
        )

    def is_compaction(self, table: str, v: int) -> bool:
        """True when commit ``v`` was a compact() layout rewrite —
        zero data change by construction, so change_feed emits no rows
        for it (and skips the O(table) empty snapshot_diff it would
        otherwise pay)."""
        try:
            return bool(self._manifest(table, v).get("compaction"))
        except FileNotFoundError:
            return False

    def _vacuum(self, table: str, keep: int) -> None:
        """Delete version dirs not referenced by any of the last
        ``keep`` versions' manifests."""
        v = self.current_version(table)
        referenced: set[str] = set()
        for recent in range(max(1, v - keep + 1), v + 1):
            vdir = os.path.join(self._dir(table), f"v={recent}")
            if os.path.isdir(vdir):
                m = self._manifest(table, recent)
                referenced.add(m["schema"].split("/", 1)[0])
                referenced.add(f"v={recent}")
                for dirs in m["buckets"].values():
                    for d in dirs:
                        referenced.add(d.split("/", 1)[0])
                for dirs in m.get("deltas", {}).values():
                    for d in dirs:
                        referenced.add(d.split("/", 1)[0])
        for name in os.listdir(self._dir(table)):
            if name.startswith("v=") and name not in referenced:
                n = int(name.removeprefix("v="))
                if n <= v - keep:
                    shutil.rmtree(
                        os.path.join(self._dir(table), name), ignore_errors=True
                    )
            elif name.startswith(".staging-"):
                _sweep_stale_staging(os.path.join(self._dir(table), name))


class CatalogTableStore:
    """Metastore-backed TableStore twin (SURVEY §1.3's
    ``df.write.saveAsTable`` mapping): tables live in the session
    catalog / warehouse dir under a namespace instead of the
    pointer-file layout. Same duck-typed surface the control plane uses
    (exists/read/overwrite/append), so ``Ledger``/``ApprovalPipeline``
    run unchanged against either backend.

    Trade-offs vs ``TableStore`` (deliberate, documented): the catalog
    handles concurrent readers and name resolution, and ``append`` is a
    true file-level append; but plain-parquet ``saveAsTable`` overwrite
    is not atomic mid-write — pick THIS backend when a metastore is the
    deployment target (with Delta/Iceberg providing the transactional
    overwrite), the pointer-swap backend when it is not.
    """

    def __init__(self, spark: SparkSession, namespace: str = "engine") -> None:
        self.spark = spark
        self.namespace = namespace
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {namespace}")

    def _qualified(self, table: str) -> str:
        return f"{self.namespace}.{table}"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._qualified(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self._qualified(table))

    def overwrite(self, table: str, df: DataFrame) -> int:
        # Self-referential overwrites (the mutation pattern: read t,
        # transform, write t) must materialize first — saveAsTable
        # cannot scan the table it is truncating. localCheckpoint keeps
        # the materialization distributed (executor-local blocks, no
        # driver collect).
        if self.exists(table):
            df = df.localCheckpoint()
        df.write.mode("overwrite").format("parquet").saveAsTable(
            self._qualified(table)
        )
        return 0

    def append(self, table: str, df: DataFrame) -> int:
        df.write.mode("append").format("parquet").saveAsTable(self._qualified(table))
        return 0
