"""Multi-table atomic commits: a catalog layer over ``VersionedTable``.

Single-table versioning (io/maintenance.py) gives each table its own
linear history, but a pipeline that updates TWO tables (facts + the
aggregate view, postings + the doc store) needs readers to never observe
one side without the other. The catalog fixes the torn-pair problem the
way Nessie/Iceberg-REST do: table data publishes first (each updated
table gets a new version in its own history), then ONE catalog version —
a json mapping {table_name: pinned_version} — publishes atomically.
Readers resolve a catalog version and time-travel every table to its
pinned version, so a crash between table publish and catalog publish
strands only unreferenced table versions (garbage, never torn state), and
a reader holding catalog vN keeps a consistent multi-table snapshot while
writers advance.

Publish protocol: the version MANIFEST ITSELF is the claim. The writer
stages v=N.json content to a temp file and ``os.link``s it to the final
name — link fails with EEXIST iff v=N already exists, making claim and
publish one atomic conditional PUT (the direct POSIX analogue of S3
``If-None-Match: *`` on the manifest object, which is how this maps to
object storage). Unlike a separate claim marker, there is no window where
a version number is claimed but its content unreadable — so a successor
ALWAYS merges its predecessor's pins, and blind concurrent commits
serialize without lost updates. ``expected_latest`` adds compare-and-swap
semantics for read-modify-write transactions: a lost race raises
``CommitConflict`` (no silent retry) so the caller recomputes from fresh
state.

Retention note: ``VersionedTable.expire_versions`` on a member table must
keep every version some catalog version still references —
``referenced_table_versions`` exposes the pin set for exactly that check.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from realestatedeals_spark.io.maintenance import CommitConflict, VersionedTable


class CompactionError(RuntimeError):
    """A compaction left one of the delta tables it folded still pinned."""


class Catalog:
    """``branch`` parameters default to "main" (the base ``_catalog``
    directory); other branches live under ``_catalog/branches/<name>`` with
    a ``_fork.json`` recording the pins they diverged from — the
    three-way-merge base for ``merge()``."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self._cat_dir = os.path.join(root, "_catalog")
        os.makedirs(self._cat_dir, exist_ok=True)

    def _dir(self, branch: str) -> str:
        if branch == "main":
            return self._cat_dir
        d = os.path.join(self._cat_dir, "branches", branch)
        return d

    # -- table access ------------------------------------------------------
    def table(self, name: str) -> VersionedTable:
        return VersionedTable(self.spark, os.path.join(self.root, name))

    # -- catalog versions --------------------------------------------------
    def versions(self, branch: str = "main") -> list[int]:
        d = self._dir(branch)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.startswith("v=") and f.endswith(".json"):
                mid = f[2:-5]
                if mid.isdigit():
                    out.append(int(mid))
        return sorted(out)

    def latest_version(self, branch: str = "main") -> int | None:
        vs = self.versions(branch)
        return vs[-1] if vs else None

    def _manifest(self, version: int, branch: str = "main") -> dict:
        try:
            with open(os.path.join(self._dir(branch), f"v={version}.json")) as f:
                doc = json.load(f)
        except FileNotFoundError:
            # a concurrent expire() may have dropped it, or the caller passed
            # a bad number — either way surface the catalog API's typed error,
            # not a raw OS error
            raise ValueError(
                f"no such catalog version {version} on branch {branch!r}"
            ) from None
        # legacy manifests are a bare pin map; current ones nest under "pins"
        return doc if "pins" in doc else {"pins": doc, "epoch": None}

    def pins(self, version: int | None = None, branch: str = "main") -> dict[str, int]:
        """{table_name: pinned table version} for a catalog version."""
        v = self.latest_version(branch) if version is None else version
        if v is None:
            return {}
        return {k: int(x) for k, x in self._manifest(v, branch)["pins"].items()}

    def require_retired(self, delta: re.Pattern[str]) -> None:
        """Raise ``CompactionError`` if a table whose name fully matches
        ``delta`` is still pinned: a compaction must retire every delta it
        folded, or a reader of base + deltas counts those rows twice."""
        left = sorted(n for n in self.pins() if delta.fullmatch(n))
        if left:
            raise CompactionError(f"compaction left delta tables pinned: {left}")

    def applied_epoch(self, branch: str = "main") -> int | None:
        """Epoch id recorded by the newest manifest (exactly-once streaming:
        a foreachBatch sink skips any batch whose epoch is <= this)."""
        v = self.latest_version(branch)
        if v is None:
            return None
        e = self._manifest(v, branch).get("epoch")
        return None if e is None else int(e)

    # -- branches (write-audit-publish) -------------------------------------
    def create_branch(self, name: str, from_branch: str = "main") -> None:
        """Fork a branch at the source branch's head: the branch starts with
        the head's pins, and ``_fork.json`` records them as the merge base."""
        if name == "main" or "/" in name:
            raise ValueError(f"bad branch name {name!r}")
        d = self._dir(name)
        if os.path.isdir(d):
            raise ValueError(f"branch {name!r} already exists")
        os.makedirs(d)
        base = self.pins(branch=from_branch)
        with open(os.path.join(d, "_fork.json"), "w") as f:
            json.dump(base, f, sort_keys=True)
        with open(os.path.join(d, "v=1.json"), "w") as f:
            json.dump({"pins": base, "epoch": None}, f, sort_keys=True)

    def fork_pins(self, branch: str) -> dict[str, int]:
        with open(os.path.join(self._dir(branch), "_fork.json")) as f:
            return {k: int(x) for k, x in json.load(f).items()}

    def merge(self, branch: str, into: str = "main", max_retries: int = 50) -> int:
        """Publish the branch's changes onto ``into`` — the write-audit-
        publish step. Three-way: a table counts as changed-on-branch if its
        head pin differs from the fork pin; the merge CONFLICTS (raises
        CommitConflict, nothing published) if the target also moved any of
        those tables since the fork. Non-overlapping target movement merges
        cleanly; publish is the same atomic conditional link as commit."""
        changed = {
            t: v
            for t, v in self.pins(branch=branch).items()
            if self.fork_pins(branch).get(t) != v
        }
        for _ in range(max_retries):
            latest = self.latest_version(into)
            head = self.pins(branch=into) if latest is not None else {}
            fork = self.fork_pins(branch)
            conflicts = sorted(
                t for t in changed if head.get(t) != fork.get(t)
            )
            if conflicts:
                raise CommitConflict(
                    f"merge {branch!r}->{into!r} conflicts on tables {conflicts}"
                )
            target = (latest if latest is not None else 0) + 1
            pins = dict(head)
            pins.update(changed)
            # Carry the target head's applied-epoch watermark forward: a merge
            # between streaming commits must NOT clobber it to None, or the
            # next redelivered foreachBatch epoch would re-apply (duplicates).
            epoch = (
                self._manifest(latest, into).get("epoch")
                if latest is not None
                else None
            )
            d = self._dir(into)
            fd, tmp = tempfile.mkstemp(dir=d, prefix=f".v{target}-", suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump({"pins": pins, "epoch": epoch}, f, sort_keys=True)
            final = os.path.join(d, f"v={target}.json")
            try:
                os.link(tmp, final)
                return target
            except FileExistsError:
                continue  # target advanced: re-check conflicts against new head
            finally:
                os.unlink(tmp)
        raise CommitConflict(f"merge lost {max_retries} publish races")

    def referenced_table_versions(self, name: str) -> set[int]:
        """Every version of ``name`` some catalog version ON ANY BRANCH
        still pins — the set expire_versions must not drop."""
        return {
            pins[name]
            for b in self.branches()
            for v in self.versions(b)
            for pins in [self.pins(v, b)]
            if name in pins
        }

    # -- transactions ------------------------------------------------------
    def commit(
        self,
        updates: dict[str, DataFrame],
        expected_latest: int | None = None,
        max_retries: int = 50,
        epoch: int | None = None,
        branch: str = "main",
        drops: list[str] | None = None,
    ) -> int:
        """Atomically publish new snapshots of every table in ``updates``.

        Phase 1 (no atomicity needed): each table commits its data through
        its own versioned history — these versions exist but are invisible
        until a catalog version references them. Phase 2: merge the
        CURRENT latest manifest's pins with the new ones and conditionally
        publish v=latest+1 (atomic link; see module docstring). A blind
        commit that loses the publish race re-reads the winner's pins and
        retries — no update can be lost because every published manifest
        was derived from the manifest immediately before it.

        ``drops`` unpins tables in the SAME transaction (DROP TABLE): a
        reader can never observe the replacement without the drop or vice
        versa — compaction folds N delta tables into one and retires them
        atomically. Dropped data files stay on disk until ``expire``
        removes the manifests that still pin them (time travel to an
        older catalog version keeps working until then)."""
        drops = list(drops or [])
        overlap = sorted(set(drops) & set(updates))
        if overlap:
            raise ValueError(f"tables both updated and dropped: {overlap}")
        # Phase-1 table writes run CONCURRENTLY: each table stages under its
        # own root and publishes through its own history, so the writes are
        # independent by construction (Spark job submission is thread-safe),
        # and commit latency is the slowest table instead of the sum — on a
        # three-table streaming epoch this is the dominant fixed cost. A
        # failed write raises after the others settle; any tables already
        # published stay invisible (no manifest pins them) — exactly the
        # documented crash semantics (stranded garbage, never torn state).
        new_pins: dict[str, int] = {}
        if len(updates) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(len(updates), 8)) as pool:
                futs = {
                    name: pool.submit(self.table(name).commit, df)
                    for name, df in updates.items()
                }
            # Collect EVERY failure before raising: with concurrent writes,
            # surfacing only dict-order's first f.result() exception would
            # silently discard the others' diagnostics on a multi-table
            # failure. Raise the first, log the rest.
            failures: dict[str, BaseException] = {}
            for name, f in futs.items():
                try:
                    new_pins[name] = f.result()
                except BaseException as exc:  # noqa: BLE001 — re-raised below
                    failures[name] = exc
            if failures:
                if len(failures) > 1:
                    import logging

                    for name, exc in list(failures.items())[1:]:
                        logging.getLogger(__name__).error(
                            "catalog commit: concurrent phase-1 write of "
                            "table %r ALSO failed: %s: %s",
                            name, type(exc).__name__, exc,
                        )
                raise next(iter(failures.values()))
        else:
            for name, df in updates.items():
                new_pins[name] = self.table(name).commit(df)

        if branch != "main" and not os.path.isdir(self._dir(branch)):
            raise ValueError(f"no such branch {branch!r}; create_branch first")
        for _ in range(max_retries):
            latest = self.latest_version(branch)
            if expected_latest is not None and latest != expected_latest:
                raise CommitConflict(
                    f"catalog moved: expected latest {expected_latest}, saw {latest}"
                )
            target = (latest if latest is not None else 0) + 1
            pins = self.pins(latest, branch) if latest is not None else {}
            missing = sorted(d for d in drops if d not in pins)
            if missing:
                raise ValueError(f"cannot drop unpinned tables: {missing}")
            pins.update(new_pins)
            for d_name in drops:
                del pins[d_name]
            # The applied-epoch watermark is MONOTONE: a non-streaming commit
            # (epoch=None) interleaved with streaming sinks — compaction,
            # maintenance, a manual table update — must carry the previous
            # manifest's epoch forward, never clobber it to None, or the next
            # redelivered foreachBatch epoch would pass the skip check and
            # double-apply. Same rule merge() applies.
            eff_epoch = epoch
            if eff_epoch is None and latest is not None:
                prev = self._manifest(latest, branch).get("epoch")
                eff_epoch = None if prev is None else int(prev)
            fd, tmp = tempfile.mkstemp(
                dir=self._dir(branch), prefix=f".v{target}-", suffix=".tmp"
            )
            with os.fdopen(fd, "w") as f:
                json.dump({"pins": pins, "epoch": eff_epoch}, f, sort_keys=True)
            final = os.path.join(self._dir(branch), f"v={target}.json")
            try:
                os.link(tmp, final)  # atomic conditional publish (EEXIST = lost)
                return target
            except FileExistsError:
                if expected_latest is not None:
                    raise CommitConflict(
                        f"catalog v={target} published concurrently"
                    ) from None
                continue  # blind commit: merge the winner's pins and retry
            finally:
                os.unlink(tmp)
        raise CommitConflict(f"catalog commit lost {max_retries} publish races")

    def read(
        self, name: str, version: int | None = None, branch: str = "main"
    ) -> DataFrame:
        """Read table ``name`` AT THE VERSION pinned by a catalog version —
        never the table's unreferenced head."""
        pins = self.pins(version, branch)
        if name not in pins:
            raise ValueError(f"table {name!r} not in catalog")
        return self.table(name).read(pins[name])


    # -- scan leases: snapshot-consistent reads that survive retention ------
    def scan(self, version: int | None = None, branch: str = "main"):
        """Context manager for a retention-proof multi-table snapshot read:
        leases the catalog version (``expire`` keeps its manifest) AND
        every member-table version it pins (``expire_versions`` keeps their
        files), yielding a reader ``lambda name: DataFrame`` over the
        pinned snapshot. Retention contract: a leased snapshot is never
        reclaimed for the life of the scan; an un-leased reader racing
        ``expire`` gets the typed ``StaleVersionError``/``ValueError`` on
        its next catalog read (``_manifest``'s FileNotFoundError→ValueError
        pattern) instead of silent wrong data."""
        v = self.latest_version(branch) if version is None else version
        if v is None:
            raise ValueError(f"cannot scan: no catalog versions on branch {branch!r}")
        pins = self.pins(v, branch)  # typed error if the manifest is gone
        cat_lease = os.path.join(self._dir(branch), f"_lease-v{v}-{uuid.uuid4().hex}")
        with open(cat_lease, "w") as fh:
            json.dump(pins, fh)
        table_leases = []
        try:
            for name, pinned in sorted(pins.items()):
                ctx = self.table(name).scan(pinned)
                ctx.__enter__()
                table_leases.append(ctx)
        except BaseException:
            for ctx in reversed(table_leases):
                ctx.__exit__(None, None, None)
            os.unlink(cat_lease)
            raise

        @contextlib.contextmanager
        def _ctx():
            try:
                yield lambda name: self.read(name, v, branch)
            finally:
                for c in reversed(table_leases):
                    c.__exit__(None, None, None)
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(cat_lease)

        return _ctx()

    def leased_catalog_versions(self, branch: str = "main") -> set[int]:
        d = self._dir(branch)
        if not os.path.isdir(d):
            return set()
        out = set()
        for f in os.listdir(d):
            if f.startswith("_lease-v"):
                out.add(int(f[len("_lease-v"):].split("-", 1)[0]))
        return out

    def expire(self, keep_last: int = 1) -> dict[str, list[int]]:
        """Retention across the whole catalog: drop all but the newest
        ``keep_last`` catalog manifests — EXCEPT manifests under an active
        ``scan()`` lease — then expire member-table versions that no
        SURVIVING manifest pins (each table also keeps its own head: an
        unreferenced head is a harmless in-flight phase-1 version, not
        garbage to race with; leased table versions are protected by
        ``expire_versions`` itself). Returns {table: removed}."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        leased = self.leased_catalog_versions()
        vs = self.versions()
        for v in vs[:-keep_last]:
            if v in leased:
                continue
            os.unlink(os.path.join(self._cat_dir, f"v={v}.json"))
        # enumerate member tables from DISK, not just surviving pins: a
        # table dropped from every surviving manifest still has versions
        # that earlier (now-expired) manifests pinned — those are exactly
        # the garbage retention exists to reclaim. Each table's own HEAD
        # always survives (expire_versions keep_last=1): it may be an
        # in-flight phase-1 commit whose manifest isn't published yet, so
        # a fully-dropped table shrinks to one bounded head version.
        def _is_table(name: str) -> bool:
            d = os.path.join(self.root, name)
            return os.path.isdir(d) and any(
                e.startswith("v=") for e in os.listdir(d)
            )

        tables = {
            name
            for name in os.listdir(self.root)
            if name != "_catalog" and _is_table(name)
        }
        removed: dict[str, list[int]] = {}
        for name in sorted(tables):
            t = self.table(name)
            removed[name] = t.expire_versions(
                keep_last=1, protect=self.referenced_table_versions(name)
            )
        return removed

    def branches(self) -> list[str]:
        bdir = os.path.join(self._cat_dir, "branches")
        extra = sorted(os.listdir(bdir)) if os.path.isdir(bdir) else []
        return ["main", *extra]
