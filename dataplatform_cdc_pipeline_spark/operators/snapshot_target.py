"""Snapshot-isolated merge target: manifest-versioned commits over
immutable parquet — TABLE-atomic where ParquetMergeTarget is
bucket-atomic.

The directory-swap sink commits bucket by bucket: a reader listing the
table mid-swap can see bucket 3 at version N and bucket 5 at N+1 (the
reference's own transaction, merge.sql:368-457, is table-atomic — this
class closes that gap without Delta). The fix is the Delta/Iceberg
commit shape, reduced to its core:

- **data files are immutable**: every commit writes its affected buckets
  into a FRESH ``data/v<version>-<id>/`` tree; nothing is ever moved or
  rewritten in place;
- **a commit IS one manifest file**: ``_log/<version>.json`` maps each
  live bucket to the directory holding its current rows (affected
  buckets point at the new tree; unaffected buckets carry the previous
  manifest's entries forward; emptied buckets drop out);
- **publication is one atomic ``os.link``**: the manifest is staged to a
  temp name and hard-linked to its final name — link fails atomically if
  the version already exists, so two racing writers CANNOT both commit
  the same version (a true compare-and-swap, strictly stronger than the
  swap sink's check-then-swap);
- **readers are snapshot-isolated**: a read resolves ONE manifest and
  scans exactly its files; a concurrent commit changes nothing the
  reader already resolved. This also retires the swap sink's
  read-then-overwrite hazard (invariant 11): lazy plans over immutable
  files stay valid across commits, no eager checkpoint needed.
- **time travel for free**: ``read(version=N)`` resolves manifest N;
  ``vacuum(retain_last=…)`` deletes data trees unreferenced by the
  retained manifests.

Bucket pruning becomes MANIFEST pruning — ``read(buckets=…)`` simply
doesn't list the other buckets' directories (file skipping at the
metadata layer, the same mechanism as Delta data skipping), and the
date layer inside each bucket tree still prunes via PartitionFilters.

**Zone maps (data skipping on non-partition columns)**: each commit
records per-bucket min/max/null-count for ``cfg.clustering_fields``
(harvested from the freshly written parquet FOOTERS — no extra data
scan; Iceberg builds its manifests the same way) and carries unaffected
buckets' stats forward with their entries. ``read(where=(col, lo, hi))``
then skips every bucket whose recorded range cannot intersect the
predicate BEFORE Spark ever lists its files — the manifest-level
analogue of Delta's per-file stats pruning, one metadata layer above
the row-group min/max skipping the clustering sort already provides
inside each file. Buckets without stats (pre-upgrade manifests, columns
added later) are conservatively kept.

The merge semantics are entirely inherited from ParquetMergeTarget
(same resolve, same stats, same schema enforcement/drift/evolution) —
only ``_commit``/``read`` and the version bookkeeping change; the shared
contract suite runs against this class too.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.operators.merge_target import (
    BUCKET_COL,
    PDATE_COL,
    ConcurrentWriteError,
    ParquetMergeTarget,
)


class BranchConflictError(RuntimeError):
    """merge_branch(): main and the branch modified the same bucket(s)
    since the fork point — the three-way manifest merge cannot pick a
    winner. Rebase (re-run the branch's merges on a fresh branch)."""


def _json_stat(v):
    """Footer stat → JSON-safe scalar (timestamps/dates → ISO strings;
    bytes → utf-8 best-effort). None passes through."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


def _range_overlaps(stat: list | None, lo, hi) -> bool:
    """Can a bucket with recorded [min, max, null_count] hold a row
    matching ``col BETWEEN lo AND hi``? Missing stats → conservatively
    yes. All-NULL buckets (min/max None) → no: NULL never satisfies a
    range predicate."""
    if stat is None:
        return True
    mn, mx = stat[0], stat[1]
    if mn is None or mx is None:
        return False
    return not (mx < lo or mn > hi)


class SnapshotMergeTarget(ParquetMergeTarget):
    LOG_DIR = "_log"
    DATA_DIR = "data"

    # -- manifest bookkeeping -------------------------------------------------

    def _log_path(self) -> str:
        if self._branch_name is not None:
            return os.path.join(
                self.path, self.LOG_DIR, self.BRANCHES_DIR, self._branch_name
            )
        return os.path.join(self.path, self.LOG_DIR)

    def _versions(self) -> list[int]:
        log = self._log_path()
        if not os.path.isdir(log):
            return []
        return sorted(
            int(e[: -len(".json")])
            for e in os.listdir(log)
            if e.endswith(".json") and e[: -len(".json")].isdigit()
        )

    def _branch_live_trees(self) -> set[str]:
        """Data trees referenced by ANY live branch's manifests — vacuum
        must never reclaim them while the branch exists."""
        live: set[str] = set()
        for name in self.branches():
            bref = self.branch_ref(name)
            for v in bref._versions():
                for d in bref._manifest(v)["buckets"].values():
                    live.add(d.split(f"/{BUCKET_COL}=", 1)[0])
        return live

    def _read_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else 0

    def _manifest(self, version: int | None = None) -> dict | None:
        vs = self._versions()
        if not vs:
            if version is not None:
                raise ValueError(f"version {version} not in log (log is empty)")
            return None
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in log (have {vs})")
        with open(os.path.join(self._log_path(), f"{v:012d}.json")) as f:
            return json.load(f)

    @staticmethod
    def _tree_referenced(tree: str, refs) -> bool:
        """True when any manifest bucket entry lives INSIDE ``tree``.

        Exact containment, not string-prefix: entries are always
        ``f"{tree}/{BUCKET_COL}=..."``, so matching on ``tree + "/"``
        stays correct even if a future naming scheme made one tree name
        a string-prefix of a sibling's (ADVICE r9 — a bare
        ``startswith(tree)`` only worked because tree names end in a
        fixed-length uuid suffix)."""
        return any(str(d).startswith(tree + "/") for d in refs)

    #: When set (by operators/multi_txn.MultiTableTxn during its prepare
    #: phase), _publish STAGES the manifest instead of linking it and
    #: appends (version, staged_path) here — the cross-table meta-commit
    #: becomes the single atomic decision point; the coordinator links
    #: the staged manifests afterwards (or never, if the txn aborts).
    _prepare_capture: list | None = None

    def _publish(self, manifest: dict, version: int) -> None:
        """Atomic CAS publication: hard-link a staged manifest to its
        final name — the link fails if the version was already committed
        by a racing writer."""
        log = self._log_path()
        os.makedirs(log, exist_ok=True)
        if self._prepare_capture is not None:
            staged = os.path.join(
                log, f".staged-{uuid.uuid4().hex[:8]}-{version:012d}.json"
            )
            with open(staged, "w") as f:
                json.dump(manifest, f)
            self._prepare_capture.append((version, staged))
            return
        tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex[:8]}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        final = os.path.join(log, f"{version:012d}.json")
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise ConcurrentWriteError(
                f"version {version} of {self.path} was committed by another "
                "writer; re-read and re-merge"
            ) from e
        finally:
            os.unlink(tmp)

    def pending_commit(self) -> dict | None:
        """No torn states exist: a commit is one atomic link. A crash
        before the link leaves only an unreferenced data tree, which
        vacuum() reclaims."""
        return None

    # -- branches (named mutable lines of development, Nessie-style) ---------
    #
    # A branch is its OWN manifest log under ``_log/branches/<name>/``,
    # seeded with a copy of the fork-point manifest — every existing
    # mechanism (merge, read, time travel, diff, tags, CAS publication)
    # works on a branch unchanged because it all routes through
    # _log_path(). Data trees are shared: branch commits write immutable
    # trees into the same data/ root; isolation is purely which manifest a
    # reader resolves. merge_branch() publishes the branch's changes back
    # to main with BUCKET-level conflict detection (the manifest's unit of
    # change — the same granularity Iceberg uses files for): a bucket
    # modified on both main and the branch since the fork point conflicts;
    # disjoint modifications merge as one new main manifest, atomically.

    BRANCHES_DIR = "branches"
    BRANCH_META = "branch.json"

    #: set on clones returned by branch_ref(); routes _log_path
    _branch_name: str | None = None

    def _branches_root(self) -> str:
        # branches always hang off the MAIN log, even when called on a
        # branch clone (no branches-of-branches: one fork level keeps the
        # conflict rule a three-way diff)
        return os.path.join(self.path, self.LOG_DIR, self.BRANCHES_DIR)

    def branches(self) -> dict[str, int]:
        """name → fork-point (base) main version, for every live branch."""
        root = self._branches_root()
        if not os.path.isdir(root):
            return {}
        out = {}
        for name in os.listdir(root):
            meta = os.path.join(root, name, self.BRANCH_META)
            if os.path.isfile(meta):
                with open(meta) as f:
                    out[name] = json.load(f)["base"]
        return out

    def branch_ref(self, name: str) -> "SnapshotMergeTarget":
        """A merge sink whose commits/reads resolve the branch's log."""
        import copy as _copy

        if self._branch_name is not None:
            raise ValueError("branches of branches are not supported")
        if name not in self.branches():
            raise ValueError(f"branch {name!r} does not exist on {self.path}")
        clone = _copy.copy(self)
        clone._branch_name = name
        clone._txn_payload = None
        return clone

    def create_branch(self, name: str) -> "SnapshotMergeTarget":
        """Fork a branch at the current main head. The branch log is
        seeded with a COPY of the head manifest (same version number), so
        the branch is immediately readable and its first commit CASes
        against the seeded version. Fails loudly if the name exists or
        main has no commits yet."""
        if self._branch_name is not None:
            raise ValueError("branches of branches are not supported")
        if "/" in name or not name:
            raise ValueError(f"invalid branch name {name!r}")
        base_v = self._read_version()
        base_m = self._manifest()
        if base_m is None:
            raise ValueError("cannot branch an empty table (no commits yet)")
        bdir = os.path.join(self._branches_root(), name)
        try:
            os.makedirs(bdir, exist_ok=False)
        except FileExistsError as e:
            raise ValueError(f"branch {name!r} already exists") from e
        with open(os.path.join(bdir, self.BRANCH_META), "w") as f:
            json.dump({"base": base_v}, f)
        with open(os.path.join(bdir, f"{base_v:012d}.json"), "w") as f:
            json.dump(base_m, f)
        return self.branch_ref(name)

    def delete_branch(self, name: str) -> None:
        """Drop the branch pointer (its data trees become vacuum-able the
        moment no retained manifest references them)."""
        bdir = os.path.join(self._branches_root(), name)
        if not os.path.isdir(bdir):
            raise ValueError(f"branch {name!r} does not exist")
        shutil.rmtree(bdir)

    @staticmethod
    def _modified_buckets(base: dict, head: dict) -> set[str]:
        """Buckets whose manifest entry changed between two manifests
        (rewritten, added, or dropped)."""
        bb, hb = base["buckets"], head["buckets"]
        return {b for b in set(bb) | set(hb) if bb.get(b) != hb.get(b)}

    def merge_branch(self, name: str, delete: bool = True) -> int:
        """Publish the branch's changes back to main as ONE atomic commit.

        Three-way diff against the fork point: buckets the branch
        modified replace main's entries; buckets main modified since the
        fork carry main's entries; a bucket modified on BOTH sides raises
        BranchConflictError with the bucket list (rebase by re-running
        the branch's merges on a fresh branch — same answer Iceberg/Nessie
        give). Content fingerprints are merged per-bucket when both sides
        carry the same fp column set, else dropped (conservative: forces
        a reconcile descent, never a wrong skip)."""
        base_versions = self.branches()
        if name not in base_versions:
            raise ValueError(f"branch {name!r} does not exist on {self.path}")
        base_v = base_versions[name]
        if base_v not in self._versions():
            raise ValueError(
                f"branch {name!r} fork point v{base_v} was vacuumed from the "
                "main log; the three-way diff is impossible — rebase manually"
            )
        base_m = self._manifest(base_v)
        bref = self.branch_ref(name)
        head_b = bref._manifest()
        main_v = self._read_version()
        head_m = self._manifest()
        bmod = self._modified_buckets(base_m, head_b)
        mmod = self._modified_buckets(base_m, head_m)
        conflict = sorted(bmod & mmod, key=int)
        if conflict:
            raise BranchConflictError(
                f"branch {name!r} and main both modified buckets {conflict} "
                f"since fork point v{base_v}; rebase the branch"
            )
        entries = dict(head_m["buckets"])
        stats = dict(head_m.get("stats", {}))
        for b in bmod:
            if b in head_b["buckets"]:
                entries[b] = head_b["buckets"][b]
                if b in head_b.get("stats", {}):
                    stats[b] = head_b["stats"][b]
                else:
                    stats.pop(b, None)
            else:
                entries.pop(b, None)
                stats.pop(b, None)
        manifest = {
            "version": main_v + 1,
            "buckets": entries,
            "stats": stats,
            "merged_branch": {"name": name, "base": base_v,
                              "branch_head": head_b["version"]},
        }
        if head_m.get("fp_cols") and head_m.get("fp_cols") == head_b.get("fp_cols"):
            fps = dict(head_m.get("fps", {}))
            for b in bmod:
                if b in head_b.get("fps", {}):
                    fps[b] = head_b["fps"][b]
                else:
                    fps.pop(b, None)
            manifest["fps"] = fps
            manifest["fp_cols"] = head_m["fp_cols"]
        self._publish(manifest, main_v + 1)
        if delete:
            self.delete_branch(name)
        return main_v + 1

    # -- clone (Delta-style CLONE of one version) -----------------------------

    def clone_to(
        self,
        dest_path: str,
        version: int | None = None,
        deep: bool = True,
    ) -> "SnapshotMergeTarget":
        """CLONE one version of this table to ``dest_path`` as an
        independent SnapshotMergeTarget (its own log, version 1 = the
        cloned state; future merges on either side do not affect the
        other's STATE).

        ``deep`` (default) copies the referenced bucket directories —
        storage-independent, always safe. ``deep=False`` is Delta's
        shallow clone: the manifest references the SOURCE's files by
        absolute path (zero data copied, instant) — with Delta's exact
        hazard: a later ``vacuum()`` on the source can reclaim files the
        shallow clone still references, breaking its reads. That trade
        is the caller's, and the provenance block records it."""
        m = self._manifest(version)
        if m is None:
            raise ValueError("cannot clone an empty table (no commits yet)")
        clone = SnapshotMergeTarget(self.spark, dest_path, self.cfg, self.schema)
        if clone._versions():
            raise ValueError(f"clone destination {dest_path} already has a log")
        if deep:
            entries = dict(m["buckets"])
            for d in entries.values():
                src = os.path.join(self.path, d)
                dst = os.path.join(dest_path, d)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copytree(src, dst)
        else:
            entries = {
                b: os.path.join(self.path, d) for b, d in m["buckets"].items()
            }
        manifest = {
            "version": 1,
            "buckets": entries,
            "stats": dict(m.get("stats", {})),
            "cloned_from": {
                "path": self.path,
                "version": m["version"],
                "deep": deep,
            },
        }
        if m.get("fps") is not None:
            manifest["fps"] = dict(m["fps"])
            manifest["fp_cols"] = m.get("fp_cols")
        clone._publish(manifest, 1)
        return clone

    # -- tags (named immutable snapshots, Iceberg-style) ---------------------

    TAGS_FILE = "tags.json"

    def tags(self) -> dict[str, int]:
        """Current tag → version map (empty if none)."""
        p = os.path.join(self._log_path(), self.TAGS_FILE)
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_tags(self, tags: dict[str, int]) -> None:
        log = self._log_path()
        os.makedirs(log, exist_ok=True)
        tmp = os.path.join(log, f".tags-tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(tags, f)
        os.replace(tmp, os.path.join(log, self.TAGS_FILE))  # atomic swap

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a committed version under an immutable name — "the corpus
        training run X read" (Iceberg tags). Re-tagging the SAME version
        is idempotent; moving an existing tag is refused (tags are
        immutable pointers — delete_tag first, deliberately). Tagged
        versions survive vacuum() regardless of the retention window, so
        a tag is a durable reproducibility anchor, not a hint."""
        version = self._read_version() if version is None else version
        if version not in self._versions():
            raise ValueError(f"version {version} not in log")
        tags = self.tags()
        if name in tags and tags[name] != version:
            raise ValueError(
                f"tag {name!r} already points at version {tags[name]}; "
                "tags are immutable — delete_tag first"
            )
        tags[name] = version
        self._write_tags(tags)
        return version

    def delete_tag(self, name: str) -> None:
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"tag {name!r} does not exist")
        del tags[name]
        self._write_tags(tags)

    def resolve_tag(self, name: str) -> int:
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"tag {name!r} does not exist (have {sorted(tags)})")
        return tags[name]

    # -- reads ---------------------------------------------------------------

    def exists(self) -> bool:
        return bool(self._versions())

    def _live_buckets(self) -> set[int]:
        """Live bucket ids come from the CURRENT manifest, not from
        directory names at the table root (this layout has only ``_log/``
        and ``data/`` there). Without this override a shrinking
        re-bucketing compact would carry forward manifest entries for old
        bucket ids ≥ the new ``n_buckets`` — duplicating their rows next
        to the rewritten tree."""
        m = self._manifest()
        return {int(b) for b in m["buckets"]} if m else set()

    def read(
        self,
        buckets: list[int] | None = None,
        date_range: tuple[str, str] | None = None,
        version: int | None = None,
        where: tuple | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """``where=(col, lo, hi)`` adds zone-map pruning: buckets whose
        recorded [min, max] for ``col`` cannot intersect [lo, hi] are
        dropped at the MANIFEST layer (their files are never listed), and
        the residual ``BETWEEN`` filter still applies to the survivors —
        result-identical to filtering an unpruned read, cheaper by every
        skipped bucket. ``tag`` resolves a named snapshot (create_tag) —
        mutually exclusive with ``version``."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self.resolve_tag(tag)
        if date_range and not self.cfg.partition_field:
            raise ValueError("date_range requires cfg.partition_field")
        manifest = self._manifest(version)
        if manifest is None:
            return self.spark.createDataFrame([], T.StructType(self.schema.fields))
        entries = manifest["buckets"]
        if buckets is not None:
            wanted = {str(b) for b in buckets}
            entries = {b: d for b, d in entries.items() if b in wanted}
        if where is not None:
            col, lo, hi = where
            if col not in {f.name for f in self.schema.fields}:
                raise ValueError(f"where column '{col}' is not a target column")
            zmaps = manifest.get("stats", {})
            entries = {
                b: d
                for b, d in entries.items()
                if _range_overlaps(zmaps.get(b, {}).get(col), lo, hi)
            }
        dirs = [os.path.join(self.path, d) for d in entries.values()]
        if not dirs:
            return self.spark.createDataFrame([], T.StructType(self.schema.fields))
        df = self._read_dirs(dirs)
        if date_range is not None:
            d_lo, d_hi = date_range
            df = df.filter(
                F.col(PDATE_COL).between(
                    F.lit(d_lo).cast("date"), F.lit(d_hi).cast("date")
                )
            )
        if where is not None:
            col, lo, hi = where
            df = df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))
        drop = [PDATE_COL] if self.cfg.partition_field else []
        return df.drop(*drop)

    def _read_dirs(self, dirs: list[str]) -> DataFrame:
        """Scan the manifest-selected bucket directories. Each dir is
        ``…/data/<tree>/__bucket=N`` — sibling partition dirs need a
        common basePath, so the scan groups dirs by their commit tree
        (one basePath per tree, ≤ retained versions of them) and unions
        the groups. The bucket partition column parses from the path and
        is dropped (it is manifest metadata); the date layer stays for
        ``read``'s range filter."""
        from functools import reduce

        fields = T.StructType(self.schema.fields + self._partition_fields())
        groups: dict[str, list[str]] = {}
        for d in dirs:
            root = d.rsplit(f"/{BUCKET_COL}=", 1)[0]
            groups.setdefault(root, []).append(d)
        parts = [
            self.spark.read.schema(fields).option("basePath", root).parquet(*paths)
            for root, paths in groups.items()
        ]
        return reduce(lambda a, b: a.unionByName(b), parts).drop(BUCKET_COL)

    # -- commit ---------------------------------------------------------------

    def _commit(
        self,
        merged: DataFrame,
        affected: list[int],
        expected_version: int | None = None,
        sort_exprs: list | None = None,
    ) -> None:
        # claim the transactional-audit payload up front: a failed commit
        # must not leak it into a later (e.g. maintenance) commit
        txn, self._txn_payload = self._txn_payload, None
        v0 = self._read_version()
        new_version = (expected_version if expected_version is not None else v0) + 1
        tree = f"{self.DATA_DIR}/v{new_version}-{uuid.uuid4().hex[:8]}"
        staging = os.path.join(self.path, tree)
        merged = merged.repartition(max(len(affected), 1), F.col(BUCKET_COL))
        part_cols = [BUCKET_COL] + ([PDATE_COL] if self.cfg.partition_field else [])
        if sort_exprs is not None:
            merged = merged.sortWithinPartitions(*part_cols, *sort_exprs)
        elif self.cfg.clustering_fields:
            merged = merged.sortWithinPartitions(
                *part_cols, *[F.col(c) for c in self.cfg.clustering_fields]
            )
        try:
            merged.write.mode("errorifexists").partitionBy(*part_cols).parquet(staging)
        except BaseException:
            # a failed staging write leaves a partial, never-referenced
            # tree — reclaim it now instead of waiting for vacuum()
            shutil.rmtree(staging, ignore_errors=True)
            raise
        try:
            if self.pre_commit_hook is not None:
                self.pre_commit_hook()
            if expected_version is not None and self._read_version() != expected_version:
                raise ConcurrentWriteError(
                    f"target {self.path} advanced from version {expected_version} "
                    f"to {self._read_version()} since this merge read it; "
                    "the other writer's commit is intact — re-read and re-merge"
                )
            prev = self._manifest() or {"buckets": {}}
            written = {
                e.split("=", 1)[1]: f"{tree}/{e}"
                for e in os.listdir(staging)
                if e.startswith(f"{BUCKET_COL}=")
            }
            entries = {
                b: d for b, d in prev["buckets"].items() if int(b) not in set(affected)
            }
            entries.update(written)  # affected-but-empty buckets simply drop out
            # zone maps: harvest written buckets' footer stats; carry
            # unaffected buckets' stats forward alongside their entries
            zmaps = {
                b: s
                for b, s in prev.get("stats", {}).items()
                if int(b) not in set(affected)
            }
            for b in written:
                s = self._bucket_footer_stats(os.path.join(self.path, written[b]))
                if s:
                    zmaps[b] = s
            fps, fp_cols = self._harvest_fingerprints(prev, affected, written)
            manifest = {"version": new_version, "buckets": entries, "stats": zmaps}
            if fps or fp_cols:
                manifest["fps"] = fps
                manifest["fp_cols"] = fp_cols
            if txn is not None:
                # transactional audit (operators/txn_audit.py): the run
                # record becomes visible in the SAME publish as the data
                manifest["txn"] = txn
            self._publish(manifest, new_version)
        except ConcurrentWriteError:
            # losing writer: its tree was never referenced — reclaim now
            # rather than waiting for vacuum()
            shutil.rmtree(staging, ignore_errors=True)
            raise
        except BaseException:
            # any other pre-publish failure: reclaim only when the tree is
            # provably unreferenced — the published manifest (ours, if
            # _publish linked before raising; a racing writer's otherwise)
            # must not name it. Unreadable state keeps the tree for
            # vacuum() — never risk deleting a referenced commit.
            try:
                refs = ((self._manifest() or {}).get("buckets", {})).values()
                unreferenced = not self._tree_referenced(tree, refs)
            except Exception:
                unreferenced = False
            if unreferenced and self._prepare_capture is None:
                # (under prepare-capture a txn-staged manifest may already
                # reference the tree — even a partially-written one the
                # capture list doesn't record yet; leave it for the
                # coordinator's finalize/abort/recover to resolve)
                shutil.rmtree(staging, ignore_errors=True)
            raise

    #: opt-in content fingerprints for scan-free reconciliation
    #: (operators/reconcile.reconcile_snapshots): when True, every commit
    #: also records per-bucket (row_count, sum-of-row-hashes mod 2^60)
    #: over the just-written buckets, carried forward for unaffected ones
    #: exactly like the zone maps. Enable for the table's whole life —
    #: buckets committed while the flag was off have no entry and force a
    #: conservative descent during reconcile.
    harvest_fingerprints: bool = False

    def _harvest_fingerprints(
        self, prev: dict, affected: list[int], written: dict
    ) -> tuple[dict, list | None]:
        """Carry unaffected buckets' fingerprints forward; compute fresh
        ones for the written buckets when harvesting is on. One
        column-pruned read of the files this commit just wrote —
        ≤ len(affected) output rows; on a distributed deployment the
        write tasks would fold these into their commit messages (the
        Iceberg manifest pattern)."""
        from dataplatform_cdc_pipeline_spark.operators.reconcile import (
            _FP_MOD,
            row_hash,
        )

        my_cols = sorted(f.name for f in self.schema.fields)
        prev_cols = prev.get("fp_cols")
        fps = (
            {}
            if (prev_cols is not None and prev_cols != my_cols)
            # schema evolved: old fingerprints hash different columns —
            # drop them (conservative descent) rather than compare wrong
            else {
                b: v
                for b, v in prev.get("fps", {}).items()
                if int(b) not in set(affected)
            }
        )
        if not self.harvest_fingerprints:
            return fps, (my_cols if fps else None)
        if written:
            # every written entry lives under this commit's staging tree;
            # basePath there makes __bucket a discovered partition column
            tree = os.path.dirname(next(iter(written.values())))
            df = self.spark.read.option(
                "basePath", os.path.join(self.path, tree)
            ).parquet(*[os.path.join(self.path, p) for p in written.values()])
            h = df.select(
                F.col(BUCKET_COL).cast("int").alias("b"),
                row_hash(my_cols).alias("__h"),
            )
            rows = (
                h.groupBy("b")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    (F.sum(F.col("__h").cast("decimal(38,0)")) % F.lit(_FP_MOD))
                    .cast("long")
                    .alias("fp"),
                )
                .collect()
            )
            fps.update({str(r["b"]): [int(r["n"]), int(r["fp"])] for r in rows})
        return fps, my_cols

    def metadata_row_count(self, version: int | None = None) -> int:
        """COUNT(*) without touching a single data file — summed from the
        per-bucket fingerprint counts each commit recorded (the
        metadata-only count warehouses answer from their manifests).
        Requires ``harvest_fingerprints`` to have been on for the
        table's whole life: any live bucket without a fingerprint entry
        fails loudly — a silently partial count is worse than a scan."""
        m = self._manifest(version)
        if m is None:
            return 0
        fps = m.get("fps", {})
        missing = [b for b in m["buckets"] if b not in fps]
        if missing:
            raise ValueError(
                f"buckets {sorted(missing)} have no fingerprint entry "
                "(committed while harvest_fingerprints was off) — "
                "metadata count would be silently partial; scan instead"
            )
        return sum(int(fps[b][0]) for b in m["buckets"])

    #: columns zone-mapped at commit time: the clustering columns (already
    #: the sort keys inside each file, so their per-bucket ranges are the
    #: narrowest) — override per instance for ad-hoc layouts.
    @property
    def stats_fields(self) -> tuple[str, ...]:
        return tuple(self.cfg.clustering_fields)

    def _bucket_footer_stats(self, bucket_dir: str) -> dict:
        """Per-bucket {col: [min, max, null_count]} from the parquet
        FOOTERS of the just-written files (recursing into date subdirs).
        Metadata-only reads of files this commit created — the same
        manifest-build pass Iceberg runs; on a distributed deployment the
        write tasks would report these in their commit messages instead.
        Columns whose footers carry no stats are simply omitted
        (read() keeps bucket candidates without stats)."""
        if not self.stats_fields:
            return {}
        import glob as _glob

        import pyarrow.parquet as pq

        # per column: [min, max, null_count] merged over every row group;
        # voided (dropped → conservatively kept at read) if ANY row group
        # holding data lacks min/max stats
        agg: dict[str, list] = {}
        voided: set[str] = set()
        for f in _glob.glob(os.path.join(bucket_dir, "**", "*.parquet"), recursive=True):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
            for col in self.stats_fields:
                i = idx.get(col)
                if i is None or col in voided:
                    continue
                for rg in range(md.num_row_groups):
                    c = md.row_group(rg).column(i)
                    st = c.statistics
                    nulls = (
                        st.null_count if st is not None and st.has_null_count else None
                    )
                    if st is None or not st.has_min_max:
                        # min/max-less row group: fine if it is ALL nulls
                        # (contributes no range), voiding otherwise
                        if not (st is not None and st.has_null_count and st.num_values == 0):
                            voided.add(col)
                            continue
                        mn = mx = None
                    else:
                        mn, mx = _json_stat(st.min), _json_stat(st.max)
                    cur = agg.setdefault(col, [None, None, 0])
                    if mn is not None and (cur[0] is None or mn < cur[0]):
                        cur[0] = mn
                    if mx is not None and (cur[1] is None or mx > cur[1]):
                        cur[1] = mx
                    cur[2] = None if (cur[2] is None or nulls is None) else cur[2] + nulls
        return {c: v for c, v in agg.items() if c not in voided}

    def diff(self, v_old: int, v_new: int) -> DataFrame:
        """Change feed between two committed versions — what Delta calls
        CDF, derived after the fact from time travel: one row per changed
        key with ``_change_type`` ∈ insert/update/delete. Updates carry
        the NEW image, deletes the OLD one (the downstream-sync
        convention: apply the row under its change type and you reproduce
        v_new from v_old).

        Shape: one null-safe full-outer join of the two snapshots on the
        PK; 'unchanged' keys (identical full row both sides) drop out via
        a null-safe column comparison. Both snapshots are manifest-pinned
        immutable files, so the diff is stable no matter what commits
        land meanwhile."""
        # explicit presence markers: PK columns may legally be null (the
        # merge contract upserts null-PK rows into their own slot), so
        # side-presence cannot be inferred from PK nullness
        old = self.read(version=v_old).withColumn("__o", F.lit(True)).alias("o")
        new = self.read(version=v_new).withColumn("__n", F.lit(True)).alias("n")
        pk = list(self.cfg.pk)
        data_cols = [f.name for f in self.schema.fields]
        cond = None
        for c in pk:
            eq = old[c].eqNullSafe(new[c])
            cond = eq if cond is None else (cond & eq)
        j = old.join(new, cond, "full_outer")
        o_present = old["__o"].isNotNull()
        n_present = new["__n"].isNotNull()
        same = F.lit(True)
        for c in data_cols:
            same = same & old[c].eqNullSafe(new[c])
        change = (
            F.when(~o_present, F.lit("insert"))
            .when(~n_present, F.lit("delete"))
            .when(~same, F.lit("update"))
        )  # both present & identical -> NULL -> filtered (unchanged)
        side = F.when(change == "delete", F.lit("o")).otherwise(F.lit("n"))
        return (
            j.select(
                change.alias("_change_type"),
                *[
                    F.when(side == "o", old[c]).otherwise(new[c]).alias(c)
                    for c in data_cols
                ],
            )
            .filter(F.col("_change_type").isNotNull())
        )

    def change_feed(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Multi-version change feed — Delta's ``table_changes`` shape:
        for every committed version in (``v_from``, ``v_to``], the
        row-level changes that commit introduced (:meth:`diff` of the
        adjacent snapshots), tagged ``_commit_version``. ``v_to`` defaults
        to the latest published version. ``v_from`` = 0 reads from the
        empty pre-history, so the first segment is all-inserts.

        A downstream consumer that applies the feed in version order onto
        its copy of v_from reproduces v_to exactly — the incremental-sync
        contract this feed exists for. Each segment is one full-outer
        join of two manifest-pinned immutable snapshots; segments union
        without a barrier, so at scale the feed parallelizes across
        versions for free. Consecutive-version diffs are exactly the
        per-commit deltas (no change can hide: every commit is one
        manifest)."""
        if v_to is None:
            v_to = self._read_version()
        if not 0 <= v_from < v_to:
            raise ValueError(f"need 0 <= v_from < v_to, got ({v_from}, {v_to})")
        known = set(self._versions()) | {0}
        missing = [v for v in range(v_from, v_to + 1) if v not in known]
        if missing:
            raise ValueError(f"versions not in log (vacuumed?): {missing}")
        segments = []
        for v in range(v_from, v_to):
            if v == 0:
                # pre-history: every row of v1 is an insert
                seg = self.read(version=1).select(
                    F.lit("insert").alias("_change_type"),
                    *[F.col(f.name) for f in self.schema.fields],
                )
            else:
                seg = self.diff(v, v + 1)
            segments.append(seg.withColumn("_commit_version", F.lit(v + 1)))
        out = segments[0]
        for seg in segments[1:]:
            out = out.unionByName(seg)
        return out

    # -- maintenance ----------------------------------------------------------

    @staticmethod
    def _tree_version(tree: str) -> int | None:
        """Commit version encoded in a data-tree name (``v<version>-<id>``),
        or None for a name this class didn't produce."""
        if tree.startswith("v") and "-" in tree:
            head = tree[1:].split("-", 1)[0]
            if head.isdigit():
                return int(head)
        return None

    def vacuum(self, retain_last: int = 2) -> list[str]:
        """Delete data trees unreferenced by the last ``retain_last``
        manifests (older manifests are pruned with them — their snapshots
        become unreadable, like Delta VACUUM breaking old time travel).

        Concurrency guard: data trees are written BEFORE their manifest
        publishes them, so an unreferenced tree whose encoded version is
        AHEAD of the latest published manifest belongs to an in-flight
        writer — deleting it would let that writer publish a manifest
        referencing dead files, voiding the CAS guarantee. Those trees are
        skipped (a crashed writer's ahead-tree is reclaimed by a later
        vacuum once commits advance past its version — Delta's retention
        window plays the same role). Trees at or below the latest version
        that no retained manifest references (losers of a CAS race,
        pruned-manifest trees) are reclaimed; unrecognizable names are
        never touched."""
        if retain_last < 1:
            raise ValueError(
                "vacuum: retain_last must be >= 1 — retaining zero manifests "
                "would delete the CURRENT version's data"
            )
        if self._branch_name is not None:
            raise ValueError(
                "vacuum runs on the MAIN table ref, not a branch — the data/ "
                "root is shared and liveness must be judged across main, "
                "tags, and every branch at once"
            )
        vs = self._versions()
        latest = vs[-1] if vs else 0
        # tagged versions are durable reproducibility anchors: they (and
        # their trees) survive any retention window until the tag is
        # deleted — Iceberg's tag-aware expiration
        tagged = {v for v in self.tags().values() if v in vs}
        keep_vs = sorted(set(vs[-retain_last:]) | tagged)
        live: set[str] = set()
        for v in keep_vs:
            for d in self._manifest(v)["buckets"].values():
                live.add(d.split(f"/{BUCKET_COL}=", 1)[0])
        # live branches pin their trees: a branch's snapshots must stay
        # readable (and mergeable) until the branch is deleted
        live |= self._branch_live_trees()
        removed = []
        data_root = os.path.join(self.path, self.DATA_DIR)
        if os.path.isdir(data_root):
            for tree in os.listdir(data_root):
                rel = f"{self.DATA_DIR}/{tree}"
                if rel in live:
                    continue
                tv = self._tree_version(tree)
                if tv is None or tv > latest:
                    continue  # foreign name / in-flight writer's staging
                shutil.rmtree(os.path.join(data_root, tree), ignore_errors=True)
                removed.append(rel)
        for v in vs:
            if v not in keep_vs:
                os.unlink(os.path.join(self._log_path(), f"{v:012d}.json"))
        return removed
