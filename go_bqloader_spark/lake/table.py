"""Snapshot-versioned lake table: the engine's Iceberg-compatible sink.

The north-star sink is an Iceberg table (``MERGE INTO`` + snapshot commits).
This container has no Iceberg runtime jar, so the engine ships a
parquet-backed table format with the same guarantees behind the same
interface (SURVEY.md §7 names this exact fallback):

- **Atomic snapshot commits** — every mutation writes new immutable data
  files plus a new JSON manifest, then atomically swaps a ``LATEST`` pointer
  (``os.replace``). Readers see either the old or the new snapshot, never a
  mix. Time travel = read any retained manifest version.
- **Bucket partitioning + pruning** — rows are hash-bucketed on ``url``
  (``pmod(xxhash64(url), n_buckets)``, the Iceberg ``bucket(N, url)``
  transform). Merges touch only the buckets their change batch maps to;
  untouched buckets carry over by manifest reference (the file-pruning
  analog). At 10^10 rows with n_buckets=4096 a batch touching 3 domains
  touches a handful of buckets, not the table.
- **Two write modes** (Iceberg copy-on-write vs merge-on-read):
  * ``mor`` (default) — merge APPENDS the deduped winners as delta files
    per bucket, never reading the base: write cost O(batch) — this is what
    sustains CDC apply throughput at 10^10 events. Reads resolve
    base+deltas with the same LWW resolver (``_lww``); ``compact()`` folds
    a bucket's entries back to a single base file (run it every N batches
    or when ``entries_per_bucket`` exceeds a threshold).
  * ``cow`` — merge writes the same delta, then rewrites the buckets it
    touched with the compaction rewrite and commits that rewrite in place
    of the buckets; the delta dir is deleted. Read-optimized; write cost
    O(bucket).
- **Exactly-once offset ledger** — the manifest embeds applied
  ``(query_id, batch_id)`` keys; a merge whose batch key is present is a
  no-op. Ledger entry and data land in ONE atomic pointer swap, so
  redelivered ``foreachBatch`` batches (at-least-once) cannot double-apply.
  The reference has no such protection (duplicate event ⇒ duplicate rows,
  ``/root/reference/loader.go:33-60``).
- **Tombstones** — a delete persists as a hidden ``_deleted`` row so a
  late-replayed OLDER insert/update cannot resurrect the key; ``read()``
  hides them; ``compact(expire_tombstones=True)`` drops them once replay
  has passed.
- **Schema evolution** — fields carry stable ids (Iceberg-style); add /
  rename are manifest-only commits; old data files are reconciled on read
  by id→current-name mapping with NULL fill.
- **Lineage metrics** — every merge embeds per-bucket applied-offset
  watermarks and row counts in its manifest (the Notifier analog,
  ``/root/reference/notifier.go:17-19``), so lineage commits atomically
  with the data and costs no extra Spark job; resumable replay = max
  applied seq per bucket (``resume_watermarks``).

Shuffle budget per merge: mor moves the wide payload across the memory bus
exactly ONCE (a single exchange on bucket; dedup is a within-partition sort
+ lag filter because bucket = f(url) already co-locates every key). cow
adds the rewrite: the affected buckets are read back, resolved by the same
resolver (one exchange on the key hash) and exchanged once more on bucket
for the key-sorted write. The engine is
bandwidth-frugal by design — at cluster scale network bytes are the merge
bottleneck, and in this sandbox the shared memory bus plays that role
(measured: ~5 GB/s aggregate; see BENCH/BASELINE.md).
"""

from __future__ import annotations

import base64
import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_bqloader_spark.lake.fsio import LocalFS

SEQ_COL = "_seq"
DELETED_COL = "_deleted"
_MANIFESTS = "_manifests"
_LINEAGE = "_lineage"
_LATEST = "LATEST"

_DDL_TO_SPARK = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "bigint": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "date": T.DateType(),
    "boolean": T.BooleanType(),
}


def _spark_type(ddl: str) -> T.DataType:
    return _DDL_TO_SPARK[ddl]


_AQE_CONF = "spark.sql.adaptive.enabled"
_aqe_lock = threading.Lock()
_aqe_depth = 0
_aqe_saved = "true"


@contextmanager
def _no_aqe(spark: SparkSession):
    """Run an action without adaptive query execution, restoring the
    caller's setting after. The merge write is a FIXED-shape plan — an
    explicit bucket repartition AQE can neither coalesce nor re-plan,
    feeding a partitioned write — so AQE's per-query re-optimization is
    pure latency here: measured ~65 ms per micro-batch, 10% of the
    bench merge loop (min-of-3 4.85 s vs 5.38 s). Queries keep AQE on
    (skew-join handling, partition coalescing); only the merge-path
    actions opt out.

    The toggle is a session conf shared by every writer thread, so
    overlapping users are counted under a lock: the outermost entry
    saves the caller's value and only the last exit restores it. A
    query another thread plans meanwhile runs without AQE — a
    performance-only effect that ends with the last merge action."""
    global _aqe_depth, _aqe_saved
    with _aqe_lock:
        if _aqe_depth == 0:
            _aqe_saved = spark.conf.get(_AQE_CONF, "true")
            spark.conf.set(_AQE_CONF, "false")
        _aqe_depth += 1
    try:
        yield
    finally:
        with _aqe_lock:
            _aqe_depth -= 1
            if _aqe_depth == 0:
                spark.conf.set(_AQE_CONF, _aqe_saved)


class CommitConflict(RuntimeError):
    """Another writer committed between this writer's snapshot read and its
    manifest CAS. Recoverable: ``merge()`` retries automatically (MoR delta
    appends rebase at the manifest level without rewriting data; CoW
    re-merges against the fresh snapshot). Maintenance rewrites
    (``compact``/``rebucket``/schema DDL) surface it to the caller — their
    output is derived from the superseded snapshot, so a blind re-commit
    could drop a concurrent merge's rows; re-run the operation instead."""


@dataclass
class MergeStats:
    version: int
    skipped: bool
    affected_buckets: list[int]
    rows_upserted: int
    rows_deleted: int
    max_seq: int | None


class LakeTable:
    """A snapshot-versioned, bucket-partitioned upsert table.

    All metadata IO goes through a filesystem seam (:class:`LocalFS` by
    default) so the commit protocol — CAS manifest create + atomic pointer
    publish — ports to object stores (S3 conditional PUT, GCS generation
    match) without touching table logic."""

    # auto-compact a query's ledger once it holds this many batch entries
    LEDGER_HORIZON = 256

    def __init__(self, spark: SparkSession, path: str, fs=None):
        self.spark = spark
        self.path = path
        self.fs = fs or LocalFS()
        # manifests are immutable once committed — cache by version so
        # chain walks (metrics/history) re-read each file at most once
        self._mcache: dict[int, dict[str, Any]] = {}
        # entry-group files are immutable too — cache by name; successive
        # manifests share almost all of their groups
        self._gcache: dict[str, dict[str, Any]] = {}

    # ------------------------------------------------------------- create
    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        columns: list[tuple[str, str]],
        key: list[str] | None = None,
        n_buckets: int = 32,
        bucket_col: str = "url",
        write_mode: str = "mor",
        bloom_bits: int = 0,
        max_manifest_groups: int = 64,
        fs=None,
    ) -> "LakeTable":
        """Create an empty table. ``columns`` = [(name, ddl_type), ...].

        Engine columns always appended: ``_seq`` (last applied change seq
        per row — LWW tiebreaker + per-row lineage watermark) and
        ``_deleted`` (tombstone marker).

        ``bloom_bits`` > 0 additionally stores a per-data-file Bloom
        filter over the FULL key tuple in the manifest (``bloom_bits``
        bits, 2 hash probes), enabling planning-time file pruning for
        point lookups (``read(point=...)``) beyond what the min/max zone
        maps can do — a hash-distributed key inside one bucket spans the
        whole zone range, but its Bloom still excludes most files. Costs:
        ~``bloom_bits/6`` bytes of manifest per live file entry, and MoR
        merges take the narrow Spark read-back pass instead of reading
        parquet footers. False-positive rate for a file with n distinct keys is
        ``(1 - exp(-2n/bits))^2`` — size bits ≳ 10n for ~3%.
        """
        assert write_mode in ("mor", "cow")
        key = key or ["url", "warc_ts"]
        fs = fs or LocalFS()
        fs.makedirs(os.path.join(path, _MANIFESTS))
        fields = [
            {"id": i + 1, "name": n, "type": t} for i, (n, t) in enumerate(columns)
        ]
        fields.append({"id": 0, "name": SEQ_COL, "type": "bigint"})
        fields.append({"id": -1, "name": DELETED_COL, "type": "boolean"})
        manifest = {
            # 3 = bucket entries live in immutable per-commit GROUP files
            # (manifest lists them; commit metadata is O(delta)); format-2
            # manifests with inline "buckets" are still readable
            "format_version": 3,
            "version": 0,
            "parent": None,
            "schema_version": 0,
            "schemas": {"0": fields},
            "key": key,
            "bucket_col": bucket_col,
            "n_buckets": n_buckets,
            "write_mode": write_mode,
            "buckets": {},
            "ledger": {},
            # all batch ids <= ledger_floor[qid] are committed (compacted
            # ledger entries fold into this watermark)
            "ledger_floor": {},
            # per-bucket max applied seq, rolled forward on every merge so
            # resume reads ONE manifest instead of walking the chain
            "watermarks": {},
            # manifest-level zone maps: per data-file min/max of these
            # columns, for planning-time file pruning (reading 10^6
            # parquet FOOTERS to skip files is itself a scan at 100 TB;
            # the manifest answers without touching storage). Restricted
            # to KEY columns: every version of a key shares its key
            # values, so pruning on them can never split a key across
            # kept/skipped files and MoR LWW resolution stays exact.
            "zone_cols": [c for c in key],
            # per-file key Bloom filters (0 = disabled): see create() doc
            "bloom_bits": int(bloom_bits),
            # bound on live entry-group files per manifest (0 = never
            # coalesce): when a commit's pruned group list exceeds this,
            # the oldest groups fold into ONE consolidated group so
            # manifest resolution stays O(max_groups + entries) on tables
            # that commit far more often than they compact
            "max_manifest_groups": int(max_manifest_groups),
            "summary": {"operation": "create"},
        }
        t = LakeTable(spark, path, fs=fs)
        t._write_manifest(manifest, expected_parent=None)
        return t

    # ---------------------------------------------------------- manifests
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFESTS, f"v{version:08d}.json")

    def current_version(self) -> int:
        return int(self.fs.read_text(os.path.join(self.path, _MANIFESTS, _LATEST)).strip())

    def manifest(self, version: int | None = None) -> dict[str, Any]:
        if version is None:
            version = self.current_version()
        m = self._mcache.get(version)
        if m is None:
            m = self._resolve_manifest(
                json.loads(self.fs.read_text(self._manifest_path(version)))
            )
            self._mcache[version] = m
        return m

    # ---------------------------------------------------- entry groups
    # A format-3 manifest does not inline the bucket->entries map: each
    # commit writes ONE immutable group file holding only the entries it
    # ADDED (and the bucket ids it REPLACED), and the manifest lists the
    # group files that are still live. Commit metadata is therefore
    # O(delta + #groups), not O(table): a steady-state MoR append writes
    # one entry per touched bucket instead of re-serializing every
    # accumulated entry (with its zone bounds and Bloom blob) on every
    # commit — the same reason Iceberg splits snapshots into manifest
    # files. Readers fold the groups in order (replaces drop earlier
    # entries for a bucket, adds append) and the resolved map is cached
    # per version; group files are cached by name and shared across
    # versions. Compaction/rebucket replace whole buckets, after which
    # fully-shadowed older groups are pruned from the list.

    def _load_group(self, gname: str) -> dict[str, Any]:
        g = self._gcache.get(gname)
        if g is None:
            g = json.loads(
                self.fs.read_text(os.path.join(self.path, _MANIFESTS, gname))
            )
            self._gcache[gname] = g
        return g

    def _fold_groups(self, gnames: list[str]) -> dict[str, list]:
        """bucket -> entries after folding ``gnames`` in order: a group's
        replaces drop the bucket's earlier entries, its adds append."""
        buckets: dict[str, list] = {}
        for gname in gnames:
            g = self._load_group(gname)
            for b in g.get("replaces", []):
                buckets.pop(str(b), None)
            for b, es in g.get("adds", {}).items():
                buckets.setdefault(b, []).extend(es)
        return buckets

    def _resolve_manifest(self, mj: dict[str, Any]) -> dict[str, Any]:
        if "buckets" in mj:  # format-2 / hand-inlined manifest
            return mj
        return dict(mj, buckets=self._fold_groups(mj.get("groups", [])))

    @staticmethod
    def _diff_buckets(
        parent_b: dict[str, list], new_b: dict[str, list]
    ) -> tuple[dict[str, list], list[str]]:
        """adds/replaces such that folding them onto ``parent_b`` yields
        ``new_b``. Appended entries become adds (the common fast path — a
        delta commit); anything else (rewrite, truncation, removal)
        replaces the bucket."""
        adds: dict[str, list] = {}
        replaces: list[str] = []
        for b, es in new_b.items():
            pes = parent_b.get(b)
            if pes is None:
                if es:
                    adds[b] = list(es)  # copy: never alias a cached
                    # manifest's live entry list into the group dict
                    # (ADVICE r5, low — _gcache/_mcache share lists
                    # otherwise and an in-place caller mutation would
                    # silently diverge the caches from disk)
                continue
            if es == pes:
                continue
            if len(es) >= len(pes) and es[: len(pes)] == pes:
                adds[b] = es[len(pes):]
            else:
                replaces.append(b)
                if es:
                    adds[b] = list(es)
        for b, pes in parent_b.items():
            if b not in new_b and pes:
                replaces.append(b)
        return adds, replaces

    def _coalesce_prefix(
        self, groups: list[str], version: int, keep_tail: int
    ) -> list[str]:
        """Fold the oldest groups into ONE consolidated group file so the
        live-group list stays bounded on tables that commit far more often
        than they compact (the Iceberg manifest-merge analog). Metadata
        only — no data files move. The prefix starts the fold, so its net
        effect is pure adds; the newest ``keep_tail`` delta groups are
        kept as-is so steady-state commits keep writing O(delta) files.
        Amortized cost per commit is O(table_entries / (max_groups/2));
        the superseded group files become unreferenced by the NEW manifest
        and are GC'd by expire_snapshots once no retained manifest lists
        them."""
        prefix, tail = groups[:-keep_tail], groups[-keep_tail:]
        buckets = self._fold_groups(prefix)
        if not buckets:
            return tail
        g = {"adds": buckets, "replaces": []}
        gname = f"g{version:08d}_m{uuid.uuid4().hex[:11]}.json"
        self.fs.write_atomic(
            os.path.join(self.path, _MANIFESTS, gname), json.dumps(g)
        )
        self._gcache[gname] = g
        return [gname] + tail

    def _prune_groups(self, groups: list[str]) -> list[str]:
        """Drop groups fully shadowed by later replaces (e.g. everything
        before a whole-table compaction or a rebucket)."""
        covered: set[str] = set()
        keep: list[str] = []
        for gname in reversed(groups):
            g = self._load_group(gname)
            adds = set(g.get("adds", {}))
            reps = {str(b) for b in g.get("replaces", [])}
            if covered and adds <= covered and reps <= covered:
                continue
            keep.append(gname)
            covered |= reps
        return list(reversed(keep))

    def _externalize_buckets(
        self, manifest: dict[str, Any]
    ) -> tuple[dict[str, Any], dict[str, Any]]:
        """Split a manifest built with inline ``buckets`` into (serialized
        form without them + the delta group file written to disk, resolved
        in-memory form)."""
        parent = manifest.get("parent")
        if parent is None:
            parent_buckets: dict[str, list] = {}
            parent_groups: list[str] = []
        else:
            pm = self.manifest(parent)
            parent_buckets = pm["buckets"]
            parent_groups = list(pm.get("groups", []))
            if "groups" not in pm:
                # legacy format-2 parent (ADVICE r5, high): its entries
                # live ONLY inline in the parent manifest file — there is
                # no group file a cold reader could resolve them from.
                # Diff against {} so this first format-3 commit captures
                # the parent's full resolved state as the migration group;
                # diffing against the inline buckets would serialize only
                # the delta and silently drop every pre-existing entry for
                # any reader without this writer's warm cache.
                parent_buckets = {}
        adds, replaces = self._diff_buckets(parent_buckets, manifest["buckets"])
        groups = parent_groups
        if adds or replaces:
            gname = f"g{manifest['version']:08d}_{uuid.uuid4().hex[:12]}.json"
            g = {"adds": adds, "replaces": replaces}
            self.fs.write_atomic(
                os.path.join(self.path, _MANIFESTS, gname), json.dumps(g)
            )
            self._gcache[gname] = g
            groups = self._prune_groups(groups + [gname])
            maxg = int(manifest.get("max_manifest_groups", 64) or 0)
            if maxg and len(groups) > maxg:
                groups = self._coalesce_prefix(
                    groups, manifest["version"], max(maxg // 2, 1)
                )
        serialized = {k: v for k, v in manifest.items() if k != "buckets"}
        serialized["groups"] = groups
        return serialized, dict(manifest, groups=groups)

    def _walk_chain(self):
        """Yield manifests newest-first, stopping at the expiry horizon
        (a parent whose manifest file was expired/GC'd)."""
        v = self.current_version()
        while v is not None:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                return
            yield m
            v = m["parent"]

    def history(self) -> list[dict[str, Any]]:
        out = [
            {"version": m["version"], "summary": m["summary"]}
            for m in self._walk_chain()
        ]
        return list(reversed(out))

    def _write_manifest(self, manifest: dict[str, Any], expected_parent: int | None) -> None:
        """Commit a manifest: CAS-create the immutable version file (two
        racing writers cannot both create vN+1 — ``create_exclusive`` is
        the linearization point), then atomically publish LATEST.

        A crash BETWEEN the CAS create and the LATEST publish would
        otherwise wedge the table forever (LATEST says vN, every retry
        recomputes vN+1 and loses the CAS). On a CAS loss we therefore
        inspect the existing file: a *valid* manifest whose parent is the
        current LATEST is a completed-but-unpublished commit — roll LATEST
        forward to it (finishing the interrupted writer's publish), then
        report the conflict so the caller re-merges against the repaired
        state. An *invalid/partial* file (a writer died mid-create on a
        filesystem without atomic exclusive-create) is an orphan: delete it
        and retry our own CAS once."""
        latest = os.path.join(self.path, _MANIFESTS, _LATEST)
        if expected_parent is not None:
            current = self.current_version()
            if current != expected_parent:
                raise CommitConflict(
                    f"concurrent commit detected: expected parent {expected_parent}, "
                    f"found {current}"
                )
        mpath = self._manifest_path(manifest["version"])
        serialized, resolved = self._externalize_buckets(manifest)
        for attempt in range(2):
            try:
                self.fs.create_exclusive(mpath, json.dumps(serialized))
                break
            except FileExistsError as e:
                repaired = self._repair_orphan_manifest(mpath, manifest["version"])
                if repaired == "retry" and attempt == 0:
                    continue
                raise CommitConflict(
                    f"concurrent commit detected: manifest v{manifest['version']} "
                    "already exists (another writer committed first"
                    + ("; LATEST rolled forward to it" if repaired == "published" else "")
                    + ")"
                ) from e
        # monotonic publish: a stalled writer waking up after later commits
        # landed must not roll LATEST backward (fsio.publish_if_newer docs)
        self.fs.publish_if_newer(latest, manifest["version"])
        self._mcache[manifest["version"]] = resolved

    def _repair_orphan_manifest(self, mpath: str, version: int) -> str:
        """Handle an existing vN+1 file found at CAS time. Returns
        ``"published"`` (valid unpublished commit — LATEST rolled forward),
        ``"retry"`` (partial orphan deleted — CAS may be retried), or
        ``"committed"`` (already published; nothing to repair)."""
        latest = os.path.join(self.path, _MANIFESTS, _LATEST)
        def _load():
            try:
                m = json.loads(self.fs.read_text(mpath))
                return m, m.get("version") == version and "parent" in m
            except (ValueError, OSError):
                return None, False

        existing, valid = _load()
        if not valid:
            # Re-read before deleting: on a store without atomic
            # exclusive-create, the first read may have caught a concurrent
            # writer's file mid-flight — deleting it would silently drop
            # that writer's committed manifest. Only after the content is
            # invalid on BOTH reads do we treat it as a dead writer's
            # partial orphan. (LocalFS stages+links, so a partial here can
            # only be genuine corruption.)
            existing, valid = _load()
            if not valid:
                self.fs.delete(mpath)
                return "retry"
        try:
            current = self.current_version()
        except FileNotFoundError:
            current = None  # table create itself was interrupted pre-publish
        if (current is None or current < version) and existing["parent"] == current:
            # completed commit that never published: finish its publish.
            # publish_if_newer re-checks under the pointer lock, so if a
            # concurrent writer raced us past `version` between the
            # current_version() read and here, LATEST is left alone
            # instead of being rolled backward (ADVICE r3 TOCTOU).
            self.fs.publish_if_newer(latest, version)
            self._mcache[version] = self._resolve_manifest(existing)
            return "published"
        return "committed"

    # -------------------------------------------------------------- schema
    def schema_fields(self, m: dict[str, Any] | None = None) -> list[dict[str, Any]]:
        m = m or self.manifest()
        return m["schemas"][str(m["schema_version"])]

    def spark_schema(self, m: dict[str, Any] | None = None) -> T.StructType:
        return T.StructType(
            [T.StructField(f["name"], _spark_type(f["type"])) for f in self.schema_fields(m)]
        )

    def add_column(self, name: str, ddl_type: str) -> None:
        m = self.manifest()
        fields = [dict(f) for f in self.schema_fields(m)]
        if name in (SEQ_COL, DELETED_COL) or name.startswith("_"):
            raise ValueError(f"column name {name} is reserved (engine columns)")
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name} exists")
        new_id = max(f["id"] for f in fields) + 1
        # keep the engine columns (_seq, _deleted) last
        fields.insert(len(fields) - 2, {"id": new_id, "name": name, "type": ddl_type})
        self._commit_schema(m, fields, f"add column {name} {ddl_type}")

    # lossless promotions only (Iceberg's type-evolution matrix): every
    # value representable in the old type is exactly representable in the
    # new one, so old files reconcile with a cast and no rewrite
    _WIDENINGS = {
        ("int", "bigint"),
        ("int", "double"),
        ("float", "double"),
        ("date", "timestamp"),
    }

    # bucket-column widenings that leave ``_bucket_expr`` routing intact:
    # the expr hashes integers at a canonical bigint width, so int->bigint
    # is hash-invariant by construction. Everything else is rejected —
    # xxhash64(double) differs from the int's hash, and cast(date as
    # timestamp) is session-timezone-dependent, so either would silently
    # route a widened key's updates into a different bucket than its
    # stored versions (ADVICE r4: duplicate/stale rows on pruned reads).
    _BUCKET_SAFE_WIDENINGS = {("int", "bigint")}

    def widen_column(self, name: str, new_type: str) -> None:
        """Widen a column's type in place (metadata-only — no data files
        rewritten; readers cast old files up on reconcile). Only the
        lossless promotions in ``_WIDENINGS`` are allowed. The BUCKET
        column is stricter: only promotions that provably keep
        ``_bucket_expr`` output unchanged (``_BUCKET_SAFE_WIDENINGS`` —
        int→bigint, which the expr already hashes at bigint width) are
        accepted; any other promotion would re-route existing keys to new
        buckets and corrupt pruned reads / MoR resolution."""
        m = self.manifest()
        fields = [dict(f) for f in self.schema_fields(m)]
        for f in fields:
            if f["name"] == name:
                if name in (SEQ_COL, DELETED_COL):
                    raise ValueError(f"cannot widen engine column {name}")
                if (f["type"], new_type) not in self._WIDENINGS:
                    raise ValueError(
                        f"unsupported widening {f['type']} -> {new_type}; "
                        f"allowed: {sorted(self._WIDENINGS)}"
                    )
                if m["bucket_col"] == name and \
                        (f["type"], new_type) not in self._BUCKET_SAFE_WIDENINGS:
                    raise ValueError(
                        f"cannot widen the bucket column {f['type']} -> "
                        f"{new_type}: bucket hashes would change and move "
                        "existing keys to different buckets; only "
                        f"{sorted(self._BUCKET_SAFE_WIDENINGS)} is "
                        "hash-invariant"
                    )
                if self._bloom_bits(m) and name in m["key"] and \
                        (f["type"], new_type) not in self._BLOOM_SAFE_WIDENINGS:
                    raise ValueError(
                        f"cannot widen bloom'd key column {f['type']} -> "
                        f"{new_type}: stored Bloom filters hashed the old "
                        "width, so probes would false-negative and point "
                        f"reads would MISS rows; only "
                        f"{sorted(self._BLOOM_SAFE_WIDENINGS)} keeps the "
                        "probe hash stable"
                    )
                f["type"] = new_type
                break
        else:
            raise ValueError(f"no column {name}")
        self._commit_schema(m, fields, f"widen {name} -> {new_type}")

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column. Engine columns are immutable; renaming a key or
        bucket column atomically rewrites ``key``/``bucket_col`` in the
        same manifest commit so merges keep resolving (a rename must never
        strand the structural pointers at the old name)."""
        if old in (SEQ_COL, DELETED_COL):
            raise ValueError(f"cannot rename engine column {old}")
        if new in (SEQ_COL, DELETED_COL) or new.startswith("_"):
            raise ValueError(f"column name {new} is reserved (engine columns)")
        m = self.manifest()
        fields = [dict(f) for f in self.schema_fields(m)]
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new} exists")
        for f in fields:
            if f["name"] == old:
                f["name"] = new
                break
        else:
            raise ValueError(f"no column {old}")
        structural = {
            "key": [new if k == old else k for k in m["key"]],
            "bucket_col": new if m["bucket_col"] == old else m["bucket_col"],
            # zone maps follow the rename too: existing entry bounds keyed
            # by the old name simply stop matching (files keep, never
            # mis-prune) and new commits record under the new name
            "zone_cols": [new if c == old else c for c in m.get("zone_cols", [])],
        }
        self._commit_schema(m, fields, f"rename {old} -> {new}", structural)

    def _commit_schema(
        self,
        m: dict[str, Any],
        fields: list[dict],
        op: str,
        structural: dict[str, Any] | None = None,
    ) -> None:
        sv = m["schema_version"] + 1
        self._commit_child(
            m, {"operation": op}, schema_version=sv,
            schemas=dict(m["schemas"], **{str(sv): fields}), **(structural or {}),
        )

    def _commit_child(self, m: dict[str, Any], summary: dict[str, Any], **fields) -> None:
        """Commit the child of snapshot ``m`` that a schema DDL, compact or
        rebucket derives from it: no lineage metrics, and a lost CAS
        surfaces as :class:`CommitConflict` (see its docs)."""
        self._write_manifest(
            dict(m, version=m["version"] + 1, parent=m["version"], metrics=[],
                 summary=summary, **fields),
            expected_parent=m["version"],
        )

    # ---------------------------------------------------------------- read
    # ---------------------------------------------------------- zone maps
    def _zone_cols(self, m: dict[str, Any]) -> list[str]:
        """Zone columns that exist with an orderable primitive type."""
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        return [
            c for c in m.get("zone_cols", [])
            if types.get(c) in ("string", "bigint", "int", "double", "timestamp", "date")
        ]

    def _zone_expr(self, m: dict[str, Any], c: str) -> F.Column:
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        col = F.col(c)
        # temporal zone bounds are stored in the manifest as fixed-width
        # ints (epoch micros / epoch days): JSON has no timestamp or date
        # type — a raw datetime.date would crash json.dumps at commit
        # (ADVICE r4) — and ints compare exactly on the read side
        if types[c] == "timestamp":
            return F.unix_micros(col)
        if types[c] == "date":
            return F.unix_date(col)
        return col

    @staticmethod
    def _zone_overlaps(entry: dict[str, Any], zones: dict[str, tuple]) -> bool:
        """Can this data file contain a row inside every requested range?
        Missing bounds (legacy entries, all-null columns) keep the file —
        pruning is only ever an optimization, never a correctness filter."""
        ez = entry.get("zones") or {}
        for c, (lo, hi) in zones.items():
            if c not in ez:
                continue
            zmn, zmx = ez[c]
            if (hi is not None and zmn > hi) or (lo is not None and zmx < lo):
                return False
        return True

    # ----------------------------------------------------- key bloom filters
    # Two probe positions per key (k=2), derived from xxhash64 over the
    # typed key columns with distinct seeds — the SAME expression computes
    # the write-side filter and the read-side probe (the probe runs a
    # 1-row Spark job), so there is no cross-engine canonicalization to
    # drift. collect_set is bounded by bloom_bits distinct positions per
    # file, so the aggregation state is O(bits), not O(rows).
    _BLOOM_SEEDS = (0x51ED, 0x00C0FFEE)

    def _bloom_bits(self, m: dict[str, Any]) -> int:
        return int(m.get("bloom_bits", 0) or 0)

    # widenings of a bloom'd KEY column that keep the probe hash stable
    # under the canonical casts below (int/bigint hash at bigint width,
    # float/double at double width — xxhash64 is width-sensitive, the
    # same trap as _bucket_expr / ADVICE r4)
    _BLOOM_SAFE_WIDENINGS = {("int", "bigint"), ("float", "double")}

    def _bloom_pos_exprs(self, m: dict[str, Any]) -> list[F.Column]:
        bits = self._bloom_bits(m)
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        cols = []
        for k in m["key"]:
            c = F.col(k)
            if types.get(k) in ("int", "bigint"):
                c = c.cast("bigint")
            elif types.get(k) in ("float", "double"):
                c = c.cast("double")
            cols.append(c)
        return [
            F.pmod(F.xxhash64(*cols, F.lit(s)), F.lit(bits)).cast("long")
            for s in self._BLOOM_SEEDS
        ]

    def _bloom_aggs(self, m: dict[str, Any]) -> list[F.Column]:
        p0, p1 = self._bloom_pos_exprs(m)
        return [
            F.collect_set(p0).alias("__bl0"),
            F.collect_set(p1).alias("__bl1"),
        ]

    def _blooms_from_rows(self, m: dict[str, Any], rows) -> dict[int, str]:
        bits = self._bloom_bits(m)
        out: dict[int, str] = {}
        for r in rows:
            positions = set(r["__bl0"] or []) | set(r["__bl1"] or [])
            if not positions:
                continue
            ba = bytearray((bits + 7) // 8)
            for p in positions:
                ba[p >> 3] |= 1 << (p & 7)
            out[int(r["b"])] = base64.b64encode(bytes(ba)).decode()
        return out

    @staticmethod
    def _bloom_may_contain(entry: dict[str, Any], positions: list[int]) -> bool:
        """False only when the file PROVABLY lacks the key. Entries
        without a filter (legacy files, disabled tables) are kept —
        like zone maps, pruning is an optimization, never a correctness
        filter."""
        enc = entry.get("bloom")
        if not enc:
            return True
        ba = base64.b64decode(enc)
        return all(ba[p >> 3] & (1 << (p & 7)) for p in positions)

    def _point_probe(self, m: dict[str, Any], point: dict[str, Any]):
        """One 1-row Spark job computes the point key's bucket AND its
        Bloom probe positions with the exact write-side expressions."""
        if sorted(point) != sorted(m["key"]):
            raise ValueError(
                f"point lookup needs the full key {m['key']}; got {sorted(point)}"
            )
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        ddl = ", ".join(f"{k} {types[k]}" for k in m["key"])
        one = self.spark.createDataFrame(
            [tuple(point[k] for k in m["key"])], ddl
        )
        # the bucket is computable only when the bucket column is part of
        # the key (the normal CDC layout); otherwise fall back to
        # bloom-only pruning across all buckets
        has_bucket = m["bucket_col"] in m["key"]
        sel = [self._bucket_expr(m).alias("__b")] if has_bucket else []
        if self._bloom_bits(m):
            sel += [
                e.alias(f"__p{i}") for i, e in enumerate(self._bloom_pos_exprs(m))
            ]
        if not sel:
            return None, []
        r = one.select(*sel).collect()[0]
        positions = (
            [r["__p0"], r["__p1"]] if self._bloom_bits(m) else []
        )
        return (int(r["__b"]) if has_bucket else None), positions

    def _read_raw(
        self,
        m: dict[str, Any],
        buckets: list[int] | None,
        zones: dict[str, tuple] | None = None,
        bloom_positions: list[int] | None = None,
    ) -> DataFrame | None:
        """Union all data files (schema-reconciled), no LWW resolution."""
        current = self.schema_fields(m)
        groups: dict[str, list[str]] = {}
        for b, entries in m["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            for e in entries:
                if zones and not self._zone_overlaps(e, zones):
                    continue
                if bloom_positions and not self._bloom_may_contain(e, bloom_positions):
                    continue
                groups.setdefault(str(e["schema_version"]), []).append(
                    os.path.join(self.path, e["path"])
                )
        if not groups:
            return None
        parts = []
        for sv, paths in groups.items():
            file_fields = {f["id"]: f for f in m["schemas"][sv]}
            df = self.spark.read.parquet(*paths)
            cols = []
            for f in current:
                old = file_fields.get(f["id"])
                if old is not None:
                    c = F.col(old["name"])
                    if old["type"] != f["type"]:
                        # type widening (widen_column): old files cast up
                        # to the current type on read — lossless by the
                        # _WIDENINGS contract, no file rewrite
                        c = c.cast(_spark_type(f["type"]))
                    if f["name"] == DELETED_COL:
                        # data files store tombstones as TRUE-or-NULL so
                        # footer null_count gives exact deleted counts;
                        # readers always see the historical false/true
                        c = F.coalesce(c, F.lit(False))
                    cols.append(c.alias(f["name"]))
                else:
                    cols.append(F.lit(None).cast(_spark_type(f["type"])).alias(f["name"]))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _needs_resolve(self, m: dict[str, Any], buckets: list[int] | None) -> bool:
        return any(
            len(entries) > 1
            for b, entries in m["buckets"].items()
            if buckets is None or int(b) in buckets
        )

    @staticmethod
    def _lww(
        rows: DataFrame, key: list[str], part: str | None = None,
        n_parts: int | None = None,
    ) -> DataFrame:
        """The table's one last-writer-wins resolver, used by MoR and CoW
        merges, reads, compaction and rebucket: one exchange on ``part``
        (a column every version of a key shares; ``None`` = the key hash
        itself; ``n_parts`` fixes the partition count, as a bucketed write
        needs), a within-partition sort on ``(xxhash64(key), key, _seq
        DESC, _deleted DESC)`` and a ``lag`` filter that keeps the first
        row of each key. The 8-byte hash leads the sort so almost every
        comparison resolves radix-style instead of walking long shared
        url prefixes, and the filter needs no second exchange.

        Tie rule: at equal ``(key, _seq)`` a tombstone wins, so a
        redelivered delete still beats the row it deleted; any other
        same-seq rows are verbatim redeliveries and either one is the
        winner. ``_deleted`` is TRUE-or-NULL in a merge batch and
        TRUE/FALSE once read back; DESC (nulls last) orders both alike."""
        kh = F.xxhash64(*[F.col(k) for k in key])
        part = kh if part is None else F.col(part)
        rows = rows.repartition(n_parts, part) if n_parts else rows.repartition(part)
        w = W.partitionBy(part).orderBy(
            kh, *key, F.col(SEQ_COL).desc(), F.col(DELETED_COL).desc()
        )
        # lag(1) is NULL only on a partition's first row, which is always a
        # first-of-key, even when every key column is NULL
        first = F.lag(F.lit(1)).over(w).isNull()
        for k in key:
            first = first | ~F.lag(k).over(w).eqNullSafe(F.col(k))
        return rows.withColumn("__first", first).filter("__first").drop("__first")

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        zones: dict[str, tuple] | None = None,
        point: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Read a snapshot. In mor mode, base+delta files are resolved with
        ``_lww`` (skipped automatically when every bucket has a single
        base entry). Tombstones are hidden unless requested.

        ``zones={"col": (lo, hi)}`` restricts the read to rows whose KEY
        column falls in [lo, hi] (either bound may be None), pruning data
        files by manifest zone maps BEFORE any storage access — at 10^6
        files this skips both the listing and the parquet footer reads
        that engine-side pushdown would still pay. Timestamp columns take
        epoch-micros ints; date columns take epoch-day ints. Only key
        columns are allowed: all versions of
        a key share its key values, so a file either holds every surviving
        version of an in-range key or none of it, and MoR LWW resolution
        over the kept files is exact. The same range is re-applied as a
        row filter post-resolution, so the result is exactly the filtered
        table, not a superset.

        ``point={key_col: value, ...}`` (full key tuple) is the point
        lookup: one tiny Spark job maps the key to its bucket and Bloom
        probe positions, the scan is pruned to that ONE bucket and (when
        the table was created with ``bloom_bits``) to the files whose
        Bloom may contain the key, then the exact key-equality filter and
        the usual LWW resolve run over the survivors. On a 10^5-file
        table this reads a handful of files instead of a bucket's worth;
        without blooms it still prunes to the bucket. Mutually exclusive
        with ``buckets``/``zones``."""
        return self._read(self.manifest(version), buckets, include_deleted, zones, point)

    def _read(
        self,
        m: dict[str, Any],
        buckets: list[int] | None,
        include_deleted: bool,
        zones: dict[str, tuple] | None = None,
        point: dict[str, Any] | None = None,
    ) -> DataFrame:
        """:meth:`read` over a manifest dict — also one that was never
        committed, like the CoW rewrite's base-plus-delta snapshot."""
        bloom_positions: list[int] | None = None
        if point is not None:
            if buckets is not None or zones is not None:
                raise ValueError("point is mutually exclusive with buckets/zones")
            b, bloom_positions = self._point_probe(m, point)
            buckets = [b] if b is not None else None
        if zones:
            zc = set(self._zone_cols(m))
            bad = [c for c in zones if c not in zc]
            if bad:
                raise ValueError(
                    f"zones only prune key columns {sorted(zc)}; got {bad} "
                    "(non-key pruning would split keys across kept/skipped "
                    "files and break LWW resolution)"
                )
        raw = self._read_raw(m, buckets, zones, bloom_positions)
        if raw is None:
            empty = self.spark.createDataFrame([], self.spark_schema(m))
            return empty if include_deleted else empty.drop(DELETED_COL)
        if point is not None:
            for k, v in point.items():
                raw = raw.filter(F.col(k).eqNullSafe(F.lit(v)))
        if zones:
            for c, (lo, hi) in zones.items():
                e = self._zone_expr(m, c)
                if lo is not None:
                    raw = raw.filter(e >= lo)
                if hi is not None:
                    raw = raw.filter(e <= hi)
        if self._needs_resolve(m, buckets):
            raw = self._lww(raw, m["key"])
        if not include_deleted:
            raw = raw.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(
                DELETED_COL
            )
        return raw

    # --------------------------------------------------------------- merge
    def _bucket_expr(self, m: dict[str, Any]) -> F.Column:
        # integer bucket columns hash at a canonical bigint width:
        # xxhash64 hashes int and bigint to DIFFERENT values (verified:
        # xxhash64(5 as int) != xxhash64(5 as bigint)), so without the
        # cast a widen_column(int->bigint) would re-route every existing
        # key's future updates into a different bucket (ADVICE r4). The
        # cast is free (fits the codegen'd hash call) and makes the
        # int->bigint promotion hash-invariant from table creation.
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        col = F.col(m["bucket_col"])
        if types.get(m["bucket_col"]) in ("int", "bigint"):
            col = col.cast("bigint")
        return F.pmod(F.xxhash64(col), F.lit(m["n_buckets"])).cast("int")

    def bucket_ids(self, keys: DataFrame, m: dict[str, Any]) -> list[int]:
        """Sorted distinct bucket ids of ``keys`` (a frame holding the
        bucket column) under snapshot ``m``'s layout — one small collect.
        Read with these ids only from ``m`` itself: another layout (after
        a rebucket) puts the same keys in other buckets."""
        return sorted(
            r["__b"]
            for r in keys.select(self._bucket_expr(m).alias("__b")).distinct().collect()
        )

    def tombstones_for(self, keys: DataFrame, m: dict[str, Any]) -> DataFrame:
        """Delete changes for the live rows of snapshot ``m`` whose key is
        in ``keys`` (a frame of the key columns): ``op='D'``, ``seq`` one
        above the stored row's ``_seq``, and the key columns — ``merge()``
        NULL-fills the payload. Every maintenance delete is built here.

        ``m`` is the snapshot the caller decided on. Reading it, and not
        the latest one, lets a change committed after the decision (with
        a higher seq) outrank the tombstone, and keeps the bucket pruning
        right when a rebucket commits in between. The read is narrow
        (key + ``_seq``; parquet prunes the payload columns) and opens
        only the victims' buckets; key equality is NULL-safe. ``keys`` is
        evaluated twice (bucket ids, then the join): materialize it when
        it is costly to compute."""
        key = m["key"]
        victims = keys.select(*[F.col(k).alias(f"__k{i}") for i, k in enumerate(key)])
        match = [F.col(k).eqNullSafe(F.col(f"__k{i}")) for i, k in enumerate(key)]
        stored = self._read(m, self.bucket_ids(keys, m), False).select(*key, SEQ_COL)
        return stored.join(victims, match, "semi").select(
            F.lit("D").alias("op"), (F.col(SEQ_COL) + 1).alias("seq"), *key
        )

    @staticmethod
    def _committed_in(m: dict[str, Any], query_id: str, batch_id: int) -> bool:
        if batch_id <= m.get("ledger_floor", {}).get(query_id, -1):
            return True
        return str(batch_id) in m["ledger"].get(query_id, {})

    def committed(self, query_id: str, batch_id: int) -> bool:
        return self._committed_in(self.manifest(), query_id, batch_id)

    def _advance_ledger(
        self, m: dict[str, Any], batch_key: tuple[str, int] | None, max_seq
    ) -> tuple[dict, dict]:
        """Record the batch in the ledger; once a query holds more than
        ``LEDGER_HORIZON`` entries, fold the contiguous committed prefix
        into ``ledger_floor`` (membership stays exact — only batch ids
        provably below the floor are dropped), so the ledger is O(horizon)
        instead of O(total batches) at 10^10-event replay scale."""
        ledger = {q: dict(v) for q, v in m["ledger"].items()}
        floors = dict(m.get("ledger_floor", {}))
        if batch_key is not None:
            qid, bid = batch_key
            ledger.setdefault(qid, {})[str(bid)] = max_seq
            entries = ledger[qid]
            if len(entries) > self.LEDGER_HORIZON:
                floor = floors.get(qid, -1)
                while str(floor + 1) in entries:
                    del entries[str(floor + 1)]
                    floor += 1
                floors[qid] = floor
        return ledger, floors

    def _align_changes(self, m: dict[str, Any], changes: DataFrame) -> DataFrame:
        """Normalize change columns to the current schema (NULL-fill absent
        columns — how a pre-evolution replay writes a post-evolution
        schema)."""
        proj = [F.col("op"), F.col("seq")]
        for f in self.schema_fields(m):
            if f["name"] in (SEQ_COL, DELETED_COL):
                continue
            if f["name"] in changes.columns:
                proj.append(F.col(f["name"]))
            else:
                proj.append(F.lit(None).cast(_spark_type(f["type"])).alias(f["name"]))
        return changes.select(*proj)

    def merge(
        self,
        changes: DataFrame,
        batch_key: tuple[str, int] | None = None,
        commit_retries: int = 3,
    ) -> MergeStats:
        """Apply a change batch: LWW upsert + delete, exactly-once.

        ``changes`` columns: ``op ('I'|'U'|'D'), seq`` + data columns.

        Optimistic concurrency: when another writer commits between this
        merge's snapshot read and its manifest CAS, the merge retries up to
        ``commit_retries`` times. A MoR delta append rebases at the
        MANIFEST level — the written files stay valid under any interleaved
        merge/compact/schema commit (entries pin their schema_version and
        bucket membership is layout-stable), so the retry is a metadata
        re-write, not a Spark job. A CoW merge (or a MoR append that raced
        a rebucket) recomputes against the fresh snapshot. Exactly-once
        holds under contention: every retry re-checks the ledger, and a
        batch_key another writer landed first returns ``skipped`` with the
        stale data dir removed. ``commit_retries=0`` restores fail-fast
        (raises :class:`CommitConflict`)."""
        last: CommitConflict | None = None
        for _ in range(commit_retries + 1):
            try:
                return self._merge_once(changes, batch_key, commit_retries)
            except CommitConflict as e:
                last = e
        raise last

    def _merge_once(
        self,
        changes: DataFrame,
        batch_key: tuple[str, int] | None,
        commit_retries: int,
    ) -> MergeStats:
        m = self.manifest()
        if batch_key is not None and self._committed_in(m, *batch_key):
            return MergeStats(m["version"], True, [], 0, 0, None)

        data_cols = [
            f["name"]
            for f in self.schema_fields(m)
            if f["name"] not in (SEQ_COL, DELETED_COL)
        ]
        changes = self._align_changes(m, changes)
        # Single-payload-shuffle path: the resolver exchanges the wide rows
        # once, by BUCKET — bucket = f(url) co-locates every key, so its
        # sort + lag keeps the LWW winners without a second exchange and
        # the write comes out clustered by bucket. Hot DOMAINS spread
        # across buckets by url-hash; the sort absorbs hot-KEY skew in
        # O(n log n) with spill (no per-key reducer to pin). _deleted is
        # stored TRUE-or-NULL (NULL = live): the parquet footer's exact
        # per-chunk null_count then yields the tombstone count without a
        # read-back job (see _footer_stats_zones); _read_raw normalizes
        # NULL back to false, so every reader sees plain booleans.
        rows = changes.select(
            *data_cols,
            F.col("seq").alias(SEQ_COL),
            F.when(F.col("op") == "D", F.lit(True)).alias(DELETED_COL),
            self._bucket_expr(m).alias("b"),
        )
        out_rows = self._lww(rows, m["key"], "b", m["n_buckets"])
        return self._finish_merge(m, out_rows, batch_key, commit_retries)

    # zone-col types whose parquet footer min/max are EXACT mirrors of the
    # manifest representation (_zone_expr): int64/int32 raw values, and
    # fixed-width temporal raw values (timestamp-micros == unix_micros,
    # date32 days == unix_date). Strings are excluded (writers may
    # truncate binary stats) and doubles are excluded (parquet stats omit
    # NaN; Spark's max sorts NaN greatest — the bounds could disagree).
    _FOOTER_ZONE_TYPES = ("bigint", "int", "timestamp", "date")

    def _footer_stats_zones(
        self,
        out_dir: str,
        written: list[int],
        m: dict[str, Any],
        zone_cols: list[str],
    ):
        """Per-bucket lineage stats + zone bounds from parquet FOOTER
        metadata — zero Spark jobs (guide §1.2: the stats read-back was
        ~35% of the MoR merge wall; footers hold the same numbers).

        Requires the TRUE-or-NULL ``_deleted`` coding (tombstones =
        footer ``num_values - null_count``) and int-backed zone cols.
        Returns ``(stats_rows, zones)`` or ``None`` when pyarrow or any
        needed statistic is missing — the caller then falls back to the
        Spark read-back, so this is only ever an optimization, never a
        correctness dependency."""
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        if any(types.get(c) not in self._FOOTER_ZONE_TYPES for c in zone_cols):
            return None
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None

        stats_rows: list[tuple] = []
        zones: dict[int, dict[str, list]] = {}
        for b in sorted(written):
            bdir = os.path.join(out_dir, f"b={b}")
            n = deleted = 0
            mx_seq = None
            zb: dict[str, list] = {c: [None, None] for c in zone_cols}
            for fname in self.fs.listdir(bdir):
                if not fname.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(bdir, fname))
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                if SEQ_COL not in idx or DELETED_COL not in idx or any(
                    c not in idx for c in zone_cols
                ):
                    return None
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    n += g.num_rows
                    dc = g.column(idx[DELETED_COL])
                    dst = dc.statistics
                    if dst is None or not dst.has_null_count:
                        return None
                    deleted += dc.num_values - dst.null_count
                    sst = g.column(idx[SEQ_COL]).statistics
                    if sst is None or not sst.has_min_max:
                        return None
                    mx_seq = sst.max if mx_seq is None else max(mx_seq, sst.max)
                    for c in zone_cols:
                        zc = g.column(idx[c])
                        zst = zc.statistics
                        if zst is None:
                            return None
                        if not zst.has_min_max:
                            # skip only a provably all-null chunk (Spark's
                            # min/max skip nulls too); values without
                            # bounds would record bounds narrower than
                            # the data and mis-prune reads
                            if zst.has_null_count and zst.null_count == zc.num_values:
                                continue
                            return None
                        lo, hi = zst.min_raw, zst.max_raw
                        cur = zb[c]
                        cur[0] = lo if cur[0] is None else min(cur[0], lo)
                        cur[1] = hi if cur[1] is None else max(cur[1], hi)
            if n:
                stats_rows.append((b, mx_seq, n - deleted, deleted))
                z = {c: v for c, v in zb.items() if v[0] is not None}
                if z:
                    zones[b] = z
        return stats_rows, zones

    def _derive_stats(
        self,
        out_dir: str,
        written: list[int],
        m: dict[str, Any],
        zone_cols: list[str],
        bloom: bool,
    ) -> tuple[list[tuple], dict[int, dict[str, list]], dict[int, str]]:
        """The one stats routine for every lake write: per-bucket lineage
        stats ``(b, max _seq, upserted, deleted)``, zone bounds and key
        Blooms of a freshly written commit dir. Parquet footers first
        (zero Spark jobs; local filesystem only — an object-store fs
        would add a ranged-GET footer method). When a footer lacks a
        needed statistic, or Blooms are asked for, one narrow
        column-pruned Spark read-back computes all three in one pass."""
        if not written:
            return [], {}, {}
        if not bloom and type(self.fs) is LocalFS:
            footer = self._footer_stats_zones(out_dir, written, m, zone_cols)
            if footer is not None:
                return footer[0], footer[1], {}
        back_cols = dict.fromkeys(
            ["b", SEQ_COL, DELETED_COL, *zone_cols] + (m["key"] if bloom else [])
        )
        agged = (
            self.spark.read.parquet(out_dir)
            .select(*back_cols)
            .groupBy("b")
            .agg(
                F.max(SEQ_COL).alias("mx"),
                F.count(F.lit(1)).alias("n"),
                # a tombstone-free bucket sums NULL under TRUE-or-NULL
                F.coalesce(F.sum(F.col(DELETED_COL).cast("long")), F.lit(0)).alias("dl"),
                *[F.min(self._zone_expr(m, c)).alias(f"__zmn_{c}") for c in zone_cols],
                *[F.max(self._zone_expr(m, c)).alias(f"__zmx_{c}") for c in zone_cols],
                *(self._bloom_aggs(m) if bloom else []),
            )
        )
        with _no_aqe(self.spark):
            rows = agged.collect()
        stats_rows = [(int(r["b"]), r["mx"], r["n"] - r["dl"], r["dl"]) for r in rows]
        zones: dict[int, dict[str, list]] = {}
        for r in rows:
            # all-null zone cols have no bounds; readers keep such files
            z = {c: [r[f"__zmn_{c}"], r[f"__zmx_{c}"]] for c in zone_cols
                 if r[f"__zmn_{c}"] is not None}
            if z:
                zones[int(r["b"])] = z
        blooms = self._blooms_from_rows(m, rows) if bloom else {}
        return stats_rows, zones, blooms

    def _commit_dir(self, m: dict[str, Any], tag: str = "") -> tuple[str, str]:
        """(table-relative, absolute) path of a new commit's data dir. The
        c%08d prefix is the version it is written FOR (expire_snapshots'
        in-flight guard relies on it)."""
        rel = os.path.join("data", f"c{m['version'] + 1:08d}_{uuid.uuid4().hex[:12]}{tag}")
        return rel, os.path.join(self.path, rel)

    def _written(self, out_dir: str) -> list[int]:
        return sorted(
            int(d.split("=", 1)[1]) for d in self.fs.listdir(out_dir) if d.startswith("b=")
        )

    @staticmethod
    def _entries(
        m: dict[str, Any],
        rel: str,
        written: list[int],
        zones: dict[int, dict[str, list]],
        blooms: dict[int, str],
    ) -> dict[int, dict[str, Any]]:
        """The manifest entry of each bucket dir a commit wrote.
        ``schema_version`` pins the snapshot the files were WRITTEN under
        (m, not a later rebase base), so readers resolve them against the
        schema their parquet footers actually carry."""
        out: dict[int, dict[str, Any]] = {}
        for b in written:
            e = {"path": os.path.join(rel, f"b={b}"), "schema_version": m["schema_version"]}
            if b in zones:
                e["zones"] = zones[b]
            if b in blooms:
                e["bloom"] = blooms[b]
            out[b] = e
        return out

    def _rewrite(
        self, m: dict[str, Any], rows: DataFrame, n_parts: int, tag: str = ""
    ) -> tuple[str, list[tuple], dict[int, dict[str, Any]]]:
        """The bucket rewrite shared by compact, rebucket and CoW merges:
        resolved ``rows`` (data..., _seq, _deleted, b) are exchanged once
        on bucket and key-sorted within each bucket file, so parquet
        row-group min/max on the key columns are tight and zone-filtered
        reads skip row groups, not just whole buckets. The merge hot path
        deliberately sorts by key HASH (radix-fast, but key-random row
        groups); a rewrite is the place to pay for key clustering — same
        split as Iceberg's sort-order rewrite. Rewrites record full zone
        bounds (strings included) and Blooms. Returns ``(out_dir,
        stats_rows, entries)``."""
        rel, out_dir = self._commit_dir(m, tag)
        (
            rows.withColumn(DELETED_COL, F.when(F.col(DELETED_COL), F.lit(True)))
            .repartition(max(n_parts, 1), F.col("b"))
            .sortWithinPartitions("b", *m["key"])
            .write.partitionBy("b")
            .mode("overwrite")
            .parquet(out_dir)
        )
        written = self._written(out_dir)
        stats_rows, zones, blooms = self._derive_stats(
            out_dir, written, m, self._zone_cols(m), self._bloom_bits(m) > 0
        )
        return out_dir, stats_rows, self._entries(m, rel, written, zones, blooms)

    def _finish_merge(
        self,
        m: dict[str, Any],
        out_rows: DataFrame,
        batch_key: tuple[str, int] | None,
        commit_retries: int = 3,
    ) -> MergeStats:
        """Write the resolved batch ``out_rows`` (cols: data..., _seq,
        _deleted, b) as one delta dir, derive its lineage stats with
        ``_derive_stats`` (footers first, else one Spark read-back), and
        commit the manifest atomically.

        A mor merge commits the delta as appended entries. A cow merge
        then rewrites the buckets the delta touched (``_rewrite`` over a
        snapshot that includes the delta), commits that rewrite in place
        of those buckets, and deletes the delta dir whether the commit
        landed or lost its CAS."""
        rel, out_dir = self._commit_dir(m)
        with _no_aqe(self.spark):
            out_rows.write.partitionBy("b").mode("overwrite").parquet(out_dir)
        affected = self._written(out_dir)
        if not affected:  # empty batch: nothing written, ledger-only commit
            self.fs.delete(out_dir)
            return self._commit_merge(m, out_dir, {}, [], [], False, batch_key, commit_retries)
        replace = m.get("write_mode", "cow") == "cow"
        # string zone bounds are skipped on DELTA appends: keys are
        # hash-scattered within a bucket, so a delta file's string min/max
        # spans ~the whole key range and never prunes, while computing it
        # forces the read-back to scan the long url strings (measured 33%
        # of the read-back pass). Numeric/temporal bounds stay (batches
        # correlate with event time — they DO prune). A cow delta is never
        # committed, so it needs its lineage stats only.
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        zone_cols = [] if replace else [
            c for c in self._zone_cols(m) if types[c] != "string"
        ]
        bloom = self._bloom_bits(m) > 0 and not replace
        stats_rows, zones, blooms = self._derive_stats(out_dir, affected, m, zone_cols, bloom)
        new_entries = self._entries(m, rel, affected, zones, blooms)
        delta_dir = out_dir if replace else None
        try:
            if replace:
                with_delta = {b: list(es) for b, es in m["buckets"].items()}
                for b, e in new_entries.items():
                    with_delta.setdefault(str(b), []).append(e)
                rows = self._read(
                    dict(m, buckets=with_delta), affected, include_deleted=True
                ).withColumn("b", self._bucket_expr(m))
                out_dir, _, new_entries = self._rewrite(m, rows, len(affected))
            return self._commit_merge(
                m, out_dir, new_entries, stats_rows, affected, replace,
                batch_key, commit_retries,
            )
        finally:
            if delta_dir is not None:
                self.fs.delete(delta_dir)

    def _commit_merge(
        self,
        m: dict[str, Any],
        out_dir: str,
        new_entries: dict[int, dict[str, Any]],
        stats_rows: list[tuple],
        affected: list[int],
        replace: bool,
        batch_key: tuple[str, int] | None,
        commit_retries: int,
    ) -> MergeStats:
        """Commit a merge's new entries, lineage stats and ledger entry as
        one manifest; an empty batch commits no entries (ledger only)."""
        rows_upserted = sum(r[2] for r in stats_rows)
        rows_deleted = sum(r[3] for r in stats_rows)
        max_seq = max((r[1] for r in stats_rows), default=None)
        qid, bid = batch_key if batch_key else ("", -1)

        def _build(base: dict[str, Any]) -> dict[str, Any]:
            new_buckets = {b: list(es) for b, es in base["buckets"].items()}
            if replace:
                for b in affected:
                    new_buckets.pop(str(b), None)
            for b, e in new_entries.items():
                new_buckets.setdefault(str(b), []).append(e)

            ledger, floors = self._advance_ledger(base, batch_key, max_seq)
            # roll the per-bucket applied-seq watermark forward so resume
            # reads exactly ONE manifest (no chain walk)
            wms = dict(base.get("watermarks", {}))
            for b, mx, _up, _dl in stats_rows:
                if mx is not None and (str(b) not in wms or mx > wms[str(b)]):
                    wms[str(b)] = mx
            return dict(
                base,
                version=base["version"] + 1,
                parent=base["version"],
                buckets=new_buckets,
                ledger=ledger,
                ledger_floor=floors,
                watermarks=wms,
                # per-bucket lineage metrics ride in the manifest: no extra
                # Spark job per batch, and they commit atomically WITH the
                # data
                metrics=[
                    [base["version"] + 1, qid, bid, b, mx, up, dl]
                    for (b, mx, up, dl) in stats_rows
                ],
                summary={
                    "operation": "merge",
                    "mode": base.get("write_mode", "cow"),
                    "affected_buckets": len(affected),
                    "rows_upserted": rows_upserted,
                    "rows_deleted": rows_deleted,
                    "max_seq": max_seq,
                },
            )

        # optimistic commit: a CAS loss means another writer landed a
        # version on our parent. A delta append (replace=False) is
        # REBASEABLE — the written files are valid under any interleaved
        # merge/compact/schema commit, so the retry rebuilds only the
        # manifest on the fresh snapshot. A bucket-REPLACEMENT commit is
        # not: its output resolves the buckets as of snapshot m, and
        # rebasing would silently drop rows a concurrent merge added to an
        # affected bucket — recompute instead (merge() owns that loop).
        base = m
        for attempt in range(commit_retries + 1):
            m2 = _build(base)
            try:
                self._write_manifest(m2, expected_parent=base["version"])
                return MergeStats(
                    m2["version"], False, affected, rows_upserted, rows_deleted, max_seq
                )
            except CommitConflict:
                fresh = self.manifest()
                # exactly-once under contention: another writer (a restarted
                # driver, a competing replay) may have committed THIS batch
                if batch_key is not None and self._committed_in(fresh, *batch_key):
                    self.fs.delete(out_dir)
                    return MergeStats(fresh["version"], True, [], 0, 0, None)
                rebase_safe = (
                    not replace
                    # a concurrent rebucket changed the layout: our b= dirs
                    # no longer match bucket membership
                    and fresh["n_buckets"] == m["n_buckets"]
                    and fresh["bucket_col"] == m["bucket_col"]
                )
                if not rebase_safe or attempt >= commit_retries:
                    self.fs.delete(out_dir)
                    raise
                base = fresh
        raise AssertionError("unreachable")  # loop always returns or raises

    # ------------------------------------------------------------- compact
    def entries_per_bucket(self) -> dict[int, int]:
        m = self.manifest()
        return {int(b): len(e) for b, e in m["buckets"].items()}

    def compact(
        self,
        buckets: list[int] | None = None,
        expire_tombstones: bool = False,
        min_entries: int = 2,
    ) -> int:
        """Fold a bucket's base+delta entries into one resolved base file.

        Returns the number of buckets compacted. ``expire_tombstones``
        additionally drops tombstone rows — only safe once no replay can
        deliver seqs older than the tombstones (e.g. after a full replay
        or when the offset ledger bounds redelivery).
        """
        m = self.manifest()
        targets = [
            int(b)
            for b, entries in m["buckets"].items()
            if (buckets is None or int(b) in buckets) and len(entries) >= min_entries
        ]
        if not targets:
            return 0
        resolved = self._read(m, targets, include_deleted=True)
        if expire_tombstones:
            resolved = resolved.filter(~F.col(DELETED_COL))
        _, _, entries = self._rewrite(
            m, resolved.withColumn("b", self._bucket_expr(m)), len(targets), "_compact"
        )
        new_buckets = {b: list(es) for b, es in m["buckets"].items()}
        for b in targets:
            new_buckets.pop(str(b), None)
        for b, e in entries.items():
            new_buckets[str(b)] = [e]
        self._commit_child(
            m, {"operation": "compact", "buckets": len(targets)}, buckets=new_buckets
        )
        return len(targets)

    def rebucket(self, n_buckets: int) -> int:
        """Partition evolution: change the bucket count in ONE atomic
        commit (full rewrite — bucket membership is ``pmod(xxhash64(url),
        n)``, so every row can move). Re-derives the per-bucket watermark
        map under the new bucketing in the same narrow pass that computes
        the new lineage stats, so ``resume_watermarks()`` stays O(1) and
        correct across the evolution. Use when the table outgrows its
        bucket count (hot buckets, oversized files) — the CDC analog of
        Iceberg's partition-spec evolution, except eager: this format
        addresses files THROUGH bucket ids, so lazy multi-spec reads
        would put a spec-dispatch on every read; a one-time rewrite keeps
        the read path single-spec."""
        m = self.manifest()
        if n_buckets == m["n_buckets"]:
            return 0
        rows = self._read(m, None, include_deleted=True).withColumn(
            "b", self._bucket_expr(dict(m, n_buckets=n_buckets))
        )
        _, stats_rows, entries = self._rewrite(m, rows, n_buckets, "_rebucket")
        self._commit_child(
            m, {"operation": "rebucket", "n_buckets": n_buckets},
            n_buckets=n_buckets,
            buckets={str(b): [e] for b, e in entries.items()},
            watermarks={str(b): mx for b, mx, _up, _dl in stats_rows},
        )
        return len(entries)

    # -------------------------------------------------------------- metrics
    _METRICS_SCHEMA = (
        "commit_version bigint, query_id string, batch_id bigint, bucket int, "
        "applied_max_seq bigint, rows_upserted bigint, rows_deleted bigint"
    )

    def metrics(self) -> DataFrame:
        """Lineage/metrics table: one row per (commit, bucket). Recent rows
        ride in the manifest chain (committed atomically with each merge);
        rows whose manifests were expired live in the parquet spill table
        under ``_lineage/`` — the union is the complete history."""
        rows = []
        for m in self._walk_chain():
            rows.extend(tuple(r) for r in m.get("metrics", []))
        df = self.spark.createDataFrame(rows, self._METRICS_SCHEMA)
        spill = os.path.join(self.path, _LINEAGE)
        if self.fs.exists(spill) and any(
            f.endswith(".parquet") for f in self.fs.listdir(spill)
        ):
            df = self.spark.read.schema(self._METRICS_SCHEMA).parquet(spill).unionByName(df)
        return df

    def resume_watermarks(self) -> dict[int, int]:
        """Per-bucket max applied seq — the resumable-replay watermark.
        O(1): read from the rolled-forward map in the LATEST manifest (no
        chain walk — bounded regardless of commit count)."""
        return {int(b): s for b, s in self.manifest().get("watermarks", {}).items()}

    def read_changes_since(
        self, seq: int, include_deleted: bool = True
    ) -> DataFrame:
        """Downstream-consumer incremental read: current SURVIVOR rows
        whose last applied change is newer than ``seq`` (exclusive) —
        i.e. "what changed since my checkpoint", tombstones included by
        default so consumers can propagate deletes. Resolution runs
        BEFORE the seq filter (a row whose key was later re-updated shows
        its latest state once, not every intermediate version). Buckets
        whose manifest watermark is <= ``seq`` are pruned without any
        storage access — an idle consumer on a mostly-cold table reads
        nothing but the manifest."""
        # ONE manifest read pins both the watermark pruning and the data
        # read to the same snapshot: deriving hot bucket ids from one
        # version and lazily reading another (e.g. after a concurrent
        # rebucket) would prune the new layout with stale ids
        m = self.manifest()
        wms = {int(b): s for b, s in m.get("watermarks", {}).items()}
        hot = [b for b, mx in wms.items() if mx > seq]
        return self._read(m, hot, include_deleted).filter(F.col(SEQ_COL) > seq)

    # --------------------------------------------------------------- expiry
    def expire_snapshots(
        self, keep_n: int = 10, orphan_grace_sec: float = 24 * 3600
    ) -> dict[str, int]:
        """Truncate the manifest chain to the newest ``keep_n`` snapshots
        and GC data files no retained snapshot references.

        Expired manifests' lineage metrics are spilled to the parquet
        ``_lineage/`` table first, so ``metrics()`` stays complete. Without
        expiry an endless-tail deployment accumulates one manifest + delta
        files per batch forever; with it, metadata and storage are bounded
        by ``keep_n`` + live data. Time travel below the horizon is gone —
        that is the point."""
        chain = list(self._walk_chain())
        if len(chain) <= keep_n:
            # full stats shape even on the short-chain early return
            # (ADVICE r5, low: callers index 'group_files_removed')
            return {"expired": 0, "data_dirs_removed": 0,
                    "group_files_removed": 0}
        retained, expired = chain[:keep_n], chain[keep_n:]

        rows = [tuple(r) for m in expired for r in m.get("metrics", [])]
        if rows:
            spill = os.path.join(self.path, _LINEAGE)
            self.fs.makedirs(spill)
            self.spark.createDataFrame(rows, self._METRICS_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(spill)

        referenced = {
            e["path"]
            for m in retained
            for entries in m["buckets"].values()
            for e in entries
        }
        for m in expired:
            self.fs.delete(self._manifest_path(m["version"]))
            self._mcache.pop(m["version"], None)

        # entry-group GC: groups referenced by NO retained manifest are
        # dead (expired history, or a CAS-losing writer's orphan) — same
        # age grace as data dirs, since an in-flight commit writes its
        # group before its manifest CAS. Version guard (ADVICE r5,
        # medium), mirroring the data-dir GC's: a group whose g%08d
        # prefix is ABOVE the newest retained version belongs to a
        # CAS-committed-but-unpublished manifest (crashed writer) that
        # _repair_orphan_manifest may still validate and publish —
        # deleting its group would leave LATEST pointing at an
        # unresolvable snapshot.
        now = time.time()
        current = retained[0]["version"]
        refg = {g for m in retained for g in m.get("groups", [])}
        groups_removed = 0
        mdir = os.path.join(self.path, _MANIFESTS)
        for f in self.fs.listdir(mdir):
            if not (f.startswith("g") and f.endswith(".json")) or f in refg:
                continue
            try:
                if int(f[1:9]) > current:
                    continue
            except ValueError:
                pass
            gp = os.path.join(mdir, f)
            try:
                if now - self.fs.mtime(gp) < orphan_grace_sec:
                    continue
            except OSError:
                continue
            self.fs.delete(gp)
            self._gcache.pop(f, None)
            groups_removed += 1

        removed = 0
        now = time.time()
        data_root = os.path.join(self.path, "data")
        for commit_dir in self.fs.listdir(data_root):
            # Commit dirs encode the version they were written FOR
            # (c%08d_...). A dir above the newest retained version belongs
            # to an in-flight concurrent merge that has written parquet but
            # not yet CAS-committed its manifest — GC'ing it would make
            # that writer commit a manifest pointing at deleted paths.
            # Unreferenced dirs AT/BELOW current are usually losers of past
            # CAS races — but a REBASING delta append is in flight with a
            # stale version prefix (it writes under its snapshot's v+1,
            # then commits at whatever version the rebase lands on), so age
            # is the second guard: only dirs older than ``orphan_grace_sec``
            # are treated as abandoned (Iceberg's remove_orphan_files
            # ``older_than`` rule). Keep the grace above the longest merge
            # duration; 0 is for tests/offline tables only.
            try:
                if int(commit_dir[1:9]) > current:
                    continue
            except ValueError:
                pass
            cdir = os.path.join(data_root, commit_dir)
            try:
                if now - self.fs.mtime(cdir) < orphan_grace_sec:
                    continue
            except OSError:
                continue
            for bdir in self.fs.listdir(cdir):
                if not bdir.startswith("b="):
                    continue
                rel = os.path.join("data", commit_dir, bdir)
                if rel not in referenced:
                    self.fs.delete(os.path.join(cdir, bdir))
                    removed += 1
            if not any(d.startswith("b=") for d in self.fs.listdir(cdir)):
                self.fs.delete(cdir)
        return {
            "expired": len(expired),
            "data_dirs_removed": removed,
            "group_files_removed": groups_removed,
        }
