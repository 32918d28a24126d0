"""Transactional MERGE sink: an explicit Iceberg-style commit log.

The reference's Keep/Replace loop (/root/reference/main.py:521-553) at
dataset scale IS ``MERGE INTO``: incoming rows replace same-key rows
and append otherwise. ``operators/curation.upsert_sink`` implements
that with a staged write + atomic directory swap, whose own docstring
names the two limits a production pipeline hits on day one: the swap
rewrites every untouched file, and rename-by-copy object stores plus
concurrent writers break it. Delta/Iceberg solve both with a commit
log; neither is installed here, so this module implements the same
design explicitly — the point is the protocol, not the package:

* ``data/txn-<uuid>/part-*.parquet`` — immutable, write-once data
  files. A data file is invisible until a manifest references it, so a
  crashed writer leaves only unreferenced orphans (collected by
  ``vacuum``), never a corrupt table.
* ``_commits/v<N>.json`` — manifest N: the complete list of data files
  making up snapshot N, plus the schema DDL and parent version. The
  table's state IS the highest-version manifest; readers never list
  the data directory.
* Commit = write-fsync a temp file, then ``os.link`` it into the next
  manifest slot — link is an atomic exclusive-create whose content is
  already complete, so a crashed or ENOSPC'd writer can never leave a
  truncated manifest in the slot (``EEXIST`` is the conflict signal).
  Exactly one writer wins a version; losers RETRY AGAINST THE NEW
  SNAPSHOT, so a concurrent merge's rows are seen (and preserved) by
  the recomputed anti-join — optimistic concurrency control,
  serialized through the log. This implementation is LOCAL-PATH ONLY
  (enforced in ``__init__``): the protocol ports to an object store
  (the slot claim becomes an If-None-Match PUT, as Delta does on S3),
  but that port means routing all manifest/data IO through the
  store's client, not flipping a flag.
* MERGE rewrites ONLY the data files that contain a matched key
  (located via ``input_file_name()`` + a broadcast semi-join of the
  incoming keys); untouched files carry over into the new manifest by
  reference. At 100 TB with point upserts this is the difference
  between rewriting gigabytes and rewriting the table.

Snapshots are immutable, so ``read(version=N)`` is free time travel,
and ``vacuum`` may only delete files referenced by NO manifest.

Round 9 additions — the rest of the day-one maintenance surface:

* **Per-file key stats, footer-only.** Every committed data file
  carries ``{rows, bytes, min: {col: v}, max: {col: v}}`` in the
  manifest, read from the parquet FOOTER via pyarrow (no data scan).
  Parquet writers may truncate binary min/max, but truncated values
  remain valid bounds, so consumers stay conservative-correct.
* **Stats-based file skipping in MERGE.** Before the exact
  ``input_file_name`` hit scan, files whose ``[min, max]`` range on the
  merge key cannot overlap the incoming key range are skipped without
  being opened. Null keys never equi-match, and parquet stats exclude
  nulls, so range skipping is exact for MERGE semantics. Files without
  stats (old manifests, unorderable types) conservatively stay in. At
  100 TB with time-ordered keys this turns a full-table tag scan into
  a read of the few recent files.
* **``optimize()`` compaction.** Small files accumulate one
  commit at a time (every merge/append writes its own txn files); the
  classic fix is bin-packing them into target-size files as just
  another committed snapshot (``op: "optimize"``) — contents
  identical, losers of a commit race recompute, time travel unchanged.
* **Additive schema evolution.** ``merge(..., evolve_schema=True)``
  accepts a frame with NEW columns: carried/old files read the widened
  schema as nulls (parquet by-name projection), the manifest schema
  widens, and a type CHANGE on an existing column is refused loudly.

Round 10 — the day-two surface, plus the round-9 review fixes
(crash-atomic link commits, vacuum retention, append schema checks,
local-path-only refusal, no forced key broadcasts):

* **Per-file Bloom key index** (``bloom_col=``): sidecar files under
  ``_index/`` answer "is key K definitely absent from this file?" —
  the skipping layer UNDER min/max for hash-like keys whose footer
  ranges span the whole key space. Sidecars share their data file's
  lifecycle exactly; bulk writes past a probe cap skip the layer.
* **``read(prune={col: (lo, hi)})``** — manifest-level file skipping
  for readers (conservative, advisory: callers still apply the
  filter).
* **Checkpointed CDC consumers** — ``consume_changes(app, key)`` /
  ``ack(app, v)``: a crash-safe monotonic cursor over ``changes()``;
  at-least-once delivery × idempotent downstream = end-to-end
  exactly-once; lagging past retention yields ``full_resync=True``.
* **Full ``MERGE INTO``** (``merge_into``): conditional WHEN MATCHED
  UPDATE/DELETE with SQL three-valued clause logic, composite keys,
  WHEN NOT MATCHED INSERT, loud multiple-source-rows-matched refusal.
* **CHECK constraints** — validated against existing data on add,
  enforced on every write path (NULL passes, per the standard).
* **``cluster_by`` write-time range clustering** — every written
  frame (merges and compaction included) carries tight disjoint
  footer ranges so the skipping stack actually bites.
* **``partition_by`` hive-style partitioning** — the COARSE layer of
  the skipping stack: partition columns live in ``col=val``
  directories (not the data files), their exact per-file value is
  injected into the manifest stats as min==max, and every existing
  skipping layer (merge/delete hit detection, ``read(prune)``) prunes
  whole partitions for free. Table metadata: recorded in the manifest
  at creation, inherited on reopen, immutable after (retrofitting is
  refused — old flat files and new hive files cannot be read under
  one schema). Composes with ``cluster_by`` (range layout WITHIN each
  partition) and Bloom (point probes on non-partition keys).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_COMMITS = "_commits"
_DATA = "data"
_INDEX = "_index"
# manifest-checkpoint pointer (r13, verdict item 4): a rolling
# `_last_checkpoint`-style hint — name deliberately outside the
# `v********.json` manifest namespace so version listings and expiry's
# exact-name membership checks never see it
_CKPT_POINTER = f"{_COMMITS}/_last_checkpoint.json"
# Backstop cap on a checkpoint's (version, ts) pair list: ~8k pairs is
# ~180 KB of JSON — far past any practical expiry lag, and the bound
# that keeps checkpoint size O(live history), never O(all history)
# (r13 ADVICE #2). Pairs pruned by the cap only serve startingTimestamp
# exactness for instants older than the retained window; losing one
# lowers the resolved start (more inclusive replay), never loses data.
_VERSION_TS_CAP = 8192

# Stream-facing commit-op classification: lives in the lakehouse_ops
# leaf module so the data-source worker fork can import it WITHOUT
# this ~3700-line driver-side module (r19 cold-fork import diet; see
# lakehouse_ops's docstring for the classification contract).
from .lakehouse_ops import (  # noqa: E402
    STREAM_APPEND_OPS as _STREAM_APPEND_OPS,
    STREAM_REWRITE_OPS as _STREAM_REWRITE_OPS,
)


class CommitConflict(Exception):
    """Another writer committed this version first; retry from the new
    snapshot."""


class TransactionalTable:
    """A parquet table with an Iceberg-style JSON commit log providing
    atomic, concurrent-safe ``append`` and ``merge`` (upsert)."""

    # driver-side key collection cap for Bloom probing: a point merge
    # has a handful of keys; a bulk backfill with more than this many
    # distinct keys gains nothing from per-file Blooms (it touches
    # every file anyway), so skip the index rather than collect big
    _BLOOM_PROBE_CAP = 100_000

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bloom_col: str | None = None,
        bloom_fpp: float = 0.01,
        bloom_max_rows: int = 1_000_000,
        cluster_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        store=None,
        checkpoint_interval: int = 32,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.bloom_col = bloom_col
        self.bloom_fpp = bloom_fpp
        self.bloom_max_rows = bloom_max_rows
        # write-time layout policy: range-cluster every written frame
        # on these columns so each data file carries a TIGHT, mostly
        # disjoint footer [min, max] — the skipping stack (merge/
        # delete hit detection, read(prune)) is only as good as the
        # arriving layout without it. A table-level policy (not a
        # per-call flag) so merge rewrites and optimize() preserve the
        # clustering invariant automatically.
        self.cluster_by = list(cluster_by) if cluster_by else None
        # hive-style partition columns — the COARSE pruning layer
        # (directory granularity, exact equality skip) under cluster_by
        # (in-file footer ranges) and Bloom (point probes). Partition
        # columns live in the file PATH, not the files, so the policy
        # is TABLE METADATA: recorded in every manifest at creation and
        # immutable after — a reader opening the table later gets the
        # committed policy automatically (see below).
        self.partition_by = list(partition_by) if partition_by else None
        # Local/POSIX paths only UNLESS an explicit store is supplied,
        # enforced loudly: with the default LocalStore every manifest
        # and maintenance walk uses os-level IO, so accepting an
        # hdfs://...s3a:// URI here would not fail until the first
        # silent current_version()==0. Porting to an object store means
        # implementing the storage protocol with that store's client
        # (the commit protocol itself maps directly: exclusive-create
        # -> If-None-Match PUT) and passing it as ``store=``; it is not
        # a flag flip, so refuse rather than half-work.
        if (
            store is None
            and "://" in self.path
            and not self.path.startswith("file:")
        ):
            raise ValueError(
                "TransactionalTable requires a local or file: path; "
                f"got {self.path!r} — scheme'd filesystems need a "
                "store= client implementing the storage protocol "
                "(sinks/storage.py)"
            )
        # storage seam: control plane (manifests, consumer cursors,
        # bloom sidecars, vacuum enumeration — r11) AND data plane
        # (parquet files — r12) go through a StorageAdapter. LocalStore
        # by default. Data-plane capability split (see storage.py):
        # supports_spark_io stores keep Spark's native parallel
        # engine IO on the data paths (the 100-TB shape, unchanged
        # plans); others (MemoryStore) switch _read_rels /
        # _write_data_files to the pyarrow RELAY route, which proves
        # the whole table lifecycle needs no filesystem but moves data
        # bytes through the driver — test-scale by design.
        if store is None:
            from .storage import LocalStore

            store = LocalStore(self._strip_scheme(self.path))
        self.store = store
        self._spark_data_io = getattr(store, "supports_spark_io", True)
        # every `checkpoint_interval`-th commit writes a manifest
        # checkpoint (see write_checkpoint); 0/None disables the
        # automatic cadence (write_checkpoint stays callable)
        self.checkpoint_interval = checkpoint_interval
        # a spark-io store MUST be rooted at the table path: Spark
        # writes data files under the PATH while stats/enumeration go
        # through the STORE, and a mismatch would commit manifests
        # referencing zero files — silent data loss, caught here
        # instead (r12 review finding 2)
        if self._spark_data_io and hasattr(store, "root"):
            if os.path.abspath(store.root) != os.path.abspath(
                self._strip_scheme(self.path)
            ):
                raise ValueError(
                    f"store root {store.root!r} does not match the "
                    f"table path {self.path!r} — a spark-io store must "
                    "be rooted at the table (Spark writes by path, the "
                    "store enumerates; mismatched roots would commit "
                    "empty manifests)"
                )
        v0 = self.current_version()
        man0 = self._read_manifest(v0) if v0 else None
        # partition_by is resolved FROM THE TABLE once one exists: the
        # committed policy wins (files already live under its layout);
        # passing a different one is refused, passing none inherits it.
        # Retrofitting partitioning onto an existing flat table is also
        # refused — old files carry the partition columns IN the files,
        # new ones in the path, and a mixed read would return nulls.
        if man0 is not None:
            committed_pb = man0.get("partition_by") or None
            if committed_pb is not None:
                if self.partition_by is not None and self.partition_by != committed_pb:
                    raise ValueError(
                        f"table at {self.path} is partitioned by "
                        f"{committed_pb}; got partition_by={self.partition_by}"
                    )
                self.partition_by = committed_pb
            elif self.partition_by:
                raise ValueError(
                    f"table at {self.path} already exists unpartitioned; "
                    "partition_by cannot be retrofitted (rewrite via a "
                    "new partitioned table)"
                )
            # bloom_col and cluster_by are persisted in the manifest
            # like partition_by, but unlike partition_by they are
            # mutable POLICIES, not layout: passing none inherits the
            # committed value (so reopened handles keep building
            # sidecars / range-clustering writes instead of silently
            # degrading the skipping stack), passing a different one
            # switches the policy going forward — safe because sidecar
            # descriptors record their column and footer ranges are
            # only ever a conservative skip signal
            if self.bloom_col is None:
                self.bloom_col = man0.get("bloom_col") or None
            if self.cluster_by is None:
                committed_cb = man0.get("cluster_by") or None
                self.cluster_by = list(committed_cb) if committed_cb else None
        if self.partition_by:
            overlap = set(self.partition_by) & set(self.cluster_by or [])
            if overlap:
                raise ValueError(
                    f"column(s) {sorted(overlap)} in both partition_by and "
                    "cluster_by — a partition directory holds one value, "
                    "clustering inside it is meaningless"
                )
            if self.bloom_col in self.partition_by:
                raise ValueError(
                    f"bloom_col {self.bloom_col!r} is a partition column — "
                    "partition pruning already skips by exact value; the "
                    "column is not stored in the data files"
                )
        # a typo'd layout or index column must fail HERE, not silently
        # skip clustering / sidecar builds on every write (a perf cliff
        # nothing would report)
        if man0 is not None and (
            self.cluster_by or self.partition_by or self.bloom_col
        ):
            committed = [
                f["name"] for f in json.loads(man0["schema"])["fields"]
            ]
            for kind, cols in (
                ("cluster_by", self.cluster_by),
                ("partition_by", self.partition_by),
                ("bloom_col", [self.bloom_col] if self.bloom_col else None),
            ):
                missing = [c for c in cols or [] if c not in committed]
                if missing:
                    raise ValueError(
                        f"{kind} column(s) {missing} not in the "
                        f"table's committed schema {committed}"
                    )

    # -- commit log ----------------------------------------------------

    def _commits_dir(self) -> str:
        return f"{self.path}/{_COMMITS}"

    @staticmethod
    def _manifest_rel(version: int) -> str:
        """Store-relative manifest object name for ``version``."""
        return f"{_COMMITS}/v{version:08d}.json"

    def _manifest_path(self, version: int) -> str:
        return f"{self._commits_dir()}/v{version:08d}.json"

    def current_version(self) -> int:
        """Highest committed version (0 = table does not exist yet).

        Fast path (r13): read the checkpoint pointer and probe FORWARD
        from it — O(commits since the last checkpoint) existence checks
        instead of listing the whole commit log, so the stream source's
        per-trigger ``latestOffset`` stays flat in history length.
        Sound because commit slots serialize (versions are contiguous
        at the head), ``expire_snapshots`` advances the pointer BEFORE
        deleting any manifest AND deletes expired manifests in
        ASCENDING version order — so at every instant the live
        manifests form a contiguous range ending at the head. The
        probe's termination ("v+1 absent") is therefore ambiguous only
        when a deletion sweep ran THROUGH the probed range mid-walk,
        and ascending order makes that case self-revealing: if the
        sweep deleted v+1 it deleted v first, so re-checking v after
        termination distinguishes the true head (v still live — heads
        are never expired) from a mid-sweep gap (v gone → full
        listing). This stays sound even if a slow cadence checkpointer
        REGRESSES the pointer after an expiry advanced it (the
        read-then-put race, r13 ADVICE #1) — the unchanged-pointer
        re-read alone did not (a reader hitting the sweep from a
        regressed pointer could return a stale head, and a committer
        could then reclaim an expired version slot). Any doubt
        (no/corrupt pointer, dead starting manifest, vanished
        terminal manifest, repeated mid-probe pointer movement) falls
        back to the full listing."""
        p = self._pointer_version()
        for _attempt in range(4):
            if p is None or not self._object_exists(self._manifest_rel(p)):
                return self._current_version_listed()
            v = p
            while self._object_exists(self._manifest_rel(v + 1)):
                v += 1
            p2 = self._pointer_version()
            if p2 is None or p2 <= v:
                if self._object_exists(self._manifest_rel(v)):
                    return v
                # v vanished between the walk and this re-check: the
                # termination was a deletion-sweep gap, not the head
                return self._current_version_listed()
            p = p2  # expiry advanced the pointer mid-probe: restart
        return self._current_version_listed()

    def _current_version_listed(self) -> int:
        """Authoritative head via a full commit-log listing."""
        return self._live_manifest_bounds()[1]

    def _live_manifest_bounds(self) -> tuple[int, int]:
        """(oldest, newest) live manifest versions from one commit-log
        listing pass — (0, 0) on an empty log. ``write_checkpoint``
        uses both ends: the newest is the checkpoint version, the
        oldest is the floor below which (version, ts) pairs are pruned
        (an expired version can never be a ``version_at`` answer — its
        candidates are liveness-probed — so pairs below the floor only
        padded every future checkpoint)."""
        lo = hi = 0
        for name in self.store.list(_COMMITS):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    v = int(name[1:-5])
                except ValueError:
                    continue
                hi = max(hi, v)
                lo = v if lo == 0 else min(lo, v)
        return lo, hi

    def _object_exists(self, rel: str) -> bool:
        try:
            self.store.size(rel)
            return True
        except FileNotFoundError:
            return False

    @staticmethod
    def _strip_scheme(p: str) -> str:
        return p[len("file:"):] if p.startswith("file:") else p

    @staticmethod
    def _physical_names(schema: StructType) -> dict[str, str]:
        """logical -> PHYSICAL column name, identity unless the field
        carries column-mapping metadata (``{"physical": ...}``) — the
        Delta-style name-mapping that makes RENAME COLUMN and
        drop-then-re-add safe: data files always store the physical
        name, the manifest schema maps logical to it, and a fresh
        physical on re-add means stale bytes in old files can never
        resurrect. Layout/index columns (partition_by / cluster_by /
        bloom_col) are refused by ``rename_column``, so they are
        always identity — directory names and sidecar descriptors
        never need translation."""
        return {
            f.name: (f.metadata or {}).get("physical", f.name)
            for f in schema.fields
        }

    def _read_manifest(self, version: int) -> dict:
        return json.loads(self.store.read_bytes(self._manifest_rel(version)))

    def _try_commit(self, version: int, manifest: dict) -> bool:
        """Atomically claim manifest slot ``version``. Returns False
        when another writer already holds it (the conflict signal).

        The claim is the store's ``put_if_absent`` — on the default
        ``LocalStore`` a crash-atomic fsync'd-temp + ``os.link``
        (exclusive-create whose content is already complete, so a
        crash or ENOSPC can never leave a truncated manifest in a
        claimed slot); on an object store the same call maps to an
        ``If-None-Match: *`` conditional PUT. ``MemoryStore`` proves
        the protocol needs nothing beyond that one primitive."""
        payload = json.dumps(manifest, sort_keys=True).encode()
        claimed = self.store.put_if_absent(self._manifest_rel(version), payload)
        if (
            claimed
            and self.checkpoint_interval
            and version % self.checkpoint_interval == 0
        ):
            # checkpoint cadence rides the commit path: amortized O(1)
            # manifest reads per commit (the incremental build walks
            # only the interval since the previous checkpoint). Purely
            # advisory — a failure must never fail the already-claimed
            # commit.
            import warnings

            try:
                self.write_checkpoint()
            except Exception as e:  # noqa: BLE001 - advisory by contract
                warnings.warn(
                    f"lakehouse: advisory checkpoint at v{version} failed "
                    f"({e}); readers fall back to the commit-log walk",
                    stacklevel=2,
                )
        return claimed

    # -- manifest checkpoints (r13) --------------------------------------
    #
    # A checkpoint is a Delta-style rollup of the commit log at one
    # version C, written every `checkpoint_interval` commits and before
    # every expiry, holding
    #   entries     the file list LIVE at C annotated with each file's
    #               adding version + op — a fresh stream's catch-up over
    #               a clean-append history serves (start, C] from ONE
    #               object instead of walking every manifest;
    #   dirty       versions <= C whose commit changed the file set
    #               non-appendably (merge/delete/restore/optimize) — the
    #               stream shortcut's eligibility list;
    #   version_ts  (version, commit-time) pairs for TIMESTAMP AS OF
    #               binary search below the walk's reach.
    # Checkpoints are ADVISORY: the checkpoint object commits first
    # (put_if_absent — complete-or-absent, same discipline as a
    # manifest), the pointer last (rolling overwrite); a missing,
    # partial or corrupt one degrades every reader to the plain
    # manifest walk, never to a wrong answer.

    @staticmethod
    def _checkpoint_rel(version: int) -> str:
        return f"{_COMMITS}/ckpt-v{version:08d}.json"

    def _pointer_version(self) -> int | None:
        """Advisory pointer to the newest checkpoint; None when
        missing/corrupt (a torn rolling overwrite is survivable)."""
        try:
            v = int(json.loads(self.store.read_bytes(_CKPT_POINTER))["version"])
            return v if v >= 1 else None
        except (FileNotFoundError, KeyError, TypeError, ValueError):
            return None

    def _load_checkpoint(self, version: int) -> dict | None:
        """Read + STRUCTURALLY validate a checkpoint: advisory means a
        malformed one (hand-edited, foreign writer) must degrade every
        consumer to the manifest walk, not crash it mid-plan — so the
        shapes the stream shortcut and version_at index into are
        checked here, once."""
        try:
            ck = json.loads(
                self.store.read_bytes(self._checkpoint_rel(version))
            )
            if int(ck["version"]) != version:
                return None
            entries, dirty = ck.get("entries"), ck.get("dirty")
            if entries is not None and not all(
                isinstance(e, list)
                and len(e) == 3
                and isinstance(e[0], str)
                and isinstance(e[1], int)
                for e in entries
            ):
                return None
            if (entries is None) != (ck.get("dirty") is None):
                # entries and dirty degrade TOGETHER by construction; a
                # half-null pair (hand-edited / foreign writer) would
                # crash the incremental builder's dirty.append — treat
                # it as unreadable instead (degrade, never crash)
                return None
            if dirty is not None:
                ck["dirty"] = [int(d) for d in dirty]
            ck["version_ts"] = [
                [int(v), float(ts)] for v, ts in (ck.get("version_ts") or [])
            ]
            return ck
        except (FileNotFoundError, KeyError, TypeError, ValueError):
            return None

    def latest_checkpoint(self, max_version: int | None = None) -> dict | None:
        """Newest readable checkpoint, optionally at-or-below
        ``max_version`` (a stream replaying an old offset range must
        not consult a checkpoint past its end). Pointer first; a
        pointer that is missing, corrupt, or too new degrades to a
        commit-log listing scan."""
        p = self._pointer_version()
        if p is not None and (max_version is None or p <= max_version):
            ck = self._load_checkpoint(p)
            if ck is not None:
                return ck
        for v in self._checkpoint_versions(max_version):
            ck = self._load_checkpoint(v)
            if ck is not None:  # newest READABLE wins
                return ck
        return None

    def _checkpoint_versions(self, max_version: int | None = None) -> list[int]:
        """Checkpoint object versions at-or-below ``max_version``,
        newest first — the one place the ckpt-v naming scheme is
        parsed out of a commit-log listing."""
        out = []
        for name in self.store.list(_COMMITS):
            if name.startswith("ckpt-v") and name.endswith(".json"):
                try:
                    v = int(name[len("ckpt-v"):-5])
                except ValueError:
                    continue
                if max_version is None or v <= max_version:
                    out.append(v)
        return sorted(out, reverse=True)

    def _latest_full_checkpoint(self, max_version: int) -> dict | None:
        """Newest readable checkpoint at-or-below ``max_version`` whose
        ``entries`` survived (i.e. not gap-degraded) — the rebase
        target that keeps one racing expiry from degrading every
        future checkpoint (see write_checkpoint)."""
        for v in self._checkpoint_versions(max_version):
            ck = self._load_checkpoint(v)
            if ck is not None and ck.get("entries") is not None:
                return ck
        return None

    def write_checkpoint(self) -> int:
        """Write a checkpoint at the current head (idempotent; builds
        INCREMENTALLY from the newest prior checkpoint so cost is
        O(commits since) + O(live files), not O(history)). Returns the
        checkpointed version, 0 on an empty table.

        An expired-manifest gap inside the extension range REBASES onto
        the newest FULL checkpoint past the gap when one exists (an
        expiry racing a cadence build always wrote one before deleting
        — without the rebase, one such race would degrade every future
        checkpoint of the table, r13 review finding 3); a gap with no
        full checkpoint to rebase onto (legacy expiry) degrades this
        checkpoint to pointer-only duty (``entries``/``dirty`` null):
        per-file add provenance is unknowable, so the stream shortcut
        refuses it, while ``current_version``/``version_at`` still
        benefit."""
        import time as _time

        oldest_live, head = self._live_manifest_bounds()
        if head == 0:
            return 0
        prev = self.latest_checkpoint(max_version=head)
        if prev is not None and int(prev["version"]) == head:
            self._advance_pointer(head)  # crash-repair: object without pointer
            return head
        if prev is not None and prev.get("entries") is None:
            # the newest checkpoint is degraded; prefer the newest FULL
            # one as the base — if every manifest since it is live, the
            # new checkpoint comes out full again instead of inheriting
            # the degradation forever
            full = self._latest_full_checkpoint(head)
            if full is not None:
                prev = full

        def _state_from(ck: dict | None):
            if ck is None:
                return 0, {}, [], []
            return (
                int(ck["version"]),
                (
                    {rel: (int(v), op) for rel, v, op in ck["entries"]}
                    if ck.get("entries") is not None
                    else None
                ),
                (
                    [int(d) for d in ck["dirty"]]
                    if ck.get("dirty") is not None
                    else None
                ),
                [[int(v), float(ts)] for v, ts in (ck.get("version_ts") or [])],
            )

        base, entries, dirty, version_ts = _state_from(prev)
        prev_files = set(entries) if entries is not None else set()
        rebases = 0
        v = base + 1
        while v <= head:
            try:
                man = self._read_manifest(v)
            except FileNotFoundError:  # expired gap inside the range
                cand = (
                    self._latest_full_checkpoint(head) if rebases < 2 else None
                )
                if cand is not None and int(cand["version"]) >= v:
                    base, entries, dirty, version_ts = _state_from(cand)
                    prev_files = set(entries)
                    rebases += 1
                    v = base + 1
                    continue
                entries, dirty = None, None  # provenance unknowable
                v += 1
                continue
            ts = man.get("ts")
            if ts is None:
                try:
                    ts = self.store.mtime(self._manifest_rel(v))
                except FileNotFoundError:
                    ts = None
            if ts is not None:
                version_ts.append([v, float(ts)])
            if entries is not None:
                cur = list(man["files"])
                cur_set = set(cur)
                added = [rel for rel in cur if rel not in prev_files]
                removed = prev_files - cur_set
                op = man.get("op") or "unknown"
                if v == 1 and added:
                    op = "append"  # bootstrap: the whole table is new rows
                if (added or removed) and not (
                    op in _STREAM_APPEND_OPS and not removed
                ):
                    dirty.append(v)
                for rel in removed:
                    entries.pop(rel, None)
                for rel in added:
                    entries[rel] = (v, op)
                prev_files = cur_set
            v += 1
        # Bound the (version, ts) list (r13 ADVICE #2): without this it
        # accreted one pair per commit FOREVER and every checkpoint
        # rewrote the whole list — O(all history) size contradicting the
        # documented O(commits since + live files) build cost. Pairs
        # below the oldest live manifest are invisible to version_at
        # (liveness-probed candidates) and only lower — never raise —
        # _exclusive_start_for_timestamp's resolved stream start; the
        # hard cap is the backstop for never-expiring tables. Pairs the
        # CAP drops (unlike floor-dropped ones) belong to LIVE manifests
        # that could still answer a timestamp query, so the truncation
        # is recorded (``version_ts_capped``) and
        # ``_checkpoint_ts_candidates`` refuses to answer definitively
        # for instants predating the retained range — callers fall back
        # to the manifest walk instead of mis-resolving (r14 ADVICE #1:
        # the pre-fix code break-raised "no snapshot at or before" on
        # answerable TIMESTAMP AS OF reads and silently replayed
        # pre-instant commits as stream start 0 on >8192-commit
        # never-expired tables).
        version_ts = [
            p for p in version_ts if int(p[0]) >= oldest_live
        ][-_VERSION_TS_CAP:]
        payload = {
            "version": head,
            "ts": _time.time(),
            "entries": (
                [[rel, v, op] for rel, (v, op) in entries.items()]
                if entries is not None
                else None
            ),
            "dirty": dirty,
            "version_ts": version_ts,
            # self-describing, not drop-counting: the list answers
            # definitively below its range ONLY when no live manifest
            # sits under its oldest retained pair — computed from the
            # retained range itself so a truncation inherited from the
            # BASE checkpoint (or a ts-less legacy manifest below the
            # range) flags conservatively too, not just pairs this
            # write dropped
            "version_ts_capped": bool(version_ts)
            and int(version_ts[0][0]) > oldest_live,
        }
        self.store.put_if_absent(
            self._checkpoint_rel(head),
            json.dumps(payload, sort_keys=True).encode(),
        )
        self._advance_pointer(head)
        return head

    def _advance_pointer(self, version: int) -> None:
        """Monotone rolling pointer update (never regress: a slow
        writer finishing an OLD checkpoint must not hide a newer one,
        and the current_version probe wants every manifest at-or-above
        the pointer live). The read-then-put pair is NOT atomic, so a
        slow writer can still interleave its stale put after ours —
        the re-read-and-repair loop below narrows that window (r13
        ADVICE #1), and ``current_version``'s post-probe liveness
        re-check keeps readers sound even when a regression slips
        through (the pointer is advisory; correctness never rests on
        it)."""
        cur = self._pointer_version()
        if cur is not None and cur >= version:
            return
        payload = json.dumps({"version": version}).encode()
        for _attempt in range(3):
            self.store.put(_CKPT_POINTER, payload)
            seen = self._pointer_version()
            if seen is not None and seen >= version:
                return  # ours, or a newer writer's — both fine

    # -- snapshots -----------------------------------------------------

    def snapshot(self, version: int | None = None) -> tuple[int, dict]:
        v = self.current_version() if version is None else version
        if v == 0:
            return 0, {"files": [], "schema": None}
        return v, self._read_manifest(v)

    def _checkpoint_ts_candidates(
        self, ckv: int, vcap: int, timestamp: float, inclusive: bool
    ) -> list[int] | None:
        """Candidate versions from checkpoint ``ckv``'s recorded
        (version, ts) pairs, newest first: every version <= ``vcap``
        whose commit time is at-or-before (``inclusive``) / strictly
        before the instant. None when the checkpoint is unreadable or
        carries no times (callers continue their manifest walk). One
        binary search — shared by TIMESTAMP AS OF (inclusive) and the
        stream's ``startingTimestamp`` (exclusive) so the two
        resolvers cannot drift.

        An instant predating every retained pair is answerable from
        the truncated list ONLY when nothing was dropped by the hard
        cap (floor-dropped pairs are expired and could never answer):
        when the checkpoint says pairs of LIVE manifests were capped
        away — or predates the flag and is suspiciously at the cap —
        return None so the caller's manifest walk resolves from the
        surviving manifests themselves (r14 ADVICE #1)."""
        ck = self._load_checkpoint(ckv)
        vts = (ck or {}).get("version_ts")
        if not vts:
            return None
        import bisect

        cut = bisect.bisect_right if inclusive else bisect.bisect_left
        idx = cut([float(ts) for _v, ts in vts], timestamp) - 1
        # clock-skew guard: never answer above the caller's walk
        # position (versions above vcap already probed past the instant)
        while idx >= 0 and int(vts[idx][0]) > vcap:
            idx -= 1
        if idx < 0:
            capped = ck.get("version_ts_capped")
            if capped or (capped is None and len(vts) >= _VERSION_TS_CAP):
                return None  # answer may be among the cap-dropped pairs
        return [int(vts[i][0]) for i in range(idx, -1, -1)]

    def version_at(self, timestamp: float) -> int:
        """Newest committed version whose commit time is <= the given
        UNIX timestamp — TIMESTAMP AS OF resolution. Manifests retired
        by ``expire_snapshots`` are skipped; manifests predating the
        ``ts`` field fall back to their file mtime. Raises when the
        table has no snapshot that old."""
        # descending: commit slots serialize, so ts is monotone with
        # version and the FIRST live manifest at or before the instant
        # is the answer — the common recent-timestamp read parses one
        # manifest instead of the whole history. An OLD instant walks
        # only down to the newest checkpoint, then binary-searches its
        # recorded (version, ts) pairs — O(interval + log history)
        # instead of O(history) manifest reads (r13).
        ckv = self._pointer_version()
        for v in range(self.current_version(), 0, -1):
            if ckv is not None and v <= ckv:
                cands = self._checkpoint_ts_candidates(
                    ckv, v, timestamp, inclusive=True
                )
                if cands is not None:
                    for cand in cands:  # skip expired, like the walk
                        if self._object_exists(self._manifest_rel(cand)):
                            return cand
                    break  # nothing at-or-before survives -> ValueError
                ckv = None  # unreadable checkpoint: plain walk continues
            try:
                man = self._read_manifest(v)
            except FileNotFoundError:
                continue
            ts = man.get("ts")
            if ts is None:
                try:
                    ts = self.store.mtime(self._manifest_rel(v))
                except FileNotFoundError:
                    continue  # expired between the manifest read and
                    # the mtime probe: skip, like the read above
            if ts <= timestamp:
                return v
        raise ValueError(
            f"no snapshot at or before timestamp {timestamp} at {self.path}"
        )

    def read(
        self,
        version: int | None = None,
        prune: dict[str, tuple] | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """The table at ``version`` (default: latest). Empty tables
        read as zero rows with the last committed schema.

        ``prune`` maps column → (lo, hi) bounds: data files whose
        footer min/max cannot intersect EVERY given range are dropped
        from the scan before Spark ever lists them — manifest-level
        file skipping, the same trick ``merge`` uses, exposed to
        readers. Pruning is conservative (files without stats stay
        in) and advisory: surviving files still contain out-of-range
        rows, so the caller applies the real filter on the returned
        frame; pruning only shrinks the file list Spark opens. Pass
        (None, None) bounds for no-op entries; a bound of None on one
        side is unbounded on that side. ``timestamp`` reads the table
        AS OF that UNIX time (mutually exclusive with ``version``)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        v, man = self.snapshot(version)
        if v == 0:
            raise FileNotFoundError(f"no committed version at {self.path}")
        rels = man["files"]
        schema = StructType.fromJson(json.loads(man["schema"]))
        if prune:
            all_stats = man.get("stats") or {}
            pm = self._physical_names(schema)  # stats keys are physical
            for col, (lo, hi) in prune.items():
                rels = [
                    rel
                    for rel in rels
                    if self._range_overlap(
                        all_stats.get(rel), pm.get(col, col), lo, hi
                    )
                ]
        return self._read_rels(schema, rels)

    def _read_rels(self, schema: StructType, rels: list[str]) -> DataFrame:
        """THE data-file reader: manifest-relative paths → DataFrame
        under the given logical schema. Data files store PHYSICAL
        column names (identity unless a field was renamed/re-added
        under column mapping — see ``rename_column``), so the scan
        runs under the physical schema and the final projection
        aliases back to the logical names. On a partitioned table the
        partition columns live in the path (hive layout), so files are
        read per-txn with that txn's basePath — Spark reconstructs the
        partition columns (always identity: layout columns cannot be
        renamed), typed by the provided schema. One scan node per txn
        group, bounded by commits since the last optimize();
        unpartitioned tables keep the single flat scan."""
        if not rels:
            return self.spark.createDataFrame([], schema)
        if not self._spark_data_io:
            return self._read_rels_via_store(schema, rels)
        phys = self._physical_names(schema)
        phys_schema = StructType(
            [
                StructField(phys[f.name], f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        to_logical = [F.col(phys[n]).alias(n) for n in schema.fieldNames()]
        identity = all(l == p for l, p in phys.items())
        if not self.partition_by:
            scan = self.spark.read.schema(phys_schema).parquet(
                *[f"{self.path}/{_DATA}/{rel}" for rel in rels]
            )
            return scan if identity else scan.select(*to_logical)
        groups: dict[str, list[str]] = {}
        for rel in rels:
            groups.setdefault(rel.split("/", 1)[0], []).append(rel)
        parts = [
            self.spark.read.option("basePath", f"{self.path}/{_DATA}/{txn}")
            .schema(phys_schema)
            .parquet(*[f"{self.path}/{_DATA}/{rel}" for rel in rs])
            for txn, rs in sorted(groups.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # Spark appends discovered partition columns AFTER the file
        # columns; restore the logical schema order (and logical
        # names) so partitioned and flat tables read identically
        return out.select(*to_logical)

    @staticmethod
    def _project_arrow(raw, schema: StructType, phys: dict, partition_values: dict):
        """Arrow-side projection of ONE data file to the logical
        schema — the single source of truth for read semantics shared
        by the relay route below and the data-source workers
        (``sources/lakehouse_source.py``): physical column if present
        in the file, hive partition value if the column lives in the
        path, null otherwise (additive evolution)."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        n = raw.num_rows
        arrays, fields = [], []
        for f in schema.fields:
            at = to_arrow_type(f.dataType)
            physical = phys.get(f.name, f.name)
            if physical in raw.column_names:
                col = raw.column(physical).cast(at)
            elif f.name in partition_values:
                v = partition_values[f.name]
                col = pa.chunked_array([pa.array([v] * n).cast(at)])
            else:
                col = pa.chunked_array([pa.nulls(n, at)])
            arrays.append(col)
            fields.append(pa.field(f.name, at, nullable=True))
        return pa.table(arrays, schema=pa.schema(fields))

    def _read_rels_via_store(
        self, schema: StructType, rels: list[str], rel_col: str | None = None
    ) -> DataFrame:
        """Data-file read for stores Spark's engine cannot reach by
        path (``supports_spark_io`` False). Two shapes (r13):
        worker-addressable stores — picklable ``spec()`` — decode in
        EXECUTORS (each task GETs and projects its own files; no data
        byte touches the driver); spec-less in-process stores
        (MemoryStore) fall back to the driver relay."""
        spec = self.store.spec() if hasattr(self.store, "spec") else None
        if spec is not None:
            return self._store_read_rels_distributed(
                schema, rels, spec, rel_col
            )
        return self._relay_read_rels(schema, rels, rel_col)

    def _store_read_rels_distributed(
        self,
        schema: StructType,
        rels: list[str],
        spec: dict,
        rel_col: str | None = None,
    ) -> DataFrame:
        """Distributed read over a worker-addressable non-spark-io
        store (r13, verdict item 3): the file list becomes a one-column
        frame, and each ``mapInArrow`` task rebuilds the store client
        from ``spec``, GETs its files (one ranged-capable request per
        file) and projects them to the logical schema under exactly
        ``_project_arrow``'s rules — the same decode the relay and the
        data-source workers run, now on executors. Partition values
        are parsed driver-side from the manifest names (string work,
        no IO) and shipped in the closure."""
        from pyspark.sql.types import StringType

        phys = self._physical_names(schema)
        ptypes = {f.name: f.dataType for f in schema.fields}
        pvals_by_rel = {
            rel: self._parse_partition_values(rel, ptypes) for rel in rels
        }
        out_schema = schema
        if rel_col is not None:
            out_schema = StructType(
                list(schema.fields) + [StructField(rel_col, StringType(), True)]
            )
        project = TransactionalTable._project_arrow
        data_prefix = _DATA

        def _fetch(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq

            from data_finder_comparator_spark.sinks.storage import (
                store_from_spec,
            )

            store = store_from_spec(spec)
            for b in batches:
                for rel in b.column("_rel").to_pylist():
                    raw = pq.read_table(
                        pa.BufferReader(
                            store.read_bytes(f"{data_prefix}/{rel}")
                        )
                    )
                    tbl = project(raw, schema, phys, pvals_by_rel[rel])
                    if rel_col is not None:
                        tbl = tbl.append_column(
                            rel_col,
                            pa.array([rel] * tbl.num_rows, pa.string()),
                        )
                    yield from tbl.to_batches()

        rels_df = self.spark.createDataFrame(
            [(r,) for r in rels], "_rel string"
        ).repartition(len(rels), F.col("_rel"))
        return rels_df.mapInArrow(_fetch, out_schema)

    def _relay_read_rels(
        self, schema: StructType, rels: list[str], rel_col: str | None = None
    ) -> DataFrame:
        """RELAY read for stores with NO worker-reachable address
        (``spec()`` is None — an in-process MemoryStore): each manifest
        file decodes via pyarrow from store bytes and projects to the
        logical schema under exactly the Spark path's rules, then the
        concatenated Arrow table becomes the frame. Data bytes pass
        through the driver — the documented test-scale trade of an
        in-process store; every addressable backend takes the
        spark-io or distributed-store path instead.

        ``rel_col`` appends each row's manifest-relative file name as a
        string column — the relay route's provenance, standing in for
        ``input_file_name()`` in the hit-detection exact scan (which is
        empty on a frame that never came from a file scan; without
        this, merge would silently duplicate keys and delete would
        no-op on relay tables)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import StringType

        phys = self._physical_names(schema)
        ptypes = {f.name: f.dataType for f in schema.fields}

        def _one(rel: str):
            with self.store.open_read(f"{_DATA}/{rel}") as fh:
                raw = pq.read_table(fh)
            pvals = self._parse_partition_values(rel, ptypes)
            tbl = self._project_arrow(raw, schema, phys, pvals)
            if rel_col is not None:
                tbl = tbl.append_column(
                    rel_col, pa.array([rel] * tbl.num_rows, pa.string())
                )
            return tbl

        # same thread pool shape as the footer-stats reads: pyarrow
        # releases the GIL on IO/decode, and a snapshot can list many
        # small files
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(rels))) as ex:
            tables = list(ex.map(_one, rels))
        out_schema = schema
        if rel_col is not None:
            out_schema = StructType(
                list(schema.fields) + [StructField(rel_col, StringType(), False)]
            )
        return self.spark.createDataFrame(
            pa.concat_tables(tables), schema=out_schema
        )

    @staticmethod
    def _range_overlap(stats: dict | None, col: str, lo, hi) -> bool:
        """Can this file's [min, max] on ``col`` intersect [lo, hi]
        (a None bound is unbounded on that side)? Missing stats,
        unorderable or cross-type comparisons → True (conservative)."""
        if not stats:
            return True
        mn = stats.get("min", {}).get(col)
        mx = stats.get("max", {}).get(col)
        if mn is None or mx is None:
            return True
        try:
            if hi is not None and mn > hi:
                return False
            if lo is not None and mx < lo:
                return False
        except TypeError:
            return True
        return True

    def detail(self) -> dict:
        """One-call table card (DESCRIBE DETAIL): current version, file
        count, total bytes (from manifest stats; files without stats
        count as size-unknown), row count where known, and the table
        policies — everything a maintenance job checks before deciding
        to optimize/vacuum/expire, read from ONE manifest with no data
        IO."""
        v, man = self.snapshot()
        stats = man.get("stats") or {}
        sized = [stats[rel].get("bytes") for rel in man["files"] if rel in stats]
        rows = [stats[rel].get("rows") for rel in man["files"] if rel in stats]
        return {
            "path": self.path,
            "version": v,
            "num_files": len(man["files"]),
            "size_bytes": sum(b for b in sized if b is not None),
            "num_rows": (
                sum(rows) if rows and all(r is not None for r in rows) else None
            ),
            "partition_by": self.partition_by,
            "cluster_by": self.cluster_by,
            "bloom_col": self.bloom_col,
            "constraints": dict(man.get("constraints") or {}),
            "dropped_columns": list(man.get("dropped_columns") or []),
        }

    def history(self) -> list[dict]:
        """All LIVE manifests, oldest first (expired snapshots are
        skipped — see ``expire_snapshots``)."""
        out = []
        for v in range(1, self.current_version() + 1):
            try:
                out.append(self._read_manifest(v))
            except FileNotFoundError:
                continue
        return out

    def changes(
        self, key_col: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed between two snapshots — the "process only
        what changed since yesterday" read an incremental pipeline runs
        instead of re-scanning the table. Returns the to-version rows
        plus a ``_change_type`` column: ``insert`` (key absent at
        from-version), ``update_post`` (key present, row changed) and
        ``update_pre`` / ``delete`` rows carrying the from-version
        image. Cost is bounded by the CHANGED files plus any carried
        file whose footer key range overlaps the changed keys (the
        existence check that classifies insert-vs-update and
        delete-vs-update must consult the snapshots, not just the
        changed files — an ``append`` can add a row for a key that
        lives untouched in a carried file) — at 100 TB a day of point
        merges reads megabytes, not the table.

        Both snapshots are read with the to-version schema (additive
        evolution reads old files as nulls, same as ``read``). Changes
        are LOGICAL: a row upserted to an identical value, or rows
        moved between files by ``optimize``, cancel out and are not
        reported. An ``append`` that duplicates an existing key reports
        ``update_post`` with no ``update_pre`` — the old row remains
        live in its carried file, so nothing was replaced."""
        v_to = self.current_version() if to_version is None else to_version
        if from_version > v_to:
            raise ValueError(f"from_version {from_version} > to_version {v_to}")
        _, man_from = self.snapshot(from_version)
        _, man_to = self.snapshot(v_to)
        schema = StructType.fromJson(json.loads(man_to["schema"]))
        old_files = set(man_from["files"]) if from_version > 0 else set()
        new_files = set(man_to["files"])
        removed = sorted(old_files - new_files)
        added = sorted(new_files - old_files)

        def _load(rels: list[str]) -> DataFrame:
            return self._read_rels(schema, rels)

        pre, post = _load(removed), _load(added)
        # a rewritten file carries its unmatched rows forward verbatim:
        # those appear in BOTH sides and are not changes — cancel them
        # by full-row anti-join (null-safe on every column)
        cond = [post[c].eqNullSafe(pre[c]) for c in schema.fieldNames()]
        changed_post = post.join(pre, cond, "left_anti")
        changed_pre = pre.join(post, cond, "left_anti")
        # existence sets for classification, bounded by footer stats:
        # only files whose key range can overlap the changed keys are
        # consulted (changed files are always among them)
        changed_keys = (
            changed_pre.select(key_col)
            .unionByName(changed_post.select(key_col))
            .distinct()
        )
        kmin, kmax, has_signal = self._key_range(changed_keys, key_col)
        key_phys = self._physical_names(schema).get(key_col, key_col)

        def _keys_at(man: dict) -> DataFrame:
            stats = man.get("stats") or {}
            rels = [
                rel
                for rel in man["files"]
                # no range signal (unaggregatable key type) -> every
                # file must be consulted; with a signal, _may_contain
                # prunes (including the all-NULL definite skip; stats
                # are keyed by the PHYSICAL column name)
                if not has_signal
                or self._may_contain(stats.get(rel), key_phys, kmin, kmax)
            ]
            return _load(rels).select(F.col(key_col).alias("_k")).distinct()

        if from_version > 0:
            old_keys = _keys_at(man_from)
        else:
            from pyspark.sql.types import StructField

            old_keys = self.spark.createDataFrame(
                [], StructType([StructField("_k", schema[key_col].dataType)])
            )
        new_keys = _keys_at(man_to)
        post_typed = (
            changed_post.join(
                old_keys, changed_post[key_col] == old_keys["_k"], "left"
            )
            .withColumn(
                "_change_type",
                F.when(F.col("_k").isNull(), F.lit("insert")).otherwise(
                    F.lit("update_post")
                ),
            )
            .drop("_k")
        )
        pre_typed = (
            changed_pre.join(
                new_keys, changed_pre[key_col] == new_keys["_k"], "left"
            )
            .withColumn(
                "_change_type",
                F.when(F.col("_k").isNull(), F.lit("delete")).otherwise(
                    F.lit("update_pre")
                ),
            )
            .drop("_k")
        )
        return post_typed.unionByName(pre_typed)

    # -- incremental consumers ----------------------------------------
    #
    # The read side of the incremental pipeline: ``changes()`` diffs
    # two snapshots, but a real downstream job needs a durable "where
    # was I" — a per-consumer cursor that survives crashes, so each
    # run processes exactly the delta since its last acknowledged
    # version. Ack-AFTER-processing gives at-least-once delivery; a
    # downstream that is idempotent (e.g. merges into its own
    # TransactionalTable with a txn marker) composes that into
    # end-to-end exactly-once — the same recipe as
    # ``stream_merge_into_table`` on the producer side.

    def consumer_cursor(self, app: str) -> int:
        """Last version consumer ``app`` acknowledged (0 = never)."""
        try:
            return json.loads(self.store.read_bytes(self._consumer_rel(app)))[
                "version"
            ]
        except (OSError, ValueError, KeyError):
            return 0

    def ack(self, app: str, version: int) -> None:
        """Durably advance ``app``'s cursor to ``version``. Monotonic:
        a stale ack (lower than the stored cursor) is a no-op, so a
        delayed retry can never rewind a consumer — the check and the
        write are SERIALIZED under the store's per-app lock, because a
        bare read-check-write lets a delayed low-version retry race a
        fresh high-version ack and win the overwrite. The put itself
        is atomic (LocalStore: fsync'd temp + os.replace) — a crash
        leaves the old cursor, and the next run simply reprocesses the
        delta (at-least-once)."""
        rel = self._consumer_rel(app)
        with self.store.lock(rel):
            if version <= self.consumer_cursor(app):
                return
            self.store.put(
                rel, json.dumps({"app": app, "version": version}).encode()
            )

    @staticmethod
    def _consumer_rel(app: str) -> str:
        safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in app)
        return f"_consumers/{safe}.json"

    def consume_changes(self, app: str, key_col: str) -> dict:
        """One consumer poll: the delta between ``app``'s cursor and
        the current snapshot. Returns ``{from_version, to_version,
        frame, full_resync}``; ``frame`` is None when there is nothing
        new. Caller processes the frame, then calls
        ``ack(app, to_version)`` — never before.

        ``full_resync=True`` when the cursor's base snapshot has been
        retired by ``expire_snapshots`` (the consumer lagged past
        retention): incremental diffing is impossible, so ``frame`` is
        the ENTIRE current snapshot tagged ``_change_type='insert'``
        and the downstream must treat the batch as a rebuild — the
        same contract as Delta's CDF when history is vacuumed."""
        frm = self.consumer_cursor(app)
        to = self.current_version()
        if to <= frm:
            return {
                "from_version": frm,
                "to_version": frm,
                "frame": None,
                "full_resync": False,
            }
        try:
            frame = self.changes(key_col, from_version=frm, to_version=to)
            resync = False
        except FileNotFoundError:  # cursor base expired out of history
            frame = self.read(version=to).withColumn(
                "_change_type", F.lit("insert")
            )
            resync = True
        return {
            "from_version": frm,
            "to_version": to,
            "frame": frame,
            "full_resync": resync,
        }

    # -- writes --------------------------------------------------------

    def _write_data_files(
        self,
        df: DataFrame,
        n_out: int | None = None,
        pre_clustered: bool = False,
        phys: dict[str, str] | None = None,
    ) -> tuple[str, list[str], dict[str, dict]]:
        """Materialize ``df`` as immutable data files under a fresh
        txn directory; returns (txn id, manifest-relative paths,
        per-file footer stats keyed by relative path — PHYSICAL
        column names, as stored in the files).

        ``n_out`` pins the clustered output file count (optimize()
        passes its bin-pack target); ``pre_clustered`` marks a frame
        whose layout was already computed upstream (the z-order path) —
        re-range-partitioning it here would silently throw that layout
        away, so the cluster_by policy must stand down. ``phys`` is
        the table's logical→physical column mapping (from the target
        manifest schema): the frame arrives in logical names and is
        renamed to physical just before the write, so files written
        after a RENAME keep storing the stable physical name."""
        txn = f"txn-{uuid.uuid4().hex}"
        out_dir = f"{self.path}/{_DATA}/{txn}"
        for kind, cols in (
            ("cluster_by", self.cluster_by if not pre_clustered else None),
            ("partition_by", self.partition_by),
            ("bloom_col", [self.bloom_col] if self.bloom_col else None),
        ):
            missing = [c for c in cols or [] if c not in df.columns]
            if missing:
                # loud, like every other contract here: a typo'd
                # layout column must not silently disable the layout
                # (and with it every file-skipping layer) forever
                raise ValueError(
                    f"{kind} column(s) {missing} not in the written "
                    f"frame's columns {df.columns}"
                )
        if phys and any(
            phys.get(c, c) != c for c in df.columns
        ):
            # layout columns are rename-refused (always identity), so
            # the repartition/partitionBy calls below keep working on
            # the renamed frame
            df = df.select(
                *[F.col(c).alias(phys.get(c, c)) for c in df.columns]
            )
        if self.cluster_by and not pre_clustered:
            if n_out is None:
                # output file count follows the number of leaf input
                # files feeding the frame (a point merge touching 2 hit
                # files writes ~2; a bulk load keeps its width) rather
                # than spark.sql.shuffle.partitions, which would shatter
                # every point merge into 32 range files. inputFiles()
                # is a plan walk that never executes the query — on a
                # merge's join frame, df.rdd.getNumPartitions() under
                # AQE would run the join's map stages (re-reading every
                # hit parquet file) once for the probe and again for
                # the write. Only a frame with NO file lineage (pure
                # in-memory source, nothing to re-read) falls back to
                # the partition probe to keep its incoming width.
                n_files = len(df.inputFiles())
                n_out = (
                    min(n_files, 512)
                    if n_files
                    else max(1, df.rdd.getNumPartitions())
                )
            # with partition_by: range on (partition, cluster) keeps
            # each task a contiguous slice of the composite order, so
            # after the hive split each value's files carry tight,
            # disjoint cluster ranges WITHIN the partition
            layout = (self.partition_by or []) + self.cluster_by
            df = df.repartitionByRange(n_out, *layout).sortWithinPartitions(*layout)
        elif self.partition_by and not pre_clustered:
            # point-ish frames (in-memory, or few leaf input files)
            # hash on the partition columns: each value lands wholly in
            # one task, so the hive split below writes ONE file per
            # partition value per commit. Bulk frames must NOT funnel a
            # whole partition value through a single task — a 1-TB
            # backfill with 3 live values would serialize into 3 huge
            # single-task files — so past the width threshold the frame
            # keeps its incoming layout and the hive split writes one
            # file per (task, value): parallel, size-bounded, and
            # optimize() compacts the count later
            if len(df.inputFiles()) <= 32:
                df = df.repartition(*self.partition_by)
        if self._spark_data_io:
            writer = df.write.mode("overwrite")
            if self.partition_by:
                # hive layout: col=val directories; the partition
                # columns live in the PATH, not the files — every read
                # goes through _read_rels, which reconstructs them via
                # basePath
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(out_dir)
            # enumerate the written parts through the STORE, not
            # os.walk: on a worker-addressable object store
            # (supports_spark_io, scheme'd path) Spark's write lands
            # remotely and a local walk would silently find nothing —
            # committing a manifest that references zero files (r12
            # review finding 2). LocalStore.list is the same walk.
            listed = self.store.list(f"{_DATA}/{txn}")
            if not listed:
                # a successful Spark write always leaves at least the
                # _SUCCESS marker: seeing NOTHING means the store is
                # not looking where Spark wrote — refuse rather than
                # commit an empty manifest (also guarded at __init__
                # for root-bearing stores)
                raise ValueError(
                    f"store cannot see the files Spark just wrote under "
                    f"{out_dir!r} — store/table mismatch"
                )
            rels = sorted(
                f"{txn}/{name}"
                for name in listed
                if name.rsplit("/", 1)[-1].endswith(".parquet")
                and not name.rsplit("/", 1)[-1].startswith((".", "_"))
            )
        else:
            spec = self.store.spec() if hasattr(self.store, "spec") else None
            if spec is not None:
                rels = self._store_write_data_files_distributed(df, txn, spec)
            else:
                rels = self._relay_write_data_files(df, txn)
        # footer reads (and Bloom builds below) are driver-side file
        # IO, one per part file — a large compaction writes thousands,
        # so run them on a thread pool (pyarrow releases the GIL on
        # IO/decode) instead of serially
        from concurrent.futures import ThreadPoolExecutor

        stats = {}
        if rels:
            with ThreadPoolExecutor(max_workers=min(16, len(rels))) as ex:
                for rel, s in zip(rels, ex.map(self._file_stats, rels)):
                    if s is not None:
                        stats[rel] = s
        # zero-row part files (Spark writes one per empty partition)
        # contribute nothing: referencing them bloats every later
        # manifest's carried set and every reader's file list — drop
        # them here, where the footer already told us (files without
        # readable stats are conservatively kept)
        rels = [
            rel for rel in rels if rel not in stats or stats[rel]["rows"] > 0
        ]
        stats = {rel: s for rel, s in stats.items() if rel in set(rels)}
        if self.bloom_col is not None and rels:
            bcol_phys = (phys or {}).get(self.bloom_col, self.bloom_col)
            with ThreadPoolExecutor(max_workers=min(16, len(rels))) as ex:
                blooms = ex.map(
                    lambda rel: self._build_bloom(
                        rel, stats.get(rel), bcol_phys
                    ),
                    rels,
                )
                for rel, bloom in zip(rels, blooms):
                    if bloom is not None:
                        stats[rel]["bloom"] = bloom
        if self.partition_by and rels:
            # a partition column's per-file "range" is exact by
            # construction (min == max == the directory value), so
            # injecting it into the footer stats makes EVERY existing
            # skipping layer — merge/delete hit detection, read(prune) —
            # prune partitions with zero new machinery
            ptypes = {f.name: f.dataType for f in df.schema.fields}
            for rel in rels:
                vals = self._parse_partition_values(rel, ptypes)
                if not vals:
                    continue
                entry = stats.setdefault(rel, {})
                entry["partition"] = vals
                mn = entry.setdefault("min", {})
                mx = entry.setdefault("max", {})
                for c, pv in vals.items():
                    # null partition: no range signal; bools stay out of
                    # min/max like the footer-stat contract (JSON would
                    # conflate them with ints) — "partition" keeps them
                    if pv is not None and not isinstance(pv, bool):
                        mn[c] = pv
                        mx[c] = pv
        return txn, rels, stats

    def _store_write_data_files_distributed(
        self, df: DataFrame, txn: str, spec: dict
    ) -> list[str]:
        """Distributed write over a worker-addressable non-spark-io
        store (r13, verdict item 3): each ``mapInArrow`` task encodes
        its partition to parquet and PUTs its own part file through a
        client rebuilt from ``spec`` (PUT-on-complete writer: a failed
        task publishes nothing; a retried task writes a fresh
        uuid-name and only the successful attempt's name reaches the
        commit — stray attempt objects are unreferenced and fall to
        vacuum). The driver collects only the file NAMES; no data
        byte passes through it. The cluster_by range layout applied
        upstream is preserved (one file per task partition, tight
        footer ranges). Hive partitioning is refused exactly like the
        relay — its path-encoding contract belongs to Spark's own
        writer."""
        if self.partition_by:
            raise ValueError(
                "partitioned (hive-layout) tables need a store Spark's "
                "engine can write directly (supports_spark_io); the "
                "store-routed data plane supports flat and cluster_by "
                "tables"
            )
        data_prefix = _DATA

        def _encode_put(batches):
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            from data_finder_comparator_spark.sinks.storage import (
                store_from_spec,
            )

            store = store_from_spec(spec)
            name = f"part-{_uuid.uuid4().hex}.parquet"
            fh = None
            w = None
            try:
                for b in batches:
                    if b.num_rows == 0:
                        continue
                    if w is None:
                        fh = store.open_write(f"{data_prefix}/{txn}/{name}")
                        w = pq.ParquetWriter(fh, b.schema)
                    w.write_batch(b)
            except BaseException:
                try:
                    if w is not None:
                        w.close()
                except Exception:
                    pass
                finally:
                    if fh is not None:
                        getattr(fh, "abort", fh.close)()
                raise
            if w is None:
                return  # empty task partition: no object at all
            w.close()
            fh.close()
            yield pa.record_batch([pa.array([name])], names=["name"])

        rows = df.mapInArrow(_encode_put, "name string").collect()
        return sorted(f"{txn}/{r['name']}" for r in rows)

    def _relay_write_data_files(self, df: DataFrame, txn: str) -> list[str]:
        """RELAY write for stores Spark's engine cannot reach: parquet
        ENCODING stays in the executors (``mapInArrow``, one file per
        task partition — the cluster_by range layout applied upstream
        is preserved, so footer ranges stay tight), then the encoded
        bytes return as task results and the driver ``put``s them into
        the store. Bytes-through-the-driver is the documented
        test-scale trade of an in-process store; a worker-addressable
        backend (LocalStore, any real object store) keeps Spark's
        direct parallel write. Hive partitioning is refused here —
        its path-encoding contract belongs to Spark's own writer, and
        partition pruning is already manifest-stat-driven on this
        table."""
        if self.partition_by:
            raise ValueError(
                "partitioned (hive-layout) tables need a store Spark's "
                "engine can write directly (supports_spark_io); the "
                "relay route supports flat and cluster_by tables"
            )

        def _encode(batches):
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            sink = pa.BufferOutputStream()
            w = None
            for b in batches:
                if b.num_rows == 0:
                    continue
                if w is None:
                    w = pq.ParquetWriter(sink, b.schema)
                w.write_batch(b)
            if w is None:
                return
            w.close()
            yield pa.record_batch(
                [
                    pa.array([f"part-{_uuid.uuid4().hex}.parquet"]),
                    pa.array([sink.getvalue().to_pybytes()], pa.binary()),
                ],
                names=["name", "data"],
            )

        rows = df.mapInArrow(_encode, "name string, data binary").collect()
        for r in rows:
            self.store.put(f"{_DATA}/{txn}/{r['name']}", bytes(r["data"]))
        return sorted(f"{txn}/{r['name']}" for r in rows)

    @staticmethod
    def _parse_partition_values(rel: str, ptypes: dict) -> dict:
        """{col: typed value or None} from a hive-layout manifest path
        (``txn/col=val/.../part.parquet``). Values are Spark-escaped
        (URL-quoted, ``__HIVE_DEFAULT_PARTITION__`` for null); typing
        follows the written frame's schema for the JSON-representable
        scalars, anything else stays a string (conservative: range
        skipping treats cross-type comparisons as overlap)."""
        from urllib.parse import unquote

        out: dict[str, object] = {}
        for seg in rel.split("/")[1:-1]:
            if "=" not in seg:
                continue
            col, raw = seg.split("=", 1)
            raw = unquote(raw)
            if raw == "__HIVE_DEFAULT_PARTITION__":
                out[col] = None
                continue
            t = ptypes.get(col)
            tname = t.simpleString() if t is not None else ""
            try:
                if tname in ("tinyint", "smallint", "int", "bigint"):
                    out[col] = int(raw)
                elif tname in ("float", "double"):
                    out[col] = float(raw)
                elif tname == "boolean":
                    out[col] = raw.lower() == "true"
                else:
                    out[col] = raw
            except ValueError:
                out[col] = raw
        return out

    # -- Bloom file index ---------------------------------------------
    #
    # Per-file Bloom filter on ``bloom_col``, the skipping layer UNDER
    # min/max: footer ranges prune files whose key interval cannot
    # overlap the incoming keys, but a point merge into a table whose
    # files all span wide key ranges (e.g. uuid keys — every file's
    # range is ~the whole space) prunes nothing by range. The Bloom
    # answers "is key K definitely absent from this file?" — at 100 TB
    # that turns a point upsert's exact input_file_name scan from
    # every-file into almost-no-files. Bits live in SIDECAR files
    # (``_index/<txn>__<part>.bloom``), not the manifest: ~1.2 MB/M
    # keys at 1% fpp would bloat every later manifest JSON, while a
    # sidecar is read only for range-surviving candidates. A sidecar
    # shares its data file's lifecycle exactly: written before the
    # commit that references it, removed by vacuum with the data file.

    def _bloom_sidecar_rel(self, rel: str) -> str:
        return rel.replace("/", "__") + ".bloom"

    def _bloom_sidecar_path(self, rel: str) -> str:
        return os.path.join(
            self._strip_scheme(f"{self.path}/{_INDEX}"),
            self._bloom_sidecar_rel(rel),
        )

    @staticmethod
    def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
        """(m bits, k hashes) for ``n`` keys at ``fpp``."""
        import math

        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)) + 1)
        k = max(1, round(m / n * math.log(2))) if n else 1
        return m, k

    @staticmethod
    def _bloom_positions(value, m: int, k: int) -> list[int]:
        """Kirsch–Mitzenmacher double hashing off one md5: positions
        (h1 + i*h2) mod m. Driver-side Python (no codegen concerns);
        values are canonicalized as str, so int 5 and the parquet
        int64 5 always agree."""
        import hashlib

        d = hashlib.md5(str(value).encode("utf-8")).digest()
        h1 = int.from_bytes(d[:8], "big")
        h2 = int.from_bytes(d[8:], "big") | 1
        return [(h1 + i * h2) % m for i in range(k)]

    def _build_bloom(
        self, rel: str, stats_entry: dict | None, col_phys: str | None = None
    ) -> dict | None:
        """Build and persist the Bloom sidecar for data file ``rel``;
        returns the manifest descriptor {path, col, m, k, n} or None
        when the file is not indexable (no stats, non-int/str key, too
        many rows, any read failure). Only columns whose footer min/max
        recorded as int/str qualify — the same orderable-scalar
        contract as range skipping, so probe-side str() is unambiguous
        (floats are excluded: '0.1' vs repr drift). ``col_phys`` is
        the PHYSICAL name to read from the file (stats are also keyed
        physically); the descriptor records the LOGICAL ``bloom_col``,
        which is stable because rename refuses index columns."""
        col = col_phys or self.bloom_col
        if (
            stats_entry is None
            or stats_entry["rows"] > self.bloom_max_rows
            or not isinstance(stats_entry.get("min", {}).get(col), (int, str))
            or isinstance(stats_entry.get("min", {}).get(col), bool)
        ):
            return None
        try:
            import pyarrow.parquet as pq

            with self.store.open_read(f"{_DATA}/{rel}") as fh:
                keys = pq.read_table(fh, columns=[col]).column(col).to_pylist()
        except Exception:
            return None
        keys = [v for v in keys if v is not None]
        if not keys:
            return None
        m, k = self._bloom_params(len(keys), self.bloom_fpp)
        bits = 0
        for v in keys:
            for pos in self._bloom_positions(v, m, k):
                bits |= 1 << pos
        nbytes = (m + 7) // 8
        self.store.put(
            f"{_INDEX}/{self._bloom_sidecar_rel(rel)}",
            bits.to_bytes(nbytes, "little"),
        )
        return {
            "path": self._bloom_sidecar_rel(rel),
            # the INDEXED column rides in the descriptor: a handle
            # opened later with a different bloom_col must not probe
            # new-column values against bits built on the old column
            # (false "definitely absent" -> merge duplicates keys,
            # delete no-ops — silent corruption). Recorded as the
            # LOGICAL name (probes compare logical; rename refuses
            # index columns, so it is stable)
            "col": self.bloom_col,
            "m": m,
            "k": k,
            "n": len(keys),
        }

    def _bloom_excludes(
        self, stats_entry: dict | None, probe_keys, col: str
    ) -> bool:
        """True only when this file's Bloom PROVES no probe key on
        column ``col`` is present (definitely-absent). Missing or
        unreadable sidecar, a sidecar built on a DIFFERENT column
        (or an old descriptor that never recorded one), or any
        non-int/str probe → False (conservative keep)."""
        bloom = (stats_entry or {}).get("bloom")
        if not bloom or probe_keys is None:
            return False
        if bloom.get("col") != col:
            return False
        try:
            bits = int.from_bytes(
                self.store.read_bytes(f"{_INDEX}/{bloom['path']}"), "little"
            )
        except OSError:
            return False
        m, k = bloom["m"], bloom["k"]
        for h1, h2 in self._probe_key_hashes(probe_keys):
            if h1 is None:  # unhashable probe type: conservative keep
                return False
            if all(bits >> ((h1 + i * h2) % m) & 1 for i in range(k)):
                return False  # possibly present
        return True

    def _probe_key_hashes(self, probe_keys):
        """(h1, h2) per probe key, computed ONCE per probe set and
        memoized on the keys tuple: the md5 is independent of each
        file's (m, k), so re-digesting every key per candidate file
        (up to probe-cap x file-count digests on the driver) was pure
        waste (r13 review finding). (None, None) marks a key type the
        Bloom cannot represent — callers keep the file."""
        cached = getattr(self, "_probe_hash_cache", None)
        if cached is not None and cached[0] is probe_keys:
            return cached[1]
        import hashlib

        out = []
        for v in probe_keys:
            if not isinstance(v, (int, str)) or isinstance(v, bool):
                out.append((None, None))
                continue
            d = hashlib.md5(str(v).encode("utf-8")).digest()
            out.append(
                (int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1)
            )
        self._probe_hash_cache = (probe_keys, out)
        return out

    def _collect_probe_keys(self, keys: DataFrame, key_col: str):
        """The distinct incoming keys, driver-side, or None when there
        are more than _BLOOM_PROBE_CAP (bulk writes skip the Bloom
        layer — they touch most files regardless)."""
        if self.bloom_col != key_col:
            return None
        rows = keys.limit(self._BLOOM_PROBE_CAP + 1).collect()
        if len(rows) > self._BLOOM_PROBE_CAP:
            return None
        return [r[0] for r in rows if r[0] is not None]

    def _file_stats(self, rel: str) -> dict | None:
        """{rows, bytes, min: {col: v}, max: {col: v}} from the parquet
        FOOTER (no data read). Only top-level columns whose min/max are
        JSON-representable orderable scalars (int/float/str) make it in;
        a column missing stats in ANY row group is dropped entirely so a
        consumer can trust every recorded bound. Any failure degrades to
        None — stats are an optimization, never required. Reads route
        through the store (r12): a parquet FOOTER probe on a file-like
        is the same seek-to-tail read a real object store serves as a
        ranged GET."""
        try:
            import pyarrow.parquet as pq

            with self.store.open_read(f"{_DATA}/{rel}") as fh:
                meta = pq.ParquetFile(fh).metadata
            nbytes = self.store.size(f"{_DATA}/{rel}")
        except Exception:
            return None
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        bad: set[str] = set()
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                if "." in name or name in bad:
                    continue
                st = col.statistics
                mn = st.min if st is not None and st.has_min_max else None
                mx = st.max if st is not None and st.has_min_max else None
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                    except UnicodeDecodeError:
                        mn = None
                # bool excluded: True/False ranges prune nothing useful
                # and json would conflate them with ints
                if (
                    mn is None
                    or isinstance(mn, bool)
                    or not isinstance(mn, (int, float, str))
                ):
                    bad.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
        return {
            "rows": meta.num_rows,
            "bytes": nbytes,
            "min": mins,
            "max": maxs,
        }

    def _txn_already_applied(
        self, txn_app: str | None, txn_version: int | None, upto: int
    ) -> int | None:
        """Is a commit marker for ``txn_app`` at ``>= txn_version``
        already in the table? — the Delta-style idempotence check that
        makes at-least-once foreachBatch replays exactly-once: a
        replayed micro-batch finds its own (or a later) marker and
        skips. Returns the current version when applied, None when the
        writer must proceed.

        O(1) on current-format tables: every manifest carries the
        ACCUMULATED per-app marker map (``txns``), so only the newest
        manifest is read — commit cost stays flat over a day of
        micro-batches. Tables whose newest manifest predates the map
        (or was written by an external tool) fall back to the linear
        marker scan."""
        if txn_app is None or txn_version is None or upto == 0:
            return None
        newest = self._read_manifest(upto)
        txns = newest.get("txns")
        if txns is not None:
            got = txns.get(txn_app)
            return upto if got is not None and got >= txn_version else None
        for v in range(upto, 0, -1):  # legacy manifests: scan markers
            try:
                txn = self._read_manifest(v).get("txn")
            except FileNotFoundError:  # expired snapshot
                continue
            if txn and txn.get("app") == txn_app:
                # the newest marker for this app decides: monotone
                # batch ids mean version >= ours == already applied
                return upto if txn.get("version", -1) >= txn_version else None
        return None

    def _next_manifest(
        self,
        v: int,
        man: dict,
        op: str,
        files: list[str],
        schema: str,
        stats: dict,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """Manifest for version ``v + 1`` on parent ``man`` — the ONE
        place commit metadata is assembled, so the accumulated per-app
        ``txns`` marker map propagates through every op (a delete or
        optimize between two micro-batches must not lose the stream's
        markers)."""
        import time

        # a handle constructed while the table was EMPTY resolved its
        # partition policy against nothing; if a concurrent writer
        # bootstrapped with a different policy since, committing on top
        # would flip the table's committed partition_by and read the
        # winner's hive files with NULL partition columns — refuse
        # loudly instead (the retry loops re-snapshot, so this check is
        # fresh on every attempt; same-policy handles never trip it)
        if man.get("schema") is not None and (
            (man.get("partition_by") or None) != (self.partition_by or None)
        ):
            raise ValueError(
                f"partition policy conflict at {self.path}: table committed "
                f"{man.get('partition_by')}, this handle resolved "
                f"{self.partition_by} (a concurrent writer bootstrapped the "
                "table after this handle was constructed) — reopen the table"
            )
        txns = dict(man.get("txns") or {})
        out_fields = (
            {f["name"] for f in json.loads(schema)["fields"]} if schema else set()
        )
        out = {
            "version": v + 1,
            "parent": v,
            "op": op,
            # commit wall-clock, for TIMESTAMP AS OF reads; the slot
            # claim serializes commits, so ts order == version order
            # up to clock skew between writers (same caveat as Delta)
            "ts": time.time(),
            "files": files,
            "schema": schema,
            "stats": stats,
            # CHECK constraints ride every manifest like txns do — a
            # delete/optimize between writes must not drop them
            "constraints": dict(man.get("constraints") or {}),
            # the partition policy is table metadata: __init__ already
            # guarantees self.partition_by equals any committed value,
            # so recording it here both fixes it at creation and
            # carries it through every later commit
            "partition_by": self.partition_by,
            # the bloom index and write-clustering POLICIES also ride
            # the manifest so a reopened handle (or the external
            # lakehouse Data Source writer) that passes none inherits
            # them (see __init__); unlike partition_by a later handle
            # may switch them — per-descriptor "col" tags keep old
            # sidecars safe, and footer ranges are only ever a
            # conservative skip signal. Policies referencing a column
            # ABSENT from the OUTGOING schema are dropped here (an
            # external-writer overwrite or a restore() to a
            # pre-evolution version can commit a schema without the
            # policy column; persisting the stale policy would make
            # every later __init__ fail its own typo check — a
            # permanently unopenable table, r11 review finding 1)
            "bloom_col": (
                self.bloom_col if self.bloom_col in out_fields else None
            ),
            "cluster_by": (
                self.cluster_by
                if self.cluster_by
                and all(c in out_fields for c in self.cluster_by)
                else None
            ),
            # ghost list of retired PHYSICAL names, riding forever: old
            # data files still carry the bytes, so any later field with
            # a colliding name gets a fresh physical via column mapping
            # (see _evolved_schema / rename_column)
            "dropped_columns": sorted(set(man.get("dropped_columns") or [])),
        }
        if txn_app is not None and txn_version is not None:
            txns[txn_app] = txn_version
            out["txn"] = {"app": txn_app, "version": txn_version}
        # written even when empty: its PRESENCE marks a current-format
        # manifest, keeping the idempotence check O(1) instead of
        # falling back to the legacy full-history scan
        out["txns"] = txns
        return out

    def append(
        self,
        df: DataFrame,
        max_retries: int = 20,
        txn_app: str | None = None,
        txn_version: int | None = None,
        evolve_schema: bool = False,
        n_out: int | None = None,
    ) -> int:
        """Transactional append: new data files + one commit. Safe
        under concurrency (conflicts only re-claim the next version —
        the file list from OTHER writers is re-read, never clobbered).
        ``txn_app``/``txn_version`` make the commit idempotent: a
        replay of an already-committed (app, version) is a no-op.

        The incoming schema must match the table's (name → type,
        order- and nullability-insensitive: readers project parquet by
        name). A mismatched append would otherwise commit the OLD
        manifest schema over files carrying different columns, and the
        mismatch would surface only as silent nulls on read — so it
        raises here instead. ``evolve_schema=True`` opts into the same
        additive evolution ``merge`` has (new columns append, type
        changes still refuse).

        ``n_out`` pins the clustered output file count for THIS write.
        The default follows the frame's leaf input-file width — right
        for ingest pipelines whose parallelism mirrors their source,
        degenerate when bulk-loading from a single file (everything
        funnels through one range task and later point merges have one
        giant file to rewrite); a bulk bootstrap passes the file count
        the table should live as."""
        rels: list[str] | None = None
        st: dict = {}
        staged_phys: dict | None = None
        schema = df.schema.json()
        for _ in range(max_retries):
            v, man = self.snapshot()
            done = self._txn_already_applied(txn_app, txn_version, v)
            if done is not None:
                return done
            out_schema_json = man["schema"] or schema
            if man["schema"] is not None:
                table_schema = StructType.fromJson(json.loads(man["schema"]))
                if evolve_schema:
                    out_schema_json = self._evolved_schema(
                    table_schema, df, man.get("dropped_columns") or ()
                )
                else:
                    self._check_schema_compatible(table_schema, df.schema)
            self._enforce_constraints(df, man)
            phys_now = self._physical_names(
                StructType.fromJson(json.loads(out_schema_json))
            )
            if rels is not None and {
                c: phys_now.get(c, c) for c in df.columns
            } != staged_phys:
                # a commit race with a rename / drop-then-re-add changed
                # the mapping for a column we already staged: the staged
                # files carry the OLD physical name, so committing them
                # under the new schema would silently null (or alias)
                # that column — restage; the old files become vacuum
                # orphans (r11 review finding 5)
                rels = None
            if rels is None:  # write data files once, after the checks
                staged_phys = {c: phys_now.get(c, c) for c in df.columns}
                _, rels, st = self._write_data_files(
                    df, n_out=n_out, phys=phys_now
                )
            manifest = self._next_manifest(
                v,
                man,
                "append",
                man["files"] + rels,
                out_schema_json,
                {**(man.get("stats") or {}), **st},
                txn_app,
                txn_version,
            )
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(f"append lost {max_retries} commit races at {self.path}")

    @staticmethod
    def _check_schema_compatible(
        table_schema: StructType, incoming: StructType
    ) -> None:
        """Raise unless ``incoming`` carries exactly the table's
        columns with matching types (order/nullability ignored —
        parquet is projected by name on read)."""
        have = {f.name: f.dataType for f in table_schema.fields}
        got = {f.name: f.dataType for f in incoming.fields}
        if have == got:
            return
        missing = sorted(set(have) - set(got))
        extra = sorted(set(got) - set(have))
        changed = sorted(
            f"{n}: {have[n].simpleString()} -> {got[n].simpleString()}"
            for n in set(have) & set(got)
            if have[n] != got[n]
        )
        raise ValueError(
            "append schema mismatch vs table "
            f"(missing={missing}, extra={extra}, changed={changed}); "
            "pass evolve_schema=True for additive evolution"
        )

    @staticmethod
    def _may_contain(
        stats: dict | None, key_col: str, kmin, kmax
    ) -> bool:
        """Can this file's key range overlap [kmin, kmax]? Unknown
        stats, unorderable/mismatched types → True (conservative).
        All-null incoming keys (kmin is None) → False: NULL never
        equi-matches, and parquet min/max exclude nulls, so range
        skipping is exact for MERGE."""
        if not stats:
            return True
        mn = stats.get("min", {}).get(key_col)
        mx = stats.get("max", {}).get(key_col)
        if mn is None or mx is None:
            return True
        if kmin is None:
            return False
        numeric = isinstance(mn, (int, float)) and isinstance(kmin, (int, float))
        stringy = isinstance(mn, str) and isinstance(kmin, str)
        if not (numeric or stringy):
            return True
        return not (mx < kmin or mn > kmax)

    @staticmethod
    def _key_range(keys: DataFrame, key_col: str):
        """(min, max, has_signal) of the key frame — one tiny agg.
        ``has_signal=True`` with min/max None means the agg SUCCEEDED
        and every key is NULL (or there are no keys): a definite
        "nothing can equi-match" signal that skips every file with
        stats. ``has_signal=False`` (the agg threw: unaggregatable
        type) means NO range information — callers must keep every
        candidate. Collapsing the two cases made an all-null merge
        exact-scan every file (r10 ADVICE finding 4)."""
        try:
            krow = keys.agg(F.min(key_col), F.max(key_col)).first()
            return krow[0], krow[1], True
        except Exception:
            return None, None, False

    def _hit_files(
        self,
        man: dict,
        table_schema: StructType,
        keys: DataFrame,
        key_col: str,
        krange: tuple,
    ) -> list[str]:
        """Single-key entry point for hit detection — a thin wrapper
        over ``_hit_files_on`` so merge, delete and merge_into share
        ONE implementation of range skip + Bloom probe + exact scan
        and can never diverge. ``krange`` is the caller's retry-cached
        ``_key_range`` triple (the commit loop recomputes snapshots,
        not aggregates)."""
        return self._hit_files_on(
            man, table_schema, keys, [key_col], ranges={key_col: krange}
        )

    def merge(
        self,
        df: DataFrame,
        key_col: str,
        max_retries: int = 20,
        before_commit=None,
        evolve_schema: bool = False,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """MERGE (upsert): every incoming row is written; existing rows
        whose ``key_col`` matches any incoming key are removed. Only
        data files that actually contain a matched key are rewritten —
        all other files carry over by reference. ``before_commit`` is a
        test seam invoked between data-file write and the commit
        attempt (where a concurrent writer may sneak in); production
        callers leave it None.

        Concurrency: the commit is an atomic version-slot claim. On
        conflict the ENTIRE merge recomputes against the winner's
        snapshot — the anti-join then sees the other writer's rows, so
        interleaved merges serialize with no lost rows (verified by
        ``test_lakehouse_concurrent_merges_no_lost_rows``)."""
        keys = df.select(key_col).distinct()
        schema = df.schema.json()
        krange: tuple | None = None  # computed lazily: a replayed or
        # bootstrap merge never needs the incoming key range
        for _ in range(max_retries):
            v, man = self.snapshot()
            done = self._txn_already_applied(txn_app, txn_version, v)
            if done is not None:
                return done
            # survivors were already in the table (valid by induction),
            # so checking the incoming rows alone enforces the table's
            # CHECK constraints over the whole merge result
            self._enforce_constraints(df, man)
            if v == 0:
                _, rels, st = self._write_data_files(df)
                manifest = self._next_manifest(
                    0, man, "merge", rels, schema, st, txn_app, txn_version
                )
                if before_commit is not None:
                    before_commit()
                if self._try_commit(1, manifest):
                    return 1
                continue  # someone bootstrapped first: merge for real
            table_schema = StructType.fromJson(json.loads(man["schema"]))
            out_schema_json = man["schema"]
            if evolve_schema:
                out_schema_json = self._evolved_schema(
                    table_schema, df, man.get("dropped_columns") or ()
                )
            else:
                # the same guard append() has carried since r10: a
                # no-hit merge (all-new keys) writes the incoming frame
                # AS-IS under the committed schema, so a column typo
                # would otherwise commit files whose data reads back as
                # silent NULLs — the unionByName on the hit path only
                # incidentally caught this when hit_rels was non-empty
                # (r13 review finding)
                self._check_schema_compatible(table_schema, df.schema)
            all_stats = man.get("stats") or {}
            if krange is None:
                krange = self._key_range(keys, key_col)
            hit_rels = self._hit_files(man, table_schema, keys, key_col, krange)
            carried = [rel for rel in man["files"] if rel not in set(hit_rels)]
            if hit_rels:
                affected = self._read_rels(table_schema, hit_rels)
                survivors = affected.join(keys, key_col, "left_anti")
                merged = survivors.unionByName(df, allowMissingColumns=evolve_schema)
            else:
                merged = df
            _, rels, st = self._write_data_files(
                merged,
                phys=self._physical_names(
                    StructType.fromJson(json.loads(out_schema_json))
                ),
            )
            manifest = self._next_manifest(
                v,
                man,
                "merge",
                carried + rels,
                out_schema_json,
                {
                    **{rel: all_stats[rel] for rel in carried if rel in all_stats},
                    **st,
                },
                txn_app,
                txn_version,
            )
            if before_commit is not None:
                before_commit()
            if self._try_commit(v + 1, manifest):
                return v + 1
            # conflict: the winner's rows must flow into the re-merge;
            # our orphaned txn files stay invisible until vacuum
        raise CommitConflict(f"merge lost {max_retries} commit races at {self.path}")

    def _hit_files_on(
        self,
        man: dict,
        table_schema: StructType,
        source: DataFrame,
        key_cols: list[str],
        ranges: dict[str, tuple] | None = None,
    ) -> list[str]:
        """THE hit-detection implementation (merge and delete reach it
        through ``_hit_files``): a file is a candidate only if its
        footer range can overlap the incoming range on EVERY key
        column (conjunctive — a composite match needs all of them
        present in the row); the Bloom layer applies when one of the
        key columns is the indexed one (a file lacking every incoming
        value of that column cannot contain any composite match).
        Exact input_file_name scan joins on all key columns.
        ``ranges`` lets a retrying caller inject its cached per-column
        ``_key_range`` triples (min, max, has_signal): a successful agg
        with None bounds means every incoming key is NULL — a definite
        skip for every stats-bearing file (NULL never equi-matches) —
        while has_signal=False (unaggregatable type) means no range
        information and every candidate is kept. The two cases used to
        collapse, making an all-null merge exact-scan every candidate
        (r10 ADVICE finding 4)."""
        keys = source.select(*key_cols).distinct()
        if ranges is None:
            ranges = {}
            try:
                aggs = []
                for c in key_cols:
                    aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
                row = keys.agg(*aggs).first()
                for c in key_cols:
                    ranges[c] = (row[f"_mn_{c}"], row[f"_mx_{c}"], True)
            except Exception:
                ranges = {c: (None, None, False) for c in key_cols}
        all_stats = man.get("stats") or {}
        # footer stats are keyed by PHYSICAL column names (what the
        # files store); key_cols arrive logical
        pm = self._physical_names(table_schema)

        def _cand(rel: str) -> bool:
            st = all_stats.get(rel)
            for c in key_cols:
                lo, hi, has_signal = ranges[c]
                if not has_signal:
                    continue  # unaggregatable type: no range signal
                if not self._may_contain(st, pm.get(c, c), lo, hi):
                    return False
            return True

        candidates = [rel for rel in man["files"] if _cand(rel)]
        if candidates and self.bloom_col in key_cols:
            probe = self._collect_probe_keys(
                keys.select(self.bloom_col).distinct(), self.bloom_col
            )
            if probe is not None:
                candidates = [
                    rel
                    for rel in candidates
                    if not self._bloom_excludes(
                        all_stats.get(rel), probe, self.bloom_col
                    )
                ]
        if not candidates:
            return []
        if not self._spark_data_io:
            # relay route: input_file_name() is empty on a frame that
            # never came from a file scan, so provenance rides as an
            # explicit column appended at decode time — same join, same
            # exactness, or merge/delete would silently miss every hit
            tagged = self._read_rels_via_store(
                table_schema, candidates, rel_col="_rel"
            )
            hit = {
                r._rel
                for r in tagged.join(keys, key_cols)
                .select("_rel")
                .distinct()
                .collect()
            }
            return sorted(rel for rel in candidates if rel in hit)
        tagged = self._read_rels(table_schema, candidates).withColumn(
            "_file", F.input_file_name()
        )
        # input_file_name() returns a URI — partition directories whose
        # values contain spaces / non-ASCII / '%' come back percent-
        # encoded ('city=New York' -> '.../city=New%20York/part-...'),
        # while ``rel`` holds the raw on-disk name from os.walk. Match
        # on the DECODED path or a hit in such a partition is silently
        # missed: merge would duplicate the key, delete would no-op.
        from urllib.parse import unquote

        hit_paths = {
            unquote(r._file)
            for r in tagged.join(keys, key_cols).select("_file").distinct().collect()
        }
        return sorted(
            rel
            for rel in candidates
            if any(h.endswith(f"/{_DATA}/{rel}") for h in hit_paths)
        )

    def merge_into(
        self,
        source: DataFrame,
        on: str | list[str],
        when_matched_update: dict[str, str] | str | None = "all",
        when_matched_condition: str | None = None,
        when_matched_delete: str | None = None,
        when_not_matched_insert: bool = True,
        max_retries: int = 20,
        before_commit=None,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Full ``MERGE INTO`` semantics over the commit log — the
        conditional, column-level form that ``merge`` (whole-row
        Keep/Replace, the reference's semantics) does not express:

        * ``on`` — one or more join key columns (composite keys
          supported; a composite match requires equality on all).
        * ``when_matched_delete`` — SQL boolean over the combined row
          (target columns by name, source columns as ``src_<col>``);
          matched rows satisfying it are deleted. Evaluated FIRST,
          like Delta's clause ordering.
        * ``when_matched_update`` — ``"all"`` (every source column
          overwrites its target column — plain upsert), a dict
          ``{target_col: sql_expr}`` over the same combined-row
          namespace (e.g. ``{"qty": "qty + src_qty"}``), or None (no
          update). ``when_matched_condition`` gates it; matched rows
          failing the gate keep their target values.
        * ``when_not_matched_insert`` — source rows matching no
          target key are appended (their schema must match the table,
          same check as ``append``).

        Multiple source rows matching one target key is refused
        loudly (nondeterministic update order — the standard MERGE
        error). Only data files containing a matched key are
        rewritten (footer range skip on every key column + Bloom when
        applicable); concurrency, retries and txn markers are the
        same optimistic loop as ``merge``."""
        key_cols = [on] if isinstance(on, str) else list(on)
        # null-keyed source rows can never match a target row (equi-
        # join semantics), so several of them are NOT ambiguous — drop
        # them from the duplicate check (groupBy would bucket NULLs
        # together and refuse two independent null-key inserts)
        dup = (
            source.dropna(subset=key_cols)
            .groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "merge_into: multiple source rows match target key "
                f"{tuple(dup[0][c] for c in key_cols)} — dedupe the source"
            )
        for _ in range(max_retries):
            v, man = self.snapshot()
            done = self._txn_already_applied(txn_app, txn_version, v)
            if done is not None:
                return done
            if v == 0:
                if not when_not_matched_insert:
                    return 0  # no table, no inserts: nothing to commit
                self._enforce_constraints(source, man)
                _, rels, st = self._write_data_files(source)
                manifest = self._next_manifest(
                    0, man, "merge_into", rels, source.schema.json(), st,
                    txn_app, txn_version,
                )
                if before_commit is not None:
                    before_commit()
                if self._try_commit(1, manifest):
                    return 1
                continue
            table_schema = StructType.fromJson(json.loads(man["schema"]))
            if when_not_matched_insert:
                self._check_schema_compatible(table_schema, source.schema)
            out_cols = table_schema.fieldNames()
            has_matched_clause = (
                when_matched_update is not None or when_matched_delete is not None
            )
            if not has_matched_clause and not when_not_matched_insert:
                return v  # no clause can change anything
            hit_rels = self._hit_files_on(man, table_schema, source, key_cols)
            # with no matched clause (insert-if-not-exists), matched
            # rows are untouched BY DEFINITION: carry every hit file by
            # reference instead of rewriting it byte-identically — at
            # scale that is the difference between appending a few
            # files and rewriting every file a source key lands in
            rewrite_hits = bool(hit_rels) and has_matched_clause
            carried = (
                [rel for rel in man["files"] if rel not in set(hit_rels)]
                if rewrite_hits
                else list(man["files"])
            )
            src = source.select(
                *[F.col(c).alias(f"src_{c}") for c in source.columns],
                F.lit(True).alias("_src_match"),
            )
            # SQL three-valued logic: a WHEN MATCHED clause fires only
            # when its condition is TRUE — NULL (unknown) must neither
            # delete nor update, so coalesce every clause gate to FALSE
            # (an unguarded filter would silently DELETE null-condition
            # rows: filter drops null predicates)
            del_cond = (
                F.coalesce(F.expr(when_matched_delete), F.lit(False))
                if when_matched_delete is not None
                else F.lit(False)
            )
            survivors = None
            matched_keys = None
            if hit_rels:
                affected = self._read_rels(table_schema, hit_rels)
                cond = [affected[c] == F.col(f"src_{c}") for c in key_cols]
                joined = affected.join(src, cond, "left")
                matched = F.col("_src_match").isNotNull()
                matched_keys = (
                    joined.filter(matched).select(*key_cols).distinct()
                )
                if rewrite_hits:
                    keep = ~(matched & del_cond)
                    upd = when_matched_update
                    if upd == "all":
                        upd = {
                            c: f"src_{c}"
                            for c in out_cols
                            if f"src_{c}" in joined.columns
                        }
                    applies = matched & ~del_cond
                    if when_matched_condition is not None:
                        applies = applies & F.coalesce(
                            F.expr(when_matched_condition), F.lit(False)
                        )
                    sel = []
                    for c in out_cols:
                        if upd and c in upd:
                            sel.append(
                                F.when(applies, F.expr(upd[c]))
                                .otherwise(F.col(c))
                                .alias(c)
                            )
                        else:
                            sel.append(F.col(c))
                    survivors = joined.filter(keep).select(*sel)
            if when_not_matched_insert:
                inserts = source
                if matched_keys is not None:
                    inserts = source.join(matched_keys, key_cols, "left_anti")
                inserts = inserts.select(*out_cols)
            else:
                inserts = None
            if survivors is not None and inserts is not None:
                merged = survivors.unionByName(inserts)
            elif survivors is not None:
                merged = survivors
            elif inserts is not None:
                # insert-only writes: an all-matched source would commit
                # an empty, content-identical snapshot — skip it
                if inserts.limit(1).count() == 0:
                    return v
                merged = inserts
            else:
                return v  # no hits, no inserts: the table is unchanged
            # UPDATE clauses compute NEW values, so unlike merge() the
            # whole written frame must pass the table's constraints
            self._enforce_constraints(merged, man)
            all_stats = man.get("stats") or {}
            _, rels, st = self._write_data_files(
                merged, phys=self._physical_names(table_schema)
            )
            manifest = self._next_manifest(
                v,
                man,
                "merge_into",
                carried + rels,
                man["schema"],
                {
                    **{rel: all_stats[rel] for rel in carried if rel in all_stats},
                    **st,
                },
                txn_app,
                txn_version,
            )
            if before_commit is not None:
                before_commit()
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(
            f"merge_into lost {max_retries} commit races at {self.path}"
        )

    def delete(
        self,
        keys_df: DataFrame,
        key_col: str,
        max_retries: int = 20,
        before_commit=None,
    ) -> int:
        """Transactional DELETE by key — the right-to-erasure walk a
        data pipeline runs under GDPR/CCPA: only data files that
        actually CONTAIN a matched key are rewritten (footer-stats
        range skip, then the exact ``input_file_name`` scan, same as
        merge); every other file carries into the new snapshot by
        reference. When no file contains any matched key the table is
        untouched and the CURRENT version is returned (no empty
        commit). Note time travel still reads older snapshots — a full
        erasure additionally requires retiring the old manifests and
        running ``vacuum``, which is a retention-policy decision, not
        a table operation."""
        keys = keys_df.select(key_col).distinct()
        krange = self._key_range(keys, key_col)
        for _ in range(max_retries):
            v, man = self.snapshot()
            if v == 0:
                return 0
            table_schema = StructType.fromJson(json.loads(man["schema"]))
            all_stats = man.get("stats") or {}
            hit_rels = self._hit_files(man, table_schema, keys, key_col, krange)
            if not hit_rels:
                return v  # nothing matched: no empty commit
            carried = [rel for rel in man["files"] if rel not in set(hit_rels)]
            survivors = self._read_rels(table_schema, hit_rels).join(
                keys, key_col, "left_anti"
            )
            _, rels, st = self._write_data_files(
                survivors, phys=self._physical_names(table_schema)
            )
            manifest = self._next_manifest(
                v,
                man,
                "delete",
                carried + rels,
                man["schema"],
                {
                    **{rel: all_stats[rel] for rel in carried if rel in all_stats},
                    **st,
                },
            )
            if before_commit is not None:
                before_commit()
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(f"delete lost {max_retries} commit races at {self.path}")

    @staticmethod
    def _evolved_schema(
        table_schema: StructType, df: DataFrame, dropped: tuple | list = ()
    ) -> str:
        """Additive evolution only: incoming columns not in the table
        are appended; a TYPE change on an existing column is refused.

        Column mapping (r11) makes re-adding a DROPPED name safe: the
        new field gets a FRESH physical name (recorded as field
        metadata), so old data files' stale bytes under the retired
        physical name can never resurrect — they are simply never
        projected. ``dropped`` is the manifest's ghost list of retired
        PHYSICAL names; a new field also gets a fresh physical when
        its name collides with any LIVE field's physical (the
        rename-then-re-add-the-old-name case)."""
        have = {f.name: f for f in table_schema.fields}
        ghosts = set(dropped)
        live_phys = {
            (f.metadata or {}).get("physical", f.name)
            for f in table_schema.fields
        }
        new_fields = list(table_schema.fields)
        for f in df.schema.fields:
            old = have.get(f.name)
            if old is not None and old.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change column '{f.name}' "
                    f"from {old.dataType.simpleString()} to "
                    f"{f.dataType.simpleString()}"
                )
            if old is None:
                phys = f.name
                if phys in ghosts or phys in live_phys:
                    phys = f"{f.name}-{uuid.uuid4().hex[:8]}"
                md = {"physical": phys} if phys != f.name else None
                new_fields.append(
                    StructField(f.name, f.dataType, f.nullable, md)
                )
        return StructType(new_fields).json()

    # -- CHECK constraints --------------------------------------------

    def _enforce_constraints(self, df: DataFrame, man: dict) -> None:
        """Raise if any row of ``df`` VIOLATES a table constraint.
        SQL CHECK semantics: a row fails only when the expression
        evaluates to FALSE — NULL (unknown) passes, as in Delta and
        the standard. One limit-1 probe per constraint; constraint
        counts are small by construction."""
        for name, expr in (man.get("constraints") or {}).items():
            bad = df.filter(~F.expr(expr)).limit(1).collect()
            if bad:
                raise ValueError(
                    f"CHECK constraint '{name}' ({expr}) violated by "
                    f"incoming row {tuple(bad[0])}"
                )

    def add_constraint(
        self, name: str, expr: str, max_retries: int = 20
    ) -> int:
        """Add CHECK constraint ``expr`` (SQL boolean over table
        columns). The CURRENT snapshot is validated first — a
        constraint the existing data violates is refused, so a reader
        may trust that every constraint in the manifest holds over
        every live row. Committed as its own snapshot
        (``op: "add_constraint"``, files unchanged) so concurrent
        writers serialize against it: a writer that raced ahead of
        the constraint re-reads the new manifest on conflict and
        enforces it."""
        for _ in range(max_retries):
            v, man = self.snapshot()
            if v == 0:
                raise FileNotFoundError(f"no committed version at {self.path}")
            if name in (man.get("constraints") or {}):
                raise ValueError(f"constraint '{name}' already exists")
            probe = {"constraints": {name: expr}}
            self._enforce_constraints(self.read(version=v), probe)
            manifest = self._next_manifest(
                v, man, "add_constraint", man["files"], man["schema"],
                man.get("stats") or {},
            )
            manifest["constraints"][name] = expr
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(
            f"add_constraint lost {max_retries} commit races at {self.path}"
        )

    def drop_constraint(self, name: str, max_retries: int = 20) -> int:
        for _ in range(max_retries):
            v, man = self.snapshot()
            if name not in (man.get("constraints") or {}):
                raise ValueError(f"no constraint '{name}' on {self.path}")
            manifest = self._next_manifest(
                v, man, "drop_constraint", man["files"], man["schema"],
                man.get("stats") or {},
            )
            del manifest["constraints"][name]
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(
            f"drop_constraint lost {max_retries} commit races at {self.path}"
        )

    # -- maintenance ---------------------------------------------------

    @staticmethod
    def _zorder_layout(
        df: DataFrame, zorder_by: tuple[str, str], n_out: int
    ) -> DataFrame:
        """Cluster ``df`` into ``n_out`` files by the Morton interleave
        of two columns (Delta/Iceberg OPTIMIZE ZORDER BY): grid both
        onto a 256-cell lattice between their observed bounds,
        range-partition + sort by the z-key, and the resulting files
        carry TIGHT footer min/max on BOTH columns — so merge/read
        stats skipping prunes on either, where a lexicographic sort
        only prunes the leading column."""
        from ..partitioning import zorder_key

        ca, cb = zorder_by
        bits = 8
        grid = F.lit((1 << bits) - 1)
        bounds = df.agg(
            F.min(ca).alias("_a_mn"),
            F.max(ca).alias("_a_mx"),
            F.min(cb).alias("_b_mn"),
            F.max(cb).alias("_b_mx"),
        )

        def scaled(c: str, mn: str, mx: str):
            span = F.col(mx) - F.col(mn)
            # NULL values bin explicitly to cell 0, checked FIRST:
            # F.least SKIPS nulls (least(null, 255) == 255), so without
            # this branch a null would silently land in the TOP cell
            # and stretch that file's footer range across the axis
            return (
                F.when(F.col(c).isNull() | span.isNull(), F.lit(0))
                .when(span == 0, F.lit(0))
                .otherwise(
                    F.least(
                        F.floor(((F.col(c) - F.col(mn)) / span) * (1 << bits)),
                        grid,
                    )
                )
                .cast("long")
            )

        cols = df.columns
        return (
            df.crossJoin(F.broadcast(bounds))
            .withColumn(
                "_z",
                zorder_key(
                    scaled(ca, "_a_mn", "_a_mx"),
                    scaled(cb, "_b_mn", "_b_mx"),
                    bits=bits,
                ),
            )
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .select(*cols)
        )

    def optimize(
        self,
        small_bytes: int = 8 << 20,
        target_bytes: int = 128 << 20,
        max_retries: int = 20,
        before_commit=None,
        zorder_by: tuple[str, str] | None = None,
        sort_by: str | list[str] | None = None,
    ) -> int | None:
        """Compact small data files (< ``small_bytes``) into
        ~``target_bytes`` files, committed as a normal snapshot
        (``op: "optimize"``) — contents identical, large files carried
        by reference, old versions still time travel. Every merge and
        append writes its own txn files, so small files accumulate one
        commit at a time; at 100 TB uncompacted tables die by open()
        overhead and footer bloat long before data volume. Returns the
        new version, or None when fewer than two small files exist.

        Layout options (r16, the r15 verdict's item 3): by default the
        compacted rows keep the table's standing layout policy
        (``cluster_by`` tables re-range-partition inside
        ``_write_data_files``; plain tables bin-pack by size only).
        ``sort_by`` range-partitions + sorts the compacted output by
        the given column(s) — CLUSTERED compaction for a table with no
        standing ``cluster_by`` policy, giving each output file a tight
        disjoint footer range on the leading column so key-band
        predicates (merge hit detection, DSv2 pushdown, CDC carried-
        file scans) open strictly fewer files. ``zorder_by`` is the
        two-column Morton variant. The two are mutually exclusive.

        Concurrency: same optimistic loop as merge — a losing optimize
        recomputes against the winner's snapshot (the winner may have
        REWRITTEN one of the files we compacted, so re-reading the new
        manifest is required for correctness, not just politeness)."""
        if sort_by is not None and zorder_by is not None:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        sort_cols = (
            [sort_by] if isinstance(sort_by, str) else list(sort_by or [])
        )
        # an explicit empty sort_by list would silently degrade to a
        # size-only bin-pack (r16 review)
        layout_cols = sort_cols + list(zorder_by or ())
        if sort_by is not None and not sort_cols:
            raise ValueError("sort_by must name at least one column")

        def _validate_layout(man0: dict) -> None:
            names = StructType.fromJson(
                json.loads(man0["schema"])
            ).fieldNames()
            missing = [c for c in layout_cols if c not in names]
            if missing:
                raise ValueError(
                    f"sort_by/zorder_by columns {missing} not in "
                    f"schema {names}"
                )
        # validation runs against EVERY snapshot seen, not only when a
        # compaction proceeds: a typo'd column on an already-compact
        # table must raise, not silently return None (r16 review). The
        # one unvalidatable case is a table that STAYS at v0 for the
        # whole retry loop — no schema has ever been committed, so
        # there is nothing to check names against and the call is the
        # documented no-op; a commit landing mid-loop gets validated
        # the moment its schema appears (r16 ADVICE: the hole had just
        # moved to the empty-table case).
        for _ in range(max_retries):
            v, man = self.snapshot()
            if v > 0 and layout_cols:
                _validate_layout(man)
            if v == 0:
                return None
            all_stats = man.get("stats") or {}

            def _size(rel: str) -> int | None:
                s = all_stats.get(rel)
                if s and "bytes" in s:
                    return s["bytes"]
                try:
                    return self.store.size(f"{_DATA}/{rel}")
                except OSError:
                    return None

            sized = {rel: _size(rel) for rel in man["files"]}
            small = [
                rel for rel, sz in sized.items() if sz is not None and sz < small_bytes
            ]
            if len(small) < 2:
                return None
            carried = [rel for rel in man["files"] if rel not in set(small)]
            total = sum(sized[rel] for rel in small)
            n_out = max(1, int(-(-total // target_bytes)))
            table_schema = StructType.fromJson(json.loads(man["schema"]))
            compacted = self._read_rels(table_schema, small)
            phys = self._physical_names(table_schema)
            if zorder_by is not None:
                compacted = self._zorder_layout(compacted, zorder_by, n_out)
                # pre_clustered: the Morton layout IS the layout; the
                # cluster_by policy re-range-partitioning it would pay
                # the z-order shuffle and then throw the result away
                _, rels, st = self._write_data_files(
                    compacted, pre_clustered=True, phys=phys
                )
            elif sort_cols:
                compacted = compacted.repartitionByRange(
                    n_out, *sort_cols
                ).sortWithinPartitions(*sort_cols)
                _, rels, st = self._write_data_files(
                    compacted, pre_clustered=True, phys=phys
                )
            else:
                # coalesce only sets the file COUNT; on a cluster_by
                # table _write_data_files range-repartitions every
                # written frame anyway (with the bin-pack n_out pinned
                # here — deriving it from inputFiles() would count the
                # small files being compacted and undo the packing),
                # so compaction re-establishes disjoint tight footers
                # without a second shuffle here
                compacted = compacted.coalesce(n_out)
                _, rels, st = self._write_data_files(
                    compacted, n_out=n_out, phys=phys
                )
            manifest = self._next_manifest(
                v,
                man,
                "optimize",
                carried + rels,
                man["schema"],
                {
                    **{rel: all_stats[rel] for rel in carried if rel in all_stats},
                    **st,
                },
            )
            if before_commit is not None:
                before_commit()
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(
            f"optimize lost {max_retries} commit races at {self.path}"
        )

    def drop_columns(self, cols: str | list[str], max_retries: int = 20) -> int:
        """ALTER TABLE DROP COLUMN(S) — a manifest-only commit
        (``op: "drop_columns"``): the new schema omits the columns,
        every data file carries over by reference, and readers simply
        stop projecting the physical columns (reads here are always
        by-name against the manifest schema), so the drop is O(1) at
        any data size. Old snapshots time travel with their own schema
        and still see the columns.

        Loud refusals: unknown columns; dropping everything; layout or
        index columns (``partition_by``/``cluster_by``/``bloom_col``);
        columns a CHECK constraint references (detected by analyzing
        each constraint against the post-drop schema, not by string
        matching). The dropped fields' PHYSICAL names are recorded in
        the manifest's ghost list; with column mapping (r11) the
        logical name CAN be re-added later — ``_evolved_schema``
        assigns it a fresh physical name, so the retired bytes in old
        files can never resurrect. The bytes do remain in old files:
        this is schema-level removal, and actual on-disk erasure still
        requires a rewrite (as in Delta)."""
        cols = [cols] if isinstance(cols, str) else list(cols)
        for _ in range(max_retries):
            v, man = self.snapshot()
            if v == 0:
                raise FileNotFoundError(f"no committed version at {self.path}")
            schema = StructType.fromJson(json.loads(man["schema"]))
            have = [f.name for f in schema.fields]
            missing = [c for c in cols if c not in have]
            if missing:
                raise ValueError(f"cannot drop {missing}: not in schema {have}")
            for kind, protected in (
                ("partition_by", self.partition_by or []),
                ("cluster_by", self.cluster_by or []),
                ("bloom_col", [self.bloom_col] if self.bloom_col else []),
            ):
                bad = sorted(set(cols) & set(protected))
                if bad:
                    raise ValueError(
                        f"cannot drop {bad}: referenced by the table's {kind}"
                    )
            keep = [f for f in schema.fields if f.name not in set(cols)]
            if not keep:
                raise ValueError("cannot drop every column")
            new_schema = StructType(keep)
            probe = self.spark.createDataFrame([], new_schema)
            for name, expr in (man.get("constraints") or {}).items():
                try:
                    probe.filter(F.expr(expr)).schema  # forces analysis
                except Exception:
                    raise ValueError(
                        f"cannot drop {cols}: CHECK constraint '{name}' "
                        f"({expr}) references a dropped column — drop the "
                        "constraint first"
                    )
            # stats are keyed by PHYSICAL names; the ghost list records
            # physical names too (that is what old files carry)
            pm = self._physical_names(schema)
            gone = {pm.get(c, c) for c in cols}
            stats = {
                rel: {
                    **s,
                    "min": {k: x for k, x in s.get("min", {}).items() if k not in gone},
                    "max": {k: x for k, x in s.get("max", {}).items() if k not in gone},
                }
                for rel, s in (man.get("stats") or {}).items()
            }
            manifest = self._next_manifest(
                v, man, "drop_columns", man["files"], new_schema.json(), stats
            )
            manifest["dropped_columns"] = sorted(
                set(man.get("dropped_columns") or []) | gone
            )
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(
            f"drop_columns lost {max_retries} commit races at {self.path}"
        )

    def rename_column(self, old: str, new: str, max_retries: int = 20) -> int:
        """ALTER TABLE RENAME COLUMN — a manifest-only commit
        (``op: "rename_column"``) built on column mapping (Delta's
        "name mode"): the field keeps its PHYSICAL name forever
        (pinned into the field's metadata on first rename), only the
        LOGICAL name changes, so every data file — past and future —
        stays readable with zero rewrites and old snapshots time
        travel under their own names. Footer stats and Bloom sidecars
        are keyed by the physical name and remain valid untouched.

        Loud refusals: unknown ``old``; ``new`` already a live column;
        layout/index columns (``partition_by``/``cluster_by``/
        ``bloom_col`` — their names live in directory paths, policy
        metadata and sidecar descriptors); columns a CHECK constraint
        references (the constraint text would silently stop analyzing
        — rename the constraint's column reference first). Renaming TO
        a previously dropped name is fine: the live field's physical
        differs from the ghost, so stale bytes never resurrect."""
        if old == new:
            raise ValueError(f"rename_column: old and new are both {old!r}")
        for _ in range(max_retries):
            v, man = self.snapshot()
            if v == 0:
                raise FileNotFoundError(f"no committed version at {self.path}")
            schema = StructType.fromJson(json.loads(man["schema"]))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(
                    f"cannot rename {old!r}: not in schema {names}"
                )
            if new in names:
                raise ValueError(
                    f"cannot rename {old!r} to {new!r}: column exists"
                )
            for kind, protected in (
                ("partition_by", self.partition_by or []),
                ("cluster_by", self.cluster_by or []),
                ("bloom_col", [self.bloom_col] if self.bloom_col else []),
            ):
                if old in protected:
                    raise ValueError(
                        f"cannot rename {old!r}: referenced by the "
                        f"table's {kind}"
                    )
            new_fields = []
            for f in schema.fields:
                if f.name == old:
                    md = dict(f.metadata or {})
                    # pin the current physical name: files keep it
                    md.setdefault("physical", f.name)
                    new_fields.append(
                        StructField(new, f.dataType, f.nullable, md)
                    )
                else:
                    new_fields.append(f)
            new_schema = StructType(new_fields)
            probe = self.spark.createDataFrame([], new_schema)
            for cname, expr in (man.get("constraints") or {}).items():
                try:
                    probe.filter(F.expr(expr)).schema  # forces analysis
                except Exception:
                    raise ValueError(
                        f"cannot rename {old!r}: CHECK constraint "
                        f"'{cname}' ({expr}) references it — drop or "
                        "re-create the constraint first"
                    )
            manifest = self._next_manifest(
                v,
                man,
                "rename_column",
                man["files"],
                new_schema.json(),
                man.get("stats") or {},
            )
            manifest["renamed"] = {"from": old, "to": new}
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(
            f"rename_column lost {max_retries} commit races at {self.path}"
        )

    def restore(self, version: int, max_retries: int = 20) -> int:
        """RESTORE TABLE TO VERSION — roll back to snapshot ``version``
        as a NEW commit (``op: "restore"``): the old file list and
        schema are referenced, never copied, history stays append-only,
        and time travel ACROSS the bad commits keeps working (the
        standard Delta/Iceberg rollback verb — "a bad merge landed an
        hour ago, put the table back, keep the evidence").

        Interactions, each deliberate: the current ``txns`` idempotence
        markers are KEPT (a stream replaying an epoch from before the
        restore must still be recognized — rollback of data must not
        un-apply exactly-once bookkeeping); current CHECK constraints
        are kept and NOT re-validated against the restored rows (like
        Delta RESTORE; restored data predating a constraint may violate
        it — add_constraint re-validates if wanted); restoring to a
        version whose manifest was retired by ``expire_snapshots``
        fails loudly (FileNotFoundError) — and the restored files
        themselves are safe from any PAST vacuum only because their
        manifest still existed, so pair retention windows with restore
        windows. Same optimistic commit loop as every other writer."""
        if version < 1:
            raise ValueError(f"cannot restore to version {version}")
        for _ in range(max_retries):
            v, man = self.snapshot()
            if version > v:
                raise ValueError(
                    f"cannot restore to version {version}: table is at {v}"
                )
            target = self._read_manifest(version)  # loud when expired
            # current constraints ride along (see docstring) — but one
            # referencing a column ABSENT from the restored schema would
            # wedge every later write in an AnalysisException deep in
            # _enforce_constraints; refuse here with the fix spelled out
            t_schema = StructType.fromJson(json.loads(target["schema"]))
            probe = self.spark.createDataFrame([], t_schema)
            for cname, expr in (man.get("constraints") or {}).items():
                try:
                    probe.filter(F.expr(expr)).schema  # forces analysis
                except Exception:
                    raise ValueError(
                        f"cannot restore to version {version}: CHECK "
                        f"constraint '{cname}' ({expr}) references a column "
                        "absent from that version's schema — "
                        "drop_constraint first"
                    )
            manifest = self._next_manifest(
                v,
                man,
                "restore",
                list(target["files"]),
                target["schema"],
                dict(target.get("stats") or {}),
            )
            manifest["restored_from"] = version
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(
            f"restore lost {max_retries} commit races at {self.path}"
        )

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Retention: retire every manifest older than the newest
        ``keep_last`` versions. Time travel and ``changes()`` to an
        expired version then raise, and a following ``vacuum()`` may
        reclaim data files referenced ONLY by expired snapshots — the
        step that turns ``delete()`` into actual on-disk erasure (the
        deleted rows' bytes live on in historical files until their
        snapshots expire). Returns the expired version numbers.

        Safe under the commit protocol: the newest manifest is never
        expired, version numbering is unaffected (the log stays
        append-only at the head), and expiry is idempotent.

        A checkpoint is written at the head BEFORE any deletion (and
        the failure propagates — never delete first): (a) the
        ``current_version`` pointer probe's soundness requires deletes
        to become visible only after the pointer advanced past them;
        (b) a stream lagging below the cutoff over clean-append history
        can then still serve its catch-up from the checkpoint instead
        of failing on the expired manifests (dirty histories keep the
        loud FileNotFoundError/resync contract)."""
        head = self.current_version()
        if head == 0:
            return []
        self.write_checkpoint()
        cutoff = head - max(keep_last, 1)
        live = set(self.store.list(_COMMITS))
        expired = []
        # INVARIANT: delete in ASCENDING version order. current_version's
        # pointer probe relies on it — live manifests then form a
        # contiguous range at every instant, so a probe that terminates
        # inside a concurrent sweep finds its terminal version already
        # deleted on re-check and falls back to the listing instead of
        # returning a stale head (see current_version's docstring).
        for v in range(1, cutoff + 1):
            if f"v{v:08d}.json" in live:
                self.store.delete(self._manifest_rel(v))
                expired.append(v)
        # retire superseded checkpoint objects, keeping the newest two
        # (the one just written plus its predecessor for readers that
        # resolved it mid-flight) — each is O(live files), so keeping
        # every one forever would accrete real garbage at scale
        ckvs = sorted(
            int(name[len("ckpt-v"):-5])
            for name in live
            if name.startswith("ckpt-v")
            and name.endswith(".json")
            and name[len("ckpt-v"):-5].isdigit()
        )
        for v in ckvs[:-2]:
            self.store.delete(self._checkpoint_rel(v))
        return expired

    def vacuum(self, retention_seconds: float = 24 * 3600.0) -> list[str]:
        """Delete data files referenced by NO manifest (orphans from
        failed/raced commits). Referenced files — current or historical
        (time travel) — are never touched.

        ``retention_seconds`` (default 24 h, like Delta's VACUUM
        retention) is what makes this safe under concurrent writers:
        writers create data files BEFORE committing the manifest that
        references them, so an in-flight append/merge's files look like
        orphans to a concurrent vacuum — deleting them would let the
        about-to-win commit produce a snapshot pointing at missing
        files. Only orphans whose mtime is older than the window are
        reclaimed; pass ``0`` only when writers are known quiesced
        (tests, single-writer maintenance jobs)."""
        import time

        referenced: set[str] = set()
        for man in self.history():
            referenced.update(man["files"])
        # retained manifest CHECKPOINTS are readers too: a stream
        # replaying below the expiry cutoff plans its catch-up from a
        # checkpoint's entries, so files those entries name must
        # survive even when no live manifest references them (e.g. a
        # post-checkpoint merge rewrote them) — without this, the
        # checkpoint-served catch-up expire_snapshots promises would
        # read deleted files (r13 review finding)
        for v in self._checkpoint_versions():
            ck = self._load_checkpoint(v)
            for rel, _v, _op in (ck or {}).get("entries") or []:
                referenced.add(rel)
        removed = []
        cutoff = time.time() - max(retention_seconds, 0.0)
        for rel in self.store.list(_DATA):
            if not rel.endswith(".parquet") or rel in referenced:
                continue
            try:
                if self.store.mtime(f"{_DATA}/{rel}") > cutoff:
                    continue  # inside retention: may belong to an
                    # in-flight, about-to-commit writer
            except FileNotFoundError:
                continue  # raced another vacuum
            self.store.delete(f"{_DATA}/{rel}")
            removed.append(rel)
        # retention applies to emptied DIRECTORIES too (a local-store
        # artifact — object stores have none): an in-flight writer's
        # just-created staging dir is momentarily empty and rmdir'ing
        # it would fail the about-to-commit write. Zero retention
        # means writers are quiesced, so skip the guard — deleting a
        # dir's files refreshes its mtime, which would otherwise defer
        # every reclaim by one pass
        self.store.prune_empty_dirs(
            _DATA, None if retention_seconds <= 0 else cutoff
        )
        # a Bloom sidecar shares its data file's lifecycle: once the
        # data file is gone (this vacuum or an earlier one), the
        # sidecar is reclaimable — no separate retention needed, the
        # data file's removal already waited out the window. Sweep by
        # FORWARD-mapping every surviving data file to its sidecar name
        # (always well-defined) instead of inverting the sidecar name,
        # which is ambiguous when a partition column or value itself
        # contains the "__" join separator
        expected = {
            self._bloom_sidecar_rel(rel)
            for rel in self.store.list(_DATA)
            if rel.endswith(".parquet")
        }
        for name in self.store.list(_INDEX):
            if name.endswith(".bloom") and name not in expected:
                self.store.delete(f"{_INDEX}/{name}")
        return removed
