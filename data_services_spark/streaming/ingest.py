"""Streaming KGX ingest: incremental node merge via ``foreachBatch``
(SURVEY §2.9 + EP1 bridge — the streaming twin of the batch graph build).

Each micro-batch of incoming nodes is merged (A1 semantics: first-wins by
rank, list-union) into a persistent parquet state, so the graph stays
query-ready while sources stream in. State is **bucketed + generational**:
rows hash-bucket by ``id`` (`pmod(xxhash64(id), num_buckets)` — stable
across batches), and batch N rewrites ONLY the buckets its ids touch,
writing them under ``gen=N/__bucket=B/``. A JSON manifest (``_CURRENT``)
maps every bucket to the generation currently holding it; the committed
state is the union of those per-bucket directories. Untouched buckets are
never read, rewritten, or copied — merge cost per batch is
O(touched-bucket rows + batch rows), not O(total state), which is the
difference between a usable and an unusable incremental ingest once the
accumulated graph dwarfs any one batch. The manifest is swapped in
atomically after the new generation lands, so a died-mid-write generation
is simply orphaned (crash consistency unchanged from the unbucketed
design).

At cluster scale the same operator targets a transactional table format
(Delta/Iceberg ``MERGE INTO``) — not installable in this container — and
this bucket-granular rewrite is exactly the copy-on-write file pruning
those formats perform on a clustered merge key.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_CURRENT = "_CURRENT"
_BUCKET = "__bucket"
_MANIFESTS = "_manifests"
_LEASE = "_WRITER_LEASE"
_PINS = "_pins"
_EXPORTS = "_exports"


def acquire_writer_lease(state_dir: str, ttl_seconds: float = 3600,
                         owner: str | None = None) -> str:
    """Claim exclusive write access to a state dir; returns the lease
    token (pass to :func:`release_writer_lease`).

    The generational commit protocol is single-writer by design: two
    writers interleaving would race the manifest swap and cross-write
    ``gen=N`` directories. The lease makes the second writer FAIL FAST
    (RuntimeError) instead of corrupting a generation:

    - every lease-file read/check/write runs under an ``flock`` on the
      sibling ``_WRITER_LEASE.lock`` mutex — kernel-enforced mutual
      exclusion across processes on one host, auto-released if the
      holder dies mid-acquire, held only for the microseconds of the
      check-and-write (never across a merge). A lock-free O_EXCL+rename
      protocol was tried first and REJECTED: its stale-takeover rename
      could steal a live lease created between the staleness read and
      the rename (split-brain reproduced by the 8-thread race test);
    - a lease older than its ``ttl_seconds`` is STALE (writer died
      without releasing) and is replaced under the same mutex — no
      window exists where two writers both believe they hold it.

    This state layout is a local-fs structure (module docstring); the
    cluster-scale equivalent is an object-store conditional PUT or a
    real table format's commit protocol. TTL is wall-clock: size it well
    above the longest micro-batch merge (default 1h) — a renewal
    heartbeat is deliberately omitted, matching the availableNow-trigger
    batch cadence this module targets.
    """
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, _LEASE)
    token = f"{os.getpid()}-{uuid.uuid4().hex}"
    with _lease_mutex(state_dir):
        cur = None
        try:
            with open(path) as fh:
                cur = json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        if cur is not None and cur.get("expires_unix", 0) > time.time():
            raise RuntimeError(
                f"another writer holds the lease on {state_dir} "
                f"(owner {cur.get('owner')}, pid {cur.get('pid')}, "
                f"expires in "
                f"{cur.get('expires_unix', 0) - time.time():.0f}s); "
                "concurrent writers would corrupt the generational "
                "state — refusing")
        tmp = f"{path}.tmp.{token}"
        with open(tmp, "w") as fh:
            json.dump({
                "token": token, "owner": owner or token,
                "pid": os.getpid(), "acquired_unix": time.time(),
                "expires_unix": time.time() + ttl_seconds,
            }, fh)
        os.replace(tmp, path)
    return token


def release_writer_lease(state_dir: str, token: str) -> None:
    """Release a held lease; a no-op if the lease was already taken over
    (stale TTL expiry) or released — never removes another writer's."""
    path = os.path.join(state_dir, _LEASE)
    with _lease_mutex(state_dir):
        try:
            with open(path) as fh:
                cur = json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return
        if cur.get("token") == token:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass


class _lease_mutex:
    """flock-scoped critical section for lease-file manipulation."""

    def __init__(self, state_dir: str):
        self._path = os.path.join(state_dir, f"{_LEASE}.lock")

    def __enter__(self):
        import fcntl

        self._fd = os.open(self._path, os.O_CREAT | os.O_RDWR)
        fcntl.flock(self._fd, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self._fd, fcntl.LOCK_UN)
        os.close(self._fd)
        return False


def _bucket_col(num_buckets: int, key_cols=("id",)) -> F.Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]),
                  F.lit(num_buckets)).cast("int")


def _read_manifest(state_dir: str) -> dict | None:
    ptr = os.path.join(state_dir, _CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        raw = fh.read().strip()
    try:
        return json.loads(raw)
    except json.JSONDecodeError:
        # pre-bucketing pointer format: a bare generation number whose
        # whole state lives (unbucketed) under gen=N/
        return {"gen": int(raw), "buckets": None}


def pin_snapshot(state_dir: str, generation: int | None = None,
                 ttl_seconds: float = 3600,
                 owner: str | None = None) -> dict:
    """Register a reader-visible SNAPSHOT PIN on a committed generation
    (default: the currently committed one); returns ``{"pin_id",
    "gen"}``. While the pin is live, :func:`vacuum_state` retains every
    generation directory that snapshot's manifest references AND its
    archived manifest — regardless of ``keep_last`` — so a reader can
    hold a consistent view across writer handoffs for as long as it
    needs, not just as long as the retention window happens to cover.
    This is the reader half of snapshot isolation: writers serialize
    through the lease; readers declare their snapshot through a pin.

    The pin is a JSON file under ``_pins/`` (atomic create), carrying a
    TTL (default 1h) so a reader that dies without releasing cannot
    block retention forever — the local-fs analog of a table format's
    reader-snapshot lease. The pin write and the verification of the
    referenced manifest + data directories run as ONE ``_lease_mutex``
    critical section, paired with :func:`vacuum_state` holding the same
    mutex across its pin scan + delete sweep. Post-write verification
    alone did NOT close the race (round-6 advisor): a pin written after
    vacuum's pin scan could still verify against directories vacuum was
    about to delete — a "successful" pin followed by a torn read. With
    the mutex, either the pin lands before vacuum's scan (retained) or
    its verification runs after the sweep (sees the deletion, fails
    with a clean FileNotFoundError, removes the half-pin). Release with
    :func:`release_snapshot_pin`, or use :func:`pinned_snapshot` for
    scoped reads.
    """
    if generation is None:
        m = _read_manifest(state_dir)
        if m is None:
            raise FileNotFoundError(
                f"no committed generation in {state_dir} to pin")
        generation = m["gen"]
    pin_id = f"{os.getpid()}-{uuid.uuid4().hex}"
    pins_dir = os.path.join(state_dir, _PINS)
    os.makedirs(pins_dir, exist_ok=True)
    path = os.path.join(pins_dir, f"{pin_id}.json")
    tmp = f"{path}.tmp"
    with _lease_mutex(state_dir):
        with open(tmp, "w") as fh:
            json.dump({"pin_id": pin_id, "gen": generation,
                       "owner": owner or pin_id, "pid": os.getpid(),
                       "created_unix": time.time(),
                       "expires_unix": time.time() + ttl_seconds}, fh)
        os.replace(tmp, path)
        try:
            manifest = _pinned_manifest(state_dir, generation)
            missing = [p for p in _bucket_paths(state_dir, manifest)
                       if not os.path.isdir(p)]
            if missing:
                raise FileNotFoundError(
                    f"generation {generation} was vacuumed while pinning "
                    f"(e.g. {missing[0]}); re-pin the current generation")
        except (FileNotFoundError, json.JSONDecodeError):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            raise
    return {"pin_id": pin_id, "gen": generation}


def release_snapshot_pin(state_dir: str, pin_id: str) -> None:
    """Remove a snapshot pin; idempotent (an expired-and-collected or
    already-released pin is a no-op)."""
    try:
        os.remove(os.path.join(state_dir, _PINS, f"{pin_id}.json"))
    except FileNotFoundError:
        pass


def _pinned_manifest(state_dir: str, generation: int) -> dict:
    """The manifest doc that was current at `generation` — the archived
    copy, or the live pointer if it still points there."""
    cur = _read_manifest(state_dir)
    if cur is not None and cur["gen"] == generation:
        return cur
    hist = os.path.join(state_dir, _MANIFESTS, f"{generation}.json")
    if not os.path.exists(hist):
        raise FileNotFoundError(
            f"generation {generation} has no archived manifest in "
            f"{state_dir}")
    with open(hist) as fh:
        return json.load(fh)


def _live_pins(state_dir: str) -> list[dict]:
    """Unexpired pins; expired/corrupt pin files are garbage-collected
    in passing (the dead-reader path)."""
    pins_dir = os.path.join(state_dir, _PINS)
    if not os.path.isdir(pins_dir):
        return []
    out = []
    now = time.time()
    for f in os.listdir(pins_dir):
        if not f.endswith(".json"):
            continue
        path = os.path.join(pins_dir, f)
        try:
            with open(path) as fh:
                pin = json.load(fh)
        except (json.JSONDecodeError, FileNotFoundError):
            continue  # mid-write tmp or concurrent release
        if pin.get("expires_unix", 0) <= now:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            continue
        out.append(pin)
    return out


def _bucket_paths(state_dir: str, manifest: dict,
                  buckets=None) -> list[str]:
    if manifest["buckets"] is None:  # legacy unbucketed layout
        return [os.path.join(state_dir, f"gen={manifest['gen']}")]
    items = manifest["buckets"].items()
    if buckets is not None:
        wanted = {str(b) for b in buckets}
        items = [(b, g) for b, g in items if b in wanted]
    return [os.path.join(state_dir, f"gen={g}", f"{_BUCKET}={b}")
            for b, g in items]


def _read_state(spark: SparkSession, state_dir: str,
                buckets=None) -> DataFrame | None:
    m = _read_manifest(state_dir)
    if m is None:
        return None
    paths = _bucket_paths(state_dir, m, buckets)
    if not paths:
        return None
    return spark.read.parquet(*paths)


def read_merged_state(spark: SparkSession, state_dir: str,
                      internal: bool = False,
                      generation: int | None = None,
                      buckets=None) -> DataFrame:
    """The committed merged-node state (empty-state error is the caller's
    signal that no batch has ever committed). ``internal=True`` keeps the
    per-scalar `*__rank` bookkeeping columns.

    ``generation=N`` TIME-TRAVELS: reads the snapshot exactly as it was
    when generation N's manifest was current, resolved from the archived
    manifest history — the same mechanism a table format's `VERSION AS
    OF` uses, and the same retention contract: :func:`vacuum_state`
    keeps the generations referenced by the last ``keep_last``
    manifests, so snapshots inside that window stay byte-readable and
    older ones raise a clear error instead of a silent partial read.

    ``buckets=[...]`` reads ONLY those hash buckets' directories — the
    manifest-level partition pruning a point/prefix lookup uses when the
    caller can compute which buckets its keys hash to (the same
    ``pmod(xxhash64(bucket_cols), num_buckets)`` the writer assigns
    with; the manifest records both under ``bucket_cols`` /
    ``num_buckets``). A probe then does O(touched buckets) I/O instead
    of O(state) — the difference between a usable and an unusable
    per-micro-batch state probe once the corpus dwarfs any batch."""
    if generation is None:
        df = _read_state(spark, state_dir, buckets=buckets)
        if df is None:
            raise FileNotFoundError(
                f"no committed generation in {state_dir}"
                + ("" if buckets is None else
                   f" covering buckets {sorted(buckets)}"))
    else:
        hist = os.path.join(state_dir, _MANIFESTS, f"{generation}.json")
        if not os.path.exists(hist):
            raise FileNotFoundError(
                f"generation {generation} has no archived manifest in "
                f"{state_dir} (never committed, or aged out by "
                f"vacuum_state retention)")
        with open(hist) as fh:
            manifest = json.load(fh)
        paths = _bucket_paths(state_dir, manifest, buckets=buckets)
        if not paths:
            raise FileNotFoundError(
                f"snapshot at generation {generation} holds none of "
                f"buckets {sorted(buckets)}")
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise FileNotFoundError(
                f"snapshot at generation {generation} references "
                f"vacuumed data (e.g. {missing[0]}); raise keep_last to "
                "retain deeper history")
        df = spark.read.parquet(*paths)
    if not internal:
        df = df.drop(*[c for c in df.columns if c.endswith("__rank")])
    return df


class pinned_snapshot:
    """Scoped snapshot-isolated read: pin the committed generation,
    expose its DataFrame, release on exit.

        with pinned_snapshot(spark, state_dir) as snap:
            snap.df ...   # consistent view, vacuum-proof
            snap.gen      # the pinned generation

    Writers keep committing and vacuuming underneath; the view stays
    byte-stable for the block's duration (tests drive this from reader
    subprocesses against alternating writers)."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 ttl_seconds: float = 3600, internal: bool = False):
        self._spark, self._dir = spark, state_dir
        self._ttl, self._internal = ttl_seconds, internal
        self.df: DataFrame | None = None
        self.gen: int | None = None
        self._pin_id: str | None = None

    def __enter__(self):
        pin = pin_snapshot(self._dir, ttl_seconds=self._ttl)
        self._pin_id, self.gen = pin["pin_id"], pin["gen"]
        self.df = read_merged_state(self._spark, self._dir,
                                    internal=self._internal,
                                    generation=self.gen)
        return self

    def __exit__(self, *exc):
        if self._pin_id is not None:
            release_snapshot_pin(self._dir, self._pin_id)
        return False


def state_changes(spark: SparkSession, state_dir: str,
                  from_gen: int, to_gen: int,
                  key_cols=("id",)) -> DataFrame:
    """Change-data-feed between two committed snapshots: one row per key
    whose merged record was added, removed, or changed between
    `from_gen` and `to_gen` (both resolved via the archived manifest
    history — the same retention contract as time travel). Returns the
    key columns + `change` ('added'|'removed'|'changed').

    Plan shape: two manifest-pruned parquet reads full-outer-joined on
    the merge key with a whole-row null-safe struct comparison — no
    state is scanned outside the two snapshots, and at scale the join
    co-partitions on the same key the state is bucketed by. The
    downstream use is incremental export: feed 'changed'+'added' keys to
    a sink instead of re-exporting the full graph.

    The comparison is over the VISIBLE record (internal ``*__rank``
    bookkeeping excluded): a higher-priority source re-confirming an
    identical value improves a rank without changing what any consumer
    reads, and must not flag the row."""
    old = read_merged_state(spark, state_dir, generation=from_gen)
    new = read_merged_state(spark, state_dir, generation=to_gen)
    # schema evolution between snapshots: align columns, missing -> NULL
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
    keys = list(key_cols)
    payload = [c for c in sorted(new.columns)
               if c not in keys and c != _BUCKET]
    a = old.alias("a")
    b = new.alias("b")
    cond = None
    for k in keys:
        e = F.col(f"a.{k}") == F.col(f"b.{k}")
        cond = e if cond is None else cond & e
    j = a.join(b, cond, "full_outer")
    removed = F.col(f"b.{keys[0]}").isNull()
    added = F.col(f"a.{keys[0]}").isNull()
    same = F.struct(*[F.col(f"a.{c}") for c in payload]).eqNullSafe(
        F.struct(*[F.col(f"b.{c}") for c in payload]))
    return (j.filter(added | removed | ~same)
            .select(*[F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}"))
                      .alias(k) for k in keys],
                    F.when(removed, "removed").when(added, "added")
                    .otherwise("changed").alias("change")))


def _to_stateful(batch: DataFrame, scalar_props, list_props,
                 rank_col: str, key_cols=("id",)) -> DataFrame:
    """Raw node/edge rows -> stateful-merge shape: each scalar carries
    its own winning rank (`p__rank` = rank where p was non-null). A
    single carried rank per row would be WRONG: a scalar may have been
    resolved from a lower-priority source because the top source had it
    null, and a later batch from the top source must still be able to
    win it."""
    cols = [F.col(k) for k in key_cols]
    for p in scalar_props:
        cols.append(F.col(p))
        cols.append(F.when(F.col(p).isNotNull(), F.col(rank_col))
                    .alias(f"{p}__rank"))
    cols += [F.col(p) for p in list_props]
    cols.append(F.lit(1).cast("long").alias("n_merged"))
    return batch.select(*cols)


def _merge_stateful(df: DataFrame, scalar_props, list_props,
                    extra_group_cols=(), key_cols=("id",)) -> DataFrame:
    aggs = []
    for p in scalar_props:
        aggs.append(F.min_by(F.col(p), F.col(f"{p}__rank")).alias(p))
        aggs.append(F.min(f"{p}__rank").alias(f"{p}__rank"))
    for p in list_props:
        aggs.append(F.array_sort(F.array_distinct(
            F.flatten(F.collect_list(p)))).alias(p))
    aggs.append(F.sum("n_merged").alias("n_merged"))
    # extra_group_cols are functions of the key (the hash bucket), so
    # grouping by (key, bucket) == grouping by key while keeping the
    # column around for a partitioned write.
    return df.groupBy(*key_cols, *extra_group_cols).agg(*aggs)


def merge_upsert_batch(spark: SparkSession, batch: DataFrame,
                       state_dir: str, batch_id: int,
                       scalar_props=("name",),
                       list_props=("category",),
                       rank_col: str = "source_rank",
                       num_buckets: int = 16,
                       key_cols=("id",),
                       lease_ttl_seconds: float = 3600,
                       delete_flag: str | None = None,
                       bucket_cols=None) -> None:
    """foreachBatch body: merge `batch` into the committed state and
    commit a new generation, rewriting ONLY the key-hash buckets the
    batch touches. Idempotent per batch_id (re-running a failed batch
    overwrites its own uncommitted generation). The per-scalar-rank state
    makes incremental merge EXACTLY equal to a from-scratch batch merge
    in any arrival order (asserted in tests/test_streaming.py, which also
    asserts untouched bucket files survive a batch byte-identical).
    `key_cols` is the merge key — ("id",) for nodes, EDGE_KEY's four
    columns for edges.

    ``delete_flag`` names a boolean column carrying KEY-LEVEL DELETES
    (the table-format DELETE/MERGE "WHEN MATCHED THEN DELETE" half): a
    row with the flag true removes its key from the new generation —
    the bucket rewrite simply materializes without it, so no tombstone
    rows exist and readers never post-filter. Semantics: the delete
    erases the key's merge history (a later re-add starts fresh, as if
    the key had never existed); in a batch carrying both a delete and
    upserts for one key, the delete wins; deleting an absent key is a
    no-op. Time travel still shows the key before the delete
    generation, and `state_changes` reports it as 'removed'.

    ``bucket_cols`` (default: ``key_cols``) picks which key columns the
    bucket hash covers. A PREFIX of the key (it must be a subset of
    ``key_cols``, so one key never straddles two buckets) lets readers
    that know only the prefix — e.g. the streaming near-dup probe,
    which knows its batch's ``(band, bh)`` pairs but not which corpus
    doc_ids share them — compute their touched buckets and read ONLY
    those via :func:`read_merged_state`'s ``buckets=``. The layout
    choice is recorded in the manifest (``bucket_cols``/``num_buckets``)
    and enforced on every later batch: silently changing either would
    strand existing rows in buckets the new hash never probes.
    ``delete_flag`` with a proper-subset ``bucket_cols`` is fine — a
    delete row carries the full key, hence its bucket.

    The whole merge+commit runs under the state dir's writer lease
    (:func:`acquire_writer_lease`): a second concurrent writer raises
    immediately instead of racing the manifest swap."""
    token = acquire_writer_lease(state_dir, ttl_seconds=lease_ttl_seconds)
    try:
        _merge_upsert_locked(spark, batch, state_dir, batch_id,
                             scalar_props, list_props, rank_col,
                             num_buckets, key_cols, lease_token=token,
                             delete_flag=delete_flag,
                             bucket_cols=bucket_cols)
    finally:
        release_writer_lease(state_dir, token)


def _merge_upsert_locked(spark: SparkSession, batch: DataFrame,
                         state_dir: str, batch_id: int, scalar_props,
                         list_props, rank_col, num_buckets,
                         key_cols, lease_token: str | None = None,
                         delete_flag: str | None = None,
                         bucket_cols=None) -> None:
    # foreachBatch is at-least-once: a crash between the _CURRENT swap and
    # the streaming checkpoint commit re-runs this batch_id on restart.
    # Without this guard the retry would read gen=<batch_id> and overwrite
    # the very directory the lazy plan is reading (Spark refuses -> stream
    # permanently wedged) — and a successful re-merge would double-count.
    bucket_cols = tuple(bucket_cols) if bucket_cols else tuple(key_cols)
    if not set(bucket_cols) <= set(key_cols):
        raise ValueError(
            f"bucket_cols {bucket_cols} must be a subset of key_cols "
            f"{tuple(key_cols)}: a bucket hash over non-key columns "
            "would let one key land in different buckets across batches "
            "(duplicate rows after the per-bucket merge)")
    manifest = _read_manifest(state_dir)
    committed = None if manifest is None else manifest["gen"]
    if manifest is not None:
        # Layout consistency: the manifest records how existing buckets
        # were assigned; a mismatched later batch would write keys to
        # buckets no pruned read (or this merge's own touched-bucket
        # state read) would ever look in. Legacy manifests (pre-field)
        # were always bucketed by the full key with the caller's
        # num_buckets — hold new batches to the same rule.
        recorded = manifest.get("bucket_cols", list(key_cols))
        if list(recorded) != list(bucket_cols):
            raise RuntimeError(
                f"state_dir {state_dir} is bucketed by {recorded}, but "
                f"this batch asked for bucket_cols={list(bucket_cols)}; "
                "changing the bucket layout of existing state would "
                "corrupt pruned reads — rebuild the state or match the "
                "recorded layout")
        recorded_nb = manifest.get("num_buckets")
        if recorded_nb is not None and recorded_nb != num_buckets:
            raise RuntimeError(
                f"state_dir {state_dir} was written with "
                f"num_buckets={recorded_nb}, got {num_buckets}")
    # The replay guards compare against the BATCH WATERMARK (the last
    # merged batch_id), not the commit generation: maintenance commits
    # (compact_state) advance the generation without consuming a batch
    # id, so gen and watermark diverge the first time the state is
    # compacted. Legacy manifests carry no watermark field — there the
    # two were equal by construction.
    watermark = None if manifest is None \
        else manifest.get("batch_watermark", manifest["gen"])
    if watermark is not None and watermark == batch_id:
        return  # legitimate foreachBatch retry of the just-committed batch
    if watermark is not None and watermark > batch_id:
        # batch ids restart at 0 when the streaming checkpoint is reset;
        # pairing a fresh checkpoint with old state would silently drop
        # every batch until batch_id catches up — fail loudly instead.
        raise RuntimeError(
            f"state_dir {state_dir} is at batch watermark {watermark} but "
            f"the stream delivered batch {batch_id}: the streaming "
            "checkpoint and merge state are out of sync (checkpoint reset "
            "against retained state?). Clear one or the other.")
    # Commit generation: normally the batch id, but never below a
    # maintenance commit's generation (crash-retry recomputes the same
    # value because `committed` is unchanged until the commit lands, so
    # the retry overwrites its own orphaned gen directory exactly as
    # before).
    gen = batch_id if committed is None else max(batch_id, committed + 1)
    dels = None
    if delete_flag is not None and delete_flag in batch.columns:
        flag = F.coalesce(F.col(delete_flag), F.lit(False))
        dels = (batch.filter(flag)
                .select(*key_cols).distinct()
                .withColumn(_BUCKET, _bucket_col(num_buckets, bucket_cols)))
        batch = batch.filter(~flag).drop(delete_flag)
    incoming = _to_stateful(batch, scalar_props, list_props, rank_col,
                            key_cols) \
        .withColumn(_BUCKET, _bucket_col(num_buckets, bucket_cols))
    # Touched-bucket discovery is a metadata-scale job: at most
    # num_buckets ints reach the driver regardless of batch size. A
    # delete touches its key's bucket even with no upsert beside it —
    # that bucket must rewrite without the key.
    touch_src = incoming.select(_BUCKET) if dels is None \
        else incoming.select(_BUCKET).unionByName(dels.select(_BUCKET))
    touched = sorted(r[0] for r in touch_src.distinct().collect())
    old_buckets = {} if manifest is None or manifest["buckets"] is None \
        else dict(manifest["buckets"])
    if manifest is not None and manifest["buckets"] is None:
        # legacy unbucketed state: fold the whole old generation in once;
        # it rewrites fully this batch and is bucketed thereafter.
        state = _read_state(spark, state_dir)
        incoming = state.withColumn(
            _BUCKET, _bucket_col(num_buckets, bucket_cols)) \
            .unionByName(incoming, allowMissingColumns=True)
        touched = None  # everything rewrites
    elif touched:
        state = _read_state(spark, state_dir, buckets=touched)
        if state is not None:
            # allowMissingColumns = SCHEMA EVOLUTION: a batch may carry
            # a prop the accumulated state has never seen (or drop one).
            # Missing sides fill NULL; the per-scalar __rank state makes
            # that exact — null ranks never win min_by, so a later batch
            # from any source claims the new prop exactly as a
            # from-scratch merge would (pytest-asserted).
            incoming = state.withColumn(
                _BUCKET, _bucket_col(num_buckets, bucket_cols)) \
                .unionByName(incoming, allowMissingColumns=True)
    if touched is None or touched:
        merged = _merge_stateful(incoming, scalar_props, list_props,
                                 extra_group_cols=(_BUCKET,),
                                 key_cols=key_cols)
        if dels is not None:
            # deletes win over same-batch upserts: the key is excluded
            # from the rewrite AFTER merging, so the new generation
            # simply doesn't contain it (no tombstones to post-filter).
            merged = merged.join(dels.select(*key_cols),
                                 list(key_cols), "left_anti")
        gen_dir = os.path.join(state_dir, f"gen={gen}")
        merged.write.mode("overwrite").partitionBy(_BUCKET).parquet(gen_dir)
        written = [d.split("=", 1)[1] for d in os.listdir(gen_dir)
                   if d.startswith(f"{_BUCKET}=")]
        new_buckets = {**old_buckets, **{b: gen for b in written}}
        if touched:
            # a touched bucket with NO output partition (its only keys
            # were deleted this batch) must leave the manifest, or the
            # next read would resurrect the old generation's copy
            for b in touched:
                if str(b) not in set(written):
                    new_buckets.pop(str(b), None)
    else:  # empty batch: nothing rewrites, just advance the generation
        new_buckets = old_buckets
    # first_batch distinguishes "replaying the state's very first batch
    # (pre-batch corpus empty by definition)" from "pre-batch snapshot
    # aged out of retention" for at-least-once consumers. Legacy
    # manifests lack the field; 0 matches every stream checkpoint's
    # actual first delivery.
    first_batch = batch_id if manifest is None \
        else manifest.get("first_batch", 0)
    manifest_doc = {"gen": gen, "batch_watermark": batch_id,
                    "first_batch": first_batch,
                    "buckets": new_buckets,
                    "bucket_cols": list(bucket_cols),
                    "num_buckets": num_buckets}
    _commit_manifest(state_dir, manifest_doc, lease_token)


def _commit_manifest(state_dir: str, manifest_doc: dict,
                     lease_token: str | None) -> None:
    """Archive + atomically swap a manifest, shared by merge and
    compaction commits.

    The manifest is archived BEFORE swapping ``_CURRENT``: vacuum_state
    derives its retained-generation set from this history, so every
    manifest that was ever current is accounted for. A crash between
    archive and swap leaves a never-current archive entry — harmless (it
    only widens the retained set by one manifest until it ages out).
    Both writes are tmp + ``os.replace`` (a crash mid-write can never
    leave a torn JSON for vacuum/time-travel to choke on), and both
    happen AFTER the lease re-check inside the critical section — a
    TTL-usurper and the losing writer can no longer interleave writes
    to the same generation's archive file (round-6 advisor).

    Commit-time lease re-check (round-5 advisor): the lease has a TTL
    but no renewal heartbeat, so a merge that outruns ttl_seconds lets
    a second writer LEGITIMATELY take over mid-merge. Verify ownership,
    archive, and swap _CURRENT inside ONE lease-mutex critical section —
    if the token no longer matches, the commit fails loudly instead of
    silently racing the usurper's manifest swap (the exact corruption
    the lease exists to prevent). The usurper holds the lease and the
    prior committed generation; this writer's uncommitted gen=N
    directory is orphaned and vacuumable."""
    gen = manifest_doc["gen"]
    hist = os.path.join(state_dir, _MANIFESTS)
    os.makedirs(hist, exist_ok=True)
    payload = json.dumps(manifest_doc)
    with _lease_mutex(state_dir):
        if lease_token is not None:
            cur = None
            try:
                with open(os.path.join(state_dir, _LEASE)) as fh:
                    cur = json.load(fh)
            except (FileNotFoundError, json.JSONDecodeError):
                pass
            if cur is None or cur.get("token") != lease_token:
                raise RuntimeError(
                    f"writer lease on {state_dir} lost mid-merge (merge "
                    f"outran its TTL and "
                    f"{'expired' if cur is None else cur.get('owner')} "
                    "took over); refusing to commit generation "
                    f"{gen} over the new writer's state. Re-run "
                    "the batch with a ttl_seconds sized above the "
                    "longest merge.")
        arch = os.path.join(hist, f"{gen}.json")
        arch_tmp = f"{arch}.tmp"
        with open(arch_tmp, "w") as fh:
            fh.write(payload)
        os.replace(arch_tmp, arch)
        tmp = os.path.join(state_dir, f"{_CURRENT}.tmp")
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(state_dir, _CURRENT))


def vacuum_state(state_dir: str, keep_last: int = 2) -> list[str]:
    """Delete generation directories no recent manifest references,
    bounding state-dir growth; returns the deleted paths.

    **Reader isolation contract**: a reader resolves the manifest ONCE
    (:func:`read_merged_state`) and then lists/reads parquet lazily, so
    a retention sweep must not delete the generations that reader's
    snapshot references. ``keep_last=K`` retains every generation
    referenced by the K most recently committed manifests (the current
    one included) — any snapshot resolved while one of those manifests
    was current stays fully readable. Size K to cover the longest
    reader you allow to overlap ingest (the Delta/Iceberg
    VACUUM-retention trade, expressed in manifests instead of hours).
    Readers that must outlive the window declare themselves with
    :func:`pin_snapshot`: every generation a live pin's manifest
    references — and that archived manifest itself — is retained
    regardless of ``keep_last``; expired pins (dead readers) are
    garbage-collected in passing.

    Also never touches generation directories AT or ABOVE the committed
    generation: an uncommitted higher generation is either a concurrent
    in-flight writer (deleting under it would corrupt the commit) or a
    crash orphan that the writer's own retry overwrites in place.

    The whole sweep — pin scan, retained-set computation, deletions —
    runs under the state dir's ``_lease_mutex``, paired with
    :func:`pin_snapshot` (see its docstring): a pin can never land
    between the scan and the sweep. Deletion time is bounded by the
    aged-out generations' directory sizes; commits block on the mutex
    only for their final manifest swap, so contention is one atomic
    rename's worth, not a merge's.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    with _lease_mutex(state_dir):
        return _vacuum_locked(state_dir, keep_last)


def _vacuum_locked(state_dir: str, keep_last: int) -> list[str]:
    current = _read_manifest(state_dir)
    if current is None:
        return []
    hist_dir = os.path.join(state_dir, _MANIFESTS)
    manifests = [current]
    hist_files: list[tuple[int, str]] = []
    if os.path.isdir(hist_dir):
        for f in os.listdir(hist_dir):
            if f.endswith(".json"):
                hist_files.append((int(f[:-5]), os.path.join(hist_dir, f)))
    # Retain the newest keep_last LOADABLE manifests. A torn archive
    # (crash mid-write under the pre-round-7 non-atomic archive writer)
    # is skipped without consuming a retention slot and aged out below —
    # vacuum and time travel keep working instead of dying on
    # JSONDecodeError forever (round-6 advisor).
    retained_paths: set[str] = set()
    for _, path in sorted(hist_files, reverse=True):
        if len(retained_paths) >= keep_last:
            break
        try:
            with open(path) as fh:
                m = json.load(fh)
        except json.JSONDecodeError:
            continue
        retained_paths.add(path)
        manifests.append(m)
    pinned_gens: set[int] = set()
    for pin in _live_pins(state_dir):
        try:
            manifests.append(_pinned_manifest(state_dir, pin["gen"]))
            pinned_gens.add(pin["gen"])
        except (FileNotFoundError, json.JSONDecodeError):
            # pin references history already gone (pinned after the
            # data was vacuumed under an older retention policy) — the
            # reader's own post-pin verification surfaced this to them
            continue
    keep_gens: set[int] = set()
    for m in manifests:
        keep_gens.add(m["gen"])
        if m["buckets"]:
            keep_gens.update(int(g) for g in m["buckets"].values())
    deleted = []
    for d in os.listdir(state_dir):
        if not d.startswith("gen="):
            continue
        gen = int(d.split("=", 1)[1])
        if gen >= current["gen"] or gen in keep_gens:
            continue
        path = os.path.join(state_dir, d)
        shutil.rmtree(path)
        deleted.append(path)
    # age out manifest history beyond the retention window (torn
    # archives included) — except manifests a live pin still resolves
    # through
    for gen, path in hist_files:
        if path not in retained_paths and gen not in pinned_gens:
            os.remove(path)
    return deleted


def bucket_file_stats(state_dir: str) -> dict[str, tuple[int, int]]:
    """Per-bucket ``(file_count, total_bytes)`` of the committed state —
    the fragmentation report a compaction policy decides from. Pure
    local-fs metadata (os.scandir), no Spark job."""
    manifest = _read_manifest(state_dir)
    if manifest is None or manifest["buckets"] is None:
        return {}
    out: dict[str, tuple[int, int]] = {}
    for b, g in manifest["buckets"].items():
        d = os.path.join(state_dir, f"gen={g}", f"{_BUCKET}={b}")
        n = size = 0
        if os.path.isdir(d):
            for e in os.scandir(d):
                if e.is_file() and e.name.endswith(".parquet"):
                    n += 1
                    size += e.stat().st_size
        out[b] = (n, size)
    return out


def export_snapshot_manifest(state_dir: str,
                             generation: int | None = None,
                             out_path: str | None = None) -> dict:
    """Write an external-engine file manifest for a committed snapshot:
    one absolute parquet data-file path per line, atomically swapped
    into ``_exports/<gen>.files.txt`` (or ``out_path``).

    This is the interop bridge a table format provides with generated
    symlink manifests (Delta's ``symlink_format_manifest`` for
    Presto/Trino/Athena): engines that can't walk the generational
    manifest chain read a CONSISTENT snapshot by globbing nothing and
    trusting the exported listing — every file belongs to exactly the
    requested generation, never a mix of generations mid-commit.
    Consumers read the physical state rows: merge bookkeeping columns
    (``*__rank``, ``n_merged``) are present, and the bucket id is
    directory-encoded only, exactly like any parquet-with-manifest
    layout; drop or use them as needed.

    Retention: an export is a file listing, NOT a pin — pair it with
    :func:`pin_snapshot` (same generation) to keep the listed files
    alive past ``vacuum_state``'s keep_last window. A vacuumed
    generation raises FileNotFoundError here rather than exporting a
    dangling listing.
    """
    if generation is None:
        m = _read_manifest(state_dir)
        if m is None:
            raise FileNotFoundError(
                f"no committed generation in {state_dir} to export")
        generation = m["gen"]
    else:
        m = _pinned_manifest(state_dir, generation)
    files: list[str] = []
    for p in _bucket_paths(state_dir, m):
        if not os.path.isdir(p):
            raise FileNotFoundError(
                f"generation {generation} references vacuumed data "
                f"({p}); pin before exporting or raise keep_last")
        files.extend(sorted(
            os.path.join(os.path.abspath(p), e.name)
            for e in os.scandir(p)
            if e.is_file() and e.name.endswith(".parquet")))
    out = out_path or os.path.join(state_dir, _EXPORTS,
                                   f"{generation}.files.txt")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write("\n".join(files) + ("\n" if files else ""))
    os.replace(tmp, out)
    return {"generation": generation, "n_files": len(files),
            "path": out}


def compact_state(spark: SparkSession, state_dir: str,
                  target_file_bytes: int = 128 << 20,
                  min_files: int = 2,
                  buckets=None,
                  lease_ttl_seconds: float = 3600) -> dict:
    """Rewrite fragmented buckets of the merged state into full-size
    files — the OPTIMIZE/bin-packing half of the transactional-table
    story (Delta ``OPTIMIZE`` / Iceberg ``rewrite_data_files``).

    Incremental merge is write-amplification-optimal (each batch rewrites
    only touched buckets) but file-count-pessimal: every rewrite lands
    one-or-more new files per bucket, and at 100 TB a thousand batches
    of small files turn every read's scan planning and row-group
    scheduling into the bottleneck. Compaction restores read efficiency
    without blocking ingest semantics:

    - runs under the same writer lease as merges (serializes with them,
      fails fast on contention);
    - commits a REAL new generation (time travel to pre-compaction
      snapshots keeps working; a pinned reader is never torn — old
      generation directories age out through the normal
      :func:`vacuum_state` retention/pin contract, they are not deleted
      here);
    - does NOT advance the batch watermark: the manifest's
      ``batch_watermark`` field stays at the last merged batch id, so
      the stream's replay/sync guards are oblivious to any number of
      interleaved maintenance commits;
    - byte-identical visible state: rows are moved, never re-merged —
      the change-data-feed between the pre- and post-compaction
      generations is empty (pytest-asserted).

    Only buckets with at least ``min_files`` files rewrite (pass
    ``buckets=`` to force a subset); each rewrites into
    ``ceil(bytes / target_file_bytes)`` files, salted by a
    deterministic hash of the row (stable under task retries, unlike
    round-robin) so oversized buckets split evenly.

    Returns ``{"gen", "buckets_compacted", "files_before",
    "files_after", "bytes_compacted"}`` (gen None = nothing to do).
    """
    token = acquire_writer_lease(state_dir, ttl_seconds=lease_ttl_seconds)
    try:
        return _compact_locked(spark, state_dir, target_file_bytes,
                               min_files, buckets, token)
    finally:
        release_writer_lease(state_dir, token)


def _compact_locked(spark: SparkSession, state_dir: str,
                    target_file_bytes: int, min_files: int,
                    buckets, lease_token: str) -> dict:
    manifest = _read_manifest(state_dir)
    if manifest is None or manifest["buckets"] is None:
        # empty or legacy unbucketed state: the next merge folds a legacy
        # layout into buckets wholesale — nothing for compaction to do.
        return {"gen": None, "buckets_compacted": [], "files_before": 0,
                "files_after": 0, "bytes_compacted": 0}
    stats = bucket_file_stats(state_dir)
    wanted = None if buckets is None else {str(b) for b in buckets}
    frag = {b: (n, size) for b, (n, size) in stats.items()
            if (wanted is None and n >= min_files)
            or (wanted is not None and b in wanted)}
    if not frag:
        return {"gen": None, "buckets_compacted": [], "files_before": 0,
                "files_after": 0, "bytes_compacted": 0}
    new_gen = manifest["gen"] + 1
    # One read over the fragmented buckets' directories. basePath makes
    # Spark recover `gen` and bucket as partition columns from the paths;
    # mergeSchema unions schemas across generations (schema evolution:
    # a bucket last written before a column existed reads as NULL — the
    # same NULLs every reader already sees, now materialized).
    src_dirs = _bucket_paths(state_dir, manifest, buckets=list(frag))
    df = (spark.read.option("basePath", state_dir)
          .option("mergeSchema", True).parquet(*src_dirs)
          .drop("gen"))
    # ceil(bytes/target) output files per bucket, via a per-bucket salt
    # modulus looked up from a literal map (at most num_buckets entries).
    nfiles = {b: max(1, -(-size // target_file_bytes))
              for b, (_, size) in frag.items()}
    map_items: list = []
    for b, n in nfiles.items():
        map_items.extend([F.lit(int(b)), F.lit(int(n))])
    data_cols = [c for c in df.columns if c != _BUCKET]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]),
                  F.element_at(F.create_map(*map_items), F.col(_BUCKET)))
    # hash-repartition on (bucket, salt): every (bucket, salt) pair lands
    # in exactly one task, so bucket b writes at most nfiles[b] files.
    total = sum(nfiles.values())
    packed = (df.withColumn("__salt", salt)
              .repartition(total, F.col(_BUCKET), F.col("__salt"))
              .drop("__salt"))
    gen_dir = os.path.join(state_dir, f"gen={new_gen}")
    packed.write.mode("overwrite").partitionBy(_BUCKET).parquet(gen_dir)
    written = [d.split("=", 1)[1] for d in os.listdir(gen_dir)
               if d.startswith(f"{_BUCKET}=")]
    new_buckets = {**manifest["buckets"],
                   **{b: new_gen for b in written}}
    manifest_doc = {
        "gen": new_gen,
        "batch_watermark": manifest.get("batch_watermark", manifest["gen"]),
        "buckets": new_buckets,
    }
    # compaction moves rows between files, never between buckets — the
    # recorded bucket layout (and stream lineage) carries over verbatim
    for k in ("bucket_cols", "num_buckets", "first_batch"):
        if k in manifest:
            manifest_doc[k] = manifest[k]
    _commit_manifest(state_dir, manifest_doc, lease_token)
    after = bucket_file_stats(state_dir)
    return {"gen": new_gen,
            "buckets_compacted": sorted(written, key=int),
            "files_before": sum(n for n, _ in frag.values()),
            "files_after": sum(after[b][0] for b in written),
            "bytes_compacted": sum(s for _, s in frag.values())}


def stream_merge_nodes(node_stream: DataFrame, state_dir: str,
                       checkpoint_dir: str,
                       scalar_props=("name",),
                       list_props=("category",),
                       compact_every: int | None = None,
                       compact_kwargs: dict | None = None,
                       delete_flag: str | None = None):
    """Attach the incremental merge sink to a streaming node DataFrame;
    returns the StreamingQuery. ``compact_every=N`` folds a
    :func:`compact_state` maintenance pass into every Nth batch
    (``compact_kwargs`` forwards policy knobs like target_file_bytes);
    ``delete_flag`` names a boolean column carrying key-level deletes
    (see :func:`merge_upsert_batch`) — a CDC feed streams retractions
    through the same sink as upserts."""
    return _stream_merge(node_stream, state_dir, checkpoint_dir,
                         scalar_props, list_props, key_cols=("id",),
                         compact_every=compact_every,
                         compact_kwargs=compact_kwargs,
                         delete_flag=delete_flag)


def stream_merge_edges(edge_stream: DataFrame, state_dir: str,
                       checkpoint_dir: str,
                       scalar_props=(),
                       list_props=("publications",
                                   "aggregator_knowledge_sources"),
                       compact_every: int | None = None,
                       compact_kwargs: dict | None = None,
                       delete_flag: str | None = None):
    """A2's streaming twin: incremental edge merge on the four-column KGX
    edge key (subject, predicate, object, primary_knowledge_source) —
    same bucketed generational state, buckets hash the composite key."""
    from data_services_spark.operators.merge import EDGE_KEY
    return _stream_merge(edge_stream, state_dir, checkpoint_dir,
                         scalar_props, list_props, key_cols=EDGE_KEY,
                         compact_every=compact_every,
                         compact_kwargs=compact_kwargs,
                         delete_flag=delete_flag)


def _stream_merge(stream: DataFrame, state_dir: str, checkpoint_dir: str,
                  scalar_props, list_props, key_cols,
                  compact_every: int | None = None,
                  compact_kwargs: dict | None = None,
                  delete_flag: str | None = None):
    os.makedirs(state_dir, exist_ok=True)
    spark = stream.sparkSession

    def sink(batch: DataFrame, batch_id: int) -> None:
        merge_upsert_batch(spark, batch, state_dir, batch_id,
                           scalar_props, list_props, key_cols=key_cols,
                           delete_flag=delete_flag)
        # Inline maintenance cadence: compaction is its own lease-guarded
        # commit AFTER the merge's, and never consumes a batch id, so a
        # crash between the two merely defers compaction to the next
        # cadence hit — the merge's idempotent-retry contract is intact.
        if compact_every and batch_id % compact_every == compact_every - 1:
            compact_state(spark, state_dir, **(compact_kwargs or {}))

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())
