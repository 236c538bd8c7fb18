"""Lineage manifest + checkpoint state for encode jobs.

Plays the role Iceberg metadata would (SURVEY.md §7 Plan B — no Iceberg
runtime jar in this sandbox): snapshot id, schema, per-bucket commit
markers, per-(bucket, column) codec choices and size stats, and the
seeds that make encoding reproducible (the reference records its code
assignment as an enum discriminant — naive.rs:49-74; we record ours
here).

Commit protocol (Iceberg HadoopTableOperations-style, CAS not locks):
the manifest is an immutable chain of versions `manifest-v{N}.json`.
A commit loads the latest version, applies its mutation (which may
VALIDATE and raise — e.g. a bucket committed twice), writes the result
to a temp file, and publishes it as version N+1 with an atomic
create-if-absent through the INJECTABLE publish backend: the default
`LocalLinkBackend` uses `os.link` (fails EEXIST if another committer
won the race), and `ConditionalPutBackend` implements the object-store
shape (whole-object upload-if-absent — S3 If-None-Match:*); both pass
the same contract suite (tests/test_publish_backend.py). A lost race
reloads the new latest, re-validates, and retries: concurrent
committers serialize without any lock file.
`version-hint.text` is a best-effort pointer
(Iceberg parity / debuggability); readers always resolve the latest
version by listing, which is crash-safe.
"""

from __future__ import annotations

import copy
import json
import os
import time
import uuid
from typing import Any, Callable

LEGACY_NAME = "manifest.json"
VERSION_PREFIX = "manifest-v"


# ---------------------------------------------------------------- publish
# The CAS primitive is injectable: commit() needs exactly one atomic
# "create this name if absent" operation, and everything else is plain
# reads/lists. Local filesystems get os.link; an object store gets a
# conditional PUT (S3 If-None-Match:*, GCS if-generation-match=0, Azure
# If-None-Match:*). The contract test suite (tests/test_publish_backend)
# runs the same race/retention scenarios against every backend.

class LocalLinkBackend:
    """Default: POSIX hard-link create-if-absent (atomic on one host /
    shared POSIX filesystem)."""

    name = "local_link"

    def publish(self, tmp_path: str, version_path: str) -> bool:
        """Atomically bind version_path to tmp_path's content iff the
        name is absent. True = won the CAS; False = lost (name taken)."""
        try:
            os.link(tmp_path, version_path)
        except FileExistsError:
            return False
        return True

    def overwrite(self, tmp_path: str, path: str) -> None:
        """Unconditional atomic replace (retention tombstones — the
        object-store analogue is a plain PUT to an existing key)."""
        os.replace(tmp_path, path)


class ConditionalPutBackend:
    """Mock object-store backend: emulates a whole-object conditional
    PUT (upload-if-absent) — the operation shape S3/GCS/Azure offer
    (If-None-Match: no links or renames across keys visible to the
    CALLER). A real store's conditional PUT is atomic w.r.t. readers:
    the object either doesn't exist or is fully readable. The mock
    reproduces that by staging the content under a hidden name in the
    target directory and binding the FINAL name in one os.link call
    (create-if-absent semantics, no partial-content window — a listed
    version file is always complete). An earlier copy-into-O_EXCL-fd
    variant had a create-to-write window in which _load_versioned's
    bounded retry could exhaust against truncated JSON under
    contention."""

    name = "conditional_put"

    def publish(self, tmp_path: str, version_path: str) -> bool:
        d = os.path.dirname(version_path)
        stage = os.path.join(
            d, f".put-{uuid.uuid4().hex}-{os.path.basename(version_path)}"
        )
        with open(stage, "wb") as f:
            with open(tmp_path, "rb") as src:
                f.write(src.read())
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(stage, version_path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(stage)

    def overwrite(self, tmp_path: str, path: str) -> None:
        # a plain PUT replaces the object wholesale; emulating with
        # replace keeps the reader-atomicity the real store gives
        os.replace(tmp_path, path)


_backend = LocalLinkBackend()


def set_publish_backend(backend) -> object:
    """Inject the CAS publish backend (returns the previous one).
    Anything with publish(tmp, path) -> bool and overwrite(tmp, path)."""
    global _backend
    prev, _backend = _backend, backend
    return prev


def _vpath(out_dir: str, v: int) -> str:
    return os.path.join(out_dir, f"{VERSION_PREFIX}{v}.json")


def _read_json(path: str) -> dict[str, Any] | None:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None
    except json.JSONDecodeError:
        # a half-written object (ConditionalPutBackend's mock window, or
        # a crashed legacy-file writer) is "not visible yet" — callers
        # retry against the listing rather than crashing mid-commit
        return None


def _list_versions(out_dir: str) -> list[int]:
    try:
        names = os.listdir(out_dir)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith(VERSION_PREFIX) and n.endswith(".json"):
            try:
                out.append(int(n[len(VERSION_PREFIX) : -len(".json")]))
            except ValueError:
                pass
    return sorted(out)


def _load_versioned(out_dir: str) -> tuple[dict[str, Any] | None, int]:
    """(manifest, version). Version 0 = legacy single-file or absent.

    Always serves the NEWEST version: if the newest listed file vanishes
    between listdir and open (external cleanup), the listing is retried
    rather than silently walking back to a stale older version (a stale
    read here would make commit() merge against missing state).
    """
    for attempt in range(8):
        if attempt:
            # brief linear backoff: gives a concurrent committer (or an
            # external cleaner) time to finish binding the version it
            # just listed, instead of burning all retries in the same
            # microsecond window
            time.sleep(0.01 * attempt)
        versions = _list_versions(out_dir)
        if not versions:
            return _read_json(os.path.join(out_dir, LEGACY_NAME)), 0
        m = _read_json(_vpath(out_dir, versions[-1]))
        if m is not None:
            if m.get("expired"):
                raise RuntimeError(
                    f"latest manifest version {versions[-1]} in {out_dir} is "
                    "an expired tombstone — retention ran with the live "
                    "version somehow included (corrupt chain)"
                )
            return m, versions[-1]
    raise RuntimeError(
        f"manifest versions in {out_dir} keep vanishing between list and "
        "read (external cleanup racing this reader?)"
    )


def load(out_dir: str, version: int | None = None) -> dict[str, Any] | None:
    """Latest manifest, or — the immutable version chain's time-travel
    read — exactly version N as some past commit published it. A
    missing version (expired by operator retention) raises."""
    if version is None:
        return _load_versioned(out_dir)[0]
    m = _read_json(_vpath(out_dir, version))
    if m is None:
        raise FileNotFoundError(
            f"manifest version {version} not found in {out_dir} "
            "(expired by retention?)"
        )
    if m.get("expired"):
        raise FileNotFoundError(
            f"manifest version {version} in {out_dir} was expired by "
            f"retention at unix {m.get('expired_unix')}"
        )
    return m


def current_version(out_dir: str) -> int:
    """Latest version number (0 = legacy single-file or absent)."""
    return _load_versioned(out_dir)[1]


def load_with_version(out_dir: str) -> tuple[dict[str, Any] | None, int]:
    """(latest manifest, its version) in ONE read — lets a multi-step
    reader (prune, then decode) pin every step to the same snapshot
    instead of racing concurrent commits between two load() calls."""
    return _load_versioned(out_dir)


def commit(out_dir: str, mutate: Callable[[dict[str, Any] | None], dict[str, Any]],
           max_retries: int = 1000) -> dict[str, Any]:
    """CAS commit: publish mutate(latest) as the next manifest version.

    `mutate` receives a deep copy of the latest manifest (None if the
    table doesn't exist yet) and returns the new manifest; it runs once
    per attempt, so validation inside it (commit conflicts, schema
    compat) is always against fresh state. Exceptions it raises
    propagate — only a lost CAS (someone else published the same
    version number first) retries.
    """
    os.makedirs(out_dir, exist_ok=True)
    for _ in range(max_retries):
        base, v = _load_versioned(out_dir)
        new = mutate(copy.deepcopy(base) if base is not None else None)
        if base is not None and new == base:
            return new  # no-op mutation: nothing to publish
        tmp = os.path.join(out_dir, f".manifest-tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(new, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        won = _backend.publish(tmp, _vpath(out_dir, v + 1))  # atomic create-if-absent
        os.unlink(tmp)
        if not won:
            continue  # lost the race: reload, re-validate, retry
        _after_publish(out_dir, v + 1)
        return new
    raise RuntimeError(f"manifest commit lost the CAS {max_retries} times")


def _after_publish(out_dir: str, v: int) -> None:
    """Best-effort housekeeping: version hint and legacy-file removal
    (its content lives on as version 1+).

    Old versions are deliberately NOT auto-pruned: unlinking version N
    would reopen its name, and a stale committer's create-if-absent on
    the reopened slot would succeed — an ABA on the CAS that silently
    drops its commit from the live chain. Version files are ~KBs;
    retention is an operator action (Iceberg's expire-snapshots
    analogue) that must only run when no committer can still be
    holding a version that old."""
    hint_tmp = os.path.join(out_dir, ".version-hint.tmp")
    try:
        with open(hint_tmp, "w") as f:
            f.write(str(v))
        os.replace(hint_tmp, os.path.join(out_dir, "version-hint.text"))
    except OSError:
        pass
    try:
        os.unlink(os.path.join(out_dir, LEGACY_NAME))
    except OSError:
        pass


def save(out_dir: str, m: dict[str, Any]) -> None:
    """Unconditionally publish `m` as the next version (test fixtures and
    single-writer setup paths; concurrent-safe mutations go through
    commit())."""
    commit(out_dir, lambda _cur: m)


def init(out_dir: str, *, snapshot_id: str, schema: dict[str, str], num_buckets: int,
         key: str, seed: int = 42) -> dict[str, Any]:
    def mutate(cur: dict[str, Any] | None) -> dict[str, Any]:
        if cur is not None:
            if cur["num_buckets"] != num_buckets or cur["schema"] != schema:
                raise ValueError("existing manifest is incompatible with this job config")
            return cur
        return {
            "format_version": 2,
            "snapshot_id": snapshot_id,
            "schema": schema,          # {column: logical type}
            "columns": list(schema),   # input column order (JSON sorts dicts)
            "key": key,                # ordering/bucketing key column
            "num_buckets": num_buckets,
            "seed": seed,
            "committed_buckets": [],   # checkpoint markers
            "blocks": {},              # str(bucket) -> [{column, codec, n_rows, raw, enc}]
            "wave_dirs": [],           # committed data dirs (manifest-list)
            "hot_keys": {},            # skew salting decisions {host: n_salts}
            "created_unix": int(time.time()),
        }

    return commit(out_dir, mutate)


# underscore prefix: Spark's parquet reader and pyarrow.dataset both
# skip '_'/'.'-prefixed files, so the stats file can live inside the
# wave dir it describes without breaking data scans
BLOCK_STATS_NAME = "_block_stats.json"
# per-wave (bucket, column) stat entries above which the wave's block
# stats SPILL into a stats file inside the wave dir instead of the root
# manifest. The root manifest is rewritten (and kept as an immutable
# version) on EVERY commit — inlining stats for a 10^5-bucket snapshot
# would make each commit copy O(buckets × columns) metadata (Iceberg
# splits stats into manifest files for exactly this reason). The spill
# file shares the wave's visibility: written before the CAS commit,
# unreadable until the manifest registers the wave, swept with an
# orphaned wave dir.
STATS_SPILL_ENTRIES = 50_000
# byte-aware companion trigger: entries carrying HLL distinct sketches
# (`zhll`, kernels/sketch.py, <=1.4 KB each) weigh ~50x a plain stat
# entry, so a sketched store would bloat every manifest rewrite long
# before the entry-count threshold fires — spill once the inline
# sketch payload alone crosses this
STATS_SPILL_BYTES = 2 << 20


def _zhll_bytes(stats_by_bucket: dict) -> int:
    return sum(
        len(s.get("zhll") or "")
        for v in stats_by_bucket.values() for s in v
    )


def commit_buckets(out_dir: str, bucket_stats: dict[int, list[dict]],
                   wave_dir: str | None = None,
                   key_ranges: dict[int, list] | None = None,
                   spill_threshold: int | None = None,
                   bloom_buckets: list[int] | None = None,
                   bloom_cols: dict[str, list[int]] | None = None
                   ) -> dict[str, Any]:
    """Record per-bucket block stats, mark the buckets committed, and
    (Iceberg manifest-list style) register the wave's data directory —
    readers only ever see directories this list names, so a job killed
    AFTER writing a wave but BEFORE this commit leaves an orphan dir
    that is never read and is swept (after a grace period) on a later
    run. Runs as a CAS commit: a lost race re-validates against the
    fresh manifest and retries; a semantic conflict raises.

    `key_ranges` optionally records each bucket's [min_key, max_key]
    (file-stats-style pruning metadata for point lookups). Large waves'
    block stats spill to `<wave_dir>/_block_stats.json`
    (BLOCK_STATS_NAME; see STATS_SPILL_ENTRIES); readers merge via
    block_stats(). The trigger is CUMULATIVE: fine-grained
    commit_every checkpointing whose individual waves stay small must
    not re-accumulate O(buckets x columns) in the root — once the
    root's inline stats plus this wave cross the threshold, the spill
    file also absorbs the inline stats it saw, and the commit moves
    them out of the root."""
    thr = STATS_SPILL_ENTRIES if spill_threshold is None else spill_threshold
    n_entries = sum(len(v) for v in bucket_stats.values())
    n_bytes = _zhll_bytes(bucket_stats)
    migrated: dict[str, list] = {}
    if wave_dir is not None:
        cur = load(out_dir) or {}
        inline = cur.get("blocks", {})
        inline_entries = sum(len(v) for v in inline.values()) + len(inline)
        if (n_entries + len(bucket_stats) + inline_entries > thr
                or n_bytes + _zhll_bytes(inline) > STATS_SPILL_BYTES):
            migrated = dict(inline)  # absorb the root's inline stats too
    spill = bool(migrated) or (
        wave_dir is not None and (n_entries + len(bucket_stats) > thr
                                  or n_bytes > STATS_SPILL_BYTES)
    )
    if spill:
        payload = dict(migrated)
        payload.update({str(b): v for b, v in bucket_stats.items()})
        path = os.path.join(out_dir, wave_dir, BLOCK_STATS_NAME)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(payload, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())

    def mutate(m: dict[str, Any] | None) -> dict[str, Any]:
        if m is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        done = set(m["committed_buckets"])
        # Iceberg-style commit validation: a bucket may be committed once.
        # A stale concurrent encode (planned its pending set before this
        # commit landed) fails HERE, before registering its wave — its
        # already-written dir stays an unregistered orphan and is swept.
        clash = sorted(b for b in bucket_stats if int(b) in done)
        if clash:
            raise ValueError(
                f"commit conflict: buckets {clash} are already committed "
                "(concurrent encode on the same snapshot?); this wave was "
                "not registered and will be swept"
            )
        if spill:
            m.setdefault("stats_files", []).append(
                f"{wave_dir}/{BLOCK_STATS_NAME}"
            )
            # inline stats the spill file absorbed leave the root; any
            # inline entries a CONCURRENT commit added after our load
            # are not in the file and must stay
            if migrated:
                m["blocks"] = {
                    k: v for k, v in m["blocks"].items() if k not in migrated
                }
            for b in bucket_stats:
                done.add(int(b))
        else:
            for b, blocks in bucket_stats.items():
                m["blocks"][str(b)] = blocks
                done.add(int(b))
        m["committed_buckets"] = sorted(done)
        if key_ranges:
            kr = m.setdefault("bucket_key_ranges", {})
            for b, rng in key_ranges.items():
                kr[str(b)] = rng
        if wave_dir is not None:
            m.setdefault("wave_dirs", []).append(wave_dir)
            # wave -> buckets map: lets readers prune whole wave dirs for
            # bucket-filtered scans (file-level pruning above the parquet
            # row-group stats)
            m.setdefault("wave_buckets", {})[wave_dir] = sorted(
                int(b) for b in bucket_stats
            )
            if bloom_buckets:
                # which of this wave's buckets carry a key Bloom sidecar
                # (kernels/bloom.py): lookup_keys prunes a bucket only
                # when EVERY wave holding it is covered here — absence
                # (pre-bloom snapshots, all-null key groups, streamed
                # waves) degrades to no pruning, never to wrong answers
                m.setdefault("bloom_buckets", {})[wave_dir] = sorted(
                    int(b) for b in bloom_buckets
                )
            if bloom_cols:
                # NON-key column filters (encode bloom_columns=):
                # {column: [buckets]} per wave — scan_table's equality
                # probe prunes a bucket only when every wave holding it
                # is covered for that column (same degradation rule)
                m.setdefault("bloom_cols", {})[wave_dir] = {
                    c: sorted(int(b) for b in v)
                    for c, v in bloom_cols.items()
                }
        return m

    return commit(out_dir, mutate)


def commit_wave_append(out_dir: str, bucket_stats: dict[int, list[dict]],
                       wave_dir: str, epoch: int,
                       key_ranges: dict[int, list] | None = None,
                       stream_id: str = "stream",
                       bloom_buckets: list[int] | None = None,
                       bloom_cols: dict[str, list[int]] | None = None
                       ) -> dict[str, Any]:
    """Streaming-append commit: register `wave_dir` as a NEW GENERATION
    of its buckets (a bucket may hold block rows in several waves; the
    colocated/scan readers decode each wave's file independently and the
    rows union). Contrast commit_buckets, whose committed-once rule is
    the batch snapshot's resume contract.

    Exactly-once: `epoch` (the sink's batchId) is recorded under
    `stream_id` in m["stream_epochs"] inside the same CAS commit — a
    replayed batch sees its epoch present and the sink drops its staged
    files without registering anything. `stream_id` namespaces the
    batchId sequence (Kafka's transactional.id pattern): batchIds are
    monotone only WITHIN one logical query, and a new query (fresh
    checkpoint — e.g. restarted after schema evolution) restarts at 0;
    it must write under a new stream_id, while restarts of the same
    query keep theirs. Returns the manifest; the caller detects a
    replay by m["stream_epochs"][stream_id][str(epoch)] != its wave_dir.

    Stats growth is bounded like commit_buckets': once the root's
    inline stats cross the entry threshold (or the byte threshold the
    `zhll` sketches weigh against), every subsequent generation's stats
    spill to `<wave_dir>/_block_stats.json` and the root gains one path
    string per batch instead of O(buckets × columns × sketch bytes) —
    a year of 1-minute micro-batches leaves the inline stats frozen at
    the flip point. Readers merge via block_stats, which EXTENDS a
    bucket's entry list across sources (generations of one bucket span
    the root plus several wave files). The pre-flip inline entries are
    never migrated: unlike commit_buckets' commit-once buckets, a
    concurrent stream commit may be extending the same bucket's inline
    list, and removal-by-key under CAS retry would drop its entries."""
    thr = STATS_SPILL_ENTRIES
    cur = load(out_dir)
    inline = (cur or {}).get("blocks", {})
    n_entries = sum(len(v) for v in bucket_stats.values())
    spill = cur is not None and (
        n_entries + sum(len(v) for v in inline.values()) + len(inline) > thr
        or _zhll_bytes(bucket_stats) + _zhll_bytes(inline) > STATS_SPILL_BYTES
    )
    if spill:
        path = os.path.join(out_dir, wave_dir, BLOCK_STATS_NAME)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({str(b): v for b, v in bucket_stats.items()}, f,
                      sort_keys=True)
            f.flush()
            os.fsync(f.fileno())

    def mutate(m: dict[str, Any] | None) -> dict[str, Any]:
        if m is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        all_epochs = m.setdefault("stream_epochs", {})
        epochs = all_epochs.setdefault(stream_id, {})
        if is_replayed_epoch(epochs, epoch, stream_id):
            return m  # replay: no-op (caller cleans its staged wave)
        # multi-generation marker: readers that treat a bucket as one
        # file (the decode reader's whole-bucket check, compaction's
        # single-file-per-bucket rewrite) check this
        m["streamed"] = True
        if spill:
            m.setdefault("stats_files", []).append(
                f"{wave_dir}/{BLOCK_STATS_NAME}"
            )
        for b, stats in bucket_stats.items():
            if not spill:
                m["blocks"].setdefault(str(b), []).extend(stats)
            if int(b) not in m["committed_buckets"]:
                m["committed_buckets"].append(int(b))
        m["committed_buckets"] = sorted(m["committed_buckets"])
        if key_ranges:
            kr = m.setdefault("bucket_key_ranges", {})
            for b, rng in key_ranges.items():
                old = kr.get(str(b))
                if old is None:
                    kr[str(b)] = rng
                elif type(old[0]) is type(rng[0]):
                    # widen, never replace: the range must cover EVERY
                    # generation or lookups would wrongly prune
                    kr[str(b)] = [min(old[0], rng[0]), max(old[1], rng[1])]
                else:  # mixed key types across generations: no sound bound
                    kr.pop(str(b), None)
        m.setdefault("wave_dirs", []).append(wave_dir)
        m.setdefault("wave_buckets", {})[wave_dir] = sorted(
            int(b) for b in bucket_stats
        )
        if bloom_buckets:
            # per-generation Bloom coverage (see commit_buckets): a
            # bucket is lookup-prunable only when EVERY generation
            # holding it is covered
            m.setdefault("bloom_buckets", {})[wave_dir] = sorted(
                int(b) for b in bloom_buckets
            )
        if bloom_cols:
            # per-generation COLUMN filter coverage (see commit_buckets)
            m.setdefault("bloom_cols", {})[wave_dir] = {
                c: sorted(int(b) for b in v) for c, v in bloom_cols.items()
            }
        epochs[str(epoch)] = wave_dir
        # bounded epoch history per stream: the manifest is rewritten on
        # every commit, so a year of 1-minute batches must not carry
        # 500k entries. Spark replays at most the LAST unproven batch,
        # so a deep tail is ample.
        if len(epochs) > STREAM_EPOCHS_KEEP:
            for k in sorted(epochs, key=int)[:-STREAM_EPOCHS_KEEP]:
                del epochs[k]
        return m

    return commit(out_dir, mutate)


STREAM_EPOCHS_KEEP = 128  # recent batchIds kept for replay detection


def stream_seq_end(m: dict[str, Any]) -> int:
    """End of the streamed store's generation-sequence space (the
    stream reader's `waves` offset). For a never-compacted store every
    wave_dirs entry is one appended generation, so it's the list
    length; after compact_stream merged a prefix, wave_dirs[0] is the
    merged pre-history wave (no sequence number of its own) and the
    tail entry at index j carries sequence base + j - 1."""
    base = m.get("stream_wave_base")
    n = len(m.get("wave_dirs", []))
    if base is None:
        return n
    return base + max(0, n - 1)


def stream_dirs_between(m: dict[str, Any], s0: int | None, e0: int) -> list[str]:
    """Wave dirs holding exactly the rows appended at sequence numbers
    [s0, e0) — the stream reader's incremental slice. `s0=None` means
    "from the beginning of history", which includes the merged
    pre-history wave of a compacted store (virgin checkpoints and
    their replays).

    Raises when the request cannot be served EXACTLY: a checkpoint
    whose position predates `stream_wave_base` needs generations that
    now exist only merged — re-emitting the merged wave would
    duplicate rows the reader already consumed, skipping it would drop
    rows it hasn't. Iceberg's incremental-read-across-rewrite rule:
    the reader must restart with a fresh checkpoint (full re-read)."""
    L = m.get("wave_dirs", [])
    base = m.get("stream_wave_base")
    if base is None:
        return L[(s0 or 0):e0]
    if s0 is None:
        if e0 < base:
            raise ValueError(
                f"checkpointed offset {e0} predates this store's "
                f"compaction watermark {base}: the exact generation "
                "slice no longer exists (compact_stream merged it). "
                "Restart the stream with a fresh checkpoint."
            )
        return L[0 : 1 + (e0 - base)]
    if s0 < base:
        raise ValueError(
            f"checkpointed offset {s0} predates this store's compaction "
            f"watermark {base}: the generations it still needed were "
            "merged by compact_stream (re-emitting the merged wave "
            "would duplicate rows already consumed). Restart the "
            "stream with a fresh checkpoint, or compact with a "
            "keep_last that outlasts reader lag."
        )
    return L[1 + (s0 - base) : 1 + (e0 - base)]


def is_replayed_epoch(epochs: dict[str, str], epoch: int,
                      stream_id: str = "stream") -> bool:
    """The ONE replay predicate (sink pre-check + commit mutate share
    it). True = this batchId already committed (legit Spark replay of
    the last unproven batch — drop staged data, register nothing).
    A batchId BELOW the kept window cannot be a real replay (batchIds
    are monotone within a stream and Spark replays only the last one):
    it means a NEW query with a fresh checkpoint reused this streamId —
    silently dropping its data would be the worst outcome, so raise."""
    if not epochs:
        return False
    if str(epoch) in epochs:
        return True
    if int(epoch) < min(int(k) for k in epochs):
        raise ValueError(
            f"batchId {epoch} is below streamId {stream_id!r}'s committed "
            f"epoch window (min kept: {min(int(k) for k in epochs)}). A new "
            "query with a fresh checkpoint restarts batchIds at 0 — give it "
            "its own .option('streamId', ...) instead of reusing this one."
        )
    return False


ALLOWED_TYPES = ("string", "binary", "int64", "timestamp", "timestamp_ntz",
                 "double", "float_array")

# logical type -> Spark DDL type, the ONE copy every read surface uses
SPARK_DDL_TYPES = {
    "string": "string",
    "binary": "binary",
    "int64": "long",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
    "double": "double",
    "float_array": "array<float>",  # embedding columns (vec_plain codec)
}


def evolve_schema(out_dir: str, add: dict[str, str]) -> dict[str, Any]:
    """Iceberg-style add-column schema evolution, as a CAS commit.

    New columns append to the schema (and to the ordered column list);
    buckets committed BEFORE the evolution simply have no block for
    them — decode null-fills from the per-bucket column sets the
    manifest already records, exactly Iceberg's read-missing-as-null
    contract. Buckets encoded after the evolution (remaining waves of
    an in-progress snapshot, or a later re-encode) carry real blocks.
    Drop/rename are intentionally unsupported: blocks are immutable
    and name-addressed, so a rename would orphan committed data."""
    if not add:
        raise ValueError("no columns to add")

    def mutate(m: dict[str, Any] | None) -> dict[str, Any]:
        if m is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        # legacy snapshots have no ordered list: their decode order was
        # (and stays) the JSON-sorted one, with new columns appended
        order = m.get("columns") or sorted(m["schema"])
        for c, t in add.items():
            if c in m["schema"]:
                raise ValueError(f"column {c!r} already exists")
            if t not in ALLOWED_TYPES:
                raise ValueError(f"type {t!r} not in {ALLOWED_TYPES}")
            m["schema"][c] = t
            order = order + [c]
            # streamed stores need the ADDED-column set explicitly: their
            # per-bucket block lists mix generations, so "which columns
            # may legitimately be missing" cannot be derived from the
            # union the way batch snapshots derive it
            m.setdefault("evolved_columns", []).append(c)
            # evolution WATERMARK: how many waves existed when the column
            # was added. Generations at wave index < watermark predate
            # the column (read-as-null); a generation AT/after it that
            # lacks the column's block is CORRUPT and must raise — this
            # is what lets streamed readers distinguish evolution from
            # data loss (wave_dirs is append-only for streamed stores;
            # compact_waves refuses them)
            m.setdefault("evolution_waves", {})[c] = len(m.get("wave_dirs", []))
        m["columns"] = order
        # cheap marker: readers compute per-bucket null-fill sets (a
        # full block-stats read, possibly spilled files) ONLY when an
        # evolution ever happened — never-evolved snapshots skip the
        # metadata read on every decode/lookup/plan
        m["evolved"] = True
        return m

    return commit(out_dir, mutate)


def amend_surviving_stats_files(out_dir: str, m: dict[str, Any],
                                retired_set: set, affected: set,
                                new_rel: str) -> dict[str, str | None]:
    """Mutation support: a merge-on-write rewrite of `affected` buckets
    must not leave their STALE stat entries readable anywhere — and a
    spill MIGRATION (commit_buckets) may have parked one wave's bucket
    entries inside another wave's _block_stats.json, so retiring the
    data waves does not retire every file mentioning the bucket.
    (Reproduced before this existed: delete on a spill-migrated store
    left the absorbing wave's stale entries live — count(*) answered
    from them was wrong whichever way block_stats merged.)

    Every surviving stats file (owner wave not retired) that mentions
    an affected bucket is rewritten WITHOUT those buckets into the
    mutation's new wave dir under a distinct name — never amended in
    place, so older manifest versions keep time-traveling against the
    original files. Returns {old_rel: replacement_rel_or_None}; the
    caller applies it inside its CAS swap (idempotent under retry)."""
    swaps: dict[str, str | None] = {}
    aff = {str(b) for b in affected}
    for i, rel in enumerate(m.get("stats_files", [])):
        if rel.rsplit("/", 1)[0] in retired_set:
            continue
        with open(os.path.join(out_dir, rel)) as f:
            payload = json.load(f)
        if not aff & payload.keys():
            continue
        cleaned = {b: v for b, v in payload.items() if b not in aff}
        if cleaned:
            new_name = f"{new_rel}/_block_stats_amend{i}.json"
            path = os.path.join(out_dir, new_name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(cleaned, f, sort_keys=True)
                f.flush()
                os.fsync(f.fileno())
            swaps[rel] = new_name
        else:
            swaps[rel] = None  # file held only affected buckets: drop
    return swaps


def block_stats(out_dir: str, m: dict[str, Any],
                buckets: list | set | None = None) -> dict[str, list]:
    """Merged per-(bucket)->[per-column block stats]: root-inline
    entries plus any spilled per-wave stats files. Buckets commit once,
    so the sources never overlap. This is the ONE accessor pruning,
    evolution null-fill sets, and observability read stats through —
    they must not touch m['blocks'] directly or spilled waves vanish
    from their view.

    `buckets` restricts the read to spill files of waves holding at
    least one of them (via wave_buckets — the same file-level pruning
    the data reads use): a point lookup against an evolved, spilled
    10^5-bucket snapshot opens ~1 stats file instead of all of them.
    Only sound when the CALLER also restricts itself to those buckets
    (other buckets' stats are absent from the result, not empty)."""
    out = dict(m.get("blocks", {}))
    rels = m.get("stats_files", [])
    merged: set[str] = set()  # buckets needing a copied (extended) list
    if buckets is not None:
        want = {int(b) for b in buckets}
        wb = m.get("wave_buckets", {})

        def keep(rel: str) -> bool:
            wave = rel.rsplit("/", 1)[0]
            # a wave without a recorded bucket list must stay in
            return wave not in wb or bool(want.intersection(wb[wave]))

        rels = [rel for rel in rels if keep(rel)]
    for rel in rels:
        try:
            with open(os.path.join(out_dir, rel)) as f:
                payload = json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"manifest references missing stats file {rel} in {out_dir} "
                "(wave dir reclaimed under a live reader?)"
            )
        # Merge rule is PER-STORE-KIND, deliberately:
        #   * STREAMED stores EXTEND — commit_wave_append spills each
        #     generation's stats to its own wave file, so a bucket's
        #     entries legitimately span the root inline plus several
        #     files; replacing would hide earlier generations from
        #     pruning/aggs. Mutations are refused on streamed stores,
        #     so no consolidation can ever leave a stale duplicate.
        #   * BATCH stores REPLACE (last file wins) — commit_buckets'
        #     spill MIGRATION absorbs other waves' inline entries into
        #     the absorbing wave's file, and a later delete/upsert
        #     consolidation rewrites an affected bucket's stats into
        #     its own NEW file without retiring the absorbing wave;
        #     extending would then double-count the stale migrated
        #     entries (reproduced: count(*) inflated post-delete).
        #     Mutations append their file last, so replace keeps the
        #     fresh stats authoritative.
        if m.get("streamed"):
            for b, entries in payload.items():
                if b in out:
                    if b not in merged:  # copy-on-extend: m's untouched
                        out[b] = list(out[b])
                        merged.add(b)
                    out[b].extend(entries)
                else:
                    out[b] = entries
                    merged.add(b)
        else:
            out.update(payload)
    return out


def missing_columns(m: dict[str, Any], cols: list[str],
                    blocks: dict[str, list] | None = None) -> dict[int, set]:
    """{bucket: columns of `cols` that MAY legitimately be absent from a
    bucket's block set} — the null-fill allowance schema evolution
    creates. Empty dict when no evolution ever happened (the common
    case — decode's strict bucket-integrity checks then apply
    unweakened).

    Batch snapshots derive the set from per-bucket block stats (pass
    block_stats(out_dir, m) when the snapshot may have spilled stats
    files): a bucket either predates the evolution (no block) or not.
    STREAMED snapshots mix generations per bucket — the union of a
    bucket's stats says a column "exists" even when only the newest
    generation carries it — so the bucket-level allowance here is the
    evolution's own recorded added-column list, for every bucket. This
    bucket-level view is used for PLANNING decisions only (anchor
    selection, which payloads to fetch); the read kernels tighten it to
    GENERATION granularity via wave_allowance: each wave's recorded
    evolution watermark says which added columns it predates, and a
    post-evolution generation missing an evolved column's block RAISES
    (corruption) instead of null-filling. Legacy streamed stores whose
    evolution predates watermarks keep the every-generation allowance."""
    out: dict[int, set] = {}
    if m.get("streamed"):
        ev = set(m.get("evolved_columns", ())) & set(cols)
        if not ev:
            return {}
        return {int(b): set(ev) for b in m.get("committed_buckets", [])}
    if blocks is None:
        blocks = m.get("blocks", {})
    for b in m.get("committed_buckets", []):
        have = {s["column"] for s in blocks.get(str(b), [])}
        if not have:
            continue  # hash-empty bucket: produces no rows at all
        miss = {c for c in cols if c not in have}
        if miss:
            out[int(b)] = miss
    return out


def wave_allowance(m: dict[str, Any], cols: list[str]) -> dict[str, set] | None:
    """Per-GENERATION null-fill allowance for streamed snapshots:
    {wave dir basename: columns of `cols` that generation may
    legitimately lack}. None when the snapshot isn't streamed or no
    evolved column is in `cols` — callers then keep the batch
    (per-bucket) contract.

    A wave at index i may miss column c iff i < the evolution watermark
    evolve_schema recorded for c (the wave predates the column). A
    generation at/after the watermark missing c is CORRUPT — readers
    with file provenance (both: the decode reader's fragment paths and
    _gen projection, the DataSource reader's fragment paths) raise instead
    of null-filling. Columns evolved BEFORE watermarks existed
    (legacy manifests without an evolution_waves entry) keep the old
    every-generation allowance — those stores cannot prove which
    generations predate the evolution."""
    if not m.get("streamed"):
        return None
    ev = set(m.get("evolved_columns", ())) & set(cols)
    if not ev:
        return None
    marks = m.get("evolution_waves", {})
    out: dict[str, set] = {}
    for i, rel in enumerate(m.get("wave_dirs", [])):
        name = rel.rsplit("/", 1)[-1]
        allow = {c for c in ev if c not in marks or i < int(marks[c])}
        out[name] = allow
    return out


def expire_versions(out_dir: str, keep_last: int = 10) -> list[int]:
    """Retention (Iceberg expire-snapshots analogue): tombstone manifest
    versions older than the newest `keep_last`.

    Old versions are NOT unlinked — deleting `manifest-v{N}.json` would
    reopen its name, and a stale committer's create-if-absent on the
    reopened slot would succeed and be silently dropped from the chain
    (the ABA _after_publish documents). Instead each expired version's
    content is atomically REPLACED with a tombstone: the name stays
    occupied (stale CAS attempts still lose and retry against fresh
    state), time-travel reads of the version fail loudly, and the disk
    cost drops to ~40 bytes per version. Data-dir reclamation stays
    with sweep_orphan_waves/compaction — this expires metadata only.

    Returns the version numbers expired by THIS call."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the latest version must survive)")
    versions = _list_versions(out_dir)
    expired = []
    for v in versions[:-keep_last] if keep_last < len(versions) else []:
        cur = _read_json(_vpath(out_dir, v))
        if cur is None or cur.get("expired"):
            continue
        tmp = os.path.join(out_dir, f".manifest-expire-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"expired": True, "expired_unix": int(time.time())}, f)
            f.flush()
            os.fsync(f.fileno())
        _backend.overwrite(tmp, _vpath(out_dir, v))  # atomic: the name never vanishes
        expired.append(v)
    return expired


def ordered_schema(m: dict[str, Any]) -> dict[str, str]:
    """{column: type} in the ORIGINAL input column order. Manifest JSON
    is dumped sort_keys=True, which alphabetizes the schema dict; the
    true order rides in m["columns"]. Legacy snapshots (no "columns")
    keep the sorted order they were always read back in."""
    schema = m["schema"]
    order = m.get("columns")
    if not order:
        return schema
    return {c: schema[c] for c in order}


def pending_buckets(out_dir: str) -> list[int]:
    m = load(out_dir)
    if m is None:
        return []
    done = set(m["committed_buckets"])
    return [b for b in range(m["num_buckets"]) if b not in done]
