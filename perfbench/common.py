"""Helpers shared by the load generator and the benchmark harness.

Both processes import this module, so it stays free of Spark imports.
"""

from __future__ import annotations

import hashlib
import json
import os

# Topic layout both sides agree on: four partitions, each an ordered log of
# ``*.jsonl`` files (the kasper_topic_dir on-disk format).
PARTITIONS = 4


def record_hash(key: str, value: str) -> int:
    """64-bit digest of one (key, value) pair; summed mod 2**64 it gives an
    order-insensitive fingerprint of a multiset of messages."""
    h = hashlib.blake2b(f"{key}\x00{value}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def multiset_hash(pairs) -> int:
    return sum(record_hash(k, v) for k, v in pairs) % (1 << 64)


def partition_files(topic: str, pid: int) -> list[str]:
    pdir = os.path.join(topic, f"p={pid}")
    if not os.path.isdir(pdir):
        return []
    return sorted(os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".jsonl"))


def read_topic(topic: str) -> dict[int, list[dict]]:
    """All messages of a topic, per partition, in offset order."""
    out = {}
    for pid in range(PARTITIONS):
        msgs = []
        for f in partition_files(topic, pid):
            with open(f, encoding="utf-8") as fh:
                msgs.extend(json.loads(line) for line in fh)
        out[pid] = msgs
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class InvalidRun(Exception):
    """The run's measurements cannot be trusted (generator fell behind, or
    the load was not sustained); the run reports nothing."""


class RssSampler:
    """Peak resident memory of this process and all its descendants (JVM,
    Python workers, generator), sampled from /proc. Each process counts its
    proportional share (Pss) so pages shared by forked Python workers are
    counted once."""

    def __init__(self, min_interval_s: float = 0.2):
        self.peak_mb = 0.0
        self.min_interval_s = min_interval_s
        self._last = 0.0

    def sample(self, force: bool = False) -> None:
        import time

        now = time.monotonic()
        if not force and now - self._last < self.min_interval_s:
            return
        self._last = now
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak_mb = max(self.peak_mb, total / 1024)


def _stat_fields(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def alive(pid: int) -> bool:
    fields = _stat_fields(str(pid))
    return bool(fields) and fields[0] != "Z"


def descendants() -> list[int]:
    """Live (non-zombie) descendants of this process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(name)
            if fields and fields[0] != "Z":
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, in clock ticks: steal is
    time the hypervisor ran something else while this machine wanted a CPU."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def contention_probe() -> dict:
    """Host load before the system starts: core count, load average and any
    live JVM (at that point every JVM is foreign)."""
    jvms = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.find("(") + 1 : stat.rfind(")")]
        state = stat[stat.rfind(")") + 2 :][:1]
        if comm == "java" and state != "Z":
            jvms += 1
    return {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0],
            "foreign_jvms": jvms}
