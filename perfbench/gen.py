"""Seeded load generator, run as its own process, separate from the system
under test.

Two modes:

``tables``  writes the ten parquet tables the batch operators read
            (TPC-H-shaped star schema plus events, documents and embeddings).

``stream``  produces messages into kasper_topic_dir topics, driven by one
            command per stdin line and answering each with one JSON line:

            warm <topic>    write the warm-up messages as one flush
            live <topic>    open loop: ``--rate`` msg/s for ``--seconds``,
                            one flush (one file per partition) every
                            ``--flush-ms``; each message is stamped with the
                            time it was due, and the reply reports how late
                            the flushes ran
            burst <topic>   write ``--burst`` messages as fast as possible
            done            write per-topic fingerprints and exit

The generator uses one process and one thread. The same seed gives the same
message contents and tables; only the stamps depend on the clock.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

import numpy as np

from common import PARTITIONS, multiset_hash

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The 31-word vocabulary of the ``documents.text`` column.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window over"
).split()
N_KEYS = 10_000  # message keys are uniform over this many distinct keys
VALUE_BYTES = 120  # relay values: fixed-length slices of documents-like text
N_VOCAB = 100_000  # word-count vocabulary
ZIPF_S = 1.1
WORDS_PER_VALUE = 8


class Producer:
    """Writes messages into topics and remembers what it wrote."""

    def __init__(self, args):
        self.args = args
        self.rng = np.random.default_rng(args.seed)
        self.keys = [f"key-{k:05d}" for k in range(N_KEYS)]
        sys.path.insert(0, REPO)
        from kasper_spark.sources.topic_dir import hash_str  # the producer's partitioner

        self.key_pid = [hash_str(k) % PARTITIONS for k in self.keys]
        if args.mode == "relay":
            idx = self.rng.integers(0, len(DOC_WORDS), 400_000)
            self.corpus = " ".join(DOC_WORDS[i] for i in idx)
        else:
            ranks = np.arange(1, N_VOCAB + 1, dtype=np.float64)
            weights = ranks**-ZIPF_S
            self.cdf = np.cumsum(weights) / weights.sum()
            self.vocab = [f"w{r:05d}" for r in range(N_VOCAB)]
        self.offsets: dict[str, list[int]] = {}
        self.flushes: dict[str, int] = {}
        self.hashes: dict[str, int] = {}
        self.counts: dict[str, Counter] = {}

    def messages(self, n: int) -> tuple[list[int], list[str]]:
        """Next ``n`` (key index, value) pairs of the seeded stream."""
        keys = self.rng.integers(0, N_KEYS, n).tolist()
        if self.args.mode == "relay":
            starts = self.rng.integers(0, len(self.corpus) - VALUE_BYTES, n).tolist()
            values = [self.corpus[s : s + VALUE_BYTES] for s in starts]
        else:
            u = self.rng.random(n * WORDS_PER_VALUE)
            ranks = np.minimum(np.searchsorted(self.cdf, u), N_VOCAB - 1).tolist()
            w = [self.vocab[r] for r in ranks]
            values = [
                " ".join(w[i : i + WORDS_PER_VALUE])
                for i in range(0, len(w), WORDS_PER_VALUE)
            ]
        return keys, values

    def write(self, topic: str, keys: list[int], values: list[str], stamps) -> None:
        """One flush: one file per partition, renamed in so readers never
        see a partial file."""
        if topic not in self.offsets:
            self.offsets[topic] = [0] * PARTITIONS
            self.flushes[topic] = 0
            self.hashes[topic] = 0
            self.counts[topic] = Counter()
            for pid in range(PARTITIONS):
                os.makedirs(os.path.join(topic, f"p={pid}"), exist_ok=True)
        lines: list[list[str]] = [[] for _ in range(PARTITIONS)]
        for k, v, ts in zip(keys, values, stamps):
            key = self.keys[k]
            lines[self.key_pid[k]].append(
                json.dumps({"key": key, "value": v, "ts": ts})
            )
        seq = self.flushes[topic]
        self.flushes[topic] = seq + 1
        staged = []
        for pid, part in enumerate(lines):
            if not part:
                continue
            pdir = os.path.join(topic, f"p={pid}")
            tmp = os.path.join(pdir, f".g{seq:010d}.tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("\n".join(part) + "\n")
            staged.append((tmp, os.path.join(pdir, f"g{seq:010d}.jsonl")))
            self.offsets[topic][pid] += len(part)
        # publish all partitions back to back, so a trigger sees the whole
        # flush or none of it far more often than a partial one
        for tmp, final in staged:
            os.rename(tmp, final)
        if self.args.mode == "relay":
            pairs = ((self.keys[k], v.upper()) for k, v in zip(keys, values))
            self.hashes[topic] = (self.hashes[topic] + multiset_hash(pairs)) % (1 << 64)
        else:
            self.counts[topic].update(w for v in values for w in v.split(" "))

    def ends(self, topic: str) -> list[int]:
        return list(self.offsets.get(topic, [0] * PARTITIONS))

    # -- commands ---------------------------------------------------------

    def warm(self, topic: str) -> dict:
        keys, values = self.messages(self.args.warmup)
        start = self.ends(topic)
        self.write(topic, keys, values, [time.time()] * len(keys))
        return {"start": start, "end": self.ends(topic), "msgs": len(keys)}

    def live(self, topic: str) -> dict:
        a = self.args
        flush_s = a.flush_ms / 1000.0
        n_flush = round(a.seconds / flush_s)
        total = int(n_flush * flush_s * a.rate)
        keys, values = self.messages(total)
        start = self.ends(topic)
        t0 = time.time() + flush_s
        late_ms = []
        done = 0
        for k in range(1, n_flush + 1):
            target = t0 + k * flush_s
            pause = target - time.time()
            if pause > 0:
                time.sleep(pause)
            late_ms.append(max(0.0, (time.time() - target) * 1000.0))
            upto = int(k * flush_s * a.rate)
            stamps = [t0 + i / a.rate for i in range(done, upto)]
            self.write(topic, keys[done:upto], values[done:upto], stamps)
            done = upto
        return {
            "start": start,
            "end": self.ends(topic),
            "msgs": done,
            "t_start": t0,
            "t_end": time.time(),
            "late_ms_max": max(late_ms),
            "flush_ms": a.flush_ms,
        }

    def burst(self, topic: str) -> dict:
        keys, values = self.messages(self.args.burst)
        start = self.ends(topic)
        self.write(topic, keys, values, [time.time()] * len(keys))
        return {"start": start, "end": self.ends(topic), "msgs": len(keys)}

    def done(self) -> dict:
        out = {}
        for topic, offs in self.offsets.items():
            out[topic] = {"msgs": sum(offs), "hash": self.hashes[topic]}
            if self.args.mode == "words":
                with open(topic + ".counts.json", "w", encoding="utf-8") as fh:
                    json.dump(self.counts[topic], fh)
        return out


def stream(args) -> None:
    producer = Producer(args)
    print(json.dumps({"ready": True}), flush=True)
    commands = {"warm": producer.warm, "live": producer.live, "burst": producer.burst}
    for line in sys.stdin:
        cmd, _, topic = line.strip().partition(" ")
        if cmd == "done":
            print(json.dumps(producer.done()), flush=True)
            return
        if cmd not in commands:
            raise ValueError(f"unknown generator command {cmd!r}")
        print(json.dumps(commands[cmd](topic)), flush=True)


# -- tables -----------------------------------------------------------------

def _days(rng, n, lo: str, hi: str):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return lo_d + rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo: float, hi: float):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(args) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(args.seed)
    sf = args.sf
    os.makedirs(args.out, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(args.out, f"{name}.parquet"))

    def pick(options, n):
        return pa.array([options[i] for i in rng.integers(0, len(options), n)])

    save("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    save("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust = int(150_000 * sf)
    save("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    n_supp = int(10_000 * sf)
    save("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    n_part = int(200_000 * sf)
    adjectives = ["blue", "hot", "large", "red", "cold", "green", "small", "dark"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    save("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    n_ord = int(1_500_000 * sf)
    o_date = _days(rng, n_ord, "1995-01-01", "2001-08-01")
    save("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(o_date.astype("datetime64[us]")),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(l_order)
    l_number = np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_partkey = rng.integers(0, n_part, n_li)
    ship = o_date[l_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    save("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    n_ev = int(1_000_000 * sf)
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    save("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0.01, 560.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = int(50_000 * sf)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # exact duplicates for dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(DOC_WORDS), int(rng.integers(8, 80)))
            texts.append(" ".join(DOC_WORDS[w] for w in words))
    save("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_emb = int(20_000 * sf)
    emb = (rng.standard_normal((n_emb, 64)) * 0.1).astype(np.float32)
    save("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--sf", type=float, required=True)
    t.add_argument("--out", required=True)
    s = sub.add_parser("stream")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--mode", choices=("relay", "words"), required=True)
    s.add_argument("--rate", type=float, required=True)
    s.add_argument("--seconds", type=float, required=True)
    s.add_argument("--flush-ms", type=float, default=100.0)
    s.add_argument("--warmup", type=int, required=True)
    s.add_argument("--burst", type=int, required=True)
    args = ap.parse_args()
    if args.cmd == "tables":
        tables(args)
    else:
        stream(args)


if __name__ == "__main__":
    main()
