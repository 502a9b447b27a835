"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, from ``--seed``
alone: sysbench ``sbtest`` tables, a Zipf-skewed ``oltp_update_index``
change history framed as zstd-compressed Kafka record batches, a drifted
replica for the check task, a corpus with planted near-duplicate clusters,
and the codec-acceptance segments. The realtime change stream is written by
``python3 perfbench/gen.py stream ...``, a separate single-threaded process
that drops one Debezium JSONL file per tick on a fixed schedule.

Kafka record batches are framed here (format v2, CRC32C) and compressed by
pyarrow's bundled zstd / lz4-frame codecs, the way a producer linked against
the real libraries writes them; the package's own ``encode_batch`` only
emits raw zstd blocks and independent lz4 blocks.

Nothing here imports the package under test.
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB = "sbtest"
TB = "sbtest1"
TOPIC = "dbserver.sbtest.sbtest1"
BASE_TS_MS = 1_700_000_000_000

# -- sysbench sbtest rows ------------------------------------------------------


def _digit_groups(rng: np.random.Generator, n: int, groups: int) -> list[str]:
    """sysbench's c/pad filler: `groups` runs of 11 random digits joined by '-'."""
    width = groups * 12 - 1
    chars = rng.integers(ord("0"), ord("9") + 1, size=(n, width), dtype=np.uint8)
    chars[:, 11::12] = ord("-")
    return np.frombuffer(chars.tobytes(), dtype=f"S{width}").astype(f"U{width}").tolist()


def sbtest_rows(rng: np.random.Generator, ids: np.ndarray, k_max: int) -> dict:
    n = len(ids)
    return {
        "id": ids.astype(np.int32),
        "k": rng.integers(1, k_max + 1, size=n).astype(np.int32),
        "c": _digit_groups(rng, n, 10),
        "pad": _digit_groups(rng, n, 5),
    }


SBTEST_SCHEMA = pa.schema(
    [("id", pa.int32()), ("k", pa.int32()), ("c", pa.string()), ("pad", pa.string())]
)


def write_sbtest(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols, schema=SBTEST_SCHEMA), path)


# -- change history ------------------------------------------------------------


class ChangeHistory:
    """sysbench ``oltp_update_index`` history over a live key set.

    Mostly ``UPDATE sbtest SET k=k+1 WHERE id=?`` (full before/after images,
    as a row-based binlog carries them), plus a few inserts of new ids and
    deletes. A delete or update that lands on an already-deleted key is
    emitted as an insert that re-creates it, so every event is valid against
    the state the previous events left."""

    def __init__(self, rng: np.random.Generator, table: dict, p_insert=0.03, p_delete=0.03):
        self.rng = rng
        self.rows = {
            int(i): [int(k), c, p]
            for i, k, c, p in zip(table["id"], table["k"], table["c"], table["pad"])
        }
        self.deleted: dict[int, list] = {}
        self.next_id = int(max(self.rows)) + 1
        self.p_insert, self.p_delete = p_insert, p_delete

    def event(self, key: int) -> tuple[str, dict | None, dict | None]:
        u = self.rng.random()
        if u < self.p_insert:
            key = self.next_id
            self.next_id += 1
            row = [int(self.rng.integers(1, 1 << 20)), _digit_groups(self.rng, 1, 10)[0],
                   _digit_groups(self.rng, 1, 5)[0]]
            self.rows[key] = row
            return "c", None, _image(key, row)
        if key in self.deleted:
            row = self.deleted.pop(key)
            self.rows[key] = row
            return "c", None, _image(key, row)
        row = self.rows[key]
        if u < self.p_insert + self.p_delete:
            del self.rows[key]
            self.deleted[key] = row
            return "d", _image(key, row), None
        before = _image(key, row)
        row[0] += 1
        return "u", before, _image(key, row)

    def write_state(self, path: str) -> None:
        """The table after every event so far, in id order: the reference a
        correct CDC target must equal."""
        ids = sorted(self.rows)
        write_sbtest(path, {
            "id": np.array(ids, dtype=np.int32),
            "k": np.array([self.rows[i][0] for i in ids], dtype=np.int32),
            "c": [self.rows[i][1] for i in ids],
            "pad": [self.rows[i][2] for i in ids],
        })


def _image(key: int, row: list) -> dict:
    return {"id": key, "k": row[0], "c": row[1], "pad": row[2]}


def debezium_json(op: str, before, after, seq: int, ts_ms: int) -> str:
    return json.dumps(
        {
            "op": op,
            "before": before,
            "after": after,
            "source": {"db": DB, "table": TB, "ts_ms": ts_ms, "seq": seq},
        },
        separators=(",", ":"),
    )


def zipf_keys(rng: np.random.Generator, keys: np.ndarray, n: int, s: float) -> np.ndarray:
    """n draws from `keys` with bounded Zipf(s) popularity; the rank->key map
    is a seeded permutation so hot keys are spread over the id range."""
    ranks = np.arange(1, len(keys) + 1, dtype=np.float64)
    cdf = np.cumsum(ranks**-s)
    cdf /= cdf[-1]
    perm = rng.permutation(keys)
    return perm[np.searchsorted(cdf, rng.random(n), side="right").clip(0, len(keys) - 1)]


# -- Kafka record batches (format v2) ------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    table = _CRC32C_TABLE
    for b in data:
        crc = (crc >> 8) ^ table[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _varint(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)  # zigzag
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _record(i: int, key: bytes, value: bytes) -> bytes:
    body = b"\x00" + _varint(i) + _varint(i) + _varint(len(key)) + key
    body += _varint(len(value)) + value + _varint(0)
    return _varint(len(body)) + body


_CODEC_ATTR = {"zstd": 4, "lz4": 3}


def record_batch(msgs: list[tuple[bytes, bytes]], base_offset: int, base_ts: int,
                 codec: str) -> bytes:
    """One v2 record batch whose records block is compressed by pyarrow's
    codec (`zstd` -> zstd frame, `lz4` -> LZ4 frame with linked blocks)."""
    recs = b"".join(_record(i, k, v) for i, (k, v) in enumerate(msgs))
    comp = pa.Codec(codec).compress(recs, asbytes=True)
    n = len(msgs)
    after_crc = struct.pack(
        ">hiqqqhii", _CODEC_ATTR[codec], n - 1, base_ts, base_ts + n - 1, -1, -1, -1, n
    ) + comp
    body = struct.pack(">bI", 2, crc32c(after_crc)) + after_crc
    return struct.pack(">qii", base_offset, 4 + len(body), -1) + body


def write_partition(out_dir: str, partition: int, msgs: list, per_batch: int,
                    per_segment: int, codec: str, mtime0: float, mtime_step: float) -> None:
    """Segments `<out_dir>/<topic>-<partition>/<base>.log`; segment j of the
    partition gets mtime `mtime0 + j * mtime_step`, so a file source that
    takes the oldest files first reads each partition in offset order."""
    pdir = os.path.join(out_dir, f"{TOPIC}-{partition}")
    os.makedirs(pdir, exist_ok=True)
    for j, seg0 in enumerate(range(0, len(msgs), per_segment)):
        seg = msgs[seg0 : seg0 + per_segment]
        buf = bytearray()
        for b0 in range(0, len(seg), per_batch):
            base = seg0 + b0
            buf += record_batch(seg[b0 : b0 + per_batch], base, BASE_TS_MS + base, codec)
        p = os.path.join(pdir, f"{seg0:020d}.log")
        with open(p, "wb") as f:
            f.write(bytes(buf))
        t = mtime0 + j * mtime_step
        os.utime(p, (t, t))


# -- workload inputs -----------------------------------------------------------


def _segments(out: str, hist: ChangeHistory, keys: np.ndarray, partitions: int,
              first_segment: float, per_batch: int) -> int:
    """The history's events for `keys` as zstd Kafka segments, hash
    partitioned by key (each key's events stay in one partition, in order).
    Each partition is two segments, the first holding the `first_segment`
    share of its events. Returns the JSON bytes written."""
    parts: list[list] = [[] for _ in range(partitions)]
    json_bytes = 0
    for i, key in enumerate(keys):
        op, before, after = hist.event(int(key))
        k = (before or after)["id"]
        v = debezium_json(op, before, after, i + 1, BASE_TS_MS + i).encode()
        json_bytes += len(v)
        parts[k % partitions].append((str(k).encode(), v))
    mtime0 = time.time() - 86400
    for p, msgs in enumerate(parts):
        per_segment = int(np.ceil(first_segment * len(msgs)))
        write_partition(out, p, msgs, per_batch, per_segment, "zstd", mtime0 + p, partitions)
    return json_bytes


def gen_catchup(out: str, seed: int, table_rows: int, events: int, partitions: int,
                first_segment: float, per_batch: int) -> dict:
    """sbtest table + a Zipf-skewed backlog as zstd Kafka segments, and the
    state that replaying it must leave."""
    rng = np.random.default_rng(seed)
    table = sbtest_rows(rng, np.arange(1, table_rows + 1), table_rows)
    write_sbtest(os.path.join(out, "base.parquet"), table)
    hist = ChangeHistory(rng, table)
    keys = zipf_keys(rng, np.arange(1, table_rows + 1), events, 0.9)
    json_bytes = _segments(os.path.join(out, "segments"), hist, keys, partitions,
                           first_segment, per_batch)
    hist.write_state(os.path.join(out, "expected.parquet"))
    return {"events": events, "json_bytes": json_bytes, "table_rows": table_rows}


def gen_probe_segments(out: str, seed: int, events: int = 800) -> dict:
    """One single-batch segment per codec, each batch ~400 KB uncompressed,
    so the lz4 frame spans several linked 64 KB blocks."""
    rng = np.random.default_rng(seed + 1)
    table = sbtest_rows(rng, np.arange(1, events + 1), events)
    hist = ChangeHistory(rng, table)
    msgs = []
    for i in range(events):
        op, before, after = hist.event(i + 1)
        k = (before or after)["id"]
        value = debezium_json(op, before, after, i + 1, BASE_TS_MS + i)
        msgs.append((str(k).encode(), value.encode()))
    for codec in ("zstd", "lz4"):
        d = os.path.join(out, f"probe_{codec}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{0:020d}.log"), "wb") as f:
            f.write(record_batch(msgs, 0, BASE_TS_MS, codec))
    with open(os.path.join(out, "probe_expected.jsonl"), "wb") as f:
        f.write(b"\n".join(v for _, v in msgs) + b"\n")
    return {"probe_events": events}


def gen_snapshot(out: str, seed: int, tables: int, rows: int, drift: int) -> dict:
    """`tables` sbtest tables under src/ and a replica under replica/ with
    `drift` seeded rows per class: miss (absent), diff (k changed), extra."""
    rng = np.random.default_rng(seed)
    src, rep_dir = os.path.join(out, "src"), os.path.join(out, "replica")
    os.makedirs(src)
    os.makedirs(rep_dir)
    expected = {}
    for t in range(1, tables + 1):
        tb = f"sbtest{t}"
        cols = sbtest_rows(rng, np.arange(1, rows + 1), rows)
        write_sbtest(os.path.join(src, f"{tb}.parquet"), cols)
        picks = rng.choice(rows, size=2 * drift, replace=False)
        miss, diff = picks[:drift], picks[drift:]
        keep = np.ones(rows, dtype=bool)
        keep[miss] = False
        k = cols["k"].copy()
        k[diff] += 1
        extra_ids = np.arange(rows + 1, rows + drift + 1)
        rep = pa.table({**cols, "k": k}, schema=SBTEST_SCHEMA).filter(pa.array(keep))
        ex = pa.table(sbtest_rows(rng, extra_ids, rows), schema=SBTEST_SCHEMA)
        pq.write_table(pa.concat_tables([rep, ex]), os.path.join(rep_dir, f"{tb}.parquet"))
        expected[tb] = {
            "miss": sorted(int(cols["id"][i]) for i in miss),
            "diff": sorted(int(cols["id"][i]) for i in diff),
            "extra": [int(i) for i in extra_ids],
        }
    return {"tables": [f"sbtest{t}" for t in range(1, tables + 1)], "rows": rows,
            "expected": expected}


def gen_corpus(out: str, seed: int, docs: int, clusters: int, cluster_size: int,
               words: int, vocab: int) -> dict:
    """`docs` documents of `words` random words from a `vocab`-word
    vocabulary; `clusters` of them are seeds of planted clusters whose other
    `cluster_size - 1` members each replace 5% of the seed's words (Jaccard
    around 0.8 to the seed). Unrelated documents share almost no words."""
    rng = np.random.default_rng(seed)
    lex = [f"w{i:05d}x" for i in range(vocab)]
    n_planted = clusters * cluster_size
    base = rng.integers(0, vocab, size=(docs, words))
    ids = rng.permutation(np.arange(1, docs + 1))  # cluster members scattered
    members = {}
    for c in range(clusters):
        seed_row = base[c * cluster_size]
        for m in range(1, cluster_size):
            row = seed_row.copy()
            flip = rng.choice(words, size=max(1, words // 20), replace=False)
            row[flip] = rng.integers(0, vocab, size=len(flip))
            base[c * cluster_size + m] = row
        members[c] = sorted(int(ids[c * cluster_size + m]) for m in range(cluster_size))
    text = [" ".join(lex[w] for w in row) for row in base]
    pq.write_table(
        pa.table({"id": ids.astype(np.int64), "text": text}),
        os.path.join(out, "corpus.parquet"),
    )
    return {"docs": docs, "planted": n_planted, "clusters": list(members.values())}


# -- realtime stream -----------------------------------------------------------


def due_time(t0: float, i: int, rate: float) -> float:
    """Due time of event i (0-based) of a stream started at t0."""
    return t0 + i / rate


def stream(base: str, out_dir: str, stage_dir: str, seed: int, rate: float, tick: float,
           start_delay: float, duration: float, seq0: int, summary: str) -> None:
    """Open-loop writer over the preloaded table `base`: once ready it fixes
    t0 = now + start_delay and publishes it in `summary`.ready; then at each
    tick end it writes every event due in that tick as one JSONL file
    (staged, then renamed in), whether or not the consumer keeps up. Keys are
    uniform; each event's source.ts_ms is its due time. At the end `summary`
    gets the counts and how late the writer ran, and `summary`.state.parquet
    the table after every event."""
    rng = np.random.default_rng(seed + 2)
    table = pq.read_table(base).to_pydict()
    hist = ChangeHistory(rng, table)
    n_total = int(duration * rate)
    keys = rng.integers(1, len(table["id"]) + 1, size=n_total)
    t0 = time.time() + start_delay
    with open(summary + ".ready.tmp", "w") as f:
        json.dump({"t0": t0}, f)
    os.rename(summary + ".ready.tmp", summary + ".ready")
    late = []
    i = tick_no = 0
    while i < n_total:
        tick_end = t0 + (tick_no + 1) * tick
        j = min(n_total, int(np.ceil((tick_end - t0) * rate - 1e-9)))
        lines = []
        for e in range(i, j):
            op, before, after = hist.event(int(keys[e]))
            ts = int(due_time(t0, e, rate) * 1000)
            lines.append(debezium_json(op, before, after, seq0 + e, ts))
        delay = tick_end - time.time()
        if delay > 0:
            time.sleep(delay)
        if lines:
            name = f"part-{tick_no:06d}.json"
            tmp = os.path.join(stage_dir, name)
            with open(tmp, "w") as f:
                f.write("\n".join(lines) + "\n")
            os.rename(tmp, os.path.join(out_dir, name))
        late.append(max(0.0, time.time() - tick_end))
        i = j
        tick_no += 1
    hist.write_state(summary + ".state.parquet")
    with open(summary + ".tmp", "w") as f:
        json.dump({"t0": t0, "events": n_total, "last_seq": seq0 + n_total - 1,
                   "late_ms_max": 1000 * max(late), "ticks": tick_no}, f)
    os.rename(summary + ".tmp", summary)


def gen_realtime(out: str, seed: int, table_rows: int, warm_files: int,
                 warm_events: int) -> dict:
    """The table the target is preloaded with (the stream process reads it
    back so its before-images match the target), plus a JSONL backlog of
    `warm_files` files of uniform-key events over the same table for the
    untimed warm-up."""
    rng = np.random.default_rng(seed)
    table = sbtest_rows(rng, np.arange(1, table_rows + 1), table_rows)
    write_sbtest(os.path.join(out, "base.parquet"), table)
    hist = ChangeHistory(rng, table)
    keys = rng.integers(1, table_rows + 1, size=warm_files * warm_events)
    lines = [debezium_json(*hist.event(int(k)), i + 1, BASE_TS_MS + i) for i, k in enumerate(keys)]
    wdir = os.path.join(out, "warm")
    os.makedirs(wdir)
    for j in range(warm_files):
        with open(os.path.join(wdir, f"part-{j}.json"), "w") as f:
            f.write("\n".join(lines[j * warm_events : (j + 1) * warm_events]) + "\n")
    return {"table_rows": table_rows, "warm_events": warm_files * warm_events}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    w = sub.add_parser("inputs", help="write one workload's inputs")
    w.add_argument("--workload", required=True)
    w.add_argument("--seed", type=int, required=True)
    w.add_argument("--out", required=True)
    w.add_argument("--params", required=True, help="JSON object of sizes")
    s = sub.add_parser("stream", help="run the realtime change-stream writer")
    for a in ("--base", "--out", "--stage", "--summary"):
        s.add_argument(a, required=True)
    for a in ("--seed", "--seq0"):
        s.add_argument(a, type=int, required=True)
    for a in ("--rate", "--tick", "--start-delay", "--duration"):
        s.add_argument(a, type=float, required=True)
    args = ap.parse_args(argv)
    if args.cmd == "stream":
        stream(args.base, args.out, args.stage, args.seed, args.rate, args.tick,
               args.start_delay, args.duration, args.seq0, args.summary)
        return 0
    p = json.loads(args.params)
    os.makedirs(args.out, exist_ok=True)
    if args.workload == "cdc_catchup":
        snapshot = p.pop("snapshot", None)
        meta = gen_catchup(args.out, args.seed, **p)
        meta.update(gen_probe_segments(args.out, args.seed))
        if snapshot:
            meta["snapshot"] = gen_snapshot(os.path.join(args.out, "batch"), args.seed, **snapshot)
    elif args.workload == "cdc_realtime":
        corpus = p.pop("corpus", None)
        meta = gen_realtime(args.out, args.seed, **p)
        meta.update(gen_probe_segments(args.out, args.seed))
        if corpus:
            os.makedirs(os.path.join(args.out, "corpus"))
            meta["corpus"] = gen_corpus(os.path.join(args.out, "corpus"), args.seed, **corpus)
    else:
        raise SystemExit(f"unknown workload {args.workload!r}")
    with open(os.path.join(args.out, "inputs.json"), "w") as f:
        json.dump(meta, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
