"""Seeded, single-process input generator for the CDC benchmark.

Everything a workload reads is derived from ``--seed`` here: the key
count, the Zipf skew of updates over the key space, the op mix and the
rows per transaction (``params_for``). Binlog bytes are produced by the
package's public encoder (``build_binlog_file``) outside any timed
region, and every fixture carries the digest of the state or changelog
a correct program must return, so results are checked against the
generator rather than against the program itself.

Fixtures are cached on disk under a key made of the workload, the seed,
the sizes and a hash of both this file and the encoder's module source:
an encoder change can never be measured on bytes an older encoder wrote.

Digests are order independent: ``(count, sum of 64-bit row hashes mod
2**64)`` over canonical row tuples, so one dropped or duplicated row
changes them.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import itertools
import json
import os
import random
import shutil
import struct
from dataclasses import asdict, dataclass, replace
from decimal import Decimal

DB = "shop"
TABLE = "orders"
KEY_COLS = ["id"]
SCHEMA_DDL = "id bigint, note string, amount decimal(28,6), ts timestamp"
SID = bytes.fromhex("5e0f7a3c9b2d4e61a8c7d6e5f4031201")
EPOCH = dt.datetime(1970, 1, 1)
BASE_TS_US = 1_700_000_000_000_000

# ops as the changelog encodes them (cdc.schema)
OP_DELETE, OP_INSERT, OP_UPDATE_BEFORE, OP_UPDATE_AFTER = 0, 1, 2, 3
_MASK = (1 << 64) - 1

# binlog v4 framing, for cutting encoded files into per-transaction slices
_MAGIC_LEN = 4
_EV_ROTATE = 4
_EV_GTID = 33


def target():
    """The Spark schema of the orders-like table: BIGINT key, a string,
    DECIMAL(28,6) and a timestamp."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("note", T.StringType()),
            T.StructField("amount", T.DecimalType(28, 6)),
            T.StructField("ts", T.TimestampType()),
        ]
    )


@dataclass(frozen=True)
class Params:
    """Input properties the engine's behaviour depends on. The bands
    are narrow on purpose: seeds vary the inputs, not the amount of
    work, so run-to-run spread measures the program, not the seed."""

    seed: int
    keys: int
    zipf_s: float
    p_update: float
    p_delete: float
    rows_per_txn: int


def params_for(seed: int) -> Params:
    rng = random.Random(f"params-{seed}")
    return Params(
        seed=seed,
        keys=rng.randrange(25_000, 27_001),
        zipf_s=round(rng.uniform(1.05, 1.25), 4),
        p_update=round(rng.uniform(0.55, 0.65), 4),
        p_delete=round(rng.uniform(0.05, 0.10), 4),
        rows_per_txn=rng.choice((9, 10, 11)),
    )


# -- digests ---------------------------------------------------------------


def row_hash(values: tuple) -> int:
    raw = "|".join(map(str, values)).encode()
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "little")


def digest(rows) -> tuple[int, int]:
    """Order-independent multiset digest of canonical row tuples."""
    n = 0
    acc = 0
    for r in rows:
        n += 1
        acc = (acc + row_hash(r)) & _MASK
    return n, acc


def arrow_rows(table, with_ops: bool = False):
    """Canonical tuples from an Arrow table (Spark ``toArrow`` or the
    decode kernel): (id, note, amount in millionths, ts in epoch
    microseconds[, op, gtid])."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = table.column("id").to_pylist()
    notes = table.column("note").to_pylist()
    units = [int(d.scaleb(6)) for d in table.column("amount").to_pylist()]
    ts = pc.cast(table.column("ts"), pa.timestamp("us")).cast(pa.int64()).to_pylist()
    if not with_ops:
        return list(zip(ids, notes, units, ts))
    ops = table.column("__op").to_pylist()
    gnos = table.column("__gtid").to_pylist()
    return list(zip(ids, notes, units, ts, ops, gnos))


# -- the change model --------------------------------------------------------


class ChangeModel:
    """Current state of the table plus a seeded transaction source.

    ``state`` maps key -> (note, amount millionths, ts microseconds).
    Each transaction carries one op type over ``rows_per_txn`` distinct
    keys: inserts take fresh keys, updates and deletes pick live keys by
    a Zipf law over a seeded permutation of the key space."""

    def __init__(self, params: Params, stream: str):
        self.p = params
        self.rng = random.Random(f"{stream}-{params.seed}")
        self.state: dict[int, tuple[str, int, int]] = {}
        self.next_key = 1
        self.gno = 0
        self.version = 0
        ranks = range(1, params.keys + 1)
        self._cdf = list(itertools.accumulate(1.0 / r**params.zipf_s for r in ranks))
        self._perm = list(range(1, params.keys + 1))
        self.rng.shuffle(self._perm)

    def _values(self, key: int) -> tuple[str, int, int]:
        self.version += 1
        return (
            f"n{key % 9973:04d}v{self.version}",
            self.rng.randrange(1_000_000, 10**13),
            BASE_TS_US + self.gno * 1_000_000 + self.rng.randrange(1_000_000),
        )

    def _zipf_keys(self, n: int) -> list[int]:
        picked: list[int] = []
        seen: set[int] = set()
        for _ in range(n * 20):
            if len(picked) == n:
                break
            u = self.rng.random() * self._cdf[-1]
            key = self._perm[min(bisect.bisect_left(self._cdf, u), len(self._perm) - 1)]
            if key in self.state and key not in seen:
                seen.add(key)
                picked.append(key)
        return picked

    def insert_txn(self) -> dict:
        return self._txn("w")

    def next_txn(self) -> dict:
        u = self.rng.random()
        if u < self.p.p_update:
            op = "u"
        elif u < self.p.p_update + self.p.p_delete:
            op = "d"
        else:
            op = "w"
        return self._txn(op)

    def _txn(self, op: str) -> dict:
        """Advance the model by one transaction. Returns the encoder's
        txn dict plus ``images``: the canonical changelog tuples
        (id, note, units, ts_us, op, gno) in image order."""
        self.gno += 1
        n = self.p.rows_per_txn
        keys = [] if op == "w" else self._zipf_keys(n)
        if op != "w" and not keys:
            op = "w"  # every key is dead: the workload keeps inserting
        if op == "w":
            keys = list(range(self.next_key, self.next_key + n))
            self.next_key += n
        rows = []
        images = []
        for k in keys:
            if op == "w":
                new = self._values(k)
                self.state[k] = new
                rows.append(_row(k, new))
                images.append((k, *new, OP_INSERT, self.gno))
            elif op == "u":
                old = self.state[k]
                new = self._values(k)
                self.state[k] = new
                rows.append((_row(k, old), _row(k, new)))
                images.append((k, *old, OP_UPDATE_BEFORE, self.gno))
                images.append((k, *new, OP_UPDATE_AFTER, self.gno))
            else:
                old = self.state.pop(k)
                rows.append(_row(k, old))
                images.append((k, *old, OP_DELETE, self.gno))
        return {
            "gno": self.gno,
            "op": op,
            "rows": rows,
            "ts": (BASE_TS_US // 1_000_000) + self.gno,
            "images": images,
        }

    def state_digest(self) -> tuple[int, int]:
        return digest((k, *v) for k, v in self.state.items())


def _row(key: int, values: tuple[str, int, int]) -> dict:
    note, units, ts_us = values
    return {
        "id": key,
        "note": note,
        "amount": Decimal(units).scaleb(-6),
        "ts": EPOCH + dt.timedelta(microseconds=ts_us),
    }


def encode(tgt, txns: list[dict], *, head_gno: int = 1, rotate_to: str | None = None) -> bytes:
    """One checksummed binlog file through the package's encoder, with a
    PREVIOUS_GTIDS head covering every gno before ``head_gno``."""
    from mysql_cdc_table_spark.sources.mysql_binlog import build_binlog_file

    return build_binlog_file(
        DB,
        TABLE,
        tgt,
        [{k: t[k] for k in ("gno", "op", "rows", "ts")} for t in txns],
        sid=SID,
        checksum=True,
        previous_gtids={SID: [(1, head_gno)] if head_gno > 1 else []},
        rotate_to=rotate_to,
    )


def split_events(blob: bytes) -> tuple[int, list[tuple[int, int]], int]:
    """Cut an encoded file at its GTID events: (head length, [(txn
    start, txn end)], end of the last transaction). The head is the
    magic plus FDE and PREVIOUS_GTIDS; anything after the last
    transaction's end is the trailing ROTATE event."""
    pos = _MAGIC_LEN
    starts: list[int] = []
    rotate_at = len(blob)
    while pos < len(blob):
        etype = blob[pos + 4]
        (size,) = struct.unpack_from("<I", blob, pos + 9)
        if etype == _EV_GTID:
            starts.append(pos)
        elif etype == _EV_ROTATE:
            rotate_at = pos
        pos += size
    ends = starts[1:] + [rotate_at]
    return starts[0], list(zip(starts, ends)), rotate_at


# -- fixture cache -----------------------------------------------------------


def _source_hash() -> str:
    from mysql_cdc_table_spark.sources import mysql_binlog

    h = hashlib.sha256()
    for path in (mysql_binlog.__file__, __file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class FixtureCache:
    """Fixture directories under ``root``, keyed on workload, seed,
    sizes and the encoder/generator source hash. A directory counts only
    once its ``meta.json`` is written (last); at most ``KEEP``
    directories are retained, oldest first out."""

    KEEP = 6

    def __init__(self, root: str):
        self.root = root

    def key(self, workload: str, seed: int, sizes: dict) -> str:
        raw = json.dumps([workload, seed, sizes, _source_hash()], sort_keys=True)
        return hashlib.sha256(raw.encode()).hexdigest()[:24]

    def get_or_build(self, workload: str, seed: int, sizes: dict, build) -> tuple[str, dict, bool]:
        """(directory, meta, was_cached). ``build(dir) -> meta`` writes
        the fixture into an empty directory."""
        d = os.path.join(self.root, f"{workload}-{self.key(workload, seed, sizes)}")
        meta_path = os.path.join(d, "meta.json")
        if os.path.exists(meta_path):
            os.utime(d)
            with open(meta_path) as fh:
                return d, json.load(fh), True
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        meta = build(d)
        with open(meta_path + ".tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(meta_path + ".tmp", meta_path)
        self._evict(keep_dir=d)
        return d, meta, False

    def _evict(self, keep_dir: str) -> None:
        dirs = sorted(
            (os.path.join(self.root, n) for n in os.listdir(self.root)),
            key=os.path.getmtime,
        )
        for old in dirs[: max(0, len(dirs) - self.KEEP)]:
            if old != keep_dir:
                shutil.rmtree(old, ignore_errors=True)


# -- the fixtures ------------------------------------------------------


def history_txns(params: Params, images: int) -> tuple[ChangeModel, list[dict]]:
    """Every key inserted, then the seeded op mix until ``images`` row
    images exist. Returns the model (final state) and the transactions."""
    m = ChangeModel(params, "history")
    txns: list[dict] = []
    n_img = 0
    while m.next_key <= params.keys:
        txns.append(m.insert_txn())
        n_img += len(txns[-1]["images"])
    while n_img < images:
        txns.append(m.next_txn())
        n_img += len(txns[-1]["images"])
    return m, txns


def build_history(d: str, params: Params, images: int, n_files: int) -> dict:
    """A retained, rotated, CRC-checksummed series of ``history_txns``,
    cut into ``n_files`` files with PREVIOUS_GTIDS heads and ROTATE
    links. Meta: the expected latest state digest, and per-gno image
    counts plus prefix digests so any resume bound's exact expected
    result is known."""
    tgt = target()
    m, txns = history_txns(params, images)
    n_img = sum(len(t["images"]) for t in txns)
    per_file = -(-len(txns) // n_files)
    series_dir = os.path.join(d, "series")
    os.makedirs(series_dir)
    for fi in range(n_files):
        chunk = txns[fi * per_file : (fi + 1) * per_file]
        nxt = f"binlog.{fi + 2:06d}" if fi + 1 < n_files else None
        blob = encode(tgt, chunk, head_gno=chunk[0]["gno"], rotate_to=nxt)
        with open(os.path.join(series_dir, f"binlog.{fi + 1:06d}"), "wb") as fh:
            fh.write(blob)
    prefix_n = [0]
    prefix_h = [0]
    for t in txns:
        n, h = digest(t["images"])
        prefix_n.append(prefix_n[-1] + n)
        prefix_h.append((prefix_h[-1] + h) & _MASK)
    return {
        "params": asdict(params),
        "series": series_dir,
        "last_gno": m.gno,
        "images": n_img,
        "bytes": sum(
            os.path.getsize(os.path.join(series_dir, f)) for f in os.listdir(series_dir)
        ),
        "state": list(m.state_digest()),
        "prefix_n": prefix_n,
        "prefix_h": prefix_h,
    }


def expected_after(meta: dict, bound: int) -> tuple[int, int]:
    """Digest of every changelog image with gno > bound."""
    last = meta["last_gno"]
    return (
        meta["prefix_n"][last] - meta["prefix_n"][bound],
        (meta["prefix_h"][last] - meta["prefix_h"][bound]) & _MASK,
    )


def build_live(d: str, params: Params, keys: int, images_live: int, rotate_bytes: int) -> dict:
    """A sealed snapshot file (``keys`` keys inserted; the seeded key
    count is scaled to it, the other parameters are kept) plus
    ``images_live`` row images of live transactions, pre-encoded as byte slices for the appender: files cut
    by size, each with its head, its transactions and, when sealed, a
    trailing ROTATE. Meta: the appender plan, per-txn image counts and
    the expected final state digest."""
    tgt = target()
    params = replace(params, keys=keys * params.keys // 26_000)
    m = ChangeModel(params, "live")
    snap = []
    while m.next_key <= params.keys:
        snap.append(m.insert_txn())
    snapshot_last_gno = m.gno
    snap_images = sum(len(t["images"]) for t in snap)
    blob = encode(tgt, snap, head_gno=1, rotate_to="binlog.000002")
    with open(os.path.join(d, "snapshot.bin"), "wb") as fh:
        fh.write(blob)
    live: list[dict] = []
    n_img = 0
    while n_img < images_live:
        live.append(m.next_txn())
        n_img += len(live[-1]["images"])
    # size each transaction once, then group transactions into files
    # that rotate after ``rotate_bytes``
    groups: list[list[dict]] = [[]]
    size = 0
    for t in live:
        one = encode(tgt, [t], head_gno=t["gno"], rotate_to=None)
        head, spans, _ = split_events(one)
        groups[-1].append(t)
        size += spans[0][1] - spans[0][0]
        if size >= rotate_bytes:
            groups.append([])
            size = 0
    groups = [g for g in groups if g]
    plan_files = []
    with open(os.path.join(d, "plan.bin"), "wb") as out:
        off = 0
        for gi, g in enumerate(groups):
            name = f"binlog.{gi + 2:06d}"
            nxt = f"binlog.{gi + 3:06d}" if gi + 1 < len(groups) else None
            fblob = encode(tgt, g, head_gno=g[0]["gno"], rotate_to=nxt)
            head, spans, rot = split_events(fblob)
            out.write(fblob)
            plan_files.append(
                {
                    "name": name,
                    "seq": gi + 2,
                    "head": [off, head],
                    "txns": [
                        [t["gno"], off + s, e - s, e, len(t["images"])]
                        for t, (s, e) in zip(g, spans)
                    ],
                    "tail": [off + rot, len(fblob) - rot],
                }
            )
            off += len(fblob)
    with open(os.path.join(d, "plan.json"), "w") as fh:
        json.dump(plan_files, fh)
    return {
        "params": asdict(params),
        "snapshot_last_gno": snapshot_last_gno,
        "snapshot_images": snap_images,
        "live_images": n_img,
        "live_txns": len(live),
        "files": plan_files,
        "state": list(m.state_digest()),
    }
