"""Seeded inputs for every workload.

The star tables follow the schema of the data_cube_spark test tables
(TPC-H-ish: region, nation, customer, supplier, part, orders, lineitem,
plus events, documents and embeddings so ``load_tables`` finds every
file). Row counts scale with ``sf`` exactly as TPC-H does. Dedup batch
files carry a ``label`` per document so the benchmark can score what the
ingest suppressed; the label column is dropped before the stream sees
the file.

Everything is a pure function of the seed: the same seed gives the same
bytes of parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
VOCAB = ("a the data spark line column order small sort fast value scan hash "
         "slow group batch agg filter query big key window join part vector "
         "table stream merge row customer").split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _doc_text(rng: np.random.Generator) -> list[str]:
    return list(rng.choice(VOCAB, int(rng.integers(30, 80))))


def write_star(out_dir: str, seed: int, sf: float, n_docs: int) -> None:
    """Write every table ``load_tables`` reads into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_c, n_s = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_p, n_o = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 100)

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(SEGMENTS, n_c)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(VOCAB, n_p), rng.choice(VOCAB, n_p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(PART_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 2)})

    odate = rng.integers(0, 2404, n_o)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000, 500_000, n_o),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_o)})

    # 1..7 lines per order; a line's part is offset by its line number, so
    # the (order, part, supplier) fact grain is unique as in TPC-H
    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_l = len(okey)
    base_part = rng.integers(0, n_p, n_o)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": (np.repeat(base_part, lines) + lnum * 7919) % n_p,
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100_000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_l))})

    n_e = 1000
    _write(out_dir, "events", {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64)
                       + np.sort(rng.integers(0, 86_400 * 10**6, n_e)), pa.timestamp("us")),
        "user_id": rng.integers(0, 50, n_e),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_e),
        "value": _money(rng, 0, 200, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    texts = [" ".join(_doc_text(rng)) for _ in range(n_docs)]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_v = 100
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(rng.standard_normal((n_v, 16)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32())})


# -- dedup stream batches ---------------------------------------------------

FRESH, CORPUS_CLONE, NEAR_DUP, BATCH_CLONE = "fresh", "corpus_clone", "near_dup", "batch_clone"


@dataclass
class BatchGenerator:
    """Seeded stream of batch files against a corpus of ``corpus`` texts
    (doc ids ``0..len(corpus)-1``). Each batch mixes fresh documents,
    exact clones of corpus documents, near-duplicate edits of corpus
    documents (two token substitutions, Jaccard of 3-shingles well above
    0.5) and exact clones of fresh documents from earlier batches."""

    corpus: list[str]
    seed: int
    batch_docs: int = 40
    mix: tuple = ((FRESH, 0.55), (CORPUS_CLONE, 0.15), (NEAR_DUP, 0.15), (BATCH_CLONE, 0.15))
    next_id: int = 1_000_000
    batches: int = 0
    fresh_seen: list = field(default_factory=list)
    #: doc_id -> (label, source doc id or None, text)
    labels: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 2])

    def _near_dup(self, text: str) -> str:
        toks = text.split()
        for pos in self.rng.choice(len(toks), 2, replace=False):
            toks[pos] = "edit" + str(int(self.rng.integers(0, 1000)))
        return " ".join(toks)

    def next_batch(self) -> tuple[list[int], list[str]]:
        counts = {k: int(round(self.batch_docs * w)) for k, w in self.mix}
        if not self.fresh_seen:  # the first batch has nothing earlier to clone
            counts[FRESH] += counts.pop(BATCH_CLONE)
        rows = []
        for kind, n in counts.items():
            for _ in range(n):
                src = None
                if kind == FRESH:
                    text = " ".join(_doc_text(self.rng))
                elif kind == BATCH_CLONE:
                    src = self.fresh_seen[int(self.rng.integers(len(self.fresh_seen)))]
                    text = self.labels[src][2]
                else:
                    src = int(self.rng.integers(len(self.corpus)))
                    text = self.corpus[src]
                    if kind == NEAR_DUP:
                        text = self._near_dup(text)
                rows.append((kind, src, text))
        order = self.rng.permutation(len(rows))
        ids, texts = [], []
        new_fresh = []
        for i in order:
            kind, src, text = rows[i]
            doc_id = self.next_id
            self.next_id += 1
            self.labels[doc_id] = (kind, src, text)
            if kind == FRESH:
                new_fresh.append(doc_id)
            ids.append(doc_id)
            texts.append(text)
        self.fresh_seen.extend(new_fresh)
        self.batches += 1
        return ids, texts

    def write_batch(self, src_dir: str, mtime_ns: int) -> list[int]:
        """Write the next batch as one parquet file with a pinned mtime
        (the file source orders files by modification time). Returns the
        batch's doc ids."""
        ids, texts = self.next_batch()
        path = os.path.join(src_dir, f"batch-{self.batches:05d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path)
        os.utime(path, ns=(mtime_ns, mtime_ns))
        return ids
