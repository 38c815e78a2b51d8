"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of ``seed``:

* ``write_tables`` — the ten registry tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) as one parquet file each,
  with the schemas ``kafka_stream_job_spark.tables`` declares and the value
  domains of the committed test data (uniform keys, 2-decimal money,
  30-word document vocabulary, 5% near-duplicate documents, unit-norm
  64-dim embeddings).
* ``order_payload_files`` — the reference's OrderEvent stream as parquet
  files holding one binary ``value`` column of JSON payloads, the stand-in
  for Kafka record values that ``bronze.decode_events`` reads. Each file
  comes with its ledger (rows, order ids, amount in cents) so the bronze
  tables can be checked exactly.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + length]))
        pos += length
    # 5% near-duplicates (an earlier text plus a marker word) and a few
    # exact copies of those, so both dedup paths have work to do.
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    dup_ids = [i for i, t in enumerate(texts) if t.endswith(" dup")]
    for i in rng.choice(dup_ids, size=max(1, len(dup_ids) // 30), replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[j] = texts[i]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * _EMBED_DIM + 1, _EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 7])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    part_key = np.arange(n_part)
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(_REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array(_names("Customer", n_cust), pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array(_names("Supplier", n_supp), pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part_key, pa.int64()),
                "p_name": pa.array(
                    [
                        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
                ),
                "p_type": pa.array(rng.choice(_PART_TYPES, n_part), pa.string()),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(900.0 + (part_key % 1000) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(_STATUS, n_ord), pa.string()),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                "o_orderpriority": pa.array(rng.choice(_PRIORITY, n_ord), pa.string()),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
                "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
                "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events), pa.string()),
                "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()
                ),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


class OrderFile:
    """One generated payload file and its ledger."""

    __slots__ = ("index", "rows", "order_ids", "amount_cents", "table")

    def __init__(self, index: int, order_ids: list[str], cents: np.ndarray, ts: np.ndarray):
        self.index = index
        self.rows = len(order_ids)
        self.order_ids = order_ids
        self.amount_cents = int(cents.sum())
        payloads = [
            f'{{"orderId":"{o}","amount":{c // 100}.{c % 100:02d},"ts":"{t}Z"}}'.encode()
            for o, c, t in zip(order_ids, cents.tolist(), ts.tolist())
        ]
        self.table = pa.table({"value": pa.array(payloads, pa.binary())})

    def write(self, directory: str, mtime: float) -> str:
        """Write atomically with modification time ``mtime``: a dot-prefixed
        file (ignored by Spark's file listing) renamed into place, so a
        stream never sees a partial file or a file whose time changes."""
        name = f"orders-{self.index:05d}.parquet"
        tmp = os.path.join(directory, f".{name}.tmp")
        pq.write_table(self.table, tmp)
        os.utime(tmp, (mtime, mtime))
        path = os.path.join(directory, name)
        os.rename(tmp, path)
        return path


def order_payload_files(seed: int, n_files: int, rows_per_file: int) -> list[OrderFile]:
    """``n_files`` OrderEvent payload files of ``rows_per_file`` rows.

    Order ids are unique across all files; amounts are whole cents in
    [0, 1000) like the reference producer's uniform amounts.
    """
    rng = np.random.default_rng([seed, 11])
    files = []
    for i in range(n_files):
        cents = rng.integers(0, 100_000, rows_per_file)
        secs = np.sort(rng.integers(0, 86_400, rows_per_file))
        ts = (np.datetime64("2024-01-01T00:00:00", "s") + np.timedelta64(i, "D")
              + secs.astype("timedelta64[s]")).astype(str)
        ids = [f"{seed:x}-{i:05d}-{j:07d}" for j in range(rows_per_file)]
        files.append(OrderFile(i, ids, cents, ts))
    return files
