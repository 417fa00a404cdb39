"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from the run's
``--seed``: the live record stream (multi-tenant keys with Zipf skew, a
share of rows carrying the failure marker, variable value lengths) and
the catalog fixture tables.  The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

#: Rows whose value starts with this marker match the retry runner's
#: failure condition (see ``FAILURE_CONDITION_SQL``).
FAIL_MARKER = "fail:"
FAILURE_CONDITION_SQL = f"value LIKE '{FAIL_MARKER}%'"


@dataclass(frozen=True)
class StreamSpec:
    """Shape of the generated record stream."""

    tenants: int = 64
    zipf_s: float = 1.2  # tenant rank r gets weight 1 / r**zipf_s
    fail_share: float = 0.01
    value_len_min: int = 16
    value_len_max: int = 96


def tenant_key(rank: int) -> str:
    """Tenant of Zipf rank ``rank`` (0 = head)."""
    return f"tenant-{rank:03d}"


class RecordStream:
    """Deterministic generator of ``(key, value)`` records.

    Each value is ``<seq>:<payload>`` (or ``fail:<seq>:<payload>`` for a
    failure row) so a delivered row names the record it came from.
    """

    _ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype="S1")

    def __init__(self, seed: int, spec: StreamSpec = StreamSpec()) -> None:
        self.spec = spec
        self._rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, spec.tenants + 1) ** spec.zipf_s
        self.weights = w / w.sum()
        self._seq = 0

    def batch(self, n: int) -> list[tuple[str, str]]:
        rng, spec = self._rng, self.spec
        ranks = rng.choice(spec.tenants, size=n, p=self.weights)
        fails = rng.random(n) < spec.fail_share
        lens = rng.integers(spec.value_len_min, spec.value_len_max + 1, size=n)
        chars = self._ALPHABET[rng.integers(0, len(self._ALPHABET), size=int(lens.sum()))]
        blob = chars.tobytes().decode("ascii")
        out = []
        pos = 0
        for i in range(n):
            payload = blob[pos : pos + lens[i]]
            pos += lens[i]
            prefix = FAIL_MARKER if fails[i] else ""
            out.append((tenant_key(int(ranks[i])), f"{prefix}{self._seq}:{payload}"))
            self._seq += 1
        return out


# ---------------------------------------------------------------------------
# Catalog fixture tables
# ---------------------------------------------------------------------------

_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_PART_WORDS = "anvil blue bolt cold gear gizmo hot large new old plate red ring rod small widget".split()
_EPOCH_DAY_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _day_ts(days: np.ndarray) -> np.ndarray:
    return (days.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def catalog_tables(seed: int, sf: float) -> dict[str, dict[str, np.ndarray | list]]:
    """Column dicts for the ten fixture tables at scale factor ``sf``
    (sf 0.1 = 600k lineitem rows), shaped like the repository's
    TPC-H-style star schema plus events, documents and embeddings."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), max(int(50_000 * sf), 50), 2000

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist(),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    words = np.array(_PART_WORDS)
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(
            np.char.add(rng.choice(words[:8], n_part), " "), rng.choice(words[8:], n_part)
        ).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _day_ts(_EPOCH_DAY_1995 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _day_ts(_EPOCH_DAY_1995 + 1 + rng.integers(0, 2498, n_line)),
    }
    jan_2024_us = 1_704_067_200_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)) + jan_2024_us
    t["events"] = {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n_events).astype("int64"),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events).tolist(),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    vocab = np.array(_DOC_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one token replaced
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = rng.choice(vocab, int(rng.integers(10, 101))).tolist()
        texts.append(" ".join(toks))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    }
    emb = rng.normal(size=(n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    }
    return t


def write_catalog(seed: int, sf: float, out_dir: str) -> str:
    """Write the fixture tables as ``<out_dir>/<table>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in catalog_tables(seed, sf).items():
        arrays = {}
        for c, v in cols.items():
            if c == "embedding":
                arrays[c] = pa.array([a.tolist() for a in v], pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
