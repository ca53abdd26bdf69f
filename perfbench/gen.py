"""Seeded input generators. The same seed gives the same inputs; each
generator also returns the properties of what it generated, which the
benchmark reports next to its metrics.

- ``etl_entity``: a reference-shaped turnover entity (FIXTURES.md §A)
  with skewed structure sizes, duplicate rows, rows without a
  structure and a ``'`` inside one structure value.
- ``SyncSource``: the initial state of a change-tracked entity and its
  seeded change batches (updates skewed toward recently changed keys,
  inserts, a few deletes).
- ``write_tables``: the star-schema, events, documents and embeddings
  tables the registered queries read (FIXTURES.md §B shapes).
"""

from __future__ import annotations

import json
import os
import random
import string
from datetime import datetime, timezone

STRUCT = "COCHAR_STRUCTURE"
ETL_FIELDS = [
    "TEMPLOYEE_UUID",
    "CEMPLOYEE_UUID",
    "C0DATEFROM",
    "C0DATETO",
    "KCLEAVERS",
    STRUCT,
]
ETL_ENTITY = "RPZ_TURNOVER_Q0001QueryResults"

FIRST = ["Jane", "John", "Ana", "Li", "Sven", "Priya", "Omar", "Kai", "Mia", "Jo"]
LAST = ["Doe", "O'Brien", "Meier", "Chen", "D'Souza", "Novak", "Ito", "Silva"]
DAY_MS = 86_400_000
EPOCH_2024_MS = 1_704_067_200_000


def _code(rng: random.Random) -> str:
    return "".join(rng.choice(string.ascii_uppercase + string.digits) for _ in range(25))


def etl_entity(
    seed: int, n_values: int, n_rows: int, page_size: int,
    dup_share: float = 0.04, empty_share: float = 0.015,
) -> tuple[list[dict], dict]:
    """Rows of the entity in server order, plus their properties."""
    rng = random.Random(seed)
    values = sorted({_code(rng) for _ in range(n_values)})
    values[len(values) // 2] = values[len(values) // 2][:7] + "'" + values[len(values) // 2][8:]
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(values))]
    rng.shuffle(weights)
    total = sum(weights)
    sizes = [max(page_size, round(n_rows * w / total)) for w in weights]
    rows: list[dict] = []
    emp = 0

    def make(structure):
        nonlocal emp
        emp += 1
        start = EPOCH_2024_MS + rng.randrange(0, 900) * DAY_MS
        return {
            "__metadata": {
                "uri": f"RPZ_TURNOVER_Q0001QueryResults('{emp}')",
                "type": "cc_home_analytics.RPZ_TURNOVER_Q0001QueryResult",
            },
            "TEMPLOYEE_UUID": f"{rng.choice(FIRST)} {rng.choice(LAST)}",
            "CEMPLOYEE_UUID": str(10_000 + emp),
            "C0DATEFROM": f"/Date({start})/",
            "C0DATETO": f"/Date({start + rng.randrange(1, 366) * DAY_MS})/",
            "KCLEAVERS": str(rng.randrange(0, 6)),
            STRUCT: structure,
        }

    for v, n in zip(values, sizes):
        rows.extend(make(v) for _ in range(n))
    n_dups = int(len(rows) * dup_share)
    rows.extend(dict(r) for r in rng.sample(rows, n_dups))
    n_empty = int(len(rows) * empty_share)
    rows.extend(make("" if i % 3 else None) for i in range(n_empty))
    rng.shuffle(rows)
    # The schema probe reads the first row: keep a complete one there.
    first = next(i for i, r in enumerate(rows) if r[STRUCT])
    rows[0], rows[first] = rows[first], rows[0]
    pages = [-(-n // page_size) for n in sizes]
    props = {
        "rows": len(rows),
        "key_values": len(values),
        "rows_per_key_min": min(sizes),
        "rows_per_key_max": max(sizes),
        "pages_per_key_min": min(pages),
        "pages_per_key_max": max(pages),
        "duplicate_share": round(n_dups / len(rows), 4),
        "empty_structure_rows": n_empty,
        "bytes": len(json.dumps(rows)),
    }
    return rows, props


def _iso_ms(ms: int) -> str:
    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


def etl_expected(rows: list[dict]) -> set[tuple]:
    """The CSV the ETL must write, as a set of string rows: renamed,
    dates decoded, rows without a structure dropped, duplicates
    collapsed. Computed in pure Python from the generated rows."""
    out = set()
    for r in rows:
        if not r.get(STRUCT):
            continue
        out.add((
            r["TEMPLOYEE_UUID"],
            r["CEMPLOYEE_UUID"],
            _iso_ms(int(r["C0DATEFROM"][6:-2])),
            _iso_ms(int(r["C0DATETO"][6:-2])),
            r["KCLEAVERS"],
            r[STRUCT],
        ))
    return out


SYNC_ENTITY = "Employees"
SYNC_FIELDS = ["Id", "Name", "Dept", "Amount", "Stamp"]


class SyncSource:
    """Initial rows and per-cycle change batches of a change-tracked
    entity. The benchmark keeps only the live key set it needs to
    draw keys; the fixture server holds the authoritative state."""

    def __init__(self, seed: int, n_rows: int, updates: int, inserts: int,
                 deletes: int, hot_share: float = 0.7):
        self.rng = random.Random(seed * 7919 + 1)
        self.updates, self.inserts, self.deletes = updates, inserts, deletes
        self.hot_share = hot_share
        self.next_id = n_rows
        self.live = [self._key(i) for i in range(n_rows)]
        self.live_set = set(self.live)
        self.recent: list[list[str]] = []
        self.initial = [self._row(k, 0) for k in self.live]
        self.batch_sizes: list[int] = []
        self.distinct_keys: list[int] = []

    @staticmethod
    def _key(i: int) -> str:
        return f"E{i:07d}"

    def _row(self, key: str, cycle: int) -> dict:
        r = self.rng
        return {
            "Id": key,
            "Name": f"{r.choice(FIRST)} {r.choice(LAST)}",
            "Dept": f"D{r.randrange(20):02d}",
            "Amount": f"{r.randrange(100, 999_999) / 100:.2f}",
            "Stamp": f"c{cycle}",
        }

    def batch(self, cycle: int) -> list[dict]:
        """One change batch in wire order: ``{"op": "upsert", "row"}``
        or ``{"op": "delete", "key"}``."""
        r = self.rng
        hot = [k for b in self.recent[-3:] for k in b if k in self.live_set]
        ops = []
        for _ in range(self.updates):
            pool = hot if hot and r.random() < self.hot_share else self.live
            ops.append({"op": "upsert", "row": self._row(r.choice(pool), cycle)})
        for _ in range(self.inserts):
            key = self._key(self.next_id)
            self.next_id += 1
            ops.append({"op": "upsert", "row": self._row(key, cycle)})
        r.shuffle(ops)
        for key in r.sample(self.live, self.deletes):
            ops.insert(r.randrange(len(ops) + 1), {"op": "delete", "key": key})
        touched = []
        for o in ops:
            key = o["row"]["Id"] if o["op"] == "upsert" else o["key"]
            touched.append(key)
            if o["op"] == "upsert" and key not in self.live_set:
                self.live_set.add(key)
                self.live.append(key)
            elif o["op"] == "delete" and key in self.live_set:
                self.live_set.discard(key)
                self.live.remove(key)
        self.recent.append(sorted(set(touched)))
        self.batch_sizes.append(len(ops))
        self.distinct_keys.append(len(set(touched)))
        return ops

    def read_keys(self, n_hot: int, n_cold: int) -> list[str]:
        """Just-changed keys (some deleted) plus cold live keys."""
        last = self.recent[-1] if self.recent else []
        hot = self.rng.sample(last, min(n_hot, len(last)))
        cold = self.rng.sample(self.live, n_cold)
        return sorted(set(hot + cold))

    def props(self) -> dict:
        n = len(self.batch_sizes) or 1
        return {
            "initial_rows": len(self.initial),
            "change_batch_ops_mean": sum(self.batch_sizes) / n,
            "distinct_keys_per_batch_mean": sum(self.distinct_keys) / n,
            "updates_per_batch": self.updates,
            "inserts_per_batch": self.inserts,
            "deletes_per_batch": self.deletes,
            "hot_key_share": self.hot_share,
            "initial_bytes": len(json.dumps(self.initial)),
        }


WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]


def write_tables(seed: int, sf: float, out_dir: str) -> dict:
    """Write the ten parquet tables at scale ``sf``; returns row counts
    and bytes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed & 0xFFFFFFFF)  # numpy seeds must be non-negative
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    def pick(options, n, p=None):
        return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]

    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables = {
        "region": {
            "r_regionkey": (np.arange(5), i32),
            "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
        },
        "nation": {
            "n_nationkey": (np.arange(25), i32),
            "n_name": ([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": (np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": (np.arange(n_cust), i64),
            "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": (rng.integers(0, 25, n_cust), i32),
            "c_acctbal": (money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": (pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s),
        },
        "supplier": {
            "s_suppkey": (np.arange(n_supp), i64),
            "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": (rng.integers(0, 25, n_supp), i32),
            "s_acctbal": (money(-999.99, 9999.99, n_supp), f64),
        },
        "part": {
            "p_partkey": (np.arange(n_part), i64),
            "p_name": (pick([f"{c} {n}" for c in colors for n in nouns], n_part), s),
            "p_brand": (pick([f"Brand#{i}" for i in range(1, 26)], n_part), s),
            "p_type": (pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
            "p_size": (rng.integers(1, 51, n_part), i32),
            "p_retailprice": (np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64),
        },
        "orders": {
            "o_orderkey": (np.arange(n_ord), i64),
            "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": (pick(["F", "O", "P"], n_ord), s),
            "o_totalprice": (money(1000, 500_000, n_ord), f64),
            "o_orderdate": (days("1995-01-01", 2404, n_ord), ts),
            "o_orderpriority": (pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s),
        },
        "lineitem": {
            "l_orderkey": (rng.integers(0, n_ord, n_line), i64),
            "l_partkey": (rng.integers(0, n_part, n_line), i64),
            "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": (rng.integers(1, 8, n_line), i32),
            "l_quantity": (rng.integers(1, 51, n_line).astype(float), f64),
            "l_extendedprice": (money(900, 105_000, n_line), f64),
            "l_discount": (rng.integers(0, 11, n_line) / 100, f64),
            "l_tax": (rng.integers(0, 9, n_line) / 100, f64),
            "l_returnflag": (pick(["A", "N", "R"], n_line), s),
            "l_linestatus": (pick(["F", "O"], n_line), s),
            "l_shipdate": (days("1995-01-02", 2498, n_line), ts),
        },
    }
    gaps = rng.exponential(259.0, n_ev)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    tables["events"] = {
        "event_id": (np.arange(n_ev), i64),
        "ts": (ev_ts, ts),
        "user_id": (rng.integers(0, 150, n_ev), i64),
        "event_type": (pick(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": (np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": (np.arange(n_doc), i64),
        "text": (texts, s),
        "lang": (pick(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]), s),
        "source": ([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": ([len(t) for t in texts], i64),
    }
    centers = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.standard_normal((n_emb, 64)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": (np.arange(n_emb), i64),
        "embedding": (list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": (labels, i32),
    }
    props = {}
    for name, cols in tables.items():
        table = pa.table({c: pa.array(list(v) if t == pa.list_(pa.float32()) else v, type=t)
                          for c, (v, t) in cols.items()})
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        props[f"{name}_rows"] = table.num_rows
    props["bytes"] = sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )
    return props
