"""Seeded input generators. The same seed gives the same inputs; the
engine only ever sees what these produce.

- ``EhrStream``: FHIR-shaped publish batches and the lookups that read
  them back, plus the in-memory model of what was published that every
  result is checked against.
- ``LifecycleModel``: per-cycle bulk appends, merge upserts and delete
  predicates for one source table, with the live rows they leave.
- ``write_catalog_tables``: the star schema + events, documents and
  embeddings tables the catalog queries read, as parquet.
"""

from __future__ import annotations

import math
from collections import Counter
from pathlib import Path

import numpy as np

# ---------------------------------------------------------------- ehr

RESOURCE_TYPES = ["Patient", "Observation", "Condition", "Encounter", "Practitioner"]
TENANTS = [f"tenant{i}" for i in range(8)]
CONTENT_TYPES = ["application/pdf", "text/json", "video/mp4", "image/png"]
#: share of FHIR batches seeded with id-less rows (the publish must
#: raise MissingResourceIdError after committing the valid rows)
IDLESS_EVERY = 6
#: FHIR batches come in pairs whose sizes sum to this (each 50-500 rows),
#: so every round publishes the same number of rows whatever the seed
FHIR_PAIR_ROWS = 550
#: one block = 2 writes + 8 reads, shuffled by the seed; the write slots
#: alternate (fhir, binary) and (fhir, raw), the existence check
#: alternates a published key and a missing one (the two cost 2-3x apart,
#: so a seeded coin would move a round's cost from seed to seed)
READ_SLOTS = [
    "retrieve_binary_hit",
    "retrieve_binary_hit",
    "retrieve_binary_miss",
    "binary_exists",
    "retrieve_binary_batch",
    "retrieve_fhir_point",
    "retrieve_fhir_point",
    "retrieve_fhir_partition",
]
WRITE_SLOTS = [("publish_fhir_r4", "publish_binary"), ("publish_fhir_r4", "publish_raw_data")]
EXISTS_SLOTS = ["binary_exists_hit", "binary_exists_miss"]
#: two blocks: the smallest run of operations with the full mix
ROUND_OPS = 2 * (2 + len(READ_SLOTS))


def _zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class EhrStream:
    """The ``ehr_ingest`` traffic and the model of what it published.

    ``next_op()`` yields one operation spec at a time, so a run can stop
    at its deadline. Specs are plain data; the model is updated by
    ``apply_publish`` once the engine has acknowledged a publish, so a
    read only ever targets keys the engine confirmed."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0xE4])
        self.tenant_w = _zipf_weights(len(TENANTS))
        self.fhir: dict[tuple, str] = {}  # (tenant, rtype, id) -> json
        self.fhir_keys: list[tuple] = []  # publish order
        self.partition = Counter()  # (tenant, rtype) -> rows
        self.binary: dict[tuple, tuple] = {}  # (tenant, id) -> (ctype, json)
        self.binary_keys: list[tuple] = []
        self.binary_by_tenant: dict[str, list[str]] = {}
        self.raw_urls: list[str] = []
        self._next_id = 0
        self._fhir_batches = 0
        self._pair: int | None = None
        self._block: list[str] = []
        self._blocks = 0

    # -- generation ------------------------------------------------------

    def _id(self, prefix: str) -> str:
        self._next_id += 1
        return f"{prefix}-{self._next_id:07d}"

    def _tenant(self) -> str:
        return TENANTS[int(self.rng.choice(len(TENANTS), p=self.tenant_w))]

    def _json(self, rtype: str, rid: str) -> str:
        """A resource body of 0.3-4 KB (log-uniform) of seeded letters."""
        n = int(math.exp(self.rng.uniform(math.log(300), math.log(4000))))
        head = f'{{"resourceType":"{rtype}","id":"{rid}","text":"'
        body = self.rng.integers(97, 123, max(0, n - len(head) - 2), dtype=np.uint8)
        return head + body.tobytes().decode("ascii") + '"}'

    def fhir_batch(self, n: int | None = None) -> dict:
        self._fhir_batches += 1
        tenant = self._tenant()
        if n is None:
            if self._pair is None:
                n = self._pair = int(self.rng.integers(50, 501))
            else:
                n, self._pair = FHIR_PAIR_ROWS - self._pair, None
        rows = []
        for _ in range(n):
            rtype = RESOURCE_TYPES[int(self.rng.integers(0, len(RESOURCE_TYPES)))]
            rid = self._id("r")
            rows.append((rtype, rid, self._json(rtype, rid)))
        idless = 0
        if self._fhir_batches % IDLESS_EVERY == 0:
            idless = int(self.rng.integers(1, 4))
            for j in range(idless):
                rtype = RESOURCE_TYPES[j % len(RESOURCE_TYPES)]
                rows.append((rtype, None if j % 2 == 0 else "", self._json(rtype, "")))
        return {"kind": "publish_fhir_r4", "tenant": tenant, "rows": rows, "idless": idless}

    def binary_batch(self) -> dict:
        tenant = self._tenant()
        rows = []
        for _ in range(int(self.rng.integers(10, 51))):
            rid = self._id("b")
            ct = CONTENT_TYPES[int(self.rng.integers(0, len(CONTENT_TYPES)))]
            rows.append((rid, ct, self._json("Binary", rid)))
        return {"kind": "publish_binary", "tenant": tenant, "rows": rows}

    def raw(self) -> dict:
        tenant = self._tenant()
        n = int(self.rng.integers(200, 2000))
        return {
            "kind": "publish_raw_data",
            "tenant": tenant,
            "data": ("x" * n),
            "url": f"https://ehr.example/{tenant}/api/{self._id('q')}",
        }

    def _recent(self, keys: list):
        """A key biased to the recently published end of ``keys``."""
        back = int(self.rng.geometric(0.02)) - 1
        return keys[max(0, len(keys) - 1 - back)]

    def read(self, kind: str) -> dict:
        if kind == "retrieve_binary_hit":
            tenant, rid = self._recent(self.binary_keys)
            return {"kind": kind, "tenant": tenant, "id": rid}
        if kind == "retrieve_binary_miss":
            return {"kind": kind, "tenant": self._tenant(), "id": self._id("missing")}
        if kind == "binary_exists_hit":
            tenant, rid = self._recent(self.binary_keys)
            return {"kind": kind, "tenant": tenant, "id": rid}
        if kind == "binary_exists_miss":
            return {"kind": kind, "tenant": self._tenant(), "id": self._id("missing")}
        if kind == "retrieve_binary_batch":
            tenant, _ = self._recent(self.binary_keys)
            pool = self.binary_by_tenant[tenant]
            hits = sorted({self._recent(pool) for _ in range(3)})
            ids = hits + [self._id("missing") for _ in range(2)]
            return {"kind": kind, "tenant": tenant, "ids": ids}
        if kind == "retrieve_fhir_point":
            tenant, rtype, rid = self._recent(self.fhir_keys)
            return {"kind": kind, "tenant": tenant, "rtype": rtype, "id": rid}
        if kind == "retrieve_fhir_partition":
            tenant, rtype, _ = self._recent(self.fhir_keys)
            return {"kind": kind, "tenant": tenant, "rtype": rtype}
        raise ValueError(kind)

    def next_op(self) -> dict:
        if not self._block:
            w = WRITE_SLOTS[self._blocks % len(WRITE_SLOTS)]
            exists = EXISTS_SLOTS[self._blocks % len(EXISTS_SLOTS)]
            slots = list(w) + [exists if k == "binary_exists" else k for k in READ_SLOTS]
            self._block = [slots[i] for i in self.rng.permutation(len(slots))]
            self._blocks += 1
        kind = self._block.pop(0)
        if kind == "publish_fhir_r4":
            return self.fhir_batch()
        if kind == "publish_binary":
            return self.binary_batch()
        if kind == "publish_raw_data":
            return self.raw()
        return self.read(kind)

    # -- the model -------------------------------------------------------

    def apply_publish(self, op: dict, result=None) -> None:
        kind, tenant = op["kind"], op["tenant"]
        if kind == "publish_fhir_r4":
            for rtype, rid, js in op["rows"]:
                if rid:
                    key = (tenant, rtype.lower(), rid)
                    self.fhir[key] = js
                    self.fhir_keys.append(key)
                    self.partition[(tenant, rtype.lower())] += 1
        elif kind == "publish_binary":
            for rid, ct, js in op["rows"]:
                self.binary[(tenant, rid)] = (ct, js)
                self.binary_keys.append((tenant, rid))
                self.binary_by_tenant.setdefault(tenant, []).append(rid)
        elif kind == "publish_raw_data":
            self.raw_urls.append(result)

    def valid_rows(self, op: dict) -> int:
        return sum(1 for r in op["rows"] if r[1])

    def live_rows(self) -> dict:
        return {
            "ehr": len(self.fhir),
            "ehr_binary": len(self.binary),
            "raw_data_response": len(self.raw_urls),
        }


# ---------------------------------------------------------- lifecycle

#: Range leaf size: Catalyst sizes a Range at 8 bytes per element, so
#: 4.5M elements estimate 36 MB, over the 32 MB driver-commit gate
BULK_RANGE = 4_500_000
BULK_KEEP_EVERY = 225  # ~20k rows of each bulk append reach the table
KEY_STRIDE = 10_000_000
N_DIM = 50
CHECK_MOD = 1_000_000_007


def segment_of(dim_id: int) -> str:
    return f"seg{dim_id % 7}"


def checksum(keys: np.ndarray, vals: np.ndarray) -> int:
    """Order-insensitive key/value checksum; the Spark side computes
    ``sum(pmod(key * 1000003 + val, CHECK_MOD))``."""
    k = keys.astype(np.int64)
    v = vals.astype(np.int64)
    return int((((k % CHECK_MOD) * 1000003 + v) % CHECK_MOD).sum())


class LifecycleModel:
    """Expected live rows of the lifecycle source table, cycle by cycle.

    The bulk append of cycle ``c`` is the rows of ``range(BULK_RANGE)``
    whose ``(id * a + b) % BULK_KEEP_EVERY == 0``; ``a`` and ``b`` come
    from the seed. Key, dimension id and value are functions of id."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 0x11FE])
        # ``a`` coprime to the modulus: exactly one id in every
        # BULK_KEEP_EVERY consecutive ids is kept
        self.a = 1
        while math.gcd(self.a, BULK_KEEP_EVERY) != 1 or self.a == 1:
            self.a = int(self.rng.integers(2, 1000))
        self.b = int(self.rng.integers(0, BULK_KEEP_EVERY))
        self.rows: dict[int, tuple[int, int]] = {}  # key -> (dim_id, val)

    def bulk_ids(self) -> np.ndarray:
        ids = np.arange(BULK_RANGE, dtype=np.int64)
        return ids[(ids * self.a + self.b) % BULK_KEEP_EVERY == 0]

    def bulk_columns(self, cycle: int, ids: np.ndarray):
        key = ids + cycle * KEY_STRIDE
        dim = (ids * 7 + self.b) % N_DIM
        val = (ids * 31 + cycle) % 1000
        return key, dim, val

    def apply_bulk(self, cycle: int) -> int:
        key, dim, val = self.bulk_columns(cycle, self.bulk_ids())
        self.rows.update(zip(key.tolist(), zip(dim.tolist(), val.tolist())))
        return len(key)

    def merge_batch(self, cycle: int, n_update: int = 1500, n_insert: int = 500):
        """(keys, dim_ids, vals) upserting existing keys and adding new ones."""
        live = np.fromiter(self.rows.keys(), dtype=np.int64)
        live.sort()
        upd = self.rng.choice(live, size=min(n_update, len(live)), replace=False)
        new = cycle * KEY_STRIDE + BULK_RANGE + np.arange(n_insert, dtype=np.int64)
        keys = np.concatenate([np.sort(upd), new])
        dims = self.rng.integers(0, N_DIM, size=len(keys))
        vals = self.rng.integers(0, 1000, size=len(keys))
        return keys, dims, vals

    def apply_merge(self, keys, dims, vals) -> None:
        self.rows.update(zip(keys.tolist(), zip(dims.tolist(), vals.tolist())))

    def delete_residue(self) -> int:
        return int(self.rng.integers(0, 97))

    def apply_delete(self, residue: int) -> int:
        gone = [k for k, (_, v) in self.rows.items() if v % 97 == residue]
        for k in gone:
            del self.rows[k]
        return len(gone)

    def arrays(self):
        keys = np.fromiter(self.rows.keys(), dtype=np.int64)
        dv = np.array(list(self.rows.values()), dtype=np.int64).reshape(-1, 2)
        return keys, dv[:, 0], dv[:, 1]

    def summary(self) -> tuple[int, int]:
        keys, _, vals = self.arrays()
        return len(keys), checksum(keys, vals)

    def by_segment(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for dim, val in self.rows.values():
            acc = out.setdefault(segment_of(dim), [0, 0])
            acc[0] += 1
            acc[1] += val
        return {k: (v[0], v[1]) for k, v in out.items()}


# ------------------------------------------------------------ catalog

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small big data query order column group "
    "filter stream customer vector"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENTS = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def write_catalog_tables(out: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables the catalog queries read, at scale ``sf``
    (lineitem = 6M x sf rows), with the column names and types the
    catalog expects. Returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 0xCA7])
    out.mkdir(parents=True, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = max(800, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(100, int(50_000 * sf))
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01T00:00:00", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, len(_PTYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        },
    }
    odate = t0 + rng.integers(0, 2404, n_ord) * day
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": odate,
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": odate[lok] + rng.integers(1, 95, n_line) * day,
    }
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n_ev)],
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, out / f"{name}.parquet")
        counts[name] = t.num_rows
    return counts
