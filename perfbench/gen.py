"""Seeded input generators for the benchmark's workloads.

Everything here is a pure function of the seed and the size arguments: the
same seed writes byte-identical parquet. The engine only ever sees these
files.

* ``upsert``: a base state and a sequence of update batches in the
  reference schema (``_id``, ``feature_1..4``, ``score``). Each batch mixes
  existing and new keys, nulls on the nullable features and a few keys
  repeated inside the batch; :class:`UpsertPlan` keeps the key arithmetic so
  the expected merge counts and the final state can be checked.
* ``scan_mix`` / ``iter_mix``: the ten analytics tables of the engine's
  fixture family (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), drawn at a chosen scale with the fixture's schemas and
  value ranges.
"""
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAYLOAD = ["feature_1", "feature_2", "feature_3", "feature_4", "score"]
NULLABLE = PAYLOAD[:4]


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def uuid_keys(seed: int, n: int) -> np.ndarray:
    """``n`` distinct UUID-shaped string keys, a pure function of the seed."""
    rng = np.random.default_rng([seed, 0x5EED])
    hi = rng.integers(0, 2**63, size=n, dtype=np.int64)
    lo = rng.integers(0, 2**63, size=n, dtype=np.int64)
    hexes = (f"{a:016x}{b:016x}" for a, b in zip(hi.tolist(), lo.tolist()))
    out = np.array([f"{k[:8]}-{k[8:12]}-{k[12:16]}-{k[16:20]}-{k[20:32]}" for k in hexes])
    if len(set(out.tolist())) != n:  # 2^-100 odds; fail loudly rather than fold wrong
        raise RuntimeError("key collision in generator")
    return out


@dataclass
class Batch:
    """One update batch. ``rows`` are key indices into the key pool."""
    rows: np.ndarray            # key index per row (int64), in file order
    values: np.ndarray          # float64 [n_rows, 5], NaN marks null
    n_existing: int             # distinct keys already live before the batch
    n_new: int                  # distinct keys new to the state
    n_dup_rows: int             # rows repeating a key already in the batch


@dataclass
class UpsertPlan:
    seed: int
    base_rows: int
    batch_rows: int
    existing_frac: float = 0.7
    null_frac: float = 0.2
    dup_frac: float = 0.01
    batches: list = field(default_factory=list)

    def split(self):
        """(distinct existing, distinct new, duplicate rows) per batch."""
        n_dup = int(round(self.batch_rows * self.dup_frac))
        n_unique = self.batch_rows - n_dup
        n_exist = int(round(self.existing_frac * n_unique))
        return n_exist, n_unique - n_exist, n_dup


def _payload(rng, n: int, null_frac: float) -> np.ndarray:
    v = rng.random((n, len(PAYLOAD)))
    nulls = rng.random((n, len(NULLABLE))) < null_frac
    v[:, :len(NULLABLE)][nulls] = np.nan
    return v


def plan_upsert(seed: int, base_rows: int, batch_rows: int, n_batches: int) -> UpsertPlan:
    """Key arithmetic and values for the base state and ``n_batches`` batches."""
    plan = UpsertPlan(seed, base_rows, batch_rows)
    n_exist, n_new, n_dup = plan.split()
    rng = np.random.default_rng([seed, 1])
    plan.base_values = _payload(rng, base_rows, plan.null_frac)
    live = base_rows
    for _ in range(n_batches):
        existing = rng.choice(live, size=n_exist, replace=False)
        new = np.arange(live, live + n_new)
        unique = np.concatenate([existing, new])
        dups = rng.choice(unique, size=n_dup, replace=False)
        rows = np.concatenate([unique, dups])
        rows = rows[rng.permutation(len(rows))]
        plan.batches.append(Batch(rows.astype(np.int64),
                                  _payload(rng, len(rows), plan.null_frac),
                                  n_exist, n_new, n_dup))
        live += n_new
    plan.pool_size = live
    return plan


def _upsert_table(keys: np.ndarray, idx: np.ndarray, values: np.ndarray) -> pa.Table:
    cols = {"_id": pa.array(keys[idx], pa.string())}
    for j, f in enumerate(PAYLOAD):
        col = values[:, j]
        cols[f] = pa.array(col, pa.float64(), mask=np.isnan(col))
    return pa.table(cols)


def write_upsert(plan: UpsertPlan, out_dir: str) -> dict:
    """Writes ``base/`` and ``batch_NNNN/`` directories; returns byte sizes."""
    keys = uuid_keys(plan.seed, plan.pool_size)
    plan.keys = keys
    sizes = {"base": _write(_upsert_table(keys, np.arange(plan.base_rows), plan.base_values),
                            f"{out_dir}/base/part-0.parquet")}
    for i, b in enumerate(plan.batches):
        sizes[f"batch_{i:04d}"] = _write(_upsert_table(keys, b.rows, b.values),
                                         f"{out_dir}/batch_{i:04d}/part-0.parquet")
    return sizes


def fold_batch(state: np.ndarray, batch: Batch) -> None:
    """Applies one batch to ``state`` (float64 [pool, 5], NaN = null or absent)
    the way the engine's merge defines it: duplicate keys inside a batch fold
    per field to the last non-null value in ascending (feature_1..4, score)
    order with nulls first, then the folded value replaces the stored one
    unless it is null."""
    # np.lexsort sorts by its LAST key first: rows by key, then by the
    # payload struct with nulls (-1, below every value in [0, 1)) first
    order = np.lexsort([np.nan_to_num(batch.values[:, j], nan=-1.0)
                        for j in reversed(range(len(PAYLOAD)))] + [batch.rows])
    for j in range(len(PAYLOAD)):
        idx = order[~np.isnan(batch.values[order, j])]
        keys = batch.rows[idx]
        last = np.ones(len(keys), dtype=bool)  # last row of each key run
        last[:-1] = keys[1:] != keys[:-1]
        state[keys[last], j] = batch.values[idx[last], j]


def reference_state(plan: UpsertPlan, n_applied: int) -> np.ndarray:
    """The expected payload of every key after the base and ``n_applied`` batches."""
    state = np.full((plan.pool_size, len(PAYLOAD)), np.nan)
    state[:plan.base_rows] = plan.base_values
    for b in plan.batches[:n_applied]:
        fold_batch(state, b)
    return state


# ---------------------------------------------------------------- analytics

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
_WORDS = ("spark line small fast group customer batch sort value hash filter big "
          "data part column order scan a slow agg key window table merge vector "
          "join query row stream the").split()
# The fixture's words and their plurals. With the fixture's 30 words alone,
# every document of 60+ words holds the whole vocabulary, so all long
# documents share one token set and one simhash; the near-duplicate graph
# then chains through the mid-length documents, on some seeds (5, 10 and 22
# of 1-60 at sf 0.003) further than the q59 oracle's eight-round closure
# reaches, and the check fails. With the plurals only the planted
# duplicates are near one another.
_VOCAB = _WORDS + [w + "s" for w in _WORDS]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY_US = 86_400_000_000


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def analytics_tables(seed: int, sf: float) -> dict:
    """The ten fixture tables at scale ``sf`` (sf 0.01 ≈ 60k lineitem rows)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(100, int(50_000 * sf))
    n_users = max(20, n_cust // 10)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odays * _DAY_US),
        "o_orderpriority": np.array(_PRIO)[rng.integers(0, 5, n_ord)]})
    # sizes are a seed-permuted fixed multiset, so every seed does the same
    # amount of work: 1..7 lines per order, 10..100 words per document
    per_order = rng.permutation(np.arange(n_ord) % 7 + 1)
    n_li = int(per_order.sum())
    lorder = np.repeat(np.arange(n_ord), per_order)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    li_perm = rng.permutation(n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": lorder[li_perm].astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum[li_perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01",
                          (odays[lorder[li_perm]] + rng.integers(1, 96, n_li)) * _DAY_US)})
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts("2024-01-01", ts),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(_EVENTS)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    words = np.array(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), n)])
             for n in rng.permutation(10 + np.arange(n_docs) * 91 // n_docs)]
    # plant exact and near duplicates, the shape the dedup operators look for
    for i in rng.choice(np.arange(1, n_docs), size=max(2, n_docs // 100), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    for i in rng.choice(np.arange(1, n_docs), size=max(2, n_docs // 50), replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write_analytics(seed: int, sf: float, out_dir: str) -> dict:
    """Writes ``<table>.parquet`` files; returns {table: rows}."""
    rows = {}
    for name, table in analytics_tables(seed, sf).items():
        _write(table, f"{out_dir}/{name}.parquet")
        rows[name] = table.num_rows
    return rows
