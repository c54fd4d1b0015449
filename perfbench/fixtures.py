"""Seeded input builder for the Pig-script benchmark.

Every input is a pure function of ``(seed, size)``:

- ``base_world(cache, unit, seed)`` writes the ten star-schema
  tables (region, nation, customer, supplier, part, orders, lineitem,
  events, documents, embeddings) as single parquet files with the same
  column names and Arrow types as the engine's test fixtures
  (FIXTURES.md section A), drawn with numpy's PCG64 from the seed.
- ``scaled_world`` replicates a base world K times into the multi-file,
  multi-row-group layout through ``tools/make_scale.scale_table`` (the
  repository's own scaler, imported, not copied), so scans split into
  one task per file and parallelism/shuffle changes can show.
- ``dedup_corpus`` writes a document corpus with a stated share of
  injected near-duplicates (a copy of an earlier document with a few
  words edited).

Outputs are cached under ``<cache>/<kind>-<size>-s<seed>/`` and marked
complete with a ``_READY`` file, so a second run with the same seed and
size reuses them. ``INPUTS`` records each input's size and why it was
chosen; the README repeats it.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts per unit of scale; unit 1 is the sf0.001 shape of the
# engine's fixtures (6,000 lineitems), so the ratios between tables match.
PER_UNIT = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
            "lineitem": 6000, "events": 1000, "documents": 50,
            "embeddings": 50}

# Input sizes, each with the reason it was chosen (README: "Inputs").
INPUTS = {
    "golden": {"unit": 1,
               "why": "sf0.001 shape (6k lineitems) that the 47 golden "
                      "scripts were written for; executors are nearly "
                      "idle, so driver-side parse/compile/plan dominates"},
    "sf": {"unit": 5, "k": 10,
           "why": "a 30k-lineitem base replicated 10x by make_scale into "
                  "16 lineitem files (300k rows): every scan splits into "
                  "one task per file on all cores, and one pass of the "
                  "14 queries fits several times in a run"},
    "dedup": {"docs": 250, "dup_share": 0.2,
              "why": "250 docs, 20% injected near-duplicates: every dedup "
                     "operator emits candidate pairs, and a cold pass of "
                     "the six operators (about 40 s on 4 cores, bound by "
                     "their stage structure rather than data volume) "
                     "fits the run budget"},
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "red", "hot", "old", "small", "big", "cold", "green",
       "dark", "light", "new", "tall", "short"]
NOUN = ["anvil", "widget", "plate", "ring", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data hash window spark part join batch key order query big "
         "table small scan filter line column value slow fast stream agg "
         "sort merge group row customer vector").split()

DAY_US = 86_400 * 1_000_000
ORDER_EPOCH = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
EVENT_EPOCH = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _doc_text(rng) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS),
                                                   rng.integers(8, 100)))


def _near_copy(rng, text: str) -> str:
    """A near-duplicate: one or two words replaced, so Jaccard stays high."""
    words = text.split()
    for _ in range(rng.integers(1, 3)):
        words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
    return " ".join(words)


def documents_table(rng, n: int, dup_share: float) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            texts.append(_near_copy(rng, texts[rng.integers(0, i)]))
        else:
            texts.append(_doc_text(rng))
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def world_tables(unit: int, seed: int) -> dict[str, pa.Table]:
    """The ten tables at ``unit`` x the sf0.001 row counts."""
    rng = np.random.default_rng(seed)
    n = {t: c * unit for t, c in PER_UNIT.items()}
    i64 = lambda a: pa.array(a, type=pa.int64())  # noqa: E731
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(np.arange(5)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": i32(np.arange(25)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": i32(rng.integers(0, 5, 25))}),
    }
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(c)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(s)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(p)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, len(ADJ), p),
                                rng.integers(0, len(NOUN), p))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PTYPES, p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": _money(rng, 900.0, 2000.0, p)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, STATUS, o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(ORDER_EPOCH + rng.integers(0, 2400, o) * DAY_US),
        "o_orderpriority": _pick(rng, PRIOS, o)})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _ts(ORDER_EPOCH + (1 + rng.integers(0, 2500, li)) * DAY_US)})
    e = n["events"]
    out["events"] = pa.table({
        "event_id": i64(np.arange(e)),
        "ts": _ts(EVENT_EPOCH + rng.integers(0, 30 * DAY_US, e)),
        "user_id": i64(rng.integers(0, max(150, e // 66), e)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    out["documents"] = documents_table(rng, n["documents"], 0.05)
    v = n["embeddings"]
    emb = rng.standard_normal((v, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(v)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, v))})
    return out


def _cached(cache: str, key: str, build) -> tuple[str, float]:
    """Return ``(dir, seconds spent building)``; build into a temp dir
    and rename, so an interrupted build is never mistaken for a cache hit."""
    dest = os.path.join(cache, key)
    if os.path.exists(os.path.join(dest, "_READY")):
        return dest, 0.0
    t0 = time.perf_counter()
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_READY"), "w") as fh:
        json.dump(meta, fh, indent=1)
    os.rename(tmp, dest)
    return dest, time.perf_counter() - t0


def _write_world(out: str, unit: int, seed: int) -> dict:
    rows = {}
    for name, tbl in world_tables(unit, seed).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return {"unit": unit, "seed": seed, "rows": rows}


def base_world(cache: str, unit: int, seed: int) -> tuple[str, float]:
    return _cached(cache, f"world-u{unit}-s{seed}",
                   lambda d: _write_world(d, unit, seed))


def _load_make_scale(repo: str):
    path = os.path.join(repo, "tools", "make_scale.py")
    spec = importlib.util.spec_from_file_location("make_scale", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def scaled_world(cache: str, repo: str, unit: int, k: int,
                 seed: int) -> tuple[str, float]:
    src, built = base_world(cache, unit, seed)
    make_scale = _load_make_scale(repo)

    def build(out):
        rows = {name: make_scale.scale_table(name, src, out, k)
                for name in TABLES}
        return {"unit": unit, "k": k, "seed": seed, "rows": rows}

    dest, secs = _cached(cache, f"scaled-u{unit}-k{k}-s{seed}", build)
    return dest, built + secs


def dedup_corpus(cache: str, docs: int, dup_share: float,
                 seed: int) -> tuple[str, float]:
    def build(out):
        rng = np.random.default_rng([seed, docs])
        tbl = documents_table(rng, docs, dup_share)
        pq.write_table(tbl, os.path.join(out, "documents.parquet"))
        return {"docs": docs, "dup_share": dup_share, "seed": seed}

    return _cached(cache, f"dedup-d{docs}-p{int(dup_share * 100)}-s{seed}",
                   build)
