"""Seeded input generator for the benchmark.

Every table is a pure function of ``(seed, stream, day)``: the same
seed gives byte-identical parquet files, another seed gives other
values with the same schema and value domains as the engine's fixture
tables (TESTDATA.md). Generation runs before any timed region.

Streams:

* ``star_schema`` — region, nation, customer, supplier, part, orders,
  lineitem, events: the TPC-H-like star schema the relational queries
  read.
* ``documents`` / ``embeddings`` — the training-data corpus, with
  planted exact and near-duplicate pairs whose ids are returned as the
  ground truth for recall checks.
* ``day_inputs`` — one set per day of the daily ETL: a catalog
  (customer = water bodies, orders = already-downloaded images), the
  day's scenes — those the flagship's selected water bodies get from
  each dataset's revisit period — and per imaged water body its band
  rasters and polygon.
* ``history`` — the fixed target history the daily ETL appends to.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["large", "red", "hot", "cold", "old", "new", "small", "blue"]
PART_NOUN = ["anvil", "plate", "gizmo", "ring", "widget", "gear", "rod", "bolt"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: the daily ETL's dataset configs (the reference's satellite_dataset_configs)
DATASETS = ["COPERNICUS/S2_SR_HARMONIZED", "LANDSAT/LC09/C02/T1_L2"]
#: days between two images of one place: Sentinel-2's two-satellite
#: constellation and Landsat 9 alone; a selected water body is imaged by
#: a dataset on a given day with probability 1 / revisit
REVISIT_DAYS = {DATASETS[0]: 5, DATASETS[1]: 16}
#: the flagship catalog query's filter and top-k (plans/flagship.py)
FLAGSHIP_MAX_ACCTBAL, FLAGSHIP_LIMIT = 9000.0, 1100
BAND_NAMES = ["red", "green", "blue"]


@dataclass(frozen=True)
class StarSize:
    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    lineitems: int = 60000
    events: int = 10000
    users: int = 150


@dataclass(frozen=True)
class DaySize:
    """One day of the daily ETL. The imaged water bodies are not a size:
    they follow from the flagship's selection and the revisit periods."""

    #: enough that the flagship's top-k of 1,100 binds, as in the
    #: reference (about 91% of the catalog passes its acctbal filter)
    waterbodies: int = 1250
    downloaded: int = 4000
    raster: int = 24
    seen_fraction: float = 0.25
    history: int = 2000


def _rng(seed: int, stream: str, day: int = 0) -> np.random.Generator:
    key = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, key, day])


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    """Microsecond timestamps: tz-naive like the fixture tables, or
    UTC-adjusted for tables Spark writes to as well (Spark reads a
    naive parquet timestamp as TIMESTAMP_NTZ and its own as TIMESTAMP)."""
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us", tz))


def _us(date: str) -> int:
    return int((np.datetime64(date, "us") - EPOCH_US).astype("int64"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


# ------------------------------------------------------------ star schema


def region() -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )


def nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)], pa.string()
            ),
        }
    )


def orders(rng: np.random.Generator, n: int, customers: int) -> pa.Table:
    lo, hi = _us("1995-01-01"), _us("2001-08-01")
    days = rng.integers(0, (hi - lo) // 86_400_000_000 + 1, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, customers, n), pa.int64()),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, n)], pa.string()
            ),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n), pa.float64()),
            "o_orderdate": _ts(lo + days * 86_400_000_000),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES)[rng.integers(0, 5, n)], pa.string()
            ),
        }
    )


def star_schema(seed: int, size: StarSize = StarSize()) -> dict[str, pa.Table]:
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part = size.customers, size.suppliers, size.parts
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
        }
    )
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part)
        )
    ]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(
                np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)], pa.string()
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    n_li = size.lineitems
    lo, hi = _us("1995-01-02"), _us("2001-11-04")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, size.orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], pa.string()
            ),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, n_li)], pa.string()
            ),
            "l_shipdate": _ts(
                lo + rng.integers(0, (hi - lo) // 86_400_000_000 + 1, n_li) * 86_400_000_000
            ),
        }
    )
    n_ev = size.events
    ts = np.sort(_us("2024-01-01") + rng.integers(0, 30 * 86_400_000_000, n_ev))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, size.users, n_ev), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_ev)], pa.string()
            ),
            "value": pa.array(_money(rng, 0.01, 490.0, n_ev), pa.float64()),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    return {
        "region": region(),
        "nation": nation(),
        "customer": customer(rng, n_cust),
        "supplier": supplier,
        "part": part,
        "orders": orders(rng, size.orders, n_cust),
        "lineitem": lineitem,
        "events": events,
    }


# ------------------------------------------------------ corpus with truth


def documents(seed: int, n: int, n_exact: int, n_near: int) -> tuple[pa.Table, set]:
    """Word-soup documents plus planted duplicates.

    Returns the table and the set of true ``(doc_a, doc_b)`` pairs
    (``doc_a < doc_b``): each exact duplicate copies a source text, each
    near duplicate copies a long source text with one word replaced.
    Sources and copies are disjoint, so the truth has no transitive
    pairs."""
    rng = _rng(seed, "documents")
    lens = rng.integers(8, 100, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts = [" ".join(c) for c in np.split(words, np.cumsum(lens)[:-1])]
    ids = rng.permutation(n)
    long_ids = [int(i) for i in ids if lens[i] >= 60]
    short_ids = [int(i) for i in ids if lens[i] < 60]
    near_src, near_dst = long_ids[:n_near], long_ids[n_near : 2 * n_near]
    exact_src, exact_dst = short_ids[:n_exact], short_ids[n_exact : 2 * n_exact]
    truth = set()
    for s, d in zip(exact_src, exact_dst):
        texts[d] = texts[s]
        truth.add((min(s, d), max(s, d)))
    for s, d in zip(near_src, near_dst):
        toks = texts[s].split()
        j = int(rng.integers(0, len(toks)))
        toks[j] = VOCAB[(VOCAB.index(toks[j]) + 1) % len(VOCAB)]
        texts[d] = " ".join(toks)
        truth.add((min(s, d), max(s, d)))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, truth


def embeddings(seed: int, n: int, dim: int, n_pairs: int) -> tuple[pa.Table, set]:
    """Unit-ish vectors with weak cluster structure (10 labels) plus
    planted near-duplicate pairs at cosine ≈ 0.995; returns the table
    and the planted pairs."""
    rng = _rng(seed, "embeddings")
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    noise = rng.normal(size=(n, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = 0.35 * centers[labels] + 0.937 * noise
    ids = rng.permutation(n)
    src, dst = ids[:n_pairs], ids[n_pairs : 2 * n_pairs]
    jitter = rng.normal(size=(n_pairs, dim))
    jitter /= np.linalg.norm(jitter, axis=1, keepdims=True)
    vecs[dst] = vecs[src] + 0.1 * jitter
    labels[dst] = labels[src]
    vecs *= 0.25
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    truth = {(int(min(a, b)), int(max(a, b))) for a, b in zip(src, dst)}
    return table, truth


# -------------------------------------------------------------- daily ETL

#: the daily target's primary key
TARGET_PK = ["waterbody_id", "ee_id"]


def capture_us(day: int) -> int:
    """Capture timestamp of day ``day``'s scenes (one scene per day)."""
    return _us("2024-01-01") + day * 86_400_000_000 + 37_815_000_000


def ee_id(dataset: str, waterbody: int, day: int) -> str:
    return f"{dataset}/{waterbody}/{day:05d}"


def waterbodies(seed: int, size: DaySize) -> pa.Table:
    """The water-body catalog (``customer``): the same on every day."""
    return customer(_rng(seed, "waterbodies"), size.waterbodies)


def flagship_selection(catalog: pa.Table) -> np.ndarray:
    """The ids the flagship query selects: acctbal below the bound,
    the top ``FLAGSHIP_LIMIT`` by acctbal (ties by id)."""
    ids = catalog.column("c_custkey").to_numpy()
    bal = catalog.column("c_acctbal").to_numpy()
    keep = bal < FLAGSHIP_MAX_ACCTBAL
    ids, bal = ids[keep], bal[keep]
    return ids[np.lexsort((ids, -bal))][:FLAGSHIP_LIMIT]


def day_scenes(seed: int, day: int, size: DaySize) -> list[tuple[int, str]]:
    """The ``(water body, dataset)`` scenes captured on ``day``: each
    water body the flagship selects is imaged by each dataset with
    probability 1 / its revisit period. Sorted by water body."""
    selected = np.sort(flagship_selection(waterbodies(seed, size)))
    rng = _rng(seed, "scenes", day)
    hit = {d: rng.random(len(selected)) < 1.0 / REVISIT_DAYS[d] for d in DATASETS}
    return [
        (int(w), d) for i, w in enumerate(selected) for d in DATASETS if hit[d][i]
    ]


def polygon(rng: np.random.Generator, w: int) -> list[list[float]]:
    """A convex-ish water-body ring in pixel space, inside a w×w raster."""
    k = int(rng.integers(5, 9))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    cx, cy = rng.uniform(0.4 * w, 0.6 * w, 2)
    r = rng.uniform(0.2 * w, 0.4 * w, k)
    return [[float(cx + ri * np.cos(a)), float(cy + ri * np.sin(a))] for a, ri in zip(ang, r)]


def band_array(rng: np.random.Generator, w: int) -> np.ndarray:
    """Three uint8 bands (3, w, w): noise around per-band gradients, a
    planted white blob (all bands high and close) and nodata pixels."""
    y, x = np.mgrid[0:w, 0:w]
    base = np.stack([(40 * b + 3 * x + 2 * y) % 200 for b in range(3)]).astype(np.int64)
    img = base + rng.integers(0, 50, (3, w, w))
    cx, cy, r = rng.uniform(0, w, 3)
    white = (x - cx) ** 2 + (y - cy) ** 2 < (0.15 * w + r % 3) ** 2
    img[:, white] = 200 + rng.integers(0, 20, (3, int(white.sum())))
    nodata = rng.random((w, w)) < 0.05
    img[:, nodata] = 0
    return np.clip(img, 0, 255).astype(np.uint8)


def day_inputs(seed: int, day: int, size: DaySize) -> dict:
    """One day's tables and polygons: one raster and one polygon per
    imaged water body (its scenes share them).

    Returns ``{"tables": {name: table}, "polygons": {eid: ring}}``."""
    rng = _rng(seed, "day", day)
    scenes_of_day = day_scenes(seed, day, size)
    ents = np.array(sorted({w for w, _ in scenes_of_day}), dtype=np.int64)
    scenes = pa.table(
        {
            "waterbody_id": pa.array([w for w, _ in scenes_of_day], pa.int64()),
            "ee_id": pa.array([ee_id(d, w, day) for w, d in scenes_of_day], pa.string()),
            "satellite_dataset": pa.array([d for _, d in scenes_of_day], pa.string()),
            "captured_ts": _ts(np.full(len(scenes_of_day), capture_us(day)), "UTC"),
        }
    )
    w = size.raster
    rasters = {int(e): band_array(rng, w) for e in ents}
    polygons = {int(e): polygon(rng, w) for e in ents}
    bands = pa.table(
        {
            "entity_id": pa.array(np.repeat(ents, 3), pa.int64()),
            "band_idx": pa.array(np.tile(np.arange(3), len(ents)), pa.int32()),
            "band": pa.array(BAND_NAMES * len(ents), pa.string()),
            "width": pa.array(np.full(3 * len(ents), w), pa.int32()),
            "height": pa.array(np.full(3 * len(ents), w), pa.int32()),
            "data": pa.array(
                [rasters[int(e)][b].tobytes() for e in ents for b in range(3)], pa.binary()
            ),
        }
    )
    tables = {
        "nation": nation(),
        "customer": waterbodies(seed, size),
        "orders": orders(rng, size.downloaded, size.waterbodies),
        "scenes": scenes,
        "bands": bands,
    }
    return {"tables": tables, "polygons": polygons}


def history(seed: int, days: int, size: DaySize) -> pa.Table:
    """The target history: ``size.history`` earlier records, plus, for
    each of the next ``days`` days, a ``seen_fraction`` share of that
    day's scenes already present (a re-delivered scene must not be
    appended twice)."""
    rng = _rng(seed, "history")
    n = size.history
    wb = rng.integers(0, size.waterbodies, n)
    past = rng.integers(1, 10_000, n)
    ds = np.array(DATASETS)[rng.integers(0, len(DATASETS), n)]
    rows_wb = list(wb)
    rows_ee = [f"{d}/{w}/past{p:05d}" for d, w, p in zip(ds, wb, past)]
    rows_ds = list(ds)
    rows_ts = list(_us("2023-01-01") + past * 3_600_000_000)
    for day in range(days):
        scenes = day_scenes(seed, day, size)
        k = int(round(size.seen_fraction * len(scenes)))
        for i in np.sort(_rng(seed, "seen", day).choice(len(scenes), k, replace=False)):
            wb_i, d = scenes[i]
            rows_wb.append(wb_i)
            rows_ee.append(ee_id(d, wb_i, day))
            rows_ds.append(d)
            rows_ts.append(capture_us(day))
    m = len(rows_wb)
    return pa.table(
        {
            "waterbody_id": pa.array(np.array(rows_wb), pa.int64()),
            "captured_ts": _ts(np.array(rows_ts), "UTC"),
            "ee_id": pa.array(rows_ee, pa.string()),
            "satellite_dataset": pa.array(rows_ds, pa.string()),
            "properties": pa.array(["{}"] * m, pa.string()),
            "filename": pa.array([f"{e}.tif" for e in rows_ee], pa.string()),
            "thumbnail_filename": pa.array([f"{e}_thumbnail.png" for e in rows_ee], pa.string()),
            "red_average": pa.array(rng.uniform(0, 255, m)),
            "green_average": pa.array(rng.uniform(0, 255, m)),
            "blue_average": pa.array(rng.uniform(0, 255, m)),
            "white_fraction": pa.array(rng.uniform(0, 1, m)),
        }
    )
