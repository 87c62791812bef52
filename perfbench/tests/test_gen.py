"""The seeded generator: same seed, same bytes; another seed, other data."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from perfbench import gen

SMALL = gen.StarSize(customers=50, suppliers=10, parts=40, orders=200, lineitems=600, events=100)
DAY = gen.DaySize(waterbodies=60, downloaded=80, raster=12, history=30)


def _same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_star_schema_is_deterministic_per_seed():
    assert _same(gen.star_schema(1, SMALL), gen.star_schema(1, SMALL))
    a, b = gen.star_schema(1, SMALL), gen.star_schema(2, SMALL)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["customer"].equals(b["customer"])


def test_star_schema_has_the_fixture_schema():
    t = gen.star_schema(3, SMALL)
    assert t["lineitem"].schema.names == [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    ]
    assert t["orders"].schema.field("o_orderdate").type == pa.timestamp("us")
    assert t["nation"].schema.field("n_nationkey").type == pa.int32()
    assert t["events"].schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert t["customer"].num_rows == SMALL.customers


def test_documents_plant_known_pairs():
    docs, truth = gen.documents(4, 300, 5, 5)
    again, truth2 = gen.documents(4, 300, 5, 5)
    assert docs.equals(again) and truth == truth2
    assert len(truth) == 10
    text = docs.column("text").to_pylist()
    exact = [(a, b) for a, b in truth if text[a] == text[b]]
    assert len(exact) == 5
    for a, b in truth:
        if text[a] != text[b]:  # near duplicate: one word replaced
            wa, wb = text[a].split(), text[b].split()
            assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1
    other, truth3 = gen.documents(5, 300, 5, 5)
    assert not docs.equals(other) and truth != truth3


def test_embeddings_plant_near_duplicates():
    emb, truth = gen.embeddings(6, 200, 16, 8)
    vecs = np.array(emb.column("embedding").to_pylist())
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    assert len(truth) == 8
    assert min(float(unit[a] @ unit[b]) for a, b in truth) > 0.95
    assert not emb.equals(gen.embeddings(7, 200, 16, 8)[0])


def test_day_inputs_and_history():
    d0, d0b = gen.day_inputs(8, 0, DAY), gen.day_inputs(8, 0, DAY)
    assert _same(d0["tables"], d0b["tables"]) and d0["polygons"] == d0b["polygons"]
    d1 = gen.day_inputs(8, 1, DAY)
    assert not d0["tables"]["scenes"].equals(d1["tables"]["scenes"])
    assert d0["tables"]["customer"].equals(d1["tables"]["customer"])  # one catalog
    assert not _same(d0["tables"], gen.day_inputs(9, 0, DAY)["tables"])
    # only water bodies the flagship selects are imaged
    catalog = d0["tables"]["customer"]
    bal = dict(zip(catalog.column("c_custkey").to_pylist(), catalog.column("c_acctbal").to_pylist()))
    scenes = d0["tables"]["scenes"]
    imaged = set(scenes.column("waterbody_id").to_pylist())
    assert imaged and all(bal[w] < gen.FLAGSHIP_MAX_ACCTBAL for w in imaged)
    assert set(gen.flagship_selection(catalog)) == {w for w, b in bal.items() if b < 9000.0}
    bands = d0["tables"]["bands"]
    assert bands.num_rows == 3 * len(imaged) == 3 * len(d0["polygons"])
    for ring in d0["polygons"].values():  # every ring lies inside the raster
        assert all(0 <= c <= DAY.raster for p in ring for c in p)
    hist = gen.history(8, 2, DAY)
    assert hist.equals(gen.history(8, 2, DAY))
    seen = set(zip(hist.column("waterbody_id").to_pylist(), hist.column("ee_id").to_pylist()))
    day0 = set(zip(scenes.column("waterbody_id").to_pylist(), scenes.column("ee_id").to_pylist()))
    # a share of day 0's scenes is already in the target
    assert len(day0 & seen) == round(DAY.seen_fraction * scenes.num_rows)


def test_flagship_limit_binds_on_the_default_day():
    assert len(gen.flagship_selection(gen.waterbodies(1, gen.DaySize()))) == gen.FLAGSHIP_LIMIT
