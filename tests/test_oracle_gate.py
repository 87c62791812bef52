"""Parametrized differential gate: every ``queries()`` entry runs
against its DuckDB oracle (rows + schema + order-insensitive values,
strict dtype kinds, unhashable columns rejected) — the local replica
of the driver's CORRECTNESS gate, one pytest per query.

Also asserts non-vacuousness for queries that historically passed with
0 rows (VERDICT r1 'vacuously-passing queries').
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE

from lake_satellite_image_etl_spark import registry
from lake_satellite_image_etl_spark._window import WINDOW

QUERIES, ORACLES = registry.load_all()

#: queries whose value is only demonstrated on non-empty output
MUST_BE_NONEMPTY = {
    "filter_pixel_predicates",
    "join_left_anti",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "similarity_topk_bruteforce",
    "similarity_lsh_bucketed",
    "geo_point_in_polygon",
    "text_edit_distance",
    # r10 net-new entries where an empty result would be a vacuous
    # pass (a broken blocking key, brand slice, or window produces 0
    # rows and 0-row == 0-row still hashes equal)
    "graph_triangle_count",
    "text_pmi_collocations",
    "analytics_attribution",
    "graph_bfs_distance",
    "dedup_fuzzy_blocked",
    "sample_contrastive_negatives",
    "text_rake_keyphrases",
    "graph_shortest_path_weighted",
    "dq_k_anonymity",
    "skew_null_safe_join",
    "corpus_inverted_index",
    "graph_clustering_coefficient",
    "stats_cusum_drift",
    "analytics_attribution_linear",
    "stats_ewma_trend",
    # r11 net-new entries (same rationale)
    "raster_clip_vector_boundary",
    "similarity_ann_filtered",
    "similarity_incremental_assign",
    "dedup_canonical_keep",
    # r12: at ~6% selectivity an empty result would be exactly the
    # post-filter starvation failure the entry exists to rule out
    "similarity_ann_filtered_sparse",
}


#: every query at the oracle scale, plus the driver's window at the
#: driver's smoke scale, where small dimension tables cover fewer keys
CASES = [pytest.param(n, SF_ORACLE, id=n) for n in sorted(QUERIES)] + [
    pytest.param(n, SF_SMOKE, id=f"{n}-smoke") for n in WINDOW
]


@pytest.mark.parametrize("name,sf_dir", CASES)
def test_query_matches_oracle(name, sf_dir, spark, request):
    from tools.compare import compare_frames

    duck = request.getfixturevalue("duck" if sf_dir == SF_ORACLE else "duck_smoke")
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    if name in MUST_BE_NONEMPTY:
        assert len(spark_pdf) > 0, f"{name} returned 0 rows (vacuous pass)"
    if name not in ORACLES:
        # rows-only contract (kernel/UDF paths) — schema must be stable
        assert list(spark_pdf.columns)
        return
    oracle_pdf = duck.execute(ORACLES[name]).fetchdf()
    res = compare_frames(name, spark_pdf, oracle_pdf)
    assert res.ok, res.detail


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_registry_has_no_phantom_modules():
    """Every module the registry lists must import (VERDICT r1 flagged
    six phantom entries)."""
    from importlib import import_module

    for mod in registry._MODULES:
        import_module(mod)


def test_compare_cli_rejects_unknown_names():
    """A mistyped name list must fail before any query runs, naming
    the unknown entries — not report ``0/0 passed`` and exit 0."""
    import os
    import subprocess
    import sys

    from tests.conftest import REPO_ROOT

    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO_ROOT, "tools", "compare.py"),
            "--sf-dir",
            SF_SMOKE,
            "topk_global",
            "no_such_query",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
    assert "topk_global" not in proc.stderr
    assert "passed" not in proc.stdout
