"""ANN quality contracts: sampled k-means centroid fitting and IVF
multi-probe recall against the exact brute-force baseline.

Recall target note: the driver's synthetic embeddings are near-uniform
random vectors (exact top-10 cosine ≈ 0.3, same-label fraction ≈ 0.13),
so NO inverted-file index can reach high recall there with real pruning
— neighbors of unclustered high-dim points spread uniformly over cells.
The ≥0.9 recall contract is therefore pinned on planted clustered data
(where the IVF assumption holds); on the real table we pin the two
properties that must hold regardless of data: probing more cells never
hurts, and probing ALL cells reproduces the exact baseline.
"""

from __future__ import annotations

import numpy as np

from callysto_spark.operators.similarity import cosine_topk, ivf_topk, kmeans_centroids
from callysto_spark.tables import load


def _topk_ids(df):
    out: dict[int, list[int]] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(r["neighbor_id"])
    return out


def _recall(exact: dict, approx: dict) -> float:
    per_q = [len(set(exact[q]) & set(approx.get(q, []))) / len(exact[q]) for q in exact]
    return sum(per_q) / len(per_q)


def test_kmeans_centroids_deterministic_and_bounded(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    c1 = kmeans_centroids(e, "vec_id", "embedding", k=8, sample=512)
    c2 = kmeans_centroids(e, "vec_id", "embedding", k=8, sample=512)
    assert c1 == c2, "sampled k-means must be run-to-run deterministic"
    assert len(c1) == 8 and all(len(v) == 64 for _, v in c1)


def test_ivf_recall_at_10_nprobe2_clustered(spark):
    """recall@10 ≥ 0.9 at nprobe=2 on data satisfying the IVF
    assumption (clustered): 8 planted gaussian clusters, fitted
    centroids, 2-of-8 cells probed."""
    rng = np.random.RandomState(7)
    centers = rng.randn(8, 32) * 5.0
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + rng.randn(32) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)
    qids = list(range(16))
    cents = kmeans_centroids(df, "vec_id", "embedding", k=8, iters=5, sample=400)
    exact = _topk_ids(cosine_topk(df, "vec_id", "embedding", qids, k=10))
    approx = _topk_ids(ivf_topk(df, "vec_id", "embedding", qids, cents, k=10, nprobe=2))
    recall = _recall(exact, approx)
    assert recall >= 0.9, f"recall@10={recall:.3f} at nprobe=2 on clustered data"


def test_ivf_nprobe_monotone_and_exact_at_full_probe(spark, sf_dir):
    """Data-independent IVF contracts on the real embeddings table:
    recall is non-decreasing in nprobe, and nprobe=n_cells == exact."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    qids = list(range(10))
    cents = kmeans_centroids(e, "vec_id", "embedding", k=8, iters=5, sample=1024)
    exact = _topk_ids(cosine_topk(e, "vec_id", "embedding", qids, k=10))
    r1 = _recall(exact, _topk_ids(ivf_topk(e, "vec_id", "embedding", qids, cents, k=10, nprobe=1)))
    r2 = _recall(exact, _topk_ids(ivf_topk(e, "vec_id", "embedding", qids, cents, k=10, nprobe=2)))
    r8 = _recall(exact, _topk_ids(ivf_topk(e, "vec_id", "embedding", qids, cents, k=10, nprobe=8)))
    assert r1 <= r2 <= r8
    assert r8 == 1.0, "probing every cell must reproduce the exact baseline"


def test_ivf_scoring_scales_to_large_k(spark, sf_dir):
    """The k≈4096 contract: centroid scoring is O(1) plan nodes however
    many centroids there are (one JVM-parsed 2-D literal + one indexed
    transform), so a large-k index must BUILD fast (plan construction +
    analysis bounded) and still assign correctly. Pins the regression
    where per-centroid unrolled expressions made k=256 take tens of
    seconds of driver time."""
    import random
    import time

    from callysto_spark.operators.similarity import ivf_assign
    from callysto_spark.tables import load as load_tables

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    dim = len(e.first()["embedding"])
    rng = random.Random(11)
    cents = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(256)]
    t0 = time.perf_counter()
    assigned = ivf_assign(e, "vec_id", "embedding", cents)
    assigned.schema  # force analysis
    build = time.perf_counter() - t0
    print(f"k=256 expr plan build+analysis: {build:.2f}s (advisory)")
    # STRUCTURAL constant-size-in-k check (wall-clock bounds flake under
    # suite-wide JVM contention — this one did in round 5's baseline
    # run): the centroids ride in ONE 2-D array literal, so the k=256
    # analyzed plan must have the same node count as k=2's.
    small = ivf_assign(e, "vec_id", "embedding", cents[:2])
    plan = assigned._jdf.queryExecution().analyzed().toString()
    small_plan = small._jdf.queryExecution().analyzed().toString()
    assert len(plan.splitlines()) == len(small_plan.splitlines()), (
        f"plan node count grew with k:\nk=256:\n{plan}\nk=2:\n{small_plan}"
    )
    cells = assigned.select("cell").distinct().count()
    n = assigned.count()
    assert n == e.count()
    assert 1 <= cells <= 256


def test_ivf_assign_pandas_engine_matches_expr(spark, sf_dir):
    """The BLAS mapInPandas assignment kernel must agree with the
    expression kernel on real embeddings, and both must tie-break to the
    lower centroid id when centroid vectors are duplicated (distances
    bit-equal in either arithmetic)."""
    from callysto_spark.operators.similarity import ivf_assign
    from callysto_spark.queries.llm_ops import _centroids
    from callysto_spark.tables import load

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = _centroids(spark, sf_dir)
    expr = {r["vec_id"]: r["cell"] for r in ivf_assign(e, "vec_id", "embedding", cents).collect()}
    blas = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(e, "vec_id", "embedding", cents, engine="pandas").collect()
    }
    assert expr == blas

    # duplicated centroid vectors: exact tie, both engines pick cid=1
    dup = [(1, cents[0][1]), (7, cents[0][1])]
    one_vec = e.filter("vec_id = 0")
    for eng in ("expr", "pandas"):
        got = ivf_assign(one_vec, "vec_id", "embedding", dup, engine=eng).collect()
        assert got[0]["cell"] == 1, f"{eng} must tie-break to the lower centroid id"


def test_ivf_assign_pandas_engine_large_k_plan_builds_fast(spark, sf_dir):
    """At index-build scale (k=512) the pandas kernel's plan is a single
    narrow mapInPandas — constant plan size in k, no per-centroid
    expression growth, no shuffle."""
    import time

    from callysto_spark.operators.similarity import ivf_assign
    from callysto_spark.tables import load

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    rows = e.limit(512).collect()
    cents = [(i, list(r["embedding"])) for i, r in enumerate(rows)]
    t0 = time.perf_counter()
    df = ivf_assign(e, "vec_id", "embedding", cents, engine="pandas")
    plan = df._jdf.queryExecution().executedPlan().toString()
    build = time.perf_counter() - t0
    print(f"k=512 pandas plan build: {build:.2f}s (advisory)")
    # STRUCTURAL constant-size-in-k check (a wall-clock bound flakes on
    # contended CI): the centroid matrix lives in the Python kernel, not
    # the plan, so the k=512 plan must be the same size/shape as k=2's —
    # no per-centroid expression growth.
    small = ivf_assign(e, "vec_id", "embedding", cents[:2], engine="pandas")
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert len(plan.splitlines()) == len(small_plan.splitlines()), (
        f"plan node count grew with k:\nk=512:\n{plan}\nk=2:\n{small_plan}"
    )
    assert len(plan) < 2 * len(small_plan) + 500, "plan text grew with k"
    assert "Exchange" not in plan or "REPARTITION" in plan, f"assignment must not shuffle:\n{plan}"
    n = df.count()
    assert n == e.count()


def test_cosine_topk_pandas_engine_matches_expr(spark, sf_dir):
    """The BLAS cosine kernel (batch matmul + in-kernel batch-local
    top-k pruning) must return the same neighbors in the same order as
    the expression engine, with similarities equal to rounding
    precision."""
    from callysto_spark.operators.similarity import cosine_topk
    from callysto_spark.tables import load

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    kw = dict(query_ids=[0, 1, 2, 3, 4], k=10, round_ndigits=6)
    expr = cosine_topk(e, "vec_id", "embedding", **kw).collect()
    blas = cosine_topk(e, "vec_id", "embedding", engine="pandas", **kw).collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in expr] == [
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in blas
    ]
    for a, b in zip(expr, blas):
        assert abs(a["cosine_sim"] - b["cosine_sim"]) < 1e-6


def test_cosine_topk_engines_degrade_identically_on_missing_queries(spark, sf_dir):
    """When none of the query ids exist in the corpus, both engines must
    return the same EMPTY result with the same schema (the pandas kernel
    would otherwise crash on a 1-D empty query matrix driver-side)."""
    from callysto_spark.operators.similarity import cosine_topk
    from callysto_spark.tables import load

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    kw = dict(query_ids=[10**12, 10**12 + 1], k=5, round_ndigits=6)
    expr = cosine_topk(e, "vec_id", "embedding", **kw)
    blas = cosine_topk(e, "vec_id", "embedding", engine="pandas", **kw)
    assert expr.collect() == [] and blas.collect() == []
    assert expr.columns == blas.columns
    assert dict(expr.dtypes) == dict(blas.dtypes)


def test_ivf_empty_centroids_schema_matches_scored_path(spark, sf_dir):
    """The empty-centroid early returns must have EXACTLY the scored
    path's schema (types and nullability) so callers can union/compare
    the two — r5 ADVICE: literals used to make cosine_sim non-nullable
    and rank inherit a literal's type."""
    from callysto_spark.operators.similarity import ivf_assign, ivf_topk, kmeans_centroids
    from callysto_spark.tables import load

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = kmeans_centroids(e, "vec_id", "embedding", k=4, iters=2, sample=64)
    full = ivf_topk(e, "vec_id", "embedding", [0, 1], cents, k=3, nprobe=1)
    empty = ivf_topk(e, "vec_id", "embedding", [0, 1], [], k=3, nprobe=1)
    assert full.schema == empty.schema, f"{full.schema} != {empty.schema}"
    assert full.unionByName(empty).count() == full.count()
    fa = ivf_assign(e, "vec_id", "embedding", cents)
    ea = ivf_assign(e, "vec_id", "embedding", [])
    assert fa.schema == ea.schema
    assert ea.count() == 0


def test_kmeans_centroids_empty_corpus_returns_empty(spark):
    """The serve paths (ivf_assign/ivf_topk) contract for centroids==[]
    'from fitting on an empty corpus' — but the fit itself used to
    IndexError on np.array([]) before it could return that empty set
    (r7 review). Also covers the all-dirty corpus (every vector fails
    clean_vec)."""
    from callysto_spark.operators.similarity import kmeans_centroids

    empty = spark.createDataFrame([], "id long, emb array<float>")
    assert kmeans_centroids(empty, "id", "emb", k=4) == []

    dirty = spark.createDataFrame(
        [(1, [float("nan"), 1.0]), (2, [float("inf"), 0.0])], "id long, emb array<float>"
    )
    assert kmeans_centroids(dirty, "id", "emb", k=4) == []


def test_ivf_centroids_follow_regenerated_corpus_across_sessions(spark, tmp_path):
    """The IVF registry queries' centroid cache lives on the session: a
    corpus regenerated at the same path must be re-read by a new
    session, not served from a process-wide cache of the old one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from callysto_spark.queries.llm_ops import _centroids

    def write_corpus(fill: float) -> None:
        ids = list(range(12))
        vecs = [[fill + i] * 64 for i in ids]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(vecs, pa.list_(pa.float32())),
                    "label": pa.array([0] * len(ids), pa.int32()),
                }
            ),
            str(tmp_path / "embeddings.parquet"),
        )

    write_corpus(1.0)
    a = _centroids(spark, str(tmp_path), k=8)
    assert a == [(i, [1.0 + i] * 64) for i in range(8)]
    write_corpus(100.0)
    b = _centroids(spark.newSession(), str(tmp_path), k=8)
    assert b == [(i, [100.0 + i] * 64) for i in range(8)]
