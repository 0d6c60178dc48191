"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the blocked variant is
the scale path (restrict the pair space by a blocking key — a coarse
quantizer cell, an LSH bucket, or any partition column). Dot products
run as JVM higher-order functions (zip_with + aggregate): sequential
fold ⇒ bit-deterministic, and fully codegen'd — no Python, no Arrow
crossing.

Input contract: the item id column is UNIQUE per row. Brute-force
cosine top-k is duplicate-input-safe (duplicated rows score and
tie-break identically on both engines), but the IVF index is not: its
k-means training sample and cell tie-breaks shift with row
multiplicity in engine-specific ways (r15 duplicate-row sweep) — dedup
ids upstream (operators.dedup.exact) before building an index.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from callysto_spark.operators.relational import top_k_per_group


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float arrays in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _maybe_round(col: Column, ndigits: int | None) -> Column:
    if ndigits is None:
        return col
    from callysto_spark.functions import rnd

    return rnd(col, ndigits)


def clean_vec(vec: Column, dim: int | None = None) -> Column:
    """Vector-cleanliness contract for the L2/assignment paths: a
    non-NULL array of the expected dimension whose elements are all
    non-NULL and finite. Dirty vectors are EXCLUDED — row absent — on
    BOTH engines: one NaN element must never poison an assignment, and
    one dirty row in a 100 TB corpus must never abort the job under
    ANSI mode. Cosine paths use :func:`valid_norm` instead (same
    exclusions at zero extra fold cost, via the already-hoisted norm).
    Oracle twin: :func:`clean_vec_sql`."""
    bad_el = F.size(
        F.filter(
            vec,
            lambda x: x.isNull()
            | F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) == F.lit(float("inf"))),
        )
    ) > 0
    ok = vec.isNotNull() & ~bad_el
    return ok & ((F.size(vec) == F.lit(dim)) if dim is not None else (F.size(vec) > 0))


def size_ok(vec: Column, dim: int | None) -> Column:
    """O(1) pre-filter for the cosine paths (the rest of the contract
    rides on the computed norm — :func:`valid_norm`)."""
    return (F.size(vec) == F.lit(dim)) if dim is not None else (F.size(vec) > 0)


def valid_norm(n: Column) -> Column:
    """Cosine-path cleanliness, evaluated on the HOISTED norm column:
    norm is NULL for a NULL vector or NULL element, NaN for a NaN
    element, Inf for an Inf (or norm-overflowing ~1e200) element, and
    0 for a zero vector — every dirty class collapses into one scalar
    test, so the contract costs no extra per-row array fold."""
    return n.isNotNull() & ~F.isnan(n) & (n != F.lit(float("inf"))) & (n > 0)


def clean_vec_sql(col: str, dim: int, nonzero: bool = False) -> str:
    """DuckDB predicate computing exactly the engine-side contract:
    :func:`clean_vec` (default) or the cosine-path size+norm form
    (``nonzero=True`` — NULL elements are checked explicitly because
    DuckDB's list_sum IGNORES them where Spark's fold propagates)."""
    if nonzero:
        # ONE norm-square evaluation: BETWEEN (smallest positive double,
        # largest finite double) is exactly "finite AND > 0" (NaN and
        # Inf both fail it) without inlining the 64-term fold twice
        nrm2 = f"list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in {col}])"
        return (
            f"({col} IS NOT NULL AND len({col}) = {dim} "
            f"AND len(list_filter({col}, x -> x IS NULL)) = 0 "
            f"AND {nrm2} BETWEEN 5e-324 AND 1.7976931348623157e308)"
        )
    return (
        f"({col} IS NOT NULL AND len({col}) = {dim} "
        f"AND len(list_filter({col}, x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE)))) = 0)"
    )


def _vec_matrix(np, col):
    """Length-filtered vector column → float64 matrix, NULL-element-safe.

    Fast path: one vectorized ``np.asarray`` over the Arrow batch. A
    NULL element makes that TypeError ("float() argument ... NoneType")
    — which previously KILLED the task: one dirty row in a 100 TB
    corpus aborting the job instead of degrading to row-absent (r8 emb
    fuzz find). Only then pay the per-element fallback that maps None →
    NaN; the NaN fails the caller's finite mask, the same exclusion the
    expr engine applies. The slow path costs only on batches that
    actually contain a NULL element."""
    try:
        return np.asarray(col.to_list(), dtype=np.float64)
    except (TypeError, ValueError):
        return np.asarray(
            [[x if x is not None else np.nan for x in v] for v in col],
            dtype=np.float64,
        )


def _score_broadcast(c: DataFrame, q: DataFrame, round_ndigits: int | None, on: Column | None = None) -> DataFrame:
    """The shared scoring step of the three cosine serve paths
    (``cosine_topk`` expr engine, ``ivf_topk``, ``ivf_topk_stored``):
    broadcast the tiny query side onto the corpus side (probe-cell
    equality when ``on`` is given, full scored scan otherwise), compute
    cosine from the HOISTED norms, round BEFORE ranking, and drop NULL
    sims (a mixed-length pair under dim=None dots to NULL via zip_with
    padding — "no pair", not a trailing rank; a no-op on the fixed-dim
    IVF paths). Inputs carry (query_id, qv, qn) / (neighbor_id, cv, cn)
    already valid_norm-filtered — cleanliness stays at the call sites,
    which differ (the stored path's q is built clean driver-side).
    Single-sourced so the rounding/tie-break/NULL contract cannot drift
    between serve paths (r7 review deferral, closed r8).

    The scored similarity is materialized through a Generate barrier
    (util.barrier_select, r15 optimization): the ``isNotNull`` guard
    otherwise pushes into the JOIN CONDITION with the whole rounded
    dot-product fold inlined — the 64-element fold evaluated up to 4×
    in the BroadcastHashJoin condition and 4× again in the Project
    above it, per candidate pair (emb_ivf_topk before r15)."""
    from callysto_spark.operators.util import barrier_select

    joined = c.crossJoin(F.broadcast(q)) if on is None else c.join(F.broadcast(q), on)
    # the barrier materializes the RAW quotient; rnd() is applied to the
    # materialized attribute ABOVE it — rnd's range-guard CASE references
    # its argument 4×, which on the raw expression would mean 4 dot folds
    # even inside a single projection
    return (
        barrier_select(
            joined.filter(F.col("neighbor_id") != F.col("query_id")),
            "query_id",
            "neighbor_id",
            __raw_sim=dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
        .select(
            "query_id",
            "neighbor_id",
            _maybe_round(F.col("__raw_sim"), round_ndigits).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim").isNotNull())
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The shared ranking step: per-query top-k on (desc rounded sim,
    asc neighbor id) — the total tie-break order every serve path and
    every oracle pins."""
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    )


def cosine_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: Sequence[int],
    k: int = 10,
    round_ndigits: int | None = None,
    engine: str = "expr",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for the given query ids.

    Inputs pass the :func:`clean_vec` contract first (expected ``dim``
    when given, finite elements, norm > 0): a dirty vector is excluded
    from both the query and corpus sides rather than crashing the scan
    with DIVIDE_BY_ZERO or ranking NaN similarities.

    The query side is tiny by construction ⇒ broadcast; the corpus scan
    is embarrassingly parallel (narrow), and the only shuffle is the
    final per-query top-k (k rows per partition per query after partial
    ranking). Ties break on neighbor id, making results total-ordered.
    ``round_ndigits`` rounds the similarity BEFORE ranking, so a
    fixed-precision oracle orders identically at tie boundaries.

    ``engine='expr'`` (default) scores with JVM higher-order folds —
    bit-deterministic, oracle-matched. ``engine='pandas'`` is the
    throughput kernel for wide embeddings / many queries: one BLAS
    matmul per Arrow batch scores every (row × query) pair, prunes to
    the batch-local top-k per query IN the kernel (Arrow output is
    ≤ k·|Q| rows per batch, not n·|Q|), and the global top-k merges the
    survivors. Pruning on the rounded value keeps the tie boundary
    aligned with the final ranking; numpy rounds half-even where Spark
    rounds half-up — indistinguishable on real-valued similarities, so
    the pandas engine is for serving throughput, not oracle replay.
    """
    from callysto_spark.operators.util import ensure_parallelism

    # cleanliness: O(1) size gate here; the rest of the contract rides
    # on the computed norms (valid_norm) at zero extra fold cost
    corpus = corpus.filter(size_ok(F.col(vec_col), dim))
    if engine == "pandas":
        import numpy as np
        import pandas as pd

        qrows = (
            corpus.filter(F.col(id_col).isin(list(query_ids)))
            .select(id_col, vec_col)
            .collect()
        )
        if not qrows:
            # degrade identically to the expr engine: no query vectors ⇒
            # empty result (an empty Q would be 1-D and crash norm(axis=1))
            return corpus.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cosine_sim double, rank int"
            )
        # with dim=None, size_ok only enforced size > 0 — drop length
        # stragglers so ragged rows cannot crash np.asarray
        dim_eff = dim if dim is not None else len(qrows[0][vec_col])
        qrows = [r for r in qrows if len(r[vec_col]) == dim_eff]
        if not qrows:
            return corpus.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cosine_sim double, rank int"
            )
        Q = np.asarray(
            [[x if x is not None else np.nan for x in r[vec_col]] for r in qrows],
            dtype=np.float64,
        )
        qids = np.asarray([r[id_col] for r in qrows], dtype=np.int64)
        qn = np.linalg.norm(Q, axis=1)
        good_q = np.isfinite(qn) & (qn > 0)  # valid_norm, kernel-side
        Q, qids, qn = Q[good_q], qids[good_q], qn[good_q]
        if not len(qids):
            return corpus.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cosine_sim double, rank int"
            )
        Qn = Q / qn[:, None]

        def score(batches):
            for pdf in batches:
                ok = pdf[vec_col].map(lambda v: v is not None and len(v) == dim_eff)
                pdf = pdf[ok]
                if pdf.empty:
                    continue
                X = _vec_matrix(np, pdf[vec_col])
                ids = pdf[id_col].to_numpy()
                xn = np.linalg.norm(X, axis=1)
                good = np.isfinite(xn) & (xn > 0)  # valid_norm, kernel-side
                if not good.all():
                    X, ids, xn = X[good], ids[good], xn[good]
                if not len(ids):
                    continue
                S = (X / xn[:, None]) @ Qn.T  # n×|Q|
                if round_ndigits is not None:
                    S = np.round(S, round_ndigits)
                S[ids[:, None] == qids[None, :]] = -np.inf  # self-pairs out
                take = min(k, len(ids))
                # batch-local top-k per query: rank desc-sim, asc-neighbor
                order = np.lexsort((ids[:, None].repeat(len(qids), 1), -S), axis=0)[:take]
                out_q = np.broadcast_to(qids, (take, len(qids))).ravel()
                out_n = ids[order].ravel()
                out_s = np.take_along_axis(S, order, axis=0).ravel()
                keep = np.isfinite(out_s)
                yield pd.DataFrame(
                    {"query_id": out_q[keep], "neighbor_id": out_n[keep], "cosine_sim": out_s[keep]}
                )

        scored = ensure_parallelism(corpus).select(id_col, vec_col).mapInPandas(
            score, "query_id long, neighbor_id long, cosine_sim double"
        )
    else:
        # NO barrier on the hoisted norms (r15 measured decision): the
        # plan shows valid_norm's conjuncts inlining the fold below the
        # project, but higher-order folds are CodegenFallback — the
        # surrounding Project/Filter run interpreted WITH runtime
        # subexpression elimination, so the visible duplication is
        # mostly not paid, while a Generate barrier here measurably
        # SLOWED the composed query (+17% interleaved A/B: the barrier
        # splits the stream-side pipeline feeding the join). The
        # per-pair scoring barrier lives in _score_broadcast, where it
        # measured as a win.
        q = (
            corpus.filter(F.col(id_col).isin(list(query_ids)))
            .select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), norm(F.col(vec_col)).alias("qn")
            )
            .filter(valid_norm(F.col("qn")))
        )
        # corpus norm hoisted below the join: once per vector, not once per
        # (vector × query) scored row — bit-identical arithmetic; the
        # cleanliness contract filters on it for free
        c = (
            ensure_parallelism(corpus)
            .select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), norm(F.col(vec_col)).alias("cn")
            )
            .filter(valid_norm(F.col("cn")))
        )
        scored = _score_broadcast(c, q, round_ndigits)
    return _rank_topk(scored, k)


def _cell_structs(vec_col: str, centroids: list[tuple[int, list[float]]]) -> Column:
    """(squared-distance, centroid-id) structs for every centroid — the
    per-row scoring array behind cell assignment and multi-probe.

    The centroid matrix is ONE 2-D array literal scored with an indexed
    ``transform`` — O(1) plan nodes however many centroids there are.
    (The unrolled per-centroid expression alternative grows the plan
    linearly in k: slow to analyze at k=8, impossible at the k≈4096 a
    100 TB index wants.)

    The whole expression is built as a single SQL string parsed
    JVM-side: constructing the nested array literal + lambdas through
    the Python Column API costs hundreds of py4j round-trips PER QUERY
    INVOCATION (~0.5s at k=8·dim=64 — pure driver overhead, paid again
    every time a serving layer builds the probe plan). ``repr(float)``
    is shortest-round-trip, so the parsed doubles are bit-identical to
    the Python values.
    """
    matrix = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in cv) + ")" for _, cv in centroids
        )
        + ")"
    )
    cids = "array(" + ",".join(str(int(cid)) for cid, _ in centroids) + ")"
    return F.expr(
        f"""transform({matrix}, (cv, i) -> struct(
              aggregate(zip_with(`{vec_col}`, cv,
                                 (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
                        0.0D, (acc, v) -> acc + v) AS dist,
              element_at({cids}, i + 1) AS cid))"""
    )


def ivf_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    engine: str = "expr",
    validate: bool = True,
) -> DataFrame:
    """Assign each vector to its nearest centroid cell (IVF coarse
    quantization). Centroids are a driver-side list (id, vector) —
    broadcast into one narrow projection; ties break on the lower
    centroid id. No shuffle: assignment is embarrassingly parallel.

    Centroid selection is pluggable (:func:`kmeans_centroids` fits them
    on a sample; any deterministic list works — the search path only
    needs *some* partition of the space).

    ``engine`` picks the scoring kernel:

    - ``'expr'`` (default): one JVM-parsed higher-order expression —
      zero Python, bit-deterministic sequential folds. Spark evaluates
      array lambdas interpreted (not codegen), so cost grows k·dim per
      row; right up to a few dozen centroids.
    - ``'pandas'``: Arrow-batched ``mapInPandas`` scoring the batch with
      one BLAS matmul (argmin over |c|²−2x·C — row-constant |x|² can't
      change the argmin). The k≈4096, dim≈768 index build a 100 TB
      corpus wants: per-row cost is a matrix row product, not k·dim
      interpreted lambda calls. Measured at sf0.1 (120k × dim 64,
      local[32], min-of-3): expr 0.34s/0.48s/1.50s at k=8/64/256 —
      linear in k — vs pandas flat at ~0.38s for all three. Assignment
      agrees with 'expr' except on exact distance ties between
      DIFFERENT centroids closer than float summation-order error
      (duplicated centroids still tie-break identically — distances are
      bit-equal in both kernels).
    """
    from callysto_spark.operators.util import ensure_parallelism

    narrow = ensure_parallelism(corpus).select(id_col, vec_col)
    if not centroids:
        # An empty centroid set only arises from fitting on an empty
        # corpus; assignment against no cells matches nothing. Return an
        # empty result with the output schema instead of emitting a
        # malformed zero-length scoring expression.
        return narrow.limit(0).withColumn("cell", F.lit(None).cast("int"))
    if engine == "pandas":
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import IntegerType, StructField, StructType

        cents = sorted(centroids)  # ascending cid ⇒ np.argmin's
        C = np.asarray([cv for _, cv in cents], dtype=np.float64)  # k×dim
        cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
        cnorm2 = (C * C).sum(axis=1)

        out_schema = StructType(
            list(narrow.schema.fields) + [StructField("cell", IntegerType(), False)]
        )

        dim_c = C.shape[1]

        def score(batches):
            for pdf in batches:
                # cleanliness (kernel-side twin of the expr path's
                # dist-validity filter): wrong-length/NULL vectors can't
                # even enter the matmul; NaN/Inf/overflow rows surface
                # as a non-finite best distance and are dropped
                ok = pdf[vec_col].map(lambda v: v is not None and len(v) == dim_c)
                pdf = pdf[ok]
                if pdf.empty:
                    continue
                X = _vec_matrix(np, pdf[vec_col])
                # first-min index on ascending cids = lower-cid tie-break
                score_m = cnorm2[None, :] - 2.0 * (X @ C.T)
                best = np.argmin(score_m, axis=1)
                dmin = (X * X).sum(axis=1) + score_m[np.arange(len(X)), best]
                keep = np.isfinite(dmin)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[keep],
                        vec_col: pdf[vec_col].to_numpy()[keep],
                        "cell": cids[best[keep]],
                    }
                )

        return narrow.mapInPandas(score, out_schema)
    best = F.array_min(_cell_structs(vec_col, centroids))
    # Cleanliness contract at ZERO extra fold cost: a dirty element
    # poisons EVERY centroid's distance identically (NaN el ⇒ all-NaN,
    # ±Inf or norm-overflowing el ⇒ all-Inf, NULL el or wrong length ⇒
    # all-NULL via zip_with padding, NULL vector ⇒ NULL), so "best dist
    # is finite" is exactly "this vector has a well-defined nearest
    # cell" — no per-element scan, no extra fold. Oracle twin: length +
    # null-free + isfinite(dist) (DuckDB's list_sum ignores NULL
    # elements, so the structural checks are explicit there).
    if not validate:
        # caller guarantees a downstream filter excludes dirty vectors
        # (ivf_topk's valid_norm on the scoring side) — skip the
        # validity FILTER, but still materialize the cell through the
        # explode(array(...)) barrier (r15): consumed as an equi-join
        # key, the inferred isnotnull(cell) otherwise pushes below this
        # project with the whole k×dim argmin fold inlined — the
        # assignment computed twice per corpus row (before r15 the
        # scan Filter and the Project after its Exchange both carried
        # the array_min(transform(...)) argmin)
        return narrow.select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(F.array(best.getField("cid"))).alias("cell"),
        )
    # explode(array(...)) Generate barrier: the best struct is consumed
    # TWICE (dist by the filter, cid by the projection) and CollapseProject
    # would otherwise inline the k-fold array_min into both — doubling
    # the assignment cost (measured 0.67s → 0.89s on the sf0.1 bench)
    d = F.col("__b").getField("dist")
    return (
        narrow.select(F.col(id_col), F.col(vec_col), F.explode(F.array(best)).alias("__b"))
        .filter(d.isNotNull() & ~F.isnan(d) & (d != F.lit(float("inf"))))
        .select(F.col(id_col), F.col(vec_col), F.col("__b").getField("cid").alias("cell"))
    )


def nearest_cells(vec_col: str, centroids: list[tuple[int, list[float]]], nprobe: int) -> Column:
    """The ``nprobe`` nearest centroid ids for each row's vector (sorted
    by distance, centroid-id tie-break) — the multi-probe list for IVF
    search."""
    ranked = F.array_sort(_cell_structs(vec_col, centroids))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s.getField("cid"))


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 5,
    sample: int = 2048,
    seed: int = 42,
) -> list[tuple[int, list[float]]]:
    """Fit IVF coarse centroids: Lloyd's k-means on a bounded,
    deterministic sample.

    Scale shape: the sample is a global top-``sample`` by a salted hash
    of the id (TakeOrderedAndProject — k·dim floats to the driver, bounded
    regardless of corpus size); iterations run driver-side in numpy over
    that sample only. The full corpus is never collected — cell ASSIGNMENT
    of the corpus stays distributed (ivf_assign). Deterministic: hash
    order + seeded init ⇒ same centroids every run.
    """
    import numpy as np

    rows = (
        # cleanliness contract on the FIT sample: one NaN vector in the
        # sample would propagate NaN into every centroid mean
        corpus.filter(clean_vec(F.col(vec_col)))
        .select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("i").cast("string"), F.lit(seed)), F.col("i"))
        .limit(sample)
        .collect()
    )
    # clean_vec without dim only enforces size > 0 — drop length
    # stragglers so a single truncated vector cannot make the sample
    # ragged and crash np.array (the fit dimension is the first clean
    # row's, the corpus's modal dim in any sane dataset)
    fit_dim = len(rows[0]["v"]) if rows else 0
    rows = [r for r in rows if len(r["v"]) == fit_dim]
    if not rows:
        # empty or all-dirty corpus: return the empty centroid set the
        # serve paths (ivf_assign/ivf_topk) explicitly contract for —
        # np.array([]) is 1-D and the Lloyd loop would IndexError on it
        return []
    X = np.array([[float(x) for x in r["v"]] for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [(i, [float(x) for x in cents[i]]) for i in range(len(cents))]


def ivf_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: Sequence[int],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    round_ndigits: int | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-pruned top-k cosine: search the query's ``nprobe`` nearest
    coarse cells.

    The scale path for ANN at 100 TB: the corpus is partitioned by cell
    (in storage: partitionBy(cell)), a query probes nprobe cells, so the
    scan is ``nprobe/n_cells`` of the corpus instead of all of it.
    Exactness is traded for the usual IVF recall — raising nprobe buys
    recall linearly in scan cost; emb_cosine_topk is the exact baseline
    to measure against (tests pin recall@10 ≥ 0.9 at nprobe=2).
    """
    if not centroids:
        # no cells ⇒ nothing to probe (empty-corpus fit); empty result
        # whose schema matches the scored path EXACTLY so callers can
        # union/compare the two: query_id/neighbor_id keep id_col's
        # type (as the scored select does), cosine_sim is a NULLABLE
        # double (a computed division is nullable; a bare literal is
        # not), rank a non-null int (row_number's type)
        return (
            corpus.select(
                F.col(id_col).alias("query_id"),
                F.col(id_col).alias("neighbor_id"),
                # NULL literal, not when(true, 0.0): Catalyst constant-
                # folds the latter back to a non-nullable literal
                F.lit(None).cast("double").alias("cosine_sim"),
                F.lit(0).cast("int").alias("rank"),
            ).limit(0)
        )
    # validate=False: the c-side size_ok + valid_norm filters below
    # exclude every dirty class themselves, so the assignment skips its
    # own validity stage (and its Generate barrier) on this hot path
    assigned = ivf_assign(corpus, id_col, vec_col, centroids, validate=False)
    # multi-probe: explode each query into its nprobe nearest cells —
    # query side stays tiny (|queries|·nprobe rows) and broadcasts.
    # Cosine scoring ⇒ the valid_norm contract on both sides. No
    # barrier on the hoisted norms — see cosine_topk's expr branch for
    # the measured rationale (the cell assignment DOES ride a barrier,
    # inside ivf_assign, where it measured −20% interleaved).
    q = (
        corpus.filter(F.col(id_col).isin(list(query_ids)))
        .filter(size_ok(F.col(vec_col), len(centroids[0][1])))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
            F.explode(nearest_cells(vec_col, centroids, nprobe)).alias("qcell"),
        )
        .filter(valid_norm(F.col("qn")))
    )
    c = (
        assigned.filter(size_ok(F.col(vec_col), len(centroids[0][1])))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            F.col("cell"),
            norm(F.col(vec_col)).alias("cn"),
        )
        .filter(valid_norm(F.col("cn")))
    )
    return _rank_topk(
        _score_broadcast(c, q, round_ndigits, on=F.col("cell") == F.col("qcell")), k
    )


def ivf_write(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    path: str,
    mode: str = "overwrite",
    engine: str = "expr",
) -> None:
    """Persist the corpus as an IVF index: cell-assigned and
    ``partitionBy(cell)``-partitioned parquet. At 100 TB this is the
    storage half of the ANN story — a probe reads only its cells'
    directories (partition pruning), so serving cost is
    ``nprobe/n_cells`` of the corpus in IO, not just in compute.
    ``engine='pandas'`` scores assignment with BLAS — the right kernel
    for a large-k index build (see :func:`ivf_assign`).

    ``mode='append'`` is the incremental-maintenance path (at 100 TB an
    index is appended to, not rebuilt per batch): the new batch is
    assigned against the FROZEN centroids passed here — which must be
    the ones the index was built with, or probe-time cell selection
    (same centroids, :func:`probe_cells_for_queries`) would disagree
    with storage-time placement and silently miss neighbors — and its
    files land inside the existing ``cell=`` directories, so a stored
    probe serves the union with unchanged pruning. Centroid-drift
    policy: appending never updates centroids; as the appended
    distribution drifts, cells imbalance and recall for a fixed
    ``nprobe`` decays, so re-fit + full rebuild (``mode='overwrite'``)
    when monitoring shows cell-population skew or recall beyond
    tolerance. Appends are also not transactional on plain parquet —
    serialize writers, or layer a table format (Delta/Iceberg) for
    concurrent maintenance."""
    assigned = ivf_assign(corpus, id_col, vec_col, centroids, engine=engine)
    assigned.write.mode(mode).partitionBy("cell").parquet(path)


def ivf_index_stats(
    spark,
    path: str,
    n_cells: int | None = None,
    skew_threshold: float = 4.0,
) -> dict:
    """Cell-population health of an :func:`ivf_write` index — the
    monitoring callable behind :func:`ivf_write`'s centroid-drift
    policy ("re-fit + rebuild when monitoring shows cell-population
    skew", which was prose until this existed; r10 verdict item 5).

    Reads ONLY the ``cell`` partition column (materialized from the
    ``cell=`` directory names — no data columns leave the scan, and
    the count is answerable from parquet row-group metadata), so the
    check costs metadata IO even on a 100 TB index. The reference
    surfaces table health through its web route
    (``runtime/web.rs:19-190``); here it is a plain dict a caller can
    alert on, and :class:`~callysto_spark.runtime.web.OpsServer` user
    pages can render.

    Returns ``cells`` (population per cell id), ``n_cells_observed``,
    ``rows``, ``min``/``max``/``mean`` population, ``skew`` (max/mean
    — ~1.0 for a healthy k-means layout, growing as appended data
    drifts from the frozen centroids), ``empty_cells`` (only when
    ``n_cells``, the fitted centroid count, is passed — cells whose
    directory vanished or never filled), and ``rebuild_recommended``:
    True when ``skew > skew_threshold`` or any fitted cell is empty.
    The default threshold is deliberately loose — a drifted append
    concentrates mass into few cells and blows past 4x (see
    tests/test_layout.py), while organic imbalance on a fitted corpus
    stays near 1-2x; tune per recall tolerance.
    """
    counts = {
        int(r["cell"]): r["n"]
        for r in spark.read.parquet(path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: one row per cell (k rows), never corpus rows
    }
    rows = sum(counts.values())
    mean = rows / len(counts) if counts else 0.0
    skew = (max(counts.values()) / mean) if counts and mean else 0.0
    empty = sorted(set(range(n_cells)) - set(counts)) if n_cells is not None else None
    out = {
        "cells": counts,
        "n_cells_observed": len(counts),
        "rows": rows,
        "min": min(counts.values()) if counts else 0,
        "max": max(counts.values()) if counts else 0,
        "mean": round(mean, 1),
        "skew": round(skew, 2),
        "rebuild_recommended": bool(skew > skew_threshold or (empty and len(empty) > 0)),
    }
    if empty is not None:
        out["empty_cells"] = empty
    return out


def probe_cells_for_queries(
    queries: list[tuple[int, list[float]]],
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
) -> list[tuple[int, list[float], list[int]]]:
    """Driver-side probe-cell selection: for each CLEAN query, the
    ``nprobe`` nearest centroids by squared L2 (ties broken by cell id).

    A dirty caller-supplied query (wrong dim, NaN/Inf element, zero
    norm) would pick arbitrary probe cells and rank NaN sims FIRST —
    excluded instead, the same contract the distributed paths enforce.

    The single rule the :func:`ivf_topk_stored` serve path uses: a
    separate copy that drifts (different metric, tie-break, or a skipped
    cleanliness filter) would certify a different algorithm than the one
    served.
    """
    import math

    out: list[tuple[int, list[float], list[int]]] = []
    exp_dim = len(centroids[0][1]) if centroids else 0
    for qid, qv in queries:
        if qv is None or len(qv) != exp_dim or any(x is None for x in qv):
            continue
        n2 = sum(float(x) * float(x) for x in qv)
        if not (math.isfinite(n2) and n2 > 0):
            continue
        dists = sorted(
            (sum((float(x) - float(y)) ** 2 for x, y in zip(qv, cv)), cid) for cid, cv in centroids
        )
        out.append((qid, [float(x) for x in qv], [cid for _, cid in dists[:nprobe]]))
    return out


def ivf_topk_stored(
    spark,
    path: str,
    id_col: str,
    vec_col: str,
    queries: list[tuple[int, list[float]]],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 1,
    round_ndigits: int | None = None,
) -> DataFrame:
    """Serve ANN top-k from an :func:`ivf_write` index.

    Query vectors are driver-side (the serving shape); their probe
    cells are computed driver-side against the same centroids
    (:func:`probe_cells_for_queries`), and the scan filters
    ``cell IN (probe cells)`` — which lands in the parquet
    PartitionFilters, pruning every non-probed cell directory before
    any IO (pinned by tests/test_layout.py).

    CHANGE (r8): the shared ``_score_broadcast`` serve contract drops
    NULL-similarity rows for ALL three cosine serve paths. Before the
    r8 single-sourcing, a dirty STORED index cell holding a
    wrong-length vector (NULL dot under zip_with padding) surfaced as
    trailing NULL-sim ranks; those rows now silently disappear from
    the top-k instead. Desirable — a corrupt stored vector should not
    occupy a rank — but consumers of pre-r8 stored indexes should know
    trailing NULL-sim ranks are gone (validate indexes at write time
    with :func:`ivf_write`, which only stores clean vectors).
    """
    rows = probe_cells_for_queries(queries, centroids, nprobe)
    probe_cells = {c for _, _, cells in rows for c in cells}
    if not rows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank int"
        )
    q = spark.createDataFrame(rows, f"query_id long, qv array<double>, qcells array<int>").select(
        "query_id", "qv", norm(F.col("qv")).alias("qn"), F.explode("qcells").alias("qcell")
    )
    index = spark.read.parquet(path).filter(F.col("cell").isin(sorted(probe_cells)))
    c = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "cell",
        norm(F.col(vec_col)).alias("cn"),
    ).filter(valid_norm(F.col("cn")))  # a stored cell may hold zero-norm vectors
    return _rank_topk(
        _score_broadcast(c, q, round_ndigits, on=F.col("cell") == F.col("qcell")), k
    )


def cosine_pairs_blocked(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
    dim: int | None = None,
) -> DataFrame:
    """All embedding pairs with cosine ≥ threshold, restricted to pairs
    sharing ``block_col`` (the IVF-style blocking key). The self-join
    shuffles on the block key only; within-block pair count is what the
    blocking scheme controls.

    Norms are hoisted BELOW the join — computed once per vector (n
    rows) instead of twice per candidate pair (O(n²/blocks) rows); the
    join then carries a scalar per side. Bit-identical to the per-pair
    form: same IEEE operations on the same values, so the ≥ threshold
    boundary and the oracle hash are unaffected.
    """
    from callysto_spark.operators.util import barrier_select

    base = (
        corpus.filter(size_ok(F.col(vec_col), dim))
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            F.col(block_col).alias("blk"),
            norm(F.col(vec_col)).alias("__nrm"),
        )
        # cleanliness on the hoisted norm: free, and one NaN/zero vector
        # can neither crash the block join nor rank NaN pairs (no
        # barrier here — see cosine_topk's expr branch for the measured
        # rationale; the per-pair scoring below does ride one)
        .filter(valid_norm(F.col("__nrm")))
    )
    a = base.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("va"), "blk", F.col("__nrm").alias("na")
    )
    b = base.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("vb"), "blk", F.col("__nrm").alias("nb")
    )
    return (
        barrier_select(
            a.join(b, "blk").filter(F.col("id_a") < F.col("id_b")),
            "blk",
            "id_a",
            "id_b",
            cosine_sim=dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("blk", "id_a", "id_b", "cosine_sim")
    )
