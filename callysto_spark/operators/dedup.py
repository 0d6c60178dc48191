"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

All four stay JVM-side (higher-order array functions + joins — no Python
UDFs), so they scale with the cluster: the only shuffles are the
candidate-pair/bucket joins (keyed so Catalyst/AQE can split skewed
buckets) and the skew-immune document/bucket-frequency prefilters
(partial-agg count → df band → left-semi, r8) that bound what any
aggregation buffer or bucket join can be asked to hold. Reference has no
dedup surface — its users would hand-roll this in an agent closure
(reference `callysto/src/types/agent.rs:120-143`); here it is
first-class, benchmarked, and skew-probed (SCALING.md "Stop-shingle
probes"). Each operator has ONE implementation: a vectorized Arrow
shingle kernel was measured 1.4-2.5x slower than the JVM form on
documents of 300 to 30,000 characters and removed (OPTIMIZATION_r16.md
and CHANGES.md hold the A/Bs).

Input contract: ``id_col`` is UNIQUE per row. Exact dedup is the
operator that ESTABLISHES that invariant for a raw corpus (its survivor
selection is total-ordered, so exact-duplicate ids collapse
deterministically — the composed clean-corpus pipeline runs it first
and is therefore duplicate-input-safe end-to-end); the similarity
primitives downstream (n-gram Jaccard, MinHash-LSH, SimHash) ASSUME it:
feeding them rows that share an id multiplies candidate pairs and
shifts df/bucket-frequency caps in engine-specific ways (measured by
the r15 duplicate-row sweep — see tests/test_dup_fuzz.py).
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from callysto_spark.operators.util import transient_persist

# Mersenne prime 2^31-1: (a*h + b) % P stays within int64 for a,b < P and
# h reduced mod P first.
_MERSENNE_P = (1 << 31) - 1

# Seed of the MinHash permutation parameters (``_hash_params``); the
# DuckDB oracle in queries/llm_ops.py inlines the same generator's
# output, so both engines run the identical permutations.
_MINHASH_SEED = 42

# SimHash signature width: 64 bits, a 16-char hex string.
_SIMHASH_BITS = 64


def string_hash(col: Column) -> Column:
    """The ``md5_60`` spec hash of a string column: the first 15 hex
    chars (60 bits) of the standard MD5 digest (RFC 1321) of the UTF-8
    string, parsed as a nonnegative int64 in [0, 2^60). Fully JVM-side
    and bit-identical in any engine with an md5() builtin
    (``spec_hash_sql`` is the DuckDB twin; 15 chars, not 16, so the value
    always fits signed int64), which is what lets a SQL oracle recompute
    every MinHash/SimHash/LSH/KMV output of this engine. Change the two
    together.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def spec_hash_sql(expr: str) -> str:
    """DuckDB SQL for the md5_60 spec hash of a VARCHAR expression: the
    oracle twin of ``string_hash``."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def dedup_exact(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column]) -> DataFrame:
    """Keep exactly one row per key, chosen by ``order_by`` (must be a
    total order for determinism — unlike ``dropDuplicates``, which keeps
    an arbitrary row). One shuffle on ``keys``.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of case-folded text (empty-safe), under the
    pinned cross-engine tokenizer contract (functions/compat.py:
    explicit ASCII whitespace class, casefold = lower + sigma fold +
    U+0307 strip — the points where Java regex/toLowerCase and DuckDB's
    RE2/utf8proc disagree)."""
    from callysto_spark.functions.compat import WS_CLASS, casefold_col

    return F.split(F.trim(casefold_col(text)), WS_CLASS + "+")


def stage_text(df: DataFrame, text_col: str) -> DataFrame:
    """The NULL contract every token-consuming kernel inherits: NULL
    text ⇒ no tokens ⇒ doc absent (SQL unnest-of-NULL semantics).
    Ranking NULL through a tokenizer instead gives every untexted doc
    the identical '' token stream — in the shingle pipelines that pairs
    ALL of them with each other, a quadratic false-pair blowup. Also
    re-parallelizes an under-partitioned input."""
    from callysto_spark.operators.util import ensure_parallelism

    return ensure_parallelism(df).filter(F.col(text_col).isNotNull())


def staged_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, __toks) staging shared by the shingle/winnow kernels:
    ``stage_text`` NULL contract, then the tokens array materialized
    through an ``explode(array(...))`` Generate barrier so the regex
    split runs ONCE per document (see ``shingle_arrays``)."""
    return stage_text(df, text_col).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array(tokens_col(F.col(text_col)))).alias("__toks"),
    )


def word_shingles(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED tokens column.

    The tokens argument must be a genuine attribute (use
    ``shingle_arrays``): a lambda that references an inline expression
    (e.g. the regex split itself) re-evaluates it per element —
    measured 12× slower on the documents table.
    """
    # Unrolled element_at instead of slice(): per-element array slicing
    # measured ~50× slower than n direct element accesses. try_element_at
    # (not element_at): docs shorter than n tokens index past the end,
    # which under ANSI mode would throw; try_element_at yields NULL and
    # concat_ws skips it, producing the truncated shingle the oracle
    # definition expects.
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", *[F.try_element_at(toks, i + k) for k in range(n)]),
        )
    )


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, gs): DISTINCT word n-gram shingles as an IN-ROW array —
    fully narrow, no shuffle, no window.

    The tokens array is materialized through an ``explode(array(...))``
    Generate barrier: CollapseProject cannot inline an expression
    through Generate, so the regex split runs ONCE per document. (A
    ``withColumn`` "materialization" gets collapsed back into every
    per-element lambda — measured 12× slower; the earlier alternative,
    posexplode → window lead → distinct, was correct but paid two extra
    exchanges (window on doc, distinct on (doc, g)) and was measured
    2.5× slower end-to-end on the capped-Jaccard pipeline.)

    Docs shorter than n tokens yield one truncated shingle (the
    ``try_element_at`` + ``concat_ws`` NULL-skip path in
    ``word_shingles``), matching the oracle definition.

    Memory note at scale: the shingle set lives in one row, so a
    pathological document costs its full shingle array in executor
    memory (a 10 MB doc ≈ tens of MB in-row). Real pipelines length-cap
    documents upstream (see ``doc_pipeline_clean_corpus``'s token
    filter); both the old exploded form and this one keep a document
    inside a single task either way.

    Because the whole pipeline is narrow (no shuffle, no window), it is
    also STREAMING-LEGAL: the same operator runs unchanged on a
    readStream DataFrame (see tests/test_streaming.py).

    r15 plan note: a downstream ``explode(gs)`` makes
    InferFiltersFromGenerate add ``size(gs) > 0``, which pushdown
    inlines below this project — the plan then SHOWS the shingle
    expression twice: once in a Filter on ``size(array_distinct(
    transform(sequence(...))))`` and again in the Project that feeds the
    Generate. Measured (r15,
    interleaved same-session A/B on the registry capped-Jaccard query):
    the duplication is NOT paid at runtime — the HOF expression makes
    both operators run interpreted with runtime subexpression
    elimination, and a third Generate barrier here (which would pin the
    single evaluation in-plan) measured within noise to slightly SLOWER
    (it materializes the full shingle array at the new operator
    boundary). Left in the measured-fastest original form.
    """
    return staged_tokens(df, id_col, text_col).select(
        "doc", word_shingles(F.col("__toks"), n).alias("gs")
    )


def _cap_buckets(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """``rows`` restricted to buckets (rows sharing ``keys``) holding
    2..``cap`` members: the skew-immune two-pass bucket cap shared by
    the capped Jaccard path and both banding candidate generators.

    The one-pass alternative — groupBy(keys).collect_list(...).filter(
    size <= cap) — applies the cap AFTER the aggregation has already
    buffered the bucket's full member list: a true stop-shingle
    (boilerplate n-gram present in 0.1-1% of a 100 TB corpus) or a
    template-cluster band bucket puts millions of rows into ONE group's
    aggregation buffer before the filter drops it — executor OOM at
    exactly the scale the cap exists for (round-7 verdict finding #1).
    Pass 1 counts members per bucket: count() partial-aggregates
    map-side, so even the hottest bucket contributes one long per map
    partition — skew-immune by construction. Pass 2 LEFT-SEMI joins the
    rows against the live bucket set BEFORE anything groups or pairs
    them: hot-bucket rows stream through the join probe and are dropped
    without ever being buffered, and every bucket downstream holds
    2..cap members by construction (no post-agg size filter needed).
    One extra bounded exchange (rows hashed on ``keys``) buys bounded
    memory; the semi-join output is already partitioned on ``keys``, so
    a following groupBy on them rides the same exchange.

    shuffle_hash hint on the build (live) side: without it the semi join
    plans as SortMergeJoin and SORTS the full row table by its key —
    measured 16.1s vs 3.95s at the 30x corpus on the capped Jaccard
    query (the sort was 75% of the query). The hash build side is only
    the distinct live buckets per partition, far smaller than the probe;
    at larger corpora the per-partition build scales down with shuffle
    partitions. At small SF, AQE may still upgrade it to a broadcast
    join — either way, no sort. Residual skew note: a hot bucket's rows
    are never BUFFERED, but they do transit the shuffle once into one
    probe partition's read; AQE skew-join (on — session.py) splits that
    probe partition across tasks with the build side replicated, so
    even the transit is parallel, not a straggler.
    """
    live = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= cap))
        .select(*keys)
    )
    return rows.join(live.hint("shuffle_hash"), keys, "left_semi")


def _bucket_pairs(banded: DataFrame, bucket: str, cap: int | None, *extra: Column) -> DataFrame:
    """Distinct (doc_a, doc_b, *extra) pairs, doc_a < doc_b, of docs
    sharing a (band, ``bucket``) row of ``banded`` — the banding
    self-join of LSH and SimHash candidates. ``banded`` is persisted (it
    feeds both join sides, and the cap's count pass) and, when ``cap``
    is set, first pruned to buckets of 2..cap members (``_cap_buckets``).
    ``extra`` columns may reference both sides as ``a.*`` / ``b.*``."""
    banded = transient_persist(banded)
    if cap is not None:
        banded = _cap_buckets(banded, ["band", bucket], cap)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{bucket}") == F.col(f"b.{bucket}"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"), *extra)
        .distinct()
    )


def _jaccard_above(pairs: DataFrame, union_sz: Column, threshold: float) -> DataFrame:
    """(doc_a, doc_b, inter, union_sz, jaccard) of the ``pairs`` whose
    int/int Jaccard (bit-deterministic, no rounding) is ≥ ``threshold``."""
    return (
        pairs.withColumn("union_sz", union_sz)
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "union_sz", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above ``threshold``.

    Two physical strategies behind one result contract:

    - ``max_doc_freq`` set (the 100 TB path): the document-frequency cap
      bounds every shingle bucket at ``max_doc_freq`` docs, so pairs are
      generated IN-ROW — a skew-immune ``groupBy(g).count()`` df pass,
      a left-semi join pruning shingle rows to the df-banded live set,
      then ``collect_list`` over buckets that are ≤ cap BY CONSTRUCTION
      and a bounded combinations expansion (≤ C(cap, 2) pairs per
      bucket). No corpus self-join; hot stop-shingle rows are dropped
      streaming through the semi-join probe, never buffered. ALWAYS set
      the cap at scale: it is simultaneously what keeps the pair count
      near-linear AND what makes the in-row expansion safe.
    - ``max_doc_freq`` unset (small-corpus exactness baseline): a hot
      shingle bucket is unbounded, so pairs come from a self-join on g
      (AQE splits skewed buckets) over a persisted shingle table.

    For the full 100 TB near-dup pipeline prefer ``minhash_signatures``
    → ``minhash_lsh_candidates`` → ``verify_candidate_pairs``: the
    corpus then never self-joins at all.

    Output: (doc_a, doc_b, inter, union_sz, jaccard) with doc_a < doc_b.
    jaccard is an int/int division — bit-deterministic, no rounding.
    """
    # In-row shingle arrays (see shingle_arrays): set size is just
    # size(gs) — no window, no distinct exchange; the explode to
    # (doc, n_sh, g) rows is narrow. Both strategies read the shingle
    # table twice (df pass + semi-join probe, or both self-join sides),
    # so it is persisted.
    arr = shingle_arrays(df, id_col, text_col, n)
    sh = transient_persist(
        arr.select("doc", F.size("gs").alias("n_sh"), F.explode("gs").alias("g"))
    )
    if max_doc_freq is not None:
        # Document-frequency cap (``_cap_buckets``): every shingle
        # bucket the collect_list sees holds 2..max_doc_freq members.
        # array_sort INSIDE the agg: collect_list order is partition-
        # dependent, and sorting there yields a materialized attribute
        # (the Aggregate is a projection barrier — an outer array_sort
        # would be CollapseProject-inlined into every element_at).
        # n_sh stays the FULL set size — standard filtered-candidate
        # jaccard divides by the true union.
        buckets = (
            _cap_buckets(sh, ["g"], max_doc_freq)
            .groupBy("g")
            .agg(F.array_sort(F.collect_list(F.struct("doc", "n_sh"))).alias("ds"))
        )
        ds = F.col("ds")
        combos = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(ds) - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, F.size(ds)),
                    lambda j: F.struct(
                        F.element_at(ds, i).alias("a"), F.element_at(ds, j).alias("b")
                    ),
                ),
            )
        )
        pairs = (
            buckets.select(F.explode(combos).alias("p"))
            .select(
                F.col("p.a.doc").alias("doc_a"),
                F.col("p.b.doc").alias("doc_b"),
                F.col("p.a.n_sh").alias("na"),
                F.col("p.b.n_sh").alias("nb"),
            )
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count("*").alias("inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        pairs = (
            a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(
                F.col("a.doc").alias("doc_a"),
                F.col("b.doc").alias("doc_b"),
                F.col("a.n_sh").alias("na"),
                F.col("b.n_sh").alias("nb"),
            )
            .agg(F.count("*").alias("inter"))
        )
    return _jaccard_above(pairs, F.col("na") + F.col("nb") - F.col("inter"), threshold)


def verify_candidate_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact Jaccard verification restricted to CANDIDATE pairs — stage
    two of the canonical 100 TB near-dup pipeline (stage one:
    minhash_lsh_candidates). The full corpus never self-joins: shingle
    ARRAYS are built only for docs appearing in a candidate pair (semi
    join), each candidate pair picks up both docs' arrays via two
    key-equi joins, and the intersection is computed IN-ROW with
    ``array_intersect`` — no shingle explode, no pair join on the
    shingle key, total work O(|candidates| · shingles/doc).

    ``candidates``: (doc_a, doc_b) with doc_a < doc_b. Output matches
    ngram_jaccard_pairs' schema, filtered to candidates ∩ threshold.
    """
    # candidates is typically a full LSH pipeline — persist: it feeds the
    # touched-docs semi join AND both sides of the pair assembly
    cand = transient_persist(candidates.select("doc_a", "doc_b").distinct())
    touched = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    # shuffle_hash hint (r15): without it this semi join plans as
    # SortMergeJoin and SORTS the corpus side by id (the same pathology
    # the bucket-cap prefilter hit — see _cap_buckets);
    # the build side is the bounded touched-doc id set.
    narrowed = df.join(
        touched.withColumnRenamed("doc", id_col).hint("shuffle_hash"),
        id_col,
        "left_semi",
    )
    arr = transient_persist(shingle_arrays(narrowed, id_col, text_col, n))
    a = arr.select(F.col("doc").alias("doc_a"), F.col("gs").alias("gs_a"))
    b = arr.select(F.col("doc").alias("doc_b"), F.col("gs").alias("gs_b"))
    paired = cand.join(a, "doc_a").join(b, "doc_b")
    return _jaccard_above(
        paired.select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("gs_a", "gs_b")).alias("inter"),
            (F.size("gs_a") + F.size("gs_b")).alias("__sz"),
        ),
        F.col("__sz") - F.col("inter"),
        threshold,
    )


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    rng = random.Random(_MINHASH_SEED)
    return [(rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P)) for _ in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    n: int = 4,
) -> DataFrame:
    """MinHash signature per document over word n-gram shingles.

    Shingles are hashed with the portable ``md5_60`` spec hash
    (``string_hash``, which a SQL oracle can recompute), then permuted with
    ``(a_i*h + b_i) mod 2^31-1``; the signature is the per-permutation
    minimum, computed ENTIRELY in-row over the document's shingle-hash
    array (``array_min`` over a ``transform`` per permutation): zero
    Python in the data path, embarrassingly parallel, ZERO shuffle —
    the whole signature stage is a narrow map at any corpus size. The
    hash array is materialized through a second Generate barrier so the
    shingle-hash pass runs once, not once per permutation.
    """
    params = _hash_params(num_hashes)
    arr = shingle_arrays(df, id_col, text_col, n)
    hashed = arr.select(
        "doc",
        F.explode(
            F.array(
                F.transform(
                    F.col("gs"),
                    lambda g: F.pmod(string_hash(g), F.lit(_MERSENNE_P)),
                )
            )
        ).alias("hs"),
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("hs"), lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE_P))
                )
            )
            for a, b in params
        ]
    )
    return hashed.select("doc", sig.alias("signature"))


def minhash_lsh_candidates(
    sig_df: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_freq: int | None = None,
) -> DataFrame:
    """LSH banding over minhash signatures → candidate near-dup pairs.

    Each signature is cut into ``bands`` bands of ``rows_per_band``; docs
    colliding on any whole band become a candidate pair. The join is on
    (band_idx, band_hash) — high-cardinality buckets, so the shuffle is
    balanced; a hot bucket (boilerplate docs) is exactly the skew AQE
    splits. The band hash is the same ``string_hash`` as the signatures
    (comma-joined band values as the input string). Output: distinct
    (doc_a, doc_b).

    ``max_bucket_freq`` (the 100 TB knob): a bucket shared by m docs
    emits C(m, 2) pairs — a template cluster of 1M near-identical docs
    makes the candidate OUTPUT itself quadratic, which no join strategy
    (AQE skew-split included — it balances the shuffle, not the output)
    can un-explode. Capping drops buckets with more than
    ``max_bucket_freq`` members BEFORE the self-join via the same
    skew-immune two-pass as the capped Jaccard path (``_cap_buckets``):
    hot-bucket rows stream through the probe and are dropped, never
    buffered or paired. Recall note: members of an over-cap bucket are
    near-identical docs that collide in MANY buckets, so they almost
    surely still pair through a below-cap band; production pipelines
    also exact-dedup before LSH, which removes the main source of
    mega-buckets. Measured in SCALING.md ("Stop-shingle probes").
    """
    # guard the banding geometry IN-PLAN: with bands*rows_per_band >
    # len(signature), F.slice past the end returns [] and every doc
    # hashes the empty string identically on the out-of-range bands —
    # the (band, bh) self-join then degenerates into a full corpus
    # cross-join (O(n^2) pairs, runaway shuffle) with zero warning.
    # raise_error at the first row beats that silently at any scale;
    # a LONGER signature is only a recall loss, flagged in the message.
    need = bands * rows_per_band
    sig_ok = F.when(
        F.size(F.col("signature")) < F.lit(need),
        F.raise_error(
            F.concat(
                F.lit(
                    f"minhash_lsh_candidates: bands({bands}) * rows_per_band"
                    f"({rows_per_band}) = {need} exceeds signature length "
                ),
                F.size(F.col("signature")).cast("string"),
                F.lit(" — pass num_hashes >= bands*rows_per_band to minhash_signatures"),
            )
        ),
    ).otherwise(F.col("signature"))
    banded = sig_df.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    string_hash(
                        F.concat_ws(",", F.transform(F.slice(sig_ok, b * rows_per_band + 1, rows_per_band), lambda x: x.cast("string"))),
                    ).alias("bh"),
                ),
            )
        ).alias("bk"),
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    return _bucket_pairs(banded, "bh", max_bucket_freq)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document over whitespace tokens, as a 16-char
    hex string.

    Per-bit vote: +1 if the token hash has the bit set, −1 otherwise;
    sign of the total sets the output bit. Implemented as a fold over the
    token-hash array with a per-bit counter array (higher-order
    functions, per-row local — no shuffle at all). Hex output avoids
    signed-64 overflow under ANSI.

    The ``md5_60`` token hash has 60 effective bits, so the top 4 output
    bits are always 0 (every token votes −1 there) — deterministic, with
    band 0 of a 4-band blocking carrying 12 useful bits instead of 16.
    """
    bits = _SIMHASH_BITS
    staged = stage_text(df, text_col).withColumn(
        "__hashes",
        F.transform(tokens_col(F.col(text_col)), string_hash),
    )
    hashes = F.col("__hashes")
    bit_idx = F.sequence(F.lit(bits - 1), F.lit(0))  # MSB first
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda c, i: c + F.when(F.bit_get(h, i) == 1, 1).otherwise(-1),
        ),
    )
    bitstr = F.array_join(
        F.transform(counts, lambda c: F.when(c > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )
    sim = F.lpad(F.conv(bitstr, 2, 16), bits // 4, "0")
    return staged.select(F.col(id_col).alias("doc"), sim.alias("simhash"))


def simhash_candidates(
    sim_df: DataFrame,
    bands: int = 4,
    max_hamming: int | None = None,
    max_bucket_freq: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from SimHash hex signatures by banded
    blocking — the pigeonhole principle: two signatures within Hamming
    distance ``bands − 1`` MUST agree exactly on at least one of
    ``bands`` equal slices, so bucketing each slice and joining on
    (band, slice) finds every such pair without a corpus self-join.
    Same shuffle shape as ``minhash_lsh_candidates``: a high-cardinality
    (band, slice) bucket join AQE can split on skew.

    ``sim_df``: (doc, simhash) as produced by :func:`simhash`.
    ``max_hamming`` (≤ bands−1, default bands−1) additionally verifies
    the exact Hamming distance in-row on the candidate pair — still no
    extra shuffle. Output: (doc_a, doc_b, hamming) with doc_a < doc_b.

    ``max_bucket_freq``: same quadratic-output guard as
    :func:`minhash_lsh_candidates` — a (band, slice) bucket with m
    members emits C(m, 2) pairs, so template clusters are dropped
    before the self-join via the skew-immune two-pass prefilter
    (``_cap_buckets``; see :func:`minhash_lsh_candidates` for the recall
    argument and the SCALING.md measurement).
    """
    if max_hamming is None:
        max_hamming = bands - 1
    if max_hamming > bands - 1:
        raise ValueError(
            f"banded blocking with {bands} bands only guarantees recall up to "
            f"hamming {bands - 1}; raise bands or lower max_hamming"
        )
    width = (F.length("simhash") / bands).cast("int")  # bits/4 hex chars, divisible for pow-2 bands
    banded = sim_df.select(
        "doc",
        "simhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.substr("simhash", b * width + 1, width).alias("slice"),
                ),
            )
        ).alias("bk"),
    ).select("doc", "simhash", F.col("bk.band").alias("band"), F.col("bk.slice").alias("slice"))
    # exact Hamming distance between hex strings, in-row: per hex digit,
    # popcount of xor — conv to int then bit_count
    ham = F.aggregate(
        F.zip_with(
            F.split(F.col("a.simhash"), ""),
            F.split(F.col("b.simhash"), ""),
            lambda x, y: F.bit_count(
                F.conv(x, 16, 10).cast("long").bitwiseXOR(F.conv(y, 16, 10).cast("long"))
            ),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return _bucket_pairs(banded, "slice", max_bucket_freq, ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
