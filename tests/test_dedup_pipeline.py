"""Two-stage near-dup pipeline quality contracts: LSH candidates must
catch planted near-duplicates, and exact verification on candidates
must agree with the full-corpus exact operator wherever they overlap."""

from __future__ import annotations

from pyspark.sql import functions as F

from callysto_spark.operators.dedup import (
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    verify_candidate_pairs,
)
from callysto_spark.tables import load


def _planted_corpus(spark, sf_dir, n_twins=30):
    d = load(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    twins = (
        d.filter(F.col("doc_id") < n_twins)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" planted")).alias("text"),
        )
    )
    return d.unionByName(twins), n_twins


def test_lsh_recall_on_planted_near_dups(spark, sf_dir):
    """Every planted one-token twin (~0.9 Jaccard) is a candidate pair
    on the md5_60 hash the registry rows and their oracles run."""
    corpus, n_twins = _planted_corpus(spark, sf_dir)
    sigs = minhash_signatures(corpus, "doc_id", "text", num_hashes=64, n=4)
    cands = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    planted = {(i, i + 100000) for i in range(n_twins)}
    got = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
    recall = len(planted & got) / len(planted)
    assert recall >= 0.95, f"LSH recall on ~0.9-jaccard twins: {recall:.2f}"


def test_verified_pairs_agree_with_exact(spark, sf_dir):
    """verify_candidate_pairs(candidates) must be exactly the exact
    operator's output restricted to the candidate set — same jaccard
    values, nothing extra."""
    corpus, _ = _planted_corpus(spark, sf_dir)
    sigs = minhash_signatures(corpus, "doc_id", "text", num_hashes=64, n=4)
    cands = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    verified = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in verify_candidate_pairs(corpus, cands, "doc_id", "text", n=4, threshold=0.6).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in ngram_jaccard_pairs(corpus, "doc_id", "text", n=4, threshold=0.6).collect()
    }
    cand_set = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
    expected = {p: v for p, v in exact.items() if p in cand_set}
    assert verified == expected
    assert len(verified) >= 25, "planted twins must survive verification"


def test_simhash_candidates_banded_hamming(spark):
    """Pigeonhole recall: near-identical docs (small Hamming distance
    between simhashes) must surface as candidates with their EXACT
    hamming distance; unrelated docs must not pair at a tight
    max_hamming. Identical docs pair at hamming 0."""
    from callysto_spark.operators.dedup import simhash, simhash_candidates

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (3, "an entirely different document about database engines and shuffles"),
        (4, "the quick brown fox jumps over the lazy dog again and again today"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"]).repartition(4)
    sims = simhash(df, "doc_id", "text")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidates(sims, bands=4, max_hamming=3).collect()
    }
    assert pairs.get((1, 4)) == 0, f"identical docs must pair at hamming 0: {pairs}"
    # hamming values are exact: recompute driver-side from the signatures
    sig = {r["doc"]: r["simhash"] for r in sims.collect()}

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    for (x, y), h in pairs.items():
        assert h == ham(sig[x], sig[y]), f"pair ({x},{y}) hamming mismatch"
    for (x, y), h in pairs.items():
        assert h <= 3


def test_md5_60_spec_hash_matches_hashlib(spark):
    """The md5_60 hash is spec-defined: first 15 hex chars of the
    standard MD5 digest parsed as an int. Pin the Spark expression
    (string_hash) and its DuckDB twin (spec_hash_sql) against Python's
    hashlib on the same strings, so the oracle side, the Spark side and
    the written spec can never drift independently."""
    import hashlib

    import duckdb

    from callysto_spark.operators.dedup import spec_hash_sql, string_hash

    vals = ["hello world", "", "a b c", "ünïcode tøkens", "planted"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", string_hash(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got_sql = dict(con.execute(f"SELECT s, {spec_hash_sql('s')} FROM t").fetchall())
    con.close()
    for v in vals:
        expect = int(hashlib.md5(v.encode("utf-8")).hexdigest()[:15], 16)
        assert got[v] == expect, f"Spark md5_60({v!r}): {got[v]} != {expect}"
        assert got_sql[v] == expect, f"DuckDB md5_60({v!r}): {got_sql[v]} != {expect}"


def test_lsh_recall_planted_md5_60_engine(spark, sf_dir):
    """The md5_60 LSH as the registry runs it (doc_minhash_lsh_pairs:
    the shared mega-bucket cap on) keeps the recall contract: the cap
    drops boilerplate buckets, never a planted one-token twin's."""
    from callysto_spark.queries.llm_ops import _LSH_BUCKET_CAP

    corpus, n_twins = _planted_corpus(spark, sf_dir)
    sigs = minhash_signatures(corpus, "doc_id", "text", num_hashes=64, n=4)
    cands = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4, max_bucket_freq=_LSH_BUCKET_CAP)
    planted = {(i, i + 100000) for i in range(n_twins)}
    got = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
    recall = len(planted & got) / len(planted)
    assert recall >= 0.9, f"md5_60 LSH recall {recall} below contract"


def test_md5_60_minhash_and_simhash_match_python_reference(spark):
    """Third-implementation parity: recompute MinHash signatures and
    SimHash hex digests in pure Python (hashlib + the published spec:
    60-bit md5-prefix hash, (a*h+b) mod 2^31-1 permutations, per-bit
    votes) and compare against the Spark operators. With the DuckDB
    oracle this gives three independent implementations agreeing
    bit-for-bit."""
    import hashlib
    import re

    from callysto_spark.operators.dedup import (
        _MERSENNE_P,
        _hash_params,
        minhash_signatures,
        simhash,
    )

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spark line column order small sort column sort fast value"),
        (2, "Short doc"),
        (3, ""),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"]).repartition(2)

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def shingles(text: str, n: int = 4) -> list[str]:
        toks = re.split(r"\s+", text.strip().lower())
        upper = max(len(toks) - (n - 1), 1)
        return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(upper)))

    params = _hash_params(64)
    want_sig = {}
    for doc_id, text in docs:
        hs = [h60(g) % _MERSENNE_P for g in shingles(text)]
        want_sig[doc_id] = [min((a * h + b) % _MERSENNE_P for h in hs) for a, b in params]
    got_sig = {
        r["doc"]: list(r["signature"])
        for r in minhash_signatures(df, "doc_id", "text", num_hashes=64, n=4).collect()
    }
    assert got_sig == want_sig

    def py_simhash(text: str, bits: int = 64) -> str:
        toks = re.split(r"\s+", text.strip().lower())
        votes = [0] * bits
        for t in toks:
            h = h60(t)
            for i in range(bits):
                votes[i] += 1 if (h >> i) & 1 else -1
        val = sum(1 << i for i in range(bits) if votes[i] > 0)
        return format(val, "016X")

    got_sim = {
        r["doc"]: r["simhash"]
        for r in simhash(df, "doc_id", "text").collect()
    }
    want_sim = {doc_id: py_simhash(text) for doc_id, text in docs}
    assert got_sim == want_sim


def test_minhash_banding_geometry_guard(spark):
    """bands*rows_per_band beyond the signature length used to hash the
    empty slice identically for EVERY doc on the out-of-range bands —
    the band self-join degenerated into a full corpus cross-join
    (silent O(n^2)). The geometry is now guarded in-plan with a located
    raise_error (r7 review)."""
    import pytest

    from callysto_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i k")],
        "doc long, text string",
    )
    ok = minhash_lsh_candidates(minhash_signatures(docs, "doc", "text", num_hashes=64))
    assert ok.count() >= 1  # matching geometry still finds the near-dup pair

    short = minhash_signatures(docs, "doc", "text", num_hashes=32)
    with pytest.raises(Exception, match="exceeds signature length"):
        minhash_lsh_candidates(short).count()  # 16*4=64 > 32


def test_lsh_bucket_cap_drops_template_cluster_keeps_twins(spark, sf_dir):
    """max_bucket_freq (the 100 TB quadratic-output guard): a template
    cluster of m near-identical docs fills whole band buckets and emits
    C(m, 2) candidate pairs — output-quadratic no matter how the join
    is scheduled. With the cap below the cluster size, every cluster
    bucket is dropped BEFORE the self-join (no cluster pairs survive,
    since the cluster members collide in EVERY band), while ordinary
    planted twins keep pairing through their size-2 buckets."""
    corpus, n_twins = _planted_corpus(spark, sf_dir)
    cluster = [(10_000_000 + i, "template boilerplate header repeated across the fleet " * 4) for i in range(12)]
    corpus = corpus.unionByName(
        spark.createDataFrame(cluster, ["doc_id", "text"])
    )
    sigs = minhash_signatures(corpus, "doc_id", "text", num_hashes=64, n=4)
    planted = {(i, i + 100000) for i in range(n_twins)}
    cluster_ids = {cid for cid, _ in cluster}

    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(sigs, bands=16, rows_per_band=4).collect()
    }
    cluster_pairs = {(a, b) for (a, b) in uncapped if a in cluster_ids and b in cluster_ids}
    assert len(cluster_pairs) == 12 * 11 // 2, "identical cluster must pair quadratically uncapped"

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(
            sigs, bands=16, rows_per_band=4, max_bucket_freq=8
        ).collect()
    }
    assert not any(a in cluster_ids and b in cluster_ids for a, b in capped), (
        "cap must drop the over-cap template buckets"
    )
    recall = len(planted & capped) / len(planted)
    assert recall >= 0.95, f"cap must not hurt ordinary twin recall: {recall:.2f}"


def test_simhash_bucket_cap_drops_template_cluster(spark):
    """Same guard on the SimHash banding path: identical template docs
    share every (band, slice) bucket; with the cap below the cluster
    size no cluster pair survives, while a distinct near-identical twin
    pair (its own size-2 buckets) still surfaces."""
    from callysto_spark.operators.dedup import simhash, simhash_candidates

    docs = [(i, "template boilerplate header repeated across the fleet pages today") for i in range(10)]
    docs += [
        (100, "the quick brown fox jumps over the lazy dog again and again today"),
        (101, "the quick brown fox jumps over the lazy dog again and again tonight"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"]).repartition(4)
    sims = simhash(df, "doc_id", "text")
    # the twins' md5_60 simhashes are 4 bits apart, so 8 bands (recall
    # guaranteed up to hamming 7) rather than 4 (up to 3)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_candidates(sims, bands=8, max_hamming=4, max_bucket_freq=4).collect()
    }
    assert (100, 101) in capped, "size-2 twin buckets must survive the cap"
    assert not any(a < 100 and b < 100 for a, b in capped), f"cluster pairs leaked: {capped}"


def test_lsh_banding_cap_semantics_match_python_reference(spark):
    """Property test for the FULL banding + bucket-cap semantics (r9):
    on hypothesis-generated corpora with forced duplicate clusters, the
    capped candidate set must equal exactly

        {(a, b) : a < b share a (band, band_hash) bucket
                  whose document frequency is in [2, cap]}

    recomputed by a pure-Python third implementation (hashlib md5_60
    spec hash, affine permutations, band hashes) — and the uncapped set
    must equal the same with the df ceiling removed. This pins the
    two-pass df prefilter's semantics beyond the fixed oracle corpus:
    any drift in band slicing, band hashing, df counting, or the
    [2, cap] boundary shows up as a set mismatch."""
    import hashlib
    import re
    from collections import defaultdict

    from hypothesis import HealthCheck, given, settings, strategies as st

    from callysto_spark.operators.dedup import (
        _MERSENNE_P,
        _hash_params,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    TOKENS = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel"]
    text_st = st.lists(st.sampled_from(TOKENS), min_size=4, max_size=20).map(" ".join)

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def shingles(text: str, n: int = 4) -> list[str]:
        toks = re.split(r"\s+", text.strip().lower())
        upper = max(len(toks) - (n - 1), 1)
        return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(upper)))

    params = _hash_params(32)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def run(data):
        # a small text pool sampled WITH replacement: duplicate clusters
        # are near-certain, so buckets with df > cap actually occur
        pool = data.draw(st.lists(text_st, min_size=2, max_size=5))
        texts = data.draw(st.lists(st.sampled_from(pool), min_size=4, max_size=12))
        cap = data.draw(st.integers(min_value=2, max_value=4))
        docs = list(enumerate(texts))

        want_sigs = {}
        for doc_id, text in docs:
            hs = [h60(g) % _MERSENNE_P for g in shingles(text)]
            want_sigs[doc_id] = [min((a * h + b) % _MERSENNE_P for h in hs) for a, b in params]
        buckets = defaultdict(set)
        for doc_id, sig in want_sigs.items():
            for b in range(8):
                bh = h60(",".join(str(v) for v in sig[4 * b : 4 * b + 4]))
                buckets[(b, bh)].add(doc_id)
        want_uncapped, want_capped = set(), set()
        for members in buckets.values():
            ms = sorted(members)
            pairs = {(a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]}
            want_uncapped |= pairs
            if 2 <= len(members) <= cap:
                want_capped |= pairs

        df = spark.createDataFrame(docs, ["doc_id", "text"]).repartition(3)
        sigs = minhash_signatures(df, "doc_id", "text", num_hashes=32, n=4)
        got_capped = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(
                sigs, bands=8, rows_per_band=4, max_bucket_freq=cap
            ).collect()
        }
        got_uncapped = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(sigs, bands=8, rows_per_band=4).collect()
        }
        assert got_capped == want_capped, f"cap={cap}: {got_capped ^ want_capped}"
        assert got_uncapped == want_uncapped
        assert got_capped <= got_uncapped

    run()


def test_simhash_candidates_semantics_match_python_reference(spark):
    """Property test for simhash_candidates (banded blocking + exact
    in-row Hamming verify + bucket cap) directly on hypothesis-generated
    hex signatures: the output must equal exactly

        {(a, b, hamming(a,b)) : a < b share a (band, slice) bucket
                                [with df in [2, cap] when capped]
                                and hamming(a, b) <= max_hamming}

    recomputed in pure Python. Pins slice widths, the bucket-df
    boundary, and the per-hex-digit popcount Hamming fold on arbitrary
    signature clusters (mutated copies of a base — shared slices and
    near-misses are forced)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from callysto_spark.operators.dedup import simhash_candidates

    HEX = "0123456789ABCDEF"

    def ham(x: str, y: str) -> int:
        return sum(bin(int(a, 16) ^ int(b, 16)).count("1") for a, b in zip(x, y))

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def run(data):
        base = data.draw(st.text(HEX, min_size=16, max_size=16))
        n_docs = data.draw(st.integers(4, 10))
        sigs = {}
        for doc in range(n_docs):
            s = list(base)
            for _ in range(data.draw(st.integers(0, 4))):
                pos = data.draw(st.integers(0, 15))
                s[pos] = data.draw(st.sampled_from(HEX))
            sigs[doc] = "".join(s)
        bands = data.draw(st.sampled_from([2, 4]))
        cap = data.draw(st.sampled_from([None, 2, 3]))
        max_hamming = data.draw(st.integers(1, bands - 1)) if bands > 2 else 1

        width = 16 // bands
        from collections import defaultdict

        buckets = defaultdict(set)
        for doc, s in sigs.items():
            for b in range(bands):
                buckets[(b, s[b * width : (b + 1) * width])].add(doc)
        want = set()
        for members in buckets.values():
            if cap is not None and not (2 <= len(members) <= cap):
                continue
            ms = sorted(members)
            for i, a in enumerate(ms):
                for b2 in ms[i + 1 :]:
                    h = ham(sigs[a], sigs[b2])
                    if h <= max_hamming:
                        want.add((a, b2, h))

        df = spark.createDataFrame(list(sigs.items()), ["doc", "simhash"]).repartition(3)
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_candidates(
                df, bands=bands, max_hamming=max_hamming, max_bucket_freq=cap
            ).collect()
        }
        assert got == want, f"bands={bands} cap={cap} mh={max_hamming}: {got ^ want}"

    run()


def test_shingle_arrays_match_duckdb_on_pathological_text(spark):
    """``shingle_arrays`` must produce, per doc, exactly the shingle set
    the DuckDB oracles build from ``compat.tokens_sql()`` — the oracle
    half of the tokenizer contract. Exercises every divergence class the
    text fuzz ever caught (Java SpecialCasing vs utf8proc: final sigma,
    Turkish İ; \\x0B whitespace; trailing-empty split semantics;
    truncated shingles; blank text) plus titlecase digraphs, ligatures
    and a deterministic random soup."""
    import random

    import duckdb
    import pyarrow as pa

    from callysto_spark.functions.compat import tokens_sql
    from callysto_spark.operators.dedup import shingle_arrays

    rng = random.Random(0xC0FFEE)
    alphabet = (
        "ab σΣςİIıẞßǄǅǆ̇\t\n\x0b\x0c\r  你🚀ﬁⅢ​.*(" + "e"
    )
    soup = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(160)
    ]
    fixed = [
        "", "   \t\n  ", "one two three four five six",
        "İstanbul ΣΑΣ ΤΕΛΟΣ Σ. straße GROSSẞ",
        "a\tb\x0bc\x0cd\re\nf", "x" * 2000, ("tok " * 50).strip(),
        "  leading and trailing  ", "end\tσ", "ǅungla ǄUNGLA ǆungla",
    ]
    texts = fixed + soup
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    with duckdb.connect() as con:
        con.register(
            "docs",
            pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        )
        for n in (2, 4):
            jvm = {
                (r["doc"], frozenset(r["gs"]), len(r["gs"]))
                for r in shingle_arrays(df, "doc_id", "text", n).collect()
            }
            oracle_sql = f"""
                WITH toks AS (SELECT doc_id, {tokens_sql()} AS toks FROM docs)
                SELECT doc_id, list_distinct(
                         [array_to_string(toks[i:i+{n - 1}], ' ')
                          for i in range(1, greatest(length(toks) - {n - 1}, 1) + 1)])
                FROM toks
            """
            oracle = {
                (doc, frozenset(gs), len(gs)) for doc, gs in con.execute(oracle_sql).fetchall()
            }
            assert jvm == oracle, (
                f"n={n}: shingle_arrays diverges from the DuckDB oracle: "
                f"{list(jvm ^ oracle)[:4]}"
            )


def test_shingle_arrays_null_and_type_contract(spark):
    """NULL text rows are absent (stage_text contract), blank text
    yields the single empty shingle, and the doc column keeps the id
    column's type."""
    from callysto_spark.operators.dedup import shingle_arrays

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, "")], "doc_id long, text string"
    )
    out = shingle_arrays(df, "doc_id", "text", 4)
    assert dict(out.dtypes) == {"doc": "bigint", "gs": "array<string>"}
    rows = {r["doc"]: r["gs"] for r in out.collect()}
    assert set(rows) == {1, 3}, "NULL text must drop the doc, '' must keep it"
    assert rows[3] == [""], "blank text yields the single empty shingle"
    assert sorted(rows[1]) == ["a b c d", "b c d e"]
