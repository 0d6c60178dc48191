"""LLM-data-pipeline operators on `documents` and `embeddings`:
deduplication (exact, fingerprint, n-gram Jaccard, MinHash-LSH,
SimHash), text analysis (token stats, quality, language-ID scoring),
and embedding similarity search (brute-force top-k + blocked pairs).

Oracle-parity notes: shingle construction, ratios and hashes are chosen
so DuckDB can reproduce them bit-for-bit (int/int division, sha256,
identical regex splits). The MinHash/SimHash/LSH operators hash with
the portable ``md5_60`` spec hash (operators/dedup.py ``string_hash``,
twin ``spec_hash_sql``), so their DuckDB oracles recompute every
signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from callysto_spark.operators import (
    cosine_pairs_blocked,
    cosine_topk,
    dedup_exact,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from callysto_spark.operators import text as TX
from callysto_spark.functions import rnd
from callysto_spark.queries import register
from callysto_spark.tables import load

from callysto_spark.functions.compat import casefold_sql as _casefold_sql
from callysto_spark.functions.compat import ntokens_sql as _ntokens_sql
from callysto_spark.functions.compat import tokens_sql as _tokens_sql
from callysto_spark.functions.compat import WS_CLASS as _WS
from callysto_spark.operators.text import BPE_TOKEN_PATTERN as _BPE_PAT

from callysto_spark.operators.similarity import clean_vec, clean_vec_sql

# vector-cleanliness predicates shared by every emb_* oracle (the SQL
# twins of the operators' clean_vec contract)
_CLEAN_VEC = clean_vec_sql("embedding", 64)
_CLEAN_VEC_NZ = clean_vec_sql("embedding", 64, nonzero=True)

_TOKENS_SQL = _tokens_sql()
_NTOK_SQL = _ntokens_sql()
_CASEFOLD = _casefold_sql("text")


@register(
    "doc_token_stats",
    oracle=rf"""
SELECT doc_id,
       {_NTOK_SQL} AS n_tokens,
       length(text) AS n_chars,
       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
       length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS n_space,
       CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         / greatest({_NTOK_SQL}, 1) AS mean_token_len
FROM documents
""",
    bench=True,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + character-class stats; one narrow codegen pass.
    mean_token_len is int/int division — bit-deterministic, unrounded."""
    d = load(spark, sf_dir, "documents")["documents"]
    cc = TX.char_classes(F.col("text"))
    n_tokens = TX.token_count(F.col("text"))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        cc["n_alpha"].alias("n_alpha"),
        cc["n_space"].alias("n_space"),
        (cc["n_alpha"].cast("double") / F.greatest(n_tokens, F.lit(1))).alias("mean_token_len"),
    )


@register(
    "doc_quality_score",
    oracle=rf"""
SELECT doc_id, lang,
       (CASE WHEN {_NTOK_SQL} BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
         * (1 - CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                  / greatest(length(text), 1)) AS quality
FROM documents
""",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length band × punctuation density)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return d.select("doc_id", "lang", TX.quality_score(F.col("text")).alias("quality"))


@register(
    "doc_lang_scores",
    oracle=rf"""
WITH t AS (SELECT doc_id, lang,
           regexp_replace(' ' || {_CASEFOLD} || ' ', '({_WS})', '\1\1', 'g') AS padded
           FROM documents),
sc AS (
  SELECT doc_id, lang,
         length(string_split_regex(padded, '{_WS}the{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}and{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}of{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}is{_WS}')) - 1 AS score_en,
         length(string_split_regex(padded, '{_WS}der{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}und{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}die{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}ist{_WS}')) - 1 AS score_de,
         length(string_split_regex(padded, '{_WS}le{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}et{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}la{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}est{_WS}')) - 1 AS score_fr,
         length(string_split_regex(padded, '{_WS}el{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}los{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}de{_WS}')) - 1
       + length(string_split_regex(padded, '{_WS}es{_WS}')) - 1 AS score_es
  FROM t
)
SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
       CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
            WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
            WHEN score_fr >= score_es THEN 'fr'
            ELSE 'es' END AS predicted
FROM sc
""",
)
def doc_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID scoring (n-gram heuristic family).
    Prediction = argmax with fixed tie order en>de>fr>es."""
    d = load(spark, sf_dir, "documents")["documents"]
    scores = TX.lang_scores(F.col("text"))
    en, de, fr, es = scores["en"], scores["de"], scores["fr"], scores["es"]
    predicted = (
        F.when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id",
        "lang",
        en.alias("score_en"),
        de.alias("score_de"),
        fr.alias("score_fr"),
        es.alias("score_es"),
        predicted.alias("predicted"),
    )


@register(
    "doc_bpe_token_stats",
    # plain concat, not an f-string: the BPE pattern contains {L}/{N}
    # braces; the pattern is the ENGINE constant, quote-escaped, so the
    # two engines can never drift
    oracle="""
SELECT doc_id,
       length(regexp_extract_all(text, '"""
    + _BPE_PAT.replace("'", "''")
    + """')) AS n_bpe_tokens,
       """
    + _NTOK_SQL
    + """ AS n_ws_tokens
FROM documents
""",
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (GPT-2-style pre-tokenizer segmentation,
    RE2-safe pattern — operators/text.py BPE_TOKEN_PATTERN) next to the
    whitespace count: the token-budget columns of an LLM data pipeline,
    one narrow regex pass."""
    d = load(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        TX.token_count(F.col("text")).alias("n_ws_tokens"),
    )


@register(
    "doc_winnow_fingerprints",
    oracle=r"""
WITH toks AS (
  SELECT doc_id AS doc, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
  FROM (SELECT doc_id, string_split_regex(trim(replace(replace(lower(text), 'ς', 'σ'), chr(775), '')), '[\t\n\x0B\f\r ]+') AS t FROM documents)
),
grams AS (
  SELECT doc, pos,
         concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w) AS gram,
         count(*) OVER (PARTITION BY doc) AS n_tok
  FROM toks
  WINDOW w AS (PARTITION BY doc ORDER BY pos)
),
valid AS (
  SELECT doc, pos, substr(sha256(gram), 1, 16) AS h
  FROM grams WHERE pos + 1 <= greatest(n_tok - 2, 1)
),
fps AS (
  SELECT doc, pos,
         min(h) OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
         count(*) OVER (PARTITION BY doc) AS n_g
  FROM valid
),
sel AS (
  SELECT DISTINCT doc, fp FROM fps
  WHERE pos + 1 >= 4 OR (n_g < 4 AND pos + 1 = n_g)
)
SELECT doc, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
FROM sel GROUP BY doc
""",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS algorithm) per doc,
    k=3-gram window w=4 — summarized per doc for the hash check. Fully
    oracle-checkable because the gram hash is a sha256 prefix compared
    lexicographically (not an engine-specific hash)."""
    fps = TX.winnow_fingerprints(
        load(spark, sf_dir, "documents")["documents"], "doc_id", "text", k=3, w=4
    )
    return fps.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_fp"), F.min("fp").alias("min_fp"), F.max("fp").alias("max_fp")
    )


@register(
    "doc_fingerprint_groups",
    oracle=r"""
WITH fp AS (
  SELECT doc_id,
         sha256(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9\t\n\x0B\f\r ]', '', 'g')),
                               '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fingerprint
  FROM documents
)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_doc
FROM fp GROUP BY fingerprint
""",
)
def doc_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-fingerprint dedup groups (sha256 of canonicalized
    text) — byte-identical across engines."""
    d = load(spark, sf_dir, "documents")["documents"]
    return (
        d.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc"))
    )


@register(
    "doc_dedup_exact",
    oracle="""
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on full text, survivor = lowest doc_id. At 100 TB the
    group key would be sha256(text) to shrink shuffle width — see
    doc_fingerprint_groups for that formulation."""
    d = load(spark, sf_dir, "documents")["documents"]
    return dedup_exact(d, ["text"], [F.col("doc_id")]).select("doc_id", "lang", "n_chars")


@register(
    "doc_ngram_jaccard_pairs",
    oracle=r"""
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(
           [array_to_string(toks[i:i+3], ' ')
            for i in range(1, greatest(length(toks) - 3, 1) + 1)])) AS g
  FROM (SELECT doc_id, string_split_regex(trim(replace(replace(lower(text), 'ς', 'σ'), chr(775), '')), '[\t\n\x0B\f\r ]+') AS toks FROM documents)
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       na.n_sh + nb.n_sh - inter AS union_sz,
       CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) AS jaccard
FROM pairs
JOIN sizes na ON doc_a = na.doc
JOIN sizes nb ON doc_b = nb.doc
WHERE CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) >= 0.005
""",
)
def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-4-gram Jaccard similar pairs (threshold 0.005 — the
    synthetic corpus has no planted near-dups, so the tail of chance
    overlaps is what's checkable). jaccard = int/int ⇒ unrounded.

    SMALL-CORPUS BASELINE ONLY: the uncapped shingle self-join is
    quadratic on hot shingles. At scale (100 TB) use
    ``doc_ngram_jaccard_capped`` (stop-shingle df cap — near-linear) or
    the two-stage ``doc_minhash_lsh_pairs`` → ``verify_candidate_pairs``
    pipeline (``doc_lsh_verified_near_dups``), where the corpus never
    self-joins."""
    d = load(spark, sf_dir, "documents")["documents"]
    return ngram_jaccard_pairs(d, "doc_id", "text", n=4, threshold=0.005)


@register(
    "doc_ngram_jaccard_capped",
    oracle=r"""
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(
           [array_to_string(toks[i:i+3], ' ')
            for i in range(1, greatest(length(toks) - 3, 1) + 1)])) AS g
  FROM (SELECT doc_id, string_split_regex(trim(replace(replace(lower(text), 'ς', 'σ'), chr(775), '')), '[\t\n\x0B\f\r ]+') AS toks FROM documents)
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
kept AS (
  SELECT sh.doc, sh.g FROM sh
  JOIN (SELECT g FROM sh GROUP BY g HAVING count(*) <= 20) live ON sh.g = live.g
),
pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       na.n_sh + nb.n_sh - inter AS union_sz,
       CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) AS jaccard
FROM pairs
JOIN sizes na ON doc_a = na.doc
JOIN sizes nb ON doc_b = nb.doc
WHERE CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) >= 0.005
""",
    bench=True,
)
def doc_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of n-gram Jaccard: shingles appearing in more than
    ``max_doc_freq`` docs are dropped before the pair join (stop-shingle
    cap, `operators/dedup.py`), keeping candidate pairs near-linear in
    corpus size instead of quadratic on hot shingles. Union sizes stay
    the true (uncapped) set sizes — standard filtered-candidate Jaccard."""
    d = load(spark, sf_dir, "documents")["documents"]
    return ngram_jaccard_pairs(d, "doc_id", "text", n=4, threshold=0.005, max_doc_freq=20)


_JACCARD_EDGES_SQL = r"""
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(
           [array_to_string(toks[i:i+3], ' ')
            for i in range(1, greatest(length(toks) - 3, 1) + 1)])) AS g
  FROM (SELECT doc_id, string_split_regex(trim(replace(replace(lower(text), 'ς', 'σ'), chr(775), '')), '[\t\n\x0B\f\r ]+') AS toks FROM documents)
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc < b.doc
  GROUP BY 1, 2
),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  JOIN sizes na ON doc_a = na.doc
  JOIN sizes nb ON doc_b = nb.doc
  WHERE CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) >= 0.05
)
"""


@register(
    "doc_near_dup_components",
    # RECURSIVE prefixes the whole WITH clause (legal for the
    # non-recursive CTEs too); only `reach` actually recurses.
    oracle=_JACCARD_EDGES_SQL.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + """,
sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS vertex, least(a, min(b)) AS component
  FROM reach GROUP BY a
)
SELECT component, count(*) AS n_docs,
       CAST(min(vertex) AS BIGINT) AS min_doc, CAST(max(vertex) AS BIGINT) AS max_doc
FROM comp GROUP BY component
""",
)
def doc_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUPS: Jaccard pairs (threshold 0.05) clustered
    into connected components by iterative min-label propagation
    (operators/graph.py — Spark's answer to a recursive CTE: the loop is
    driver control flow, every iteration a distributed join+agg). The
    DuckDB oracle computes the same components via WITH RECURSIVE
    transitive closure — two entirely different algorithms, one answer."""
    from callysto_spark.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")["documents"]
    edges = ngram_jaccard_pairs(d, "doc_id", "text", n=4, threshold=0.05).select(
        "doc_a", "doc_b"
    )
    comps = connected_components(edges, "doc_a", "doc_b")
    return comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("vertex").alias("min_doc"),
        F.max("vertex").alias("max_doc"),
    )


@register(
    "doc_near_dup_survivor_stats",
    oracle=_JACCARD_EDGES_SQL.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + """,
sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS vertex, least(a, min(b)) AS component
  FROM reach GROUP BY a
),
dropped AS (SELECT vertex FROM comp WHERE vertex <> component)
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id NOT IN (SELECT vertex FROM dropped)
GROUP BY lang
""",
)
def doc_near_dup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup dedup pipeline: Jaccard pairs → connected
    components → drop every non-canonical member (survivor = the
    component's min doc_id) → per-language stats of the surviving
    corpus. Pairs + components + an anti join — end to end, each stage
    individually oracle-verified by its own registry query."""
    from callysto_spark.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")["documents"]
    edges = ngram_jaccard_pairs(d, "doc_id", "text", n=4, threshold=0.05).select(
        "doc_a", "doc_b"
    )
    comps = connected_components(edges, "doc_a", "doc_b")
    dropped = comps.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    )
    # shuffle_hash hint (r15): the anti join otherwise plans as
    # SortMergeJoin and sorts the whole corpus by doc_id; the build
    # side (dropped non-survivors) is the bounded near-dup set
    survivors = d.join(dropped.hint("shuffle_hash"), "doc_id", "left_anti")
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle for the MinHash→LSH pipeline on the md5_60 spec hash.
# The (a_i, b_i) permutation params come from the SAME generator as the
# Spark side (operators/dedup.py _hash_params, _MINHASH_SEED) and are inlined
# as a VALUES list, so both engines run the identical affine permutations
# over the identical 60-bit shingle hashes.
from callysto_spark.operators.dedup import _MERSENNE_P, _hash_params, spec_hash_sql

_MINHASH_PARAMS_SQL = ",".join(
    f"({i},{a},{b})" for i, (a, b) in enumerate(_hash_params(64))
)

# The registered LSH rows run the 100 TB configuration (r8 verdict
# item 4): a band bucket shared by m docs emits C(m,2) candidate pairs
# — quadratic OUTPUT no join strategy can un-explode — so buckets over
# this cap are dropped BEFORE the self-join (measured: a planted
# template cluster's candidates collapse 2,408x with twin recall >=
# 0.95, SCALING.md "Stop-shingle probes"). The oracle applies the
# identical cap, so the rows stay hash-checked; at the sf test scales
# no organic bucket approaches 64 members, so the cap is exercised in
# the plan while dropping nothing the oracle keeps. Measured premium
# on a clean corpus (sf0.1 A/B, identical 256-pair output): the
# banding join goes 0.4s -> 1.2s — the df-count + semi-join insurance,
# same trade as the capped Jaccard two-pass (10-25% idle, wins at
# 30x/100x); the signature stage dominates the row's cost either way.
_LSH_BUCKET_CAP = 64

# CTE chain computing LSH candidate pairs over {src}(doc_id, text):
# tokens → distinct 4-gram shingles → 60-bit spec hash mod P → 64
# affine-permutation minima (the signature) → 16 bands × 4 rows band
# hash → bucket df-cap (two-pass, skew-immune) → bucket self-join.
# Mirrors minhash_signatures + minhash_lsh_candidates(max_bucket_freq)
# exactly.
_MINHASH_CAND_SQL = rf"""
params(i, a, b) AS (VALUES {_MINHASH_PARAMS_SQL}),
toks AS (SELECT doc_id AS doc, {{tokens}} AS toks FROM {{src}}),
sh AS (SELECT doc, unnest(list_distinct(
         [array_to_string(toks[i:i+3], ' ')
          for i in range(1, greatest(length(toks) - 3, 1) + 1)])) AS g
       FROM toks),
hs AS (SELECT doc, {spec_hash_sql("g")} % {_MERSENNE_P} AS h FROM sh),
mins AS (SELECT doc, p.i, min((p.a * h + p.b) % {_MERSENNE_P}) AS m
         FROM hs CROSS JOIN params p GROUP BY doc, p.i),
sig AS (SELECT doc, list(m ORDER BY i) AS signature FROM mins GROUP BY doc),
banded AS (
  SELECT doc, bands.b AS band,
         {spec_hash_sql("array_to_string(signature[4*bands.b+1 : 4*bands.b+4], ',')")} AS bh
  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bands
),
bkeep AS (
  SELECT band, bh FROM (SELECT band, bh, count(*) AS df FROM banded GROUP BY band, bh)
  WHERE df BETWEEN 2 AND {_LSH_BUCKET_CAP}
),
live AS (SELECT banded.doc, banded.band, banded.bh FROM banded JOIN bkeep USING (band, bh)),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM live a JOIN live b ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
)
""".format(tokens=_TOKENS_SQL, src="{src}")


@register(
    "doc_minhash_lsh_pairs",
    oracle="WITH " + _MINHASH_CAND_SQL.format(src="documents")
    + "SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b",
)
def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4 rows) candidate pairs on the
    portable md5_60 spec hash, so the DuckDB oracle recomputes every
    signature and band bucket bit-for-bit (full hash-checked row).
    Runs the 100 TB configuration: ``max_bucket_freq`` caps mega-bucket
    candidate output before the self-join, and the oracle applies the
    identical cap (r8 verdict item 4)."""
    d = load(spark, sf_dir, "documents")["documents"]
    sigs = minhash_signatures(d, "doc_id", "text", num_hashes=64, n=4)
    return minhash_lsh_candidates(
        sigs, bands=16, rows_per_band=4, max_bucket_freq=_LSH_BUCKET_CAP
    ).orderBy("doc_a", "doc_b")


@register(
    "doc_stratified_sample",
    oracle="""
SELECT lang, count(*) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sample_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM documents
WHERE doc_id % 10 = 3
GROUP BY lang
""",
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% stratified sample per language via key-mod
    selection — the reproducible sampling a training-data pipeline needs
    (TABLESAMPLE/rand() are engine- and seed-dependent; key-mod is
    bit-identical everywhere, filter pushed to the scan)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return (
        d.filter(F.col("doc_id") % 10 == 3)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sample_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "doc_lsh_verified_near_dups",
    oracle="WITH corpus AS (\n"
    "  SELECT doc_id, text FROM documents\n"
    "  UNION ALL\n"
    "  SELECT doc_id + 100000 AS doc_id, text || ' planted' AS text\n"
    "  FROM documents WHERE doc_id < 50\n"
    "),\n"
    + _MINHASH_CAND_SQL.format(src="corpus").lstrip()
    + """,
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
ipairs AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc = c.doc_a
  JOIN sh b ON b.doc = c.doc_b AND b.g = a.g
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter,
       na.n_sh + nb.n_sh - i.inter AS union_sz,
       CAST(i.inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.inter) AS jaccard
FROM ipairs i
JOIN sizes na ON i.doc_a = na.doc
JOIN sizes nb ON i.doc_b = nb.doc
WHERE CAST(i.inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.inter) >= 0.6
ORDER BY doc_a, doc_b
""",
)
def doc_lsh_verified_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical two-stage near-dup pipeline at 100 TB scale:
    MinHash-LSH candidates (cheap, hash-bucketed — never a corpus²
    join) → EXACT Jaccard verification on candidates only
    (operators/dedup.py verify_candidate_pairs). Run on a planted
    corpus (every doc_id < 50 gets a one-token-appended twin at
    id+100000) so the pipeline has real near-dups to find. On the
    md5_60 spec hash the DuckDB oracle reproduces the ENTIRE pipeline —
    signatures, band buckets, candidate set, exact verification — so
    the driver hash-checks it end to end."""
    from callysto_spark.operators.dedup import verify_candidate_pairs

    d = load(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    twins = (
        d.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" planted")).alias("text"))
    )
    corpus = d.unionByName(twins)
    sigs = minhash_signatures(corpus, "doc_id", "text", num_hashes=64, n=4)
    cands = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4, max_bucket_freq=_LSH_BUCKET_CAP)
    verified = verify_candidate_pairs(corpus, cands, "doc_id", "text", n=4, threshold=0.6)
    return verified.select("doc_a", "doc_b", "inter", "union_sz", "jaccard").orderBy(
        "doc_a", "doc_b"
    )


@register(
    "doc_simhash",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id AS doc, unnest({_TOKENS_SQL}) AS t FROM documents
),
th AS (SELECT doc, {spec_hash_sql("t")} AS h FROM toks),
votes AS (
  SELECT doc, bs.bit,
         sum(CASE WHEN (h >> bs.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) bs
  GROUP BY doc, bs.bit
),
nibs AS (
  SELECT doc, bit // 4 AS nb,
         sum(CASE WHEN v > 0 THEN 1 << (bit % 4) ELSE 0 END) AS val
  FROM votes GROUP BY doc, nb
)
SELECT doc,
       string_agg(substr('0123456789ABCDEF', CAST(val AS INT) + 1, 1), '' ORDER BY nb DESC) AS simhash
FROM nibs GROUP BY doc
""",
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document on the md5_60 spec hash (60 effective
    bits — top nibble constant 0), fully recomputed by the DuckDB
    oracle: identical token hashes, per-bit votes, and hex encoding.

    No ``max_bucket_freq`` here BY DESIGN (r8 verdict item 4): this row
    emits one signature per document — a narrow, per-row map with no
    banding self-join, so there is no bucket whose candidate output
    could go quadratic. The cap lives on ``simhash_banded_candidates``
    (operators/dedup.py), the operator that does self-join, and is
    probe-measured there (SCALING.md)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return simhash(d, "doc_id", "text")


# Shared by emb_cosine_topk and emb_cosine_topk_blas: the blas row
# surfaces the expr engine's (oracle-replayable) values while asserting
# the BLAS kernel against them in-plan, so one oracle replays both.
_COSINE_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5 AND {_CLEAN_VEC_NZ}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(
           list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) for i in range(1, 65)])
           / (sqrt(list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) for i in range(1, 65)]))
              * sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) for i in range(1, 65)]))),
           6) AS cosine_sim
  FROM (SELECT * FROM embeddings WHERE {_CLEAN_VEC_NZ}) e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


@register(
    "emb_cosine_topk",
    oracle=_COSINE_TOPK_ORACLE,
    bench=True,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors 0-4: the exact ANN
    baseline. Ranking is on round(sim, 6) with neighbor-id tie-break so
    both engines order identically."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    return cosine_topk(e, "vec_id", "embedding", query_ids=[0, 1, 2, 3, 4], k=10, round_ndigits=6, dim=64)


@register(
    "emb_label_near_pairs",
    oracle=f"""
SELECT label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
       round(
         list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)])
         / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in range(1, 65)]))
            * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)]))),
         6) AS cosine_sim
FROM (SELECT * FROM embeddings WHERE {_CLEAN_VEC_NZ}) a
JOIN (SELECT * FROM embeddings WHERE {_CLEAN_VEC_NZ}) b USING (label)
WHERE a.vec_id < b.vec_id
  AND list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)])
      / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in range(1, 65)]))
         * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)]))) >= 0.8
""",
)
def emb_label_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs within label blocks (the
    IVF-style blocked scale path for embedding-cosine dedup)."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    out = cosine_pairs_blocked(e, "vec_id", "embedding", "label", threshold=0.8, dim=64)
    return out.withColumn("cosine_sim", rnd("cosine_sim", 6))


def _centroids(spark: SparkSession, sf_dir: str, k: int = 8) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: the first k vectors (pluggable —
    see operators/similarity.py ivf_assign). Cached per (sf_dir, k) in
    the session's table cache (see tables.load): centroids are index
    metadata, fetched once per session, not once per query, and a new
    session re-reads them from the current corpus."""
    cache: dict = spark.__dict__.setdefault("_callysto_table_cache", {})
    key = ("__centroids__", sf_dir, k)
    if key in cache:
        return cache[key]
    rows = (
        # first k CLEAN vectors (clean_vec contract): a NaN/short/NULL
        # centroid would make every distance against it undefined
        load(spark, sf_dir, "embeddings")["embeddings"]
        .filter(clean_vec(F.col("embedding"), 64))
        .orderBy("vec_id")
        .limit(k)
        .select("vec_id", "embedding")
        .collect()
    )
    out = [(r["vec_id"], list(r["embedding"])) for r in sorted(rows, key=lambda r: r["vec_id"])]
    cache[key] = out
    return out


_IVF_DIST = """list_sum([(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                         for i in range(1, 65)])"""


def _ivf_assign_oracle(extra_filter: str = "") -> str:
    """DuckDB oracle for IVF coarse quantization over ``embeddings``.

    Assignment contract = "the nearest-centroid distance is finite":
    the engine filters on the best struct's dist (free — computed
    anyway); here the structural checks are explicit because DuckDB's
    list_sum IGNORES NULL elements where Spark's fold propagates.
    ``extra_filter`` appends additional AND conditions on ``e`` — the
    BLAS row uses it for its magnitude-domain exclusion."""
    return f"""
WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE {_CLEAN_VEC} ORDER BY vec_id LIMIT 8),
d AS (
  SELECT e.vec_id, c.cid, {_IVF_DIST} AS dist
  FROM embeddings e CROSS JOIN cents c
  WHERE len(e.embedding) = 64
    AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
    {extra_filter}
)
SELECT vec_id, cell FROM (
  SELECT vec_id, cid AS cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d WHERE isfinite(dist)
) WHERE rn = 1
"""


@register(
    "emb_ivf_assign",
    oracle=_ivf_assign_oracle(),
)
def emb_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: nearest-centroid cell per vector
    (narrow, shuffle-free; the storage-partitioning key for ANN at
    scale)."""
    from callysto_spark.operators.similarity import ivf_assign

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_assign(e, "vec_id", "embedding", _centroids(spark, sf_dir)).select("vec_id", "cell")


@register(
    "emb_ivf_topk",
    bench=True,
    oracle=f"""
WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE {_CLEAN_VEC} ORDER BY vec_id LIMIT 8),
d AS (
  SELECT e.vec_id, e.embedding, c.cid, {_IVF_DIST} AS dist
  FROM (SELECT * FROM embeddings WHERE {_CLEAN_VEC_NZ}) e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT vec_id, embedding, cid AS cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv, cell AS qcell FROM assign WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(
           list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in range(1, 65)])
           / (sqrt(list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) for i in range(1, 65)]))
              * sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in range(1, 65)]))),
           6) AS cosine_sim
  FROM assign a JOIN q ON a.cell = q.qcell
  WHERE a.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
""",
)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN top-10 (probe = the query's own cell): the scale
    path; emb_cosine_topk is the exact-recall baseline."""
    from callysto_spark.operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    return ivf_topk(
        e, "vec_id", "embedding", [0, 1, 2, 3, 4], _centroids(spark, sf_dir), k=10, round_ndigits=6
    )


@register(
    "emb_ivf_assign_blas",
    # r8 verdict item 3: this row used to be oracle=None (recorded as
    # `err: no_oracle` in the driver artifact, miscounted as a failure
    # by artifact consumers). The surfaced output is pure integers
    # (vec_id, cell) and the in-plan raise_error asserts the BLAS cells
    # EQUAL the expr engine's — so the oracle-matched assignment SQL
    # replays it exactly (plus the magnitude-domain filter below) and
    # the driver now records a full hash check, with the cross-engine
    # assertion still aborting the row loudly on any kernel regression.
    oracle=_ivf_assign_oracle(
        "AND len(list_filter(e.embedding, x -> abs(CAST(x AS DOUBLE)) > 1e12)) = 0"
    ),
)
def emb_ivf_assign_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BLAS serving/index-build kernel under the driver gate (r7
    verdict item 5): ``ivf_assign(engine='pandas')`` — the mapInPandas
    matmul kernel `operators/similarity.py` uses for index builds.
    The float32 BLAS accumulation itself is not bit-replayable in
    DuckDB, but the surfaced output is integer cells full-outer-joined
    against the oracle-matched expr engine's with an IN-PLAN
    ``raise_error`` on any disagreement — a kernel regression fails
    the driver row with an error instead of recording divergent rows
    as green, and where the engines agree the integer output is
    hash-replayable by the assignment oracle (r8 verdict item 3).
    Output: (vec_id, cell), one row per clean vector.

    The cross-engine agreement contract has a numeric DOMAIN: with
    |x| >> |centroid| the true inter-centroid distance differences
    (O(|x|·|c|)) sink below the expr fold's own roundoff
    (O(eps·dim·|x|²)) and the argmin becomes tie-ambiguous between any
    two correct kernels — so vectors with an element beyond 1e12 are
    excluded here (they are degenerate for L2 quantization anyway; the
    embedding fuzz sweep plants 1e30-magnitude vectors to pin exactly
    this boundary)."""
    from callysto_spark.operators.similarity import ivf_assign

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    e = e.filter(
        F.size(F.filter(F.col("embedding"), lambda x: F.abs(x.cast("double")) > F.lit(1e12))) == 0
    )
    cents = _centroids(spark, sf_dir)
    blas = ivf_assign(e, "vec_id", "embedding", cents, engine="pandas").select("vec_id", "cell")
    expr = ivf_assign(e, "vec_id", "embedding", cents).select(
        "vec_id", F.col("cell").alias("cell_expr")
    )
    j = blas.join(expr, "vec_id", "full_outer")
    guard = F.when(
        ~F.col("cell").eqNullSafe(F.col("cell_expr")),
        F.raise_error(
            F.concat(
                F.lit("BLAS/expr IVF assignment disagree at vec_id="),
                F.col("vec_id").cast("string"),
            )
        ),
    ).otherwise(F.col("cell"))
    return j.select("vec_id", guard.alias("cell"))


@register(
    "emb_cosine_topk_blas",
    # r8 verdict item 3: oracle=None made the driver record this row as
    # `err: no_oracle`. The surfaced (query_id, neighbor_id, rank) are
    # asserted EXACTLY equal between engines in-plan, and the surfaced
    # cosine_sim is the expr engine's (oracle-replayable) value — the
    # BLAS sims are asserted against it to 1e-6 inside the same guard
    # expression, so the kernel check stays in the plan while the
    # output hash-replays under the shared cosine-topk oracle.
    oracle=_COSINE_TOPK_ORACLE,
)
def emb_cosine_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cosine_topk(engine='pandas')`` — the Arrow-batched BLAS matmul
    kernel with in-kernel batch-local top-k pruning — under the driver
    gate, cross-checked in-plan against the expr engine: neighbors and
    ranks must agree exactly and similarities to 1e-6 (the engines'
    pinned agreement contract, tests/test_similarity.py), else the plan
    ``raise_error``s and the driver row fails loudly. The surfaced
    cosine_sim is the EXPR engine's value: the two engines' 6-digit
    roundings may legitimately differ in the last digit (the 1e-6
    agreement contract), so only the expr value is hash-replayable by
    the SQL oracle — the BLAS value is consumed by the in-plan guard,
    which is the substance of this row (r8 verdict item 3)."""
    from callysto_spark.operators.similarity import cosine_topk

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    kw = dict(query_ids=[0, 1, 2, 3, 4], k=10, round_ndigits=6, dim=64)
    blas = cosine_topk(e, "vec_id", "embedding", engine="pandas", **kw)
    expr = cosine_topk(e, "vec_id", "embedding", **kw).select(
        "query_id",
        "rank",
        F.col("neighbor_id").alias("n_expr"),
        F.col("cosine_sim").alias("s_expr"),
    )
    # shuffle_hash hint (r15): both parity sides are bounded by k·|Q|
    # (≤50 rows here, ≤k·|Q| at any scale), but full_outer cannot
    # broadcast and otherwise plans as SortMergeJoin, sorting both tiny
    # sides. SHJ drops the two sorts (guide §3.1). The IVF parity row
    # (emb_ivf_assign_blas) deliberately KEEPS SortMergeJoin: its parity
    # sides are corpus-sized (one row per vector), where SMJ's graceful
    # spill is the safe choice for an unbounded build side.
    j = blas.join(expr.hint("shuffle_hash"), ["query_id", "rank"], "full_outer")
    bad = (~F.col("neighbor_id").eqNullSafe(F.col("n_expr"))) | (
        F.abs(F.col("cosine_sim") - F.col("s_expr")) > 1e-6
    )
    guard = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit("BLAS/expr cosine_topk disagree at (query_id, rank)=("),
                F.col("query_id").cast("string"),
                F.lit(", "),
                F.col("rank").cast("string"),
                F.lit(")"),
            )
        ),
    ).otherwise(F.col("s_expr"))
    return j.select("query_id", "neighbor_id", guard.alias("cosine_sim"), "rank")


@register(
    "doc_pipeline_clean_corpus",
    oracle=rf"""
WITH scored AS (
  SELECT doc_id, lang, text,
         {_NTOK_SQL} AS n_tokens,
         (CASE WHEN {_NTOK_SQL} BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
           * (1 - CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1)) AS quality,
         sha256(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9\t\n\x0B\f\r ]', '', 'g')),
                               '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fingerprint
  FROM documents
),
filtered AS (SELECT * FROM scored WHERE quality >= 0.7 AND n_tokens >= 20),
deduped AS (
  SELECT doc_id, lang, n_tokens FROM (
    SELECT doc_id, lang, n_tokens,
           row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM filtered
  ) WHERE rn = 1
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
FROM deduped GROUP BY lang
""",
    bench=True,
)
def doc_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data pipeline: quality filter → length
    filter → fingerprint dedup → per-language corpus stats. One narrow
    scoring pass, one dedup shuffle, one agg — the end-to-end shape of a
    100 TB cleaning job, built from the individually-verified operators."""
    from callysto_spark.operators.util import barrier_select

    d = load(spark, sf_dir, "documents")["documents"]
    # The two FILTERED expressions ride the barrier_select Generate
    # barrier (r15): the quality/length filter otherwise pushes below
    # the scoring project with the defining expressions inlined per
    # conjunct — the token-count regexp_extract_all scan ran 3× in the
    # scan Filter + 1× in the Project above it, per row.
    # The sha256 fingerprint deliberately stays OUT of the barrier and
    # is projected after the filter: survivors-only, not every row.
    scored = barrier_select(
        d.select("doc_id", "lang", "text"),
        "doc_id",
        "lang",
        "text",
        n_tokens=TX.token_count(F.col("text")),
        quality=TX.quality_score(F.col("text")),
    )
    filtered = (
        scored.filter((F.col("quality") >= 0.7) & (F.col("n_tokens") >= 20))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            # quality dropped: consumed only by the filter; carrying it
            # through the dedup shuffle would be dead bytes (guide §2.3)
            TX.fingerprint(F.col("text")).alias("fingerprint"),
        )
    )
    deduped = dedup_exact(filtered, ["fingerprint"], [F.col("doc_id")])
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )
